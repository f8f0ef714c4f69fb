#!/usr/bin/env python3
"""Seeded, offline generator of ETL inputs and their ground truth.

Writes under <out_dir>:
  config/index.yaml            catalog id -> file:// url + format
  config/config_downloads.yaml one try, no retry delay
  config/config_general.yaml
  catalogs/<id>.json           data.json catalogs
  catalogs/<id>.cells          cell list of a 5-sheet XLSX catalog
  sources/wb_*.cells           cell lists of source workbooks (~5
                               excel distributions per workbook)
  sources/*.csv, sources/*.txt direct-download CSV and TXT sources
  expected.json                per catalog and distribution: expected
                               status, output file, header and rows

A `.cells` file is one cell per line, `sheet<TAB>row<TAB>col<TAB>value`
(1-based row/col). The harness turns each into an `.xlsx` with
`XlsxLite.write`; everything this script writes is byte-identical for
the same seed and output directory.

Three distributions carry a seeded fault (missing source, bad cell
reference, duplicate time label); they are expected to report ERROR.

    python3 perfbench/gen_etl.py <out_dir> <seed>
"""
import datetime as dt
import json
import os
import random
import sys

# (catalog id, format, (excel, csv, txt) distributions, seeded fault).
# Sizes, method mix and fault kinds are fixed so every seed costs the
# same work; the seed changes values, labels, frequencies, layouts and
# which distribution carries the fault. Over the measured catalogs the
# mix is 60% excel, 30% csv, 10% txt, with one fault of each kind.
# `cat_w` is the warm-up catalog run during set-up.
CATALOGS = [("cat_w", "json", (1, 1, 1), None),
            ("cat_a", "json", (3, 2, 0), "missing"),
            ("cat_b", "json", (3, 1, 1), "duplicate"),
            ("cat_c", "json", (3, 2, 0), None),
            ("cat_x", "xlsx", (3, 1, 1), "badcell")]
FAULT_METHODS = {"missing": ("excel", "csv", "txt"),
                 "duplicate": ("excel", "csv", "txt"), "badcell": ("excel",)}
FREQS = {  # iso -> periods
    "R/P1Y": 15, "R/P6M": 16, "R/P3M": 24, "R/P1M": 36, "R/P1D": 40}
SERIES = 3  # series per distribution
MISSING = ["s.d.", "-", "///"]
PER_WORKBOOK = 5


def period_starts(iso, start_year, n):
    if iso == "R/P1D":
        d0 = dt.date(start_year, 1, 1)
        return [d0 + dt.timedelta(days=i) for i in range(n)]
    months = {"R/P1Y": 12, "R/P6M": 6, "R/P3M": 3, "R/P1M": 1}[iso]
    return [dt.date(start_year + (i * months) // 12, 1 + (i * months) % 12, 1)
            for i in range(n)]


def excel_label(iso, d):
    if iso == "R/P1Y":
        return str(d.year)
    if iso == "R/P6M":
        return f"{d.year}-S{1 + (d.month - 1) // 6}"
    if iso == "R/P3M":
        return f"{d.year}-Q{1 + (d.month - 1) // 3}"
    if iso == "R/P1M":
        return f"{d.year}-{d.month:02d}"
    return d.isoformat()


ROMAN = ["I", "II", "III", "IV"]


def col_letters(i):
    s = ""
    while i > 0:
        i, r = divmod(i - 1, 26)
        s = chr(ord("A") + r) + s
    return s


class Gen:
    def __init__(self, root, seed):
        self.root = os.path.abspath(root)
        self.rng = random.Random(seed)

    def url(self, rel):
        return "file://" + os.path.join(self.root, rel)

    def write(self, rel, text):
        path = os.path.join(self.root, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8", newline="\n") as f:
            f.write(text)

    def series(self, d_id, n_series, n_periods):
        """Values as source strings plus their expected parsed value."""
        tag = d_id.replace(".", "_")
        ids = [f"{self.rng.choice(['emp', 'ipc', 'pbi', 'exp', 'imp'])}_{tag}_{k}"
               for k in range(n_series)]
        cols = []
        for _ in ids:
            base = self.rng.uniform(10, 1000)
            col = []
            for _ in range(n_periods):
                base *= self.rng.uniform(0.97, 1.04)
                if self.rng.random() < 0.06:
                    col.append((self.rng.choice(MISSING), None))
                else:
                    v = round(base, 2)
                    col.append((f"{v:.2f}", v))
            cols.append(col)
        return ids, cols

    def distribution(self, cat, ds, slot, d_id, method, fault, wb):
        # frequency and shape follow the slot, so every seed builds the
        # same plan shapes; the seed picks values, years and methods
        iso = sorted(FREQS)[slot % len(FREQS)]
        n = FREQS[iso]
        dates = period_starts(iso, self.rng.randint(1990, 2015), n)
        ids, cols = self.series(d_id, SERIES, n)
        labels = list(range(n))
        if fault == "duplicate":
            k = self.rng.randint(1, n - 1)
            labels[k] = labels[k - 1]
        file_name = f"dist-{d_id}.csv"
        dist = {"identifier": d_id, "title": f"serie {d_id}",
                "issued": "2020-01-01", "fileName": file_name}
        time_field = {"title": "indice_tiempo", "type": "date",
                      "specialType": "time_index", "specialTypeDetail": iso}
        fields = [time_field] + [
            {"id": s, "title": s, "type": "number"} for s in ids]
        src_rows = [(dates[labels[i]], [c[i][0] for c in cols]) for i in range(n)]
        if method == "excel":
            sheet = f"d{d_id.replace('.', '_')}"
            composed = iso == "R/P3M"
            t_col = 2 if composed else 1
            hdr_row = 3
            cells = [(sheet, 1, 1, f"Cuadro {d_id}: {cat} serie {d_id}")]
            cells.append((sheet, hdr_row, t_col, "indice_tiempo"))
            for j, s in enumerate(ids):
                cells.append((sheet, hdr_row, t_col + 1 + j, s))
            for i, (d, vals) in enumerate(src_rows):
                r = hdr_row + 1 + i
                if composed:
                    q = (d.month - 1) // 3
                    if q == 0 or i == 0:
                        cells.append((sheet, r, 1, str(d.year)))
                    cells.append((sheet, r, 2, ROMAN[q]))
                else:
                    cells.append((sheet, r, 1, excel_label(iso, d)))
                for j, v in enumerate(vals):
                    cells.append((sheet, r, t_col + 2 + j - 1, v))
            tl = col_letters(t_col)
            time_field.update(scrapingIdentifierCell=f"{tl}{hdr_row}",
                              scrapingDataStartCell=f"{tl}{hdr_row + 1}")
            for j, f in enumerate(fields[1:]):
                cl = col_letters(t_col + 1 + j)
                f.update(scrapingIdentifierCell=f"{cl}{hdr_row}",
                         scrapingDataStartCell=f"{cl}{hdr_row + 1}")
            if fault == "badcell":
                fields[-1]["scrapingDataStartCell"] = col_letters(t_col + len(ids))
            if fault == "missing":
                dist["scrapingFileURL"] = self.url(f"sources/absent_{sheet}.xlsx")
            else:
                wb["cells"].extend(cells)
                dist["scrapingFileURL"] = self.url(f"sources/{wb['name']}.xlsx")
            dist["scrapingFileSheet"] = sheet
        elif method == "csv":
            rel = f"sources/{cat}_{d_id}.csv"
            text = ",".join(["indice_tiempo"] + ids) + "\n" + "".join(
                ",".join([d.isoformat()] + [v if v not in MISSING else "" for v in vals]) + "\n"
                for d, vals in src_rows)
            if fault == "missing":
                rel = f"sources/absent_{cat}_{d_id}.csv"
            else:
                self.write(rel, text)
            dist["downloadURL"] = self.url(rel)
        else:  # txt
            rel = f"sources/{cat}_{d_id}.txt"
            time_field["title"] = "fecha"
            text = ";".join(["fecha"] + ids) + "\n" + "".join(
                ";".join([d.isoformat()] + vals) + "\n" for d, vals in src_rows)
            if fault == "missing":
                rel = f"sources/absent_{cat}_{d_id}.txt"
            else:
                self.write(rel, text)
            dist["scrapingFileURL"] = self.url(rel)
        dist["field"] = fields
        status = "ERROR" if fault else "OK"
        expected = {"dataset": ds, "method": method, "fault": fault,
                    "status": status,
                    "file": f"catalog/{cat}/dataset/{ds}/distribution/{d_id}/download/{file_name}"}
        if not fault:
            expected["header"] = ["indice_tiempo"] + ids
            expected["rows"] = [[dates[i].isoformat()] + [c[i][1] for c in cols]
                                for i in range(n)]
        return dist, expected

    def catalog(self, cat, fmt, mix, fault_kind):
        methods = [m for m, k in zip(("excel", "csv", "txt"), mix) for _ in range(k)]
        self.rng.shuffle(methods)
        faulty = {}
        if fault_kind:
            i = self.rng.choice([i for i, m in enumerate(methods)
                                 if m in FAULT_METHODS[fault_kind]])
            faulty[i] = fault_kind
        datasets, expected, workbooks = [], {}, []
        wb = None
        for i, method in enumerate(methods):
            ds = str(1 + i // 3)
            if not datasets or datasets[-1]["identifier"] != ds:
                datasets.append({
                    "identifier": ds, "title": f"dataset {ds}",
                    "description": f"{cat} dataset {ds}",
                    "publisher": {"name": "generador", "mbox": "g@example.org"},
                    "superTheme": ["ECON"], "accrualPeriodicity": "R/P1M",
                    "issued": "2020-01-01", "distribution": []})
            if method == "excel" and (wb is None or wb["n"] == PER_WORKBOOK):
                wb = {"name": f"wb_{cat}_{len(workbooks)}", "cells": [], "n": 0}
                workbooks.append(wb)
            fault = faulty.get(i)
            d_id = f"{ds}.{i + 1}"
            dist, exp = self.distribution(cat, ds, i, d_id, method, fault, wb)
            if method == "excel":
                wb["n"] += 1
            datasets[-1]["distribution"].append(dist)
            expected[d_id] = exp
        for w in workbooks:
            if w["cells"]:
                self.write(f"sources/{w['name']}.cells", cells_text(w["cells"]))
        doc = {"identifier": cat, "title": f"catalogo {cat}",
               "description": "generated catalog", "publisher":
               {"name": "generador", "mbox": "g@example.org"},
               "superThemeTaxonomy": "http://datos.gob.ar/superThemeTaxonomy.json",
               "issued": "2020-01-01", "dataset": datasets}
        if fmt == "json":
            self.write(f"catalogs/{cat}.json", json.dumps(doc, indent=1, sort_keys=True) + "\n")
            url = self.url(f"catalogs/{cat}.json")
        else:
            self.write(f"catalogs/{cat}.cells", cells_text(xlsx_catalog(doc)))
            url = self.url(f"catalogs/{cat}.xlsx")
        return url, expected

    def run(self):
        index, expected = [], {}
        for cat, fmt, mix, fault in CATALOGS:
            url, exp = self.catalog(cat, fmt, mix, fault)
            index.append(f"{cat}:\n  url: {url}\n  formato: {fmt}\n")
            expected[cat] = {"format": fmt, "distributions": exp}
        self.write("config/index.yaml", "".join(index))
        self.write("config/config_downloads.yaml",
                   "defaults:\n  tries: 1\n  retry_delay: 0\n")
        self.write("config/config_general.yaml", "environment: benchmark\n")
        self.write("expected.json", json.dumps(expected, indent=1, sort_keys=True) + "\n")
        return expected


def cells_text(cells):
    return "".join(f"{s}\t{r}\t{c}\t{v}\n" for s, r, c, v in cells)


def xlsx_catalog(doc):
    """The 5-sheet XLSX catalog form with prefix-flattened headers."""
    sheets = {
        "catalog": (["identifier", "title", "description"],
                    [[doc["identifier"], doc["title"], doc["description"]]]),
        "dataset": (["identifier", "title", "accrualPeriodicity"], []),
        "distribution": (["dataset_identifier", "identifier", "title",
                          "downloadURL", "scrapingFileURL",
                          "scrapingFileSheet", "fileName"], []),
        "field": (["distribution_identifier", "id", "title", "specialType",
                   "specialTypeDetail", "scrapingIdentifierCell",
                   "scrapingDataStartCell"], []),
        "theme": (["id", "label"], []),
    }
    for ds in doc["dataset"]:
        sheets["dataset"][1].append([ds["identifier"], ds["title"], ds["accrualPeriodicity"]])
        for d in ds["distribution"]:
            sheets["distribution"][1].append(
                [ds["identifier"]] + [d.get(k) for k in sheets["distribution"][0][1:]])
            for f in d["field"]:
                sheets["field"][1].append(
                    [d["identifier"]] + [f.get(k) for k in sheets["field"][0][1:]])
    cells = []
    for name, (header, rows) in sheets.items():
        for r, row in enumerate([[f"{name}_{h}" for h in header]] + rows):
            cells.extend((name, r + 1, c + 1, v) for c, v in enumerate(row) if v is not None)
    return cells


if __name__ == "__main__":
    Gen(sys.argv[1], int(sys.argv[2])).run()

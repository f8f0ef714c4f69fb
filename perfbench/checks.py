"""Output checks: query results against the DuckDB oracle, ETL outputs
against the generator's ground truth. Each returns {name: reason} for
every wrong output; an empty dict means all outputs are correct."""
import csv
import math
import os

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def _normalize(df):
    """Columns sorted by name, rows sorted by value (tools/check.py)."""
    import pandas as pd
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            sample = df[c].dropna()
            if len(sample) and all(hasattr(v, "year") for v in sample.head(5)):
                df[c] = pd.to_datetime(df[c])
        elif str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def compare_frames(got, want):
    """None when equal as tools/check.py judges it, else the reason."""
    import pandas as pd
    g, w = _normalize(got), _normalize(want)
    if list(g.columns) != list(w.columns):
        return f"columns {list(g.columns)} != {list(w.columns)}"
    if len(g) != len(w):
        return f"rows {len(g)} != {len(w)}"
    kinds = [c for c in g.columns if g[c].dtype.kind != w[c].dtype.kind]
    if kinds:
        return f"dtype kinds differ in {kinds}"
    try:
        pd.testing.assert_frame_equal(g, w, check_dtype=False, check_exact=True)
    except AssertionError as e:
        return "values differ: " + str(e).replace("\n", " ")[:300]
    return None


def oracle_frames(tiers, sql, threads):
    """Each query's oracle answer from DuckDB over its tier's tables:
    {query: DataFrame, or the error text when the oracle failed}."""
    import duckdb
    frames = {}
    for t in tiers:
        con = duckdb.connect(config={"threads": threads})
        for table in TABLES:
            con.sql(f"CREATE VIEW {table} AS SELECT * FROM '{t['data']}/{table}.parquet'")
        for q in t["queries"]:
            try:
                frames[q] = con.sql(sql[q]).df()
            except Exception as e:  # noqa: BLE001 - reported as a wrong answer
                frames[q] = f"oracle error: {e}"[:300]
        con.close()
    return frames


def check_queries(out_dir, frames):
    """Compare each query's check-pass parquet with its oracle answer."""
    import pandas as pd
    bad = {}
    for q, want in frames.items():
        path = os.path.join(out_dir, "check", q)
        if isinstance(want, str):
            bad[q] = want
        elif not os.path.isdir(path):
            bad[q] = "no result"
        else:
            try:
                reason = compare_frames(pd.read_parquet(path), want)
            except Exception as e:  # noqa: BLE001 - any failure is a wrong answer
                reason = f"check error: {e}"[:300]
            if reason:
                bad[q] = reason
    return bad


def _same(got, want):
    if want is None:
        return got == ""
    try:
        v = float(got)
    except ValueError:
        return False
    return math.isclose(v, want, rel_tol=1e-9, abs_tol=1e-9)


def check_csv(path, header, rows):
    """None when the CSV at `path` holds exactly `header` and `rows`."""
    if not os.path.isfile(path):
        return "output missing"
    with open(path, newline="", encoding="utf-8") as f:
        lines = list(csv.reader(f))
    if not lines or lines[0] != header:
        return f"header {lines[:1]} != {header}"
    body = lines[1:]
    if len(body) != len(rows):
        return f"{len(body)} rows != {len(rows)}"
    for got, want in zip(body, rows):
        if len(got) != len(want) or got[0] != want[0] or not all(
                _same(g, w) for g, w in zip(got[1:], want[1:])):
            return f"row {got} != {want}"
    return None


def check_etl_op(op, expected):
    """Problems of one catalog run: every distribution must report its
    expected status, and every OK one must have written its expected CSV."""
    exp = expected[op["name"]]["distributions"]
    got = {r["distribution"]: r["status"] for r in op["report"]}
    problems = {}
    for d in sorted(set(exp) | set(got)):
        e = exp.get(d)
        if e is None:
            problems[d] = "unexpected distribution"
        elif got.get(d) != e["status"]:
            problems[d] = f"status {got.get(d)} != {e['status']}"
        elif e["status"] == "OK":
            reason = check_csv(os.path.join(op["out"], e["file"]),
                               e["header"], e["rows"])
            if reason:
                problems[d] = reason
    return problems

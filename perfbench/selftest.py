#!/usr/bin/env python3
"""Self-tests of the benchmark itself.

    python3 perfbench/selftest.py            # generators and checks (~5 s)
    python3 perfbench/selftest.py --traced   # plus one short traced run

1. The same seed writes byte-identical generator output.
2. A corrupted query result and a wrong ETL CSV or status each count
   their operation as failed.
3. (--traced) Every job of a traced run lands in exactly one module.
"""
import csv
import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)
import checks  # noqa: E402
import gen_etl  # noqa: E402
import gen_tables  # noqa: E402
import run  # noqa: E402

# Modules a job may land in: the engine's packages and top-level objects
# under graft/, plus the harness and the explicit unattributed bucket.
ENGINE = os.path.join(run.ENGINE_SRC, "graft")


def tree_digest(root):
    h = hashlib.sha256()
    for d, _, fs in sorted(os.walk(root)):
        for f in sorted(fs):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            h.update(open(p, "rb").read())
    return h.hexdigest()


def test_generators_deterministic(tmp):
    for name, gen in (("tables", lambda d, s: gen_tables.write(d, s, 0.001)),
                      ("etl", lambda d, s: gen_etl.Gen(d, s).run())):
        d = os.path.join(tmp, name)
        digests = []
        for seed in (5, 5, 6):
            shutil.rmtree(d, ignore_errors=True)
            gen(d, seed)
            digests.append(tree_digest(d))
        assert digests[0] == digests[1], f"{name}: same seed, different bytes"
        assert digests[0] != digests[2], f"{name}: seed has no effect"


def test_corrupt_query_result_fails(tmp):
    import duckdb
    data = os.path.join(tmp, "tables")
    gen_tables.write(data, 3, 0.001)
    out = os.path.join(tmp, "qout")
    sql = ("SELECT n_regionkey, count(*) AS n, round(avg(n_nationkey), 2) AS a "
           "FROM nation GROUP BY n_regionkey")
    os.makedirs(os.path.join(out, "check", "qx"))
    con = duckdb.connect()
    con.sql(f"CREATE VIEW nation AS SELECT * FROM '{data}/nation.parquet'")
    df = con.sql(sql).df()
    part = os.path.join(out, "check", "qx", "part-0.parquet")
    spec = {"kind": "query", "tiers": [{"data": data, "queries": ["qx"]}]}
    oracle = checks.oracle_frames(spec["tiers"], {"qx": sql}, 1)
    ops = [{"op": i, "name": "qx", "ok": True} for i in (1, 2)]
    df.to_parquet(part)
    wrong, failed = run.judge(spec, ops, out, oracle)
    assert not wrong and not failed, wrong
    df.loc[0, "a"] += 0.01
    df.to_parquet(part)
    wrong, failed = run.judge(spec, ops, out, oracle)
    assert "qx" in wrong and len(failed) == 2, (wrong, failed)


def _write_outputs(root, expected):
    """Write every OK distribution's CSV as the engine does."""
    for d in expected.values():
        if d["status"] != "OK":
            continue
        path = os.path.join(root, d["file"])
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", newline="") as f:
            w = csv.writer(f, lineterminator="\n")
            w.writerow(d["header"])
            for row in d["rows"]:
                w.writerow([row[0]] + ["" if v is None else repr(float(v)) for v in row[1:]])


def test_wrong_etl_output_fails(tmp):
    data = os.path.join(tmp, "etl")
    expected = gen_etl.Gen(data, 4).run()
    cat = "cat_a"
    exp = expected[cat]["distributions"]
    out = os.path.join(tmp, "etl_out")
    _write_outputs(out, exp)
    report = [{"distribution": d, "status": e["status"]} for d, e in exp.items()]
    op = {"op": 1, "name": cat, "ok": True, "out": out, "report": report}
    spec = {"kind": "etl"}
    wrong, failed = run.judge(spec, [op], out, expected)
    assert not wrong and not failed, wrong
    # a wrong value in one CSV
    d, e = next((d, e) for d, e in exp.items() if e["status"] == "OK")
    path = os.path.join(out, e["file"])
    lines = open(path).read().splitlines()
    cells = lines[1].split(",")
    cells[1] = "0.5" if cells[1] != "0.5" else "0.25"
    lines[1] = ",".join(cells)
    open(path, "w").write("\n".join(lines) + "\n")
    wrong, failed = run.judge(spec, [op], out, expected)
    assert len(failed) == 1 and d in wrong["op1:cat_a"], wrong
    # a seeded fault reported as OK
    _write_outputs(out, exp)
    faulty = next(d for d, e in exp.items() if e["status"] == "ERROR")
    op["report"] = [dict(r, status="OK") if r["distribution"] == faulty else r
                    for r in report]
    wrong, failed = run.judge(spec, [op], out, expected)
    assert len(failed) == 1 and faulty in wrong["op1:cat_a"], wrong


def engine_modules():
    mods = set()
    for name in os.listdir(ENGINE):
        if os.path.isdir(os.path.join(ENGINE, name)):
            mods.add(name)
        elif name.endswith(".scala") and name != "package.scala":
            mods.add(name[:-len(".scala")])
    return mods | {"harness", "unattributed"}


def test_traced_jobs_land_in_one_module(workload="etl_catalogs"):
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "2", "--seconds", "1", "--trace", "1"],
        stdout=subprocess.PIPE, text=True, timeout=900)
    assert proc.returncode == 0, proc.returncode
    assert json.loads(proc.stdout.splitlines()[-1])["correct"]
    ops_file = os.path.join(run.WORK, f"{workload}-seed2-trace1", "ops.jsonl")
    allowed = engine_modules()
    traced = [json.loads(l) for l in open(ops_file) if '"traced":true' in l]
    assert traced, "no traced operation"
    for o in traced:
        L = o["layers"]
        mods = L["job_modules"]
        assert len(mods) == L["jobs_total"], o["op"]
        assert set(mods) <= allowed, set(mods) - allowed
        assert sum(m["jobs"] for m in L["modules"].values()) == L["jobs_total"]


def main():
    tests = [test_generators_deterministic, test_corrupt_query_result_fails,
             test_wrong_etl_output_fails]
    failed = 0
    with tempfile.TemporaryDirectory(dir=BENCH, prefix=".selftest-") as tmp:
        for t in tests:
            try:
                t(tmp)
                print(f"ok   {t.__name__}")
            except Exception as e:  # noqa: BLE001 - report every failure
                failed += 1
                print(f"FAIL {t.__name__}: {e!r}")
    if "--traced" in sys.argv:
        try:
            test_traced_jobs_land_in_one_module()
            print("ok   test_traced_jobs_land_in_one_module")
        except Exception as e:  # noqa: BLE001
            failed += 1
            print(f"FAIL test_traced_jobs_land_in_one_module: {e!r}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())

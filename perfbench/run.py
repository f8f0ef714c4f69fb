#!/usr/bin/env python3
"""The repository's benchmark: query mixes and generated-catalog ETL.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Run from the repository root. It builds the engine and the harness from
source (perfbench/harness, skipped while the sources are unchanged),
generates the workload's inputs from the seed, runs the harness JVM,
checks every output (query results against the DuckDB oracle, ETL
outputs against the generator's ground truth) and prints, as its last
stdout line, one JSON object with `correct`, `attempted`, `failed` and
`metrics`: the end-to-end metrics of BENCHMARK.json with `--trace 0`,
the per-layer metrics with `--trace 1`. The same line, with every metric
and the run's context (host probes, sample counts), is written to
perfbench/work/results/. Workloads and their inputs are defined in
perfbench/workloads.json.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
HARNESS = os.path.join(BENCH, "harness")
WORK = os.path.join(BENCH, "work")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
ENGINE_RES = os.path.join(ROOT, "src", "main", "resources")
RUN_LIMIT_S = 170  # a run must finish within 180 s once the build exists

sys.path.insert(0, BENCH)
import checks  # noqa: E402
import gen_etl  # noqa: E402
import gen_tables  # noqa: E402


class BenchError(Exception):
    pass


# ---------------------------------------------------------------- build

def _build_inputs():
    files = []
    for base in (ENGINE_SRC, ENGINE_RES, os.path.join(HARNESS, "src")):
        for d, _, fs in os.walk(base):
            files += [os.path.join(d, f) for f in fs]
    files += [os.path.join(HARNESS, "build.sbt"),
              os.path.join(HARNESS, "project", "build.properties")]
    return sorted(files)


def build():
    """Compile engine + harness with sbt; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        raise BenchError(f"engine sources not found under {ENGINE_SRC}")
    h = hashlib.sha256()
    for f in _build_inputs():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    digest = h.hexdigest()
    stamp = os.path.join(HARNESS, "target", "perfbench-build.json")
    if os.path.isfile(stamp):
        s = json.load(open(stamp))
        if s.get("digest") == digest:
            return s["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.isfile(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx3g")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HARNESS, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=800)
    cp = [l for l in proc.stdout.splitlines() if "scala-2.13/classes" in l
          and not l.startswith("[")]
    if proc.returncode != 0 or not cp:
        sys.stderr.write(proc.stdout[-4000:])
        raise BenchError(f"build failed (sbt exit {proc.returncode})")
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": cp[-1].strip()}, f)
    return cp[-1].strip()


# ------------------------------------------------------------------- run

def run_harness(cfg, spec, classpath, args, data, out, deadline):
    cores = len(os.sched_getaffinity(0))
    local = os.path.join(out, "local")
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = ",".join(f"{k}={str(v).replace('<cores>', str(cores))}"
                    for k, v in cfg["session"].items())
    cmd = (["java", f"-Xmx{cfg['jvm']['heap']}", f"-Djava.io.tmpdir={tmp}"]
           + cfg["jvm"]["options"]
           + ["-cp", classpath, "perfbench.Main",
              "--workload", spec["kind"], "--data", data, "--out", out,
              "--seconds", str(args.seconds), "--seed", str(args.seed),
              "--trace", str(args.trace), "--setups", str(spec["setups"]),
              "--lead-in", str(spec.get("lead_in", 0)),
              "--cores", str(cores), "--local-dir", local, "--conf", conf])
    if spec["kind"] == "query":
        cmd += ["--queries", ",".join(f"{q}@{t['data']}" for t in spec["tiers"]
                                      for q in t["queries"]),
                "--warm", ",".join(spec["warm"])]
    else:
        cmd += ["--catalogs", ",".join(spec["catalogs"]),
                "--warm-catalog", spec["warm_catalog"]]
    oracle = None
    with open(os.path.join(out, "harness.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, stdout=log,
                                stderr=subprocess.STDOUT, start_new_session=True,
                                env=dict(os.environ, SPARK_LOCAL_DIRS=local))
        try:
            if spec["kind"] == "query":
                oracle = run_oracle(proc, spec, out, cores, deadline)
            rc = proc.wait(timeout=max(10.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            raise BenchError("harness timed out")
        finally:  # also on SIGTERM or interrupt: never leave the JVM behind
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if rc != 0:
        raise BenchError(f"harness exited with {rc}; see {log.name}")
    harness = json.load(open(os.path.join(out, "harness.json")))
    ops = [json.loads(l) for l in open(os.path.join(out, "ops.jsonl"))]
    return harness, ops, cores, oracle


def run_oracle(proc, spec, out, cores, deadline):
    """Computes the oracle answers while the harness's first, cold set-up
    runs, then lets the harness go on (it waits for `oracle.done`)."""
    sql_file = os.path.join(out, "oracle_sql.json")
    while True:
        try:  # absent, or still being written, until it parses
            sql = json.load(open(sql_file))
            break
        except (OSError, ValueError):
            if proc.poll() is not None or time.time() > deadline:
                raise BenchError("harness wrote no oracle SQL")
            time.sleep(0.05)
    frames = checks.oracle_frames(spec["tiers"], sql, cores)
    open(os.path.join(out, "oracle.done"), "w").close()
    return frames


# ----------------------------------------------------------- correctness

def judge(spec, ops, out, truth):
    """Checks every output against `truth`: the oracle answers (query
    workloads) or the generator's expectations (ETL). Returns ({output:
    reason}, failed operations): an operation fails when it threw, when
    its query's result differs from the oracle, or when its ETL outputs
    differ from the ground truth."""
    wrong = {}
    if spec["kind"] == "query":
        wrong = checks.check_queries(out, truth)
        return wrong, [o for o in ops if not o["ok"] or o["name"] in wrong]
    for o in ops:
        p = checks.check_etl_op(o, truth) if o["ok"] else {"op": o["error"]}
        if p:
            wrong[f"op{o['op']}:{o['name']}"] = p
    return wrong, [o for o in ops if f"op{o['op']}:{o['name']}" in wrong]


# --------------------------------------------------------------- metrics

def _mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _ndist(op):
    return len(op.get("report", [])) if "report" in op else 1


def item_medians(ops):
    """Median latency and work of each item (query or catalog) over its
    measured operations; lead-in operations (pass 0) are left out. Items
    weigh the same however many operations the time box gave them."""
    by_item = {}
    for o in ops:
        if o["pass"] >= 1:
            by_item.setdefault(o["name"], []).append(o)
    return {k: (statistics.median(o["lat_s"] for o in v), _ndist(v[0]))
            for k, v in by_item.items()}


def end_to_end(harness, ops):
    items = item_medians(ops).values()
    return {
        "setup_s": statistics.median(harness["setup_s"]),
        "throughput_per_s": sum(w for _, w in items) / sum(l for l, _ in items),
        "latency_p50_s": statistics.median(l for l, _ in items),
        "peak_rss_mb": harness["peak_rss_mb"],
    }


def per_layer(harness, ops, cores):
    t = [o for o in ops if o["traced"]]
    L = [o["layers"] for o in t]

    def m(key):
        return _mean(l.get(key, 0) for l in L)

    def mod(name, field):
        return _mean(l.get("op_modules", {}).get(name, {}).get(field, 0) for l in L)

    def total(name):
        return sum(l.get("op_modules", {}).get(name, {}).get("jobs", 0) for l in L)

    exec_s = sum(o.get("exec_s", 0.0) for o in t)
    files = sum(1 for o in t for r in o.get("report", [])
                if r["status"] in ("OK", "WARNING"))
    dists = sum(len(o.get("report", [])) for o in t)
    jobs = sum(l.get("jobs_total", 0) for l in L)
    unattributed = sum(l.get("modules", {}).get("unattributed", {}).get("jobs", 0)
                       for l in L)
    # overhead: traced vs untraced copy of the same operation
    untraced_of = {o["pair"]: o for o in ops if not o["traced"] and o["pass"] >= 1}
    pairs = [(o, untraced_of[o["pair"]]) for o in t if o["pair"] in untraced_of]
    untraced = sum(b["lat_s"] for _, b in pairs)
    etl = any("report" in o for o in t)
    return {
        "SparkEntry.construct_s": _mean(o.get("construct_s", 0.0) for o in t),
        "SparkEntry.construct_jobs": m("construct_jobs"),
        "Tables.infer_jobs": m("tables_jobs"),
        "Tables.infer_s": m("tables_job_s"),
        "Tables.read_s": statistics.median(harness["tables_read_s"]) if harness["tables_read_s"] else 0.0,
        "operators.construct_jobs": m("operators_jobs"),
        "operators.construct_job_s": m("operators_job_s"),
        "catalyst.plan_s": _mean(o.get("plan_s", 0.0) for o in t),
        "exec.wall_s": _mean(o.get("exec_s", 0.0) for o in t),
        "exec.jobs": m("exec_jobs"),
        "exec.stages": m("exec_stages"),
        "exec.tasks": m("exec_tasks"),
        "exec.task_s": m("exec_task_s"),
        "exec.core_util": sum(l.get("exec_task_s", 0) for l in L) / (exec_s * cores) if exec_s else 0.0,
        "exec.gc_s": m("exec_gc_s"),
        "exec.shuffle_read_mb": m("exec_shuffle_read_mb"),
        "exec.shuffle_write_mb": m("exec_shuffle_write_mb"),
        "exec.spill_mb": m("exec_spill_mb"),
        "exec.driver_gap_s": m("exec_gap_s"),
        "Etl.catalog_s": _mean(o["lat_s"] for o in t) if etl else 0.0,
        "sources.xlsx_parse_s": m("xlsx_parse_s"),
        "sources.jobs": mod("sources", "jobs"),
        "sources.job_s": mod("sources", "job_s"),
        "operators.jobs": mod("operators", "jobs"),
        "operators.job_s": mod("operators", "job_s"),
        "Pipeline.jobs": mod("Pipeline", "jobs"),
        "Pipeline.job_s": mod("Pipeline", "job_s"),
        "sinks.jobs": mod("sinks", "jobs"),
        "sinks.job_s": mod("sinks", "job_s"),
        "sinks.jobs_per_file": total("sinks") / files if files else 0.0,
        "etl.jobs_per_distribution": sum(l.get("op_jobs", 0) for l in L) / dists if dists else 0.0,
        "etl.driver_gap_s": m("op_gap_s"),
        "trace.unattributed_frac": unattributed / jobs if jobs else 0.0,
        "trace.overhead_frac": (sum(a["lat_s"] for a, _ in pairs) / untraced - 1) if untraced else 0.0,
    }


# ------------------------------------------------------------------ main

def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_start = time.time()

    cfg = json.load(open(os.path.join(BENCH, "workloads.json")))
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    if args.workload not in cfg["workloads"]:
        raise BenchError(f"unknown workload {args.workload}")
    spec = dict(cfg["workloads"][args.workload])
    classpath = build()
    deadline = time.time() + RUN_LIMIT_S
    t_built = time.time()

    out = os.path.join(WORK, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    shutil.rmtree(out, ignore_errors=True)
    data = os.path.join(out, "data")
    if spec["kind"] == "query":
        for t in spec["tiers"]:
            t["data"] = os.path.join(data, f"sf{t['sf']}")
            gen_tables.write(t["data"], args.seed, t["sf"])
        expected = None
    else:
        expected = gen_etl.Gen(data, args.seed).run()
        spec["catalogs"] = [c for c in expected if c != spec["warm_catalog"]]
    t_gen = time.time()

    # query workloads: `--data` names the first tier's tables
    harness, ops, cores, oracle = run_harness(
        cfg, spec, classpath, args,
        spec["tiers"][0]["data"] if spec["kind"] == "query" else data, out, deadline)
    t_ran = time.time()

    wrong, failed_ops = judge(spec, ops, out, oracle if expected is None else expected)
    errors = sorted({o["error"] for o in ops if not o["ok"]})

    e2e = end_to_end(harness, ops)
    layers = per_layer(harness, ops, cores) if args.trace else {}
    wanted = bench["per_layer"] if args.trace else bench["end_to_end"]
    computed = layers if args.trace else e2e
    missing = [w["name"] for w in wanted if w["name"] not in computed]
    if missing:
        raise BenchError(f"metrics not computed: {missing}")
    metrics = {w["name"]: {"value": computed[w["name"]], "unit": w["unit"]}
               for w in wanted}
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    line = {"correct": not wrong and not errors, "attempted": len(ops),
            "failed": len(failed_ops), "metrics": metrics}

    record = dict(line, workload=args.workload, seed=args.seed,
                  seconds=args.seconds, trace=args.trace,
                  failed_frac=len(failed_ops) / len(ops),
                  wrong=wrong, errors=errors,
                  all_metrics={k: {"value": v, "unit": units[k]}
                               for k, v in {**e2e, **layers}.items()},
                  latency_samples=sum(o["pass"] >= 1 for o in ops),
                  passes=harness["passes"],
                  item_latency_s={k: l for k, (l, _) in item_medians(ops).items()},
                  measure_s=harness["measure_s"],
                  setup_runs_s=harness["setup_s"],
                  check_pass_s=harness["check_pass_s"],
                  host=harness["host"],
                  wall_s={"build": t_built - t_start, "generate": t_gen - t_built,
                          "harness": t_ran - t_gen, "check": time.time() - t_ran})
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", os.path.basename(out) + ".json"), "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    shutil.rmtree(data, ignore_errors=True)
    for sub in ("check", "etl", "local", "tmp", "probe_region"):
        shutil.rmtree(os.path.join(out, sub), ignore_errors=True)
    print(json.dumps(line))
    return 0


def _terminate(signum, _frame):
    raise BenchError(f"stopped by signal {signum}")


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, _terminate)
    try:
        sys.exit(main())
    except (BenchError, subprocess.SubprocessError, OSError, KeyError, ValueError) as e:
        sys.stderr.write(f"perfbench: {e}\n")
        sys.exit(1)

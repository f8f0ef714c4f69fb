#!/bin/bash
# One-shot scaling audit over ALL current queries — the standing
# per-round recipe, so late-added queries can never be "measured
# separately and patched in":
#
#   1. ScaleUp sf0.1 -> x10 and x100 corpora (skip-if-exists)
#   2. Bench at x1 / x10 / x100 — 3 interleaved passes by default
#      (AUDIT_PASSES overrides): the r13 audit measured single-pass
#      in-suite walls inflated up to 10x by neighbor contention
#      (q169 59.7s in-suite vs 6.2s isolated at x100); medians over
#      interleaved passes discard those windows, same as the sf0.1
#      gate bench
#   3. ScaleDiag candidate counts at x1 / x10 / x100
#   4. scaling_report.py -> report_sf1.json / report_sf100.json with
#      the candidate_counts block merged in
#
# Usage: tools/scale_audit.sh [workdir]     (default /tmp/scale_audit)
# Then review + commit the reports as BENCH_sf1.json / BENCH_sf100.json
# (carrying forward the findings/notes narrative blocks as needed).
#
# Timing discipline: run NOTHING CPU-heavy concurrently with the
# bench phases. Compile BEFORE invoking
# (sbt -batch compile); the script runs compiled classes directly so
# it never contends for the sbt boot-server socket.
set -euo pipefail
cd "$(dirname "$0")/.."
WORK=${1:-/tmp/scale_audit}
mkdir -p "$WORK"
CLASSES="$PWD/target/scala-2.13/classes"
[ -d "$CLASSES/graft" ] || { echo "compile first: sbt -batch compile" >&2; exit 1; }

run_main() { # run_main <MainClass> [args...]  — mirrors build.sbt javaOptions
  java \
    --add-opens java.base/java.lang=ALL-UNNAMED \
    --add-opens java.base/java.lang.invoke=ALL-UNNAMED \
    --add-opens java.base/java.lang.reflect=ALL-UNNAMED \
    --add-opens java.base/java.io=ALL-UNNAMED \
    --add-opens java.base/java.net=ALL-UNNAMED \
    --add-opens java.base/java.nio=ALL-UNNAMED \
    --add-opens java.base/java.util=ALL-UNNAMED \
    --add-opens java.base/java.util.concurrent=ALL-UNNAMED \
    --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED \
    --add-opens java.base/sun.nio.ch=ALL-UNNAMED \
    --add-opens java.base/sun.nio.cs=ALL-UNNAMED \
    --add-opens java.base/sun.security.action=ALL-UNNAMED \
    --add-opens java.base/sun.util.calendar=ALL-UNNAMED \
    -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
    -XX:-ExplicitGCInvokesConcurrent -XX:MaxGCPauseMillis=200 \
    -Xmx"${SPARK_DRIVER_MEM:-96g}" \
    -cp "$CLASSES:/opt/spark/jars/*" "$@"
}

SF01=/root/testdata/sf0.1

echo "== 1/4 ScaleUp (skip-if-exists) =="
for f in 10 100; do
  dst="$WORK/sf_x$f"
  if [ -f "$dst/_AUDIT_READY" ]; then
    echo "   x$f corpus exists at $dst — reusing"
  else
    rm -rf "$dst"
    run_main graft.ScaleUp "$SF01" "$dst" "$f" \
      > "$WORK/scaleup_x$f.log" 2>&1
    touch "$dst/_AUDIT_READY"
  fi
done

echo "== 2/4 Bench at x1 / x10 / x100 (${AUDIT_PASSES:-3} interleaved passes) =="
for tag in x1 x10 x100; do
  case $tag in
    x1)   dir="$SF01" ;;
    x10)  dir="$WORK/sf_x10" ;;
    x100) dir="$WORK/sf_x100" ;;
  esac
  SPARK_GRAFT_SF_DIR="$dir" SPARK_GRAFT_BENCH_PASSES="${AUDIT_PASSES:-3}" \
    SPARK_GRAFT_BENCH_OUT="$WORK/bench_$tag.json" \
    run_main graft.Bench > "$WORK/bench_$tag.stdout" 2> "$WORK/bench_$tag.log"
  tail -c 600 "$WORK/bench_$tag.stdout"; echo
done

echo "== 3/4 ScaleDiag candidate counts =="
run_main graft.ScaleDiag "$SF01"          2>"$WORK/diag_x1.log"   | tail -1 > "$WORK/diag_x1.json"
run_main graft.ScaleDiag "$WORK/sf_x10"   2>"$WORK/diag_x10.log"  | tail -1 > "$WORK/diag_x10.json"
run_main graft.ScaleDiag "$WORK/sf_x100"  2>"$WORK/diag_x100.log" | tail -1 > "$WORK/diag_x100.json"
cat "$WORK"/diag_x*.json

echo "== 4/4 scaling reports =="
python3 tools/scaling_report.py "$WORK/bench_x1.json" "$WORK/bench_x10.json"  10  "$WORK/report_sf1.json"
python3 tools/scaling_report.py "$WORK/bench_x1.json" "$WORK/bench_x100.json" 100 "$WORK/report_sf100.json"

python3 - "$WORK" <<'EOF'
import json, sys
w = sys.argv[1]
diags = {t: json.load(open(f"{w}/diag_{t}.json")) for t in ("x1", "x10", "x100")}
order = ("x1", "x10", "x100")
cc = {
    "comment": "graft.ScaleDiag through the production code paths "
               "(Dedup.prefixFilterParts / simhashPairParts / "
               "Similarity.blockedMarginSims), counts at x1/x10/x100.",
    "n_docs": [diags[t]["n_docs"] for t in order],
    "q182_prefix_filter": [diags[t]["q182_candidates"] for t in order],
    "q204_simhash_radius1_2x32bit (production)":
        [diags[t]["q204_candidates"] for t in order],
    "q196_blocked_sims": [diags[t]["q196_blocked_sims"] for t in order],
    "q65_block_pair_bound":
        [diags[t]["q65_block_pair_bound"] for t in order],
    "q65_neardup_pairs": [diags[t]["q65_neardup_pairs"] for t in order],
}
for name in ("report_sf1.json", "report_sf100.json"):
    path = f"{w}/{name}"
    rep = json.load(open(path))
    rep["candidate_counts"] = cc
    json.dump(rep, open(path, "w"), indent=1)
print("candidate_counts merged into both reports")
EOF

echo "DONE — review $WORK/report_sf1.json and $WORK/report_sf100.json"

#!/usr/bin/env bash
# Round-17 growth-exponent legs (r16 verdict #2): the clean-window
# grow3 100x leg that r16's three steal-stormed attempts never landed,
# plus fresh 1x/10x legs on the SAME tree so the iterative-tier
# exponents (t67 BPE train, t46 CC star-contraction, t52 PPJoin) are
# fitted entirely on shipped code — t52's shuffle structure changed in
# r16 (3 shuffles -> 1 window collapse), so its k=0.51 was an r15-code
# fit.
#
# Gate (v2, the one rule in dev/gate_accept.py; dev/bench_r17/README.md
# has the amendment data): a pre-flight bare-JVM SentinelProbe must sit
# in the probe band (`gate_accept.py pair`) before launch; the leg is
# accepted iff `gate_accept.py artifact` accepts ALL its sentinel legs
# (pre + per-entry samples + post) and it has no failed entries.
# SPARK_GRAFT_SENTINEL_EVERY=1 samples a sentinel BETWEEN the three
# entries (outside every timed wall), so a storm arriving mid-leg is
# attributed to the entry that absorbed it — the r16 stretch ask (#7)
# exercised where it was invented for.
#
# Usage: dev/scale_experiment_r17/run_spark.sh <tag> <sfDir>
#   tag in {1x, 10x_uniform, 100x_uniform}
set -uo pipefail
cd "$(dirname "$0")/../.."
TAG="$1"; DIR="$2"
QUERIES="t67_bpe_train t46_cc_star_contraction t52_ppjoin_exact"
OUT="dev/scale_experiment_r17/spark_grow3_${TAG}.json"
MAX_ATTEMPTS=4
if [[ -s "$OUT" ]]; then echo "== $OUT exists, skipping"; exit 0; fi
JAR=$(ls target/scala-2.13/tingdataetlspark_*.jar | head -1)

probe() {
  java -cp "$JAR:/opt/spark/jars/*" graft.SentinelProbe 32 2>/dev/null |
    python3 -c "import json,sys; d=json.load(sys.stdin); print(d['st_ms'], d['mt_ms'])"
}
wait_idle() {
  for i in $(seq 1 60); do
    read -r st mt <<< "$(probe)"
    if python3 dev/gate_accept.py pair "$st" "$mt" "$st" "$mt" > /dev/null; then
      echo "   [gate] idle: st=${st}ms mt=${mt}ms"; return 0; fi
    echo "   [gate] hostile (st=${st} mt=${mt}), waiting 30s ($i/60)"; sleep 30
  done
  echo "   [gate] WARNING: never idled — proceeding labeled"
}
for att in $(seq 1 $MAX_ATTEMPTS); do
  wait_idle
  echo "== spark grow3 $TAG attempt $att ($DIR, $(date +%H:%M:%S))"
  SPARK_GRAFT_SF_DIR="$DIR" SPARK_GRAFT_BENCH_OUT="$OUT" \
  SPARK_GRAFT_SENTINEL_EVERY=1 \
    /opt/spark/bin/spark-submit --class graft.Bench --master 'local[32]' \
      --driver-memory "${GROW3_MEM:-48g}" \
      --conf spark.ui.enabled=false \
      "$JAR" $QUERIES 2>&1 | grep -E '^\[bench\]|"metric"' | tail -6
  if python3 dev/gate_accept.py artifact "$OUT"; then echo "== wrote $OUT (accepted)"; exit 0; fi
  # next FREE reject index, not $att: a relaunch restarts attempt
  # numbering and must never clobber a prior set's labeled rejects
  i=1; while [[ -e "dev/scale_experiment_r17/spark_grow3_${TAG}_rej${i}.json" ]]; do i=$((i+1)); done
  cp "$OUT" "dev/scale_experiment_r17/spark_grow3_${TAG}_rej${i}.json"
  rm -f "$OUT"
  echo "   [gate] attempt $att rejected — artifact kept as _rej${i}"
done
echo "== no accepted $TAG leg in $MAX_ATTEMPTS attempts (rejected legs kept)"
exit 1

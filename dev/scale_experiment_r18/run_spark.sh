#!/usr/bin/env bash
# Round-18 growth legs, protocol v3 = the r17 v2 discipline plus:
#   * ONE shared CPU gate (dev/gate_accept.py — r17 ADVICE #4). GATE
#     v2 IS FROZEN (r17 VERDICT #7): amendments need an r17-style
#     leg-by-leg re-adjudication.
#   * AN IO-STATE PROBE (r17 VERDICT #3): the CPU sentinel is blind to
#     an IO-cold page cache (r17 paid a 45-vs-21.6 s lshpairs build in
#     a CPU-certified window, caught only post-hoc). Before each leg
#     the probe reads a fixed 200 MB slice of the leg's own parquet
#     twice: the FIRST read's time is the cache state, the SECOND is
#     the same-slice warm floor. io_state = "cold" iff first/second
#     > 2x. The leg artifact carries io_probe {cold_ms, warm_ms,
#     bytes, state} — legs are LABELED, not gated, on IO (a cold cache
#     is a real deployment state worth publishing, unlike a CPU storm;
#     the label is what r17's post-hoc wall-build decomposition had to
#     reconstruct). Pass IO_WANT=warm to make the probe a gate: the
#     script then pre-warms (reads the dir once) and re-probes before
#     accepting the slot.
#
# This round's primary use: the ITERATIVE TIER (r17 VERDICT #5) —
# t41/t71 PageRank, t09 resolve, e06 k-means have published `iters`
# but their 10x/100x walls stand on ungated r14/r15 windows.
#
# Usage: dev/scale_experiment_r18/run_spark.sh <tag> <sfDir> [queries...]
#   default queries = the grow4 iterative tier.
set -uo pipefail
cd "$(dirname "$0")/../.."
TAG="$1"; DIR="$2"; shift 2
QUERIES="${*:-t41_graph_pagerank t71_pagerank_dangling t09_neardup_resolve e06_kmeans_fixpoint}"
OUT="dev/scale_experiment_r18/spark_${PREFIX:-grow4}_${TAG}.json"
MAX_ATTEMPTS=4
IO_SLICE_BYTES=$((200*1024*1024))
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

io_probe() { # read a FIXED 200 MB slice of the leg's parquet twice ->
             # "cold_ms warm_ms bytes" (first read = cache state,
             # second = warm floor of the same slice)
  python3 - "$DIR" "$IO_SLICE_BYTES" <<'EOF'
import glob, sys, time
d, want = sys.argv[1], int(sys.argv[2])
# deterministic slice: files in sorted order, first `want` bytes
files = sorted(glob.glob(d + "/*.parquet"))
def read_slice():
    left, t0 = want, time.monotonic()
    for f in files:
        if left <= 0:
            break
        with open(f, "rb", buffering=0) as fh:
            while left > 0:
                b = fh.read(min(1 << 22, left))
                if not b:
                    break
                left -= len(b)
    return (time.monotonic() - t0) * 1000.0, want - left
cold_ms, nread = read_slice()
warm_ms, _ = read_slice()
print(f"{cold_ms:.1f} {warm_ms:.1f} {nread}")
EOF
}

prewarm() { cat "$DIR"/*.parquet > /dev/null 2>&1 || true; }

for att in $(seq 1 $MAX_ATTEMPTS); do
  wait_idle
  read -r io_cold io_warm io_bytes <<< "$(io_probe)"
  io_state=$(python3 -c "print('cold' if float('$io_cold') > 2*float('$io_warm') else 'warm')")
  echo "   [io] cold_ms=$io_cold warm_ms=$io_warm state=$io_state"
  if [[ "${IO_WANT:-}" == "warm" && "$io_state" == "cold" ]]; then
    echo "   [io] want warm, cache is cold — pre-warming $DIR"
    prewarm
    read -r io_cold io_warm io_bytes <<< "$(io_probe)"
    io_state=$(python3 -c "print('cold' if float('$io_cold') > 2*float('$io_warm') else 'warm')")
    echo "   [io] after pre-warm: cold_ms=$io_cold warm_ms=$io_warm state=$io_state"
  fi
  echo "== spark ${PREFIX:-grow4} $TAG attempt $att ($DIR, $(date +%H:%M:%S))"
  SPARK_GRAFT_SF_DIR="$DIR" SPARK_GRAFT_BENCH_OUT="$OUT" \
  SPARK_GRAFT_SENTINEL_EVERY=1 \
    /opt/spark/bin/spark-submit --class graft.Bench --master 'local[32]' \
      --driver-memory "${GROW_MEM:-48g}" \
      --conf spark.ui.enabled=false \
      "$JAR" $QUERIES 2>&1 | grep -E '^\[bench\]|"metric"' | tail -8
  # stamp the IO probe into the artifact (the leg's pre-flight state)
  python3 - "$OUT" "$io_cold" "$io_warm" "$io_bytes" "$io_state" <<'EOF'
import json, sys
p, cold, warm, nbytes, state = sys.argv[1:6]
d = json.load(open(p))
d["io_probe"] = {"cold_ms": float(cold), "warm_ms": float(warm),
                 "bytes": int(nbytes), "state": state}
json.dump(d, open(p, "w"))
EOF
  if python3 dev/gate_accept.py artifact "$OUT"; then
    echo "== wrote $OUT (accepted, io=$io_state)"; exit 0
  fi
  # next FREE reject index: a relaunch restarts attempt numbering and
  # must never clobber a prior set's labeled rejects
  i=1; while [[ -e "${OUT%.json}_rej${i}.json" ]]; do i=$((i+1)); done
  cp "$OUT" "${OUT%.json}_rej${i}.json"
  rm -f "$OUT"
  echo "   [gate] attempt $att rejected — artifact kept as _rej${i}"
done
echo "== no accepted $TAG leg in $MAX_ATTEMPTS attempts (rejected legs kept)"
exit 1

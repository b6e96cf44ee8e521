#!/usr/bin/env bash
# The gated bench sitting: full registry runs of graft.Bench at sf0.1
# against DuckDB comparator legs, accepted or rejected by the one
# sentinel gate (dev/gate_accept.py, rule v2, FROZEN: any amendment
# needs an r17-style leg-by-leg re-adjudication table), and committed to
# ./bench.json only by that gate.
#
# Usage: SPARK_GRAFT_SF_DIR=<sf0.1 dir> dev/bench_protocol.sh <round-dir> <control-dir>
#   <round-dir>    where this sitting's artifacts go, named dev/bench_r<N>
#   <control-dir>  a checkout of the previous round's end commit; it is
#                  benched in the same window as slot
#                  bench_r<N-1>code_samewindow, so the control column
#                  isolates exactly this round's diff
# Needs the assembled jar (target/scala-2.13/tingdataetlspark_*.jar) for
# the bare-JVM probes, and a host with at least 32 CPUs (exit 2 otherwise:
# the sentinel band is calibrated for 32).
#
#   * SPARK LEGS: each run waits for the pre-flight idle band (a bare-JVM
#     SentinelProbe inside the probe band), runs, and is accepted iff
#     `gate_accept.py artifact` accepts its own sentinel legs (pre +
#     per-entry samples + post) and it has no failed entries; rejected
#     runs re-run after re-idling, artifacts kept as _rejN.
#   * DUCKDB LEGS: each comparator run is bracketed by bare-JVM
#     SentinelProbe pairs and accepted iff `gate_accept.py pair` accepts
#     both; the readings ride in the artifact (probe_pre/probe_post), so
#     the headline's denominator carries a window certificate like its
#     numerator. (A storm that starts and ends strictly between the
#     brackets of one ~2-min leg can hide; three legs and the spread
#     check bound the damage.)
#   * COMMIT: `gate_accept.py commit` — median of the >= 3 ACCEPTED warm
#     runs over the accepted-DuckDB median must be < 2.0; run1 is the
#     throwaway cold run. GATE FAIL exits this script nonzero.
#   * RESUMABLE: slots with accepted artifacts are skipped on re-entry;
#     reject numbering scans for the next free index so a re-entry never
#     clobbers a prior set's rejects.
#
# Bench's no-env default is bench_full.json — ./bench.json is written
# ONLY by the commit gate (or an explicit SPARK_GRAFT_BENCH_OUT=./bench.json).
set -uo pipefail
if [[ $# -ne 2 ]]; then
  echo "usage: SPARK_GRAFT_SF_DIR=<sf0.1 dir> $0 <round-dir> <control-dir>" >&2; exit 2
fi
# The sentinel band (median st <= 140 ms, mt <= 270 ms) was calibrated
# with `SentinelProbe 32` on a 32-CPU host. On fewer CPUs the 32-thread
# probe reads out of band however idle the host is: every leg would wait
# 30 min, run labeled, and be rejected. Refuse before the first leg.
NPROC="$(env -u OMP_NUM_THREADS nproc)"
if (( NPROC < 32 )); then
  echo "this host has $NPROC CPUs (nproc); the sentinel band (median st <= 140 ms," \
    "mt <= 270 ms) was calibrated with 'SentinelProbe 32' on a 32-CPU host and" \
    "rejects every run on fewer: run the sitting on a host with >= 32 CPUs" >&2
  exit 2
fi
SF_DIR="${SPARK_GRAFT_SF_DIR:?set SPARK_GRAFT_SF_DIR to the sf0.1 testdata directory}"
ROUND="$(basename "$1")"; ROUND="${ROUND#bench_r}"
[[ "$ROUND" =~ ^[0-9]+$ ]] || { echo "round dir must be named bench_r<N>: $1" >&2; exit 2; }
CONTROL_DIR="$(cd "$2" && pwd)" || exit 2
mkdir -p "$1" && ROUND_DIR="$(cd "$1" && pwd)" || exit 2
cd "$(dirname "$0")/.."
OUT="$(realpath --relative-to=. "$ROUND_DIR")"
ORACLE_SQL=dev/scale_experiment_r14/oracle_sql.json
MAX_ATTEMPTS=3
JAR_GLOB="target/scala-2.13/tingdataetlspark_*.jar"
# the Spark jars the build compiles against (build.sbt's unmanagedBase)
SPARK_JARS="$(sed -n 's/^unmanagedBase := file("\(.*\)")$/\1/p' build.sbt)"
[[ -d "$SPARK_JARS" ]] || { echo "no unmanagedBase jar dir in build.sbt" >&2; exit 2; }

probe() { # one bare-JVM sentinel leg -> "st mt"
  java -cp "$(ls $JAR_GLOB | head -1):$SPARK_JARS/*" \
    graft.SentinelProbe 32 2>/dev/null |
    python3 -c "import json,sys; d=json.load(sys.stdin); print(d['st_ms'], d['mt_ms'])"
}

wait_idle() { # block until the box sits in the pre-flight band (<= ~30 min)
  for i in $(seq 1 60); do
    read -r st mt <<< "$(probe)"
    if python3 dev/gate_accept.py pair "$st" "$mt" "$st" "$mt" > /dev/null; then
      echo "   [gate] idle: st=${st}ms mt=${mt}ms"; return 0
    fi
    echo "   [gate] hostile (st=${st} mt=${mt}), waiting 30s ($i/60)"
    sleep 30
  done
  echo "   [gate] WARNING: box never idled in 30 min — proceeding labeled"
  return 0
}

next_rej() { # next FREE reject index for a slot (re-entry-safe)
  local name="$1"; local i=1
  while [[ -e "$OUT/${name}_rej${i}.json" ]]; do i=$((i+1)); done
  echo "$i"
}

spark_run() { # gated full run: name dir -> writes $OUT/$name.json (+ _rejN)
  local name="$1" dir="${2:-.}"
  if [[ -s "$OUT/$name.json" ]] && python3 dev/gate_accept.py artifact "$OUT/$name.json"; then
    echo "== spark $name: existing accepted artifact, skipping"; return 0
  fi
  for att in $(seq 1 $MAX_ATTEMPTS); do
    wait_idle
    echo "== spark $name attempt $att ($(date +%H:%M:%S))"
    (cd "$dir" && SPARK_GRAFT_SF_DIR="$SF_DIR" \
      SPARK_GRAFT_BENCH_OUT="$ROUND_DIR/$name.json" \
      sbt -batch "runMain graft.Bench" 2>&1 | grep -E '^\[bench\]' | tail -4)
    python3 -c "import json; d=json.load(open('$OUT/$name.json')); print(' ', round(d['value'],1), 's,', len(d['queries']), 'queries, failed:', d['failed'])"
    if python3 dev/gate_accept.py artifact "$OUT/$name.json"; then return 0; fi
    echo "   [gate] $name attempt $att REJECTED (sentinel out of band) — retrying"
    cp "$OUT/$name.json" "$OUT/${name}_rej$(next_rej "$name").json"
  done
  echo "   [gate] $name: no accepted run in $MAX_ATTEMPTS attempts (last kept, labeled)"
  return 0
}

duck_run() { # gated comparator leg: probe-bracketed, accepted iff both
             # probes in band; probes ride in the artifact
  local name="$1"
  if [[ -s "$OUT/$name.json" ]]; then echo "== duckdb $name exists, skipping"; return 0; fi
  for att in $(seq 1 $MAX_ATTEMPTS); do
    wait_idle
    echo "== duckdb $name attempt $att ($(date +%H:%M:%S))"
    read -r pre_st pre_mt <<< "$(probe)"
    python3 dev/oracle_bench.py "$SF_DIR" "$ORACLE_SQL" > "$OUT/$name.json.tmp"
    read -r post_st post_mt <<< "$(probe)"
    python3 - "$OUT/$name.json.tmp" "$OUT/$name.json" "$pre_st" "$pre_mt" "$post_st" "$post_mt" <<'EOF'
import json, sys
src, dst, pre_st, pre_mt, post_st, post_mt = sys.argv[1:7]
d = json.load(open(src))
d["probe_pre"] = {"st_ms": float(pre_st), "mt_ms": float(pre_mt)}
d["probe_post"] = {"st_ms": float(post_st), "mt_ms": float(post_mt)}
json.dump(d, open(dst, "w"))
EOF
    rm -f "$OUT/$name.json.tmp"
    python3 -c "import json; d=json.load(open('$OUT/$name.json')); print(' ', round(d['value'],1), 's,', d['n'], 'queries,', d['timeouts'])"
    if python3 dev/gate_accept.py pair "$pre_st" "$pre_mt" "$post_st" "$post_mt"; then return 0; fi
    echo "   [gate] duckdb $name attempt $att REJECTED (probe bracket out of band) — retrying"
    cp "$OUT/$name.json" "$OUT/${name}_rej$(next_rej "$name").json"
    rm -f "$OUT/$name.json"
  done
  echo "   [gate] $name: no accepted duckdb leg in $MAX_ATTEMPTS attempts"
  return 0
}

# bench_run1 is the throwaway cold run (never committed): if ANY run1
# artifact exists the cache is warm and the slot is done
if [[ ! -s "$OUT/bench_run1.json" ]]; then spark_run bench_run1
else echo "== spark bench_run1: artifact exists (cold slot done)"; fi
duck_run duckdb_run1
spark_run bench_run2
duck_run duckdb_run2
spark_run bench_run3
duck_run duckdb_run3
spark_run bench_run4
spark_run "bench_r$((ROUND - 1))code_samewindow" "$CONTROL_DIR"

# COMMIT GATE: median accepted warm run vs accepted-DuckDB median, < 2.0
python3 dev/gate_accept.py commit "$OUT" bench.json || exit 1
echo "== protocol done (commit gate passed)"

#!/usr/bin/env python3
"""THE sentinel acceptance gate, factored to one file (r17 ADVICE #4:
the v2 thresholds were hand-duplicated in three places and could
silently desync).

GATE v2 — FROZEN as of round 18 (r17 VERDICT #7). Any future amendment
requires an r17-style leg-by-leg re-adjudication table over every
artifact the old rule accepted or rejected; do not edit thresholds
casually. Rule, over ALL sentinel legs of a run (pre + per-entry
samples + post):

    median(st) <= 140 ms  AND  max(mt) <= 270 ms  AND  max(st) <= 185 ms

(idle baseline this box: st 117-135 ms, mt32 240-260 ms; mt/st ~= 2 IS
idle — 32 scheduler CPUs over 16 physical cores. The pre leg in a
fresh JVM reads st +15-30 ms above the same run's steady-state samples,
which is why the rule is a median over all legs, not a pre/post pair —
the r17 amendment data lives in dev/bench_r17/README.md.)

Modes:
  gate_accept.py artifact <bench.json>   v2 rule over the run's own legs
  gate_accept.py pair <pre_st> <pre_mt> <post_st> <post_mt>
                                         bracket-pair rule for runs that
                                         cannot carry mid-run samples
                                         (DuckDB comparator legs, r17
                                         VERDICT #4): all four of
                                         st <= 165 (bare-probe band,
                                         fresh-JVM bias) and mt <= 270.
                                         With pre = post it is the
                                         pre-flight idle band.
  gate_accept.py commit <round-dir> <dest>
                                         the commit gate of a bench
                                         sitting (dev/bench_protocol.sh):
                                         the median of the three warm
                                         runs bench_run2..4, all
                                         ACCEPTED by the artifact rule
                                         (a missing slot is not), over
                                         the median of the non-rejected
                                         duckdb_run*.json legs (at least
                                         three) must be < 2.0; then the
                                         median run is copied to <dest>.
Exit 0 = ACCEPT, 1 = REJECT. artifact and pair print one verdict line
either way; commit prints one line per leg, then its verdict.
"""
import glob
import json
import os
import re
import shutil
import statistics
import sys

ST_MED_MAX = 140.0
ST_ABS_MAX = 185.0
MT_MAX = 270.0
PROBE_ST_MAX = 165.0  # bare-JVM probe band (fresh-JVM st bias)


def judge(d: dict) -> tuple:
    """(accepted, verdict line) of one Bench artifact under the v2 rule."""
    # VALIDITY pre-check (r18): a run with failed entries is not a
    # usable total no matter how clean its window — its wall is missing
    # the failed entries' time. This is NOT part of the frozen v2
    # sentinel rule (which judges the window); it rejects artifacts
    # that aren't complete measurements in the first place. Added after
    # the r18 cold slot: bench_run1 attempt 2 lost its last 5 entries
    # to a transient fault and the sentinel-only gate would have let a
    # warm run like it through.
    failed = d.get("failed", [])
    if failed:
        return False, (f"REJECT incomplete run: {len(failed)} failed "
                       f"entries {failed}")
    s = d.get("host_sentinel", {})
    sm = d.get("sentinel_samples", [])
    sts = [s.get("pre_st_ms", 1e9)] + [x["st_ms"] for x in sm] + \
        [s.get("post_st_ms", 1e9)]
    mts = [s.get("pre_mt_ms", 1e9)] + [x["mt_ms"] for x in sm] + \
        [s.get("post_mt_ms", 1e9)]
    ok = (statistics.median(sts) <= ST_MED_MAX and max(mts) <= MT_MAX
          and max(sts) <= ST_ABS_MAX)
    return ok, (("ACCEPT " if ok else "REJECT ") +
                f"median_st={statistics.median(sts):.1f} "
                f"max_st={max(sts):.1f} max_mt={max(mts):.1f} "
                f"legs={len(sts)}")


def artifact(path: str) -> int:
    ok, line = judge(json.load(open(path)))
    print(line)
    return 0 if ok else 1


def pair(vals) -> int:
    pre_st, pre_mt, post_st, post_mt = (float(v) for v in vals)
    ok = (pre_st <= PROBE_ST_MAX and post_st <= PROBE_ST_MAX
          and pre_mt <= MT_MAX and post_mt <= MT_MAX)
    print("ACCEPT" if ok else "REJECT",
          f"pre=({pre_st:.1f},{pre_mt:.1f}) post=({post_st:.1f},{post_mt:.1f})"
          f" band=(st<={PROBE_ST_MAX:.0f},mt<={MT_MAX:.0f})")
    return 0 if ok else 1


WARM_SLOTS = ("bench_run2", "bench_run3", "bench_run4")
MAX_RATIO = 2.0


def commit(round_dir: str, dest: str) -> int:
    warm = []
    for n in WARM_SLOTS:
        path = os.path.join(round_dir, n + ".json")
        if not os.path.exists(path):
            print(f"{n}: missing")
            continue
        d = json.load(open(path))
        ok, line = judge(d)
        print(f"{n}: {d['value']:.1f}s {line}")
        if ok:
            warm.append((d["value"], n))
    ducks = []
    for f in sorted(glob.glob(os.path.join(round_dir, "duckdb_run*.json"))):
        if re.search(r"_rej\d+\.json$", f):
            continue
        d = json.load(open(f))
        ducks.append(d["value"])
        print(f"{f}: {d['value']:.1f}s probes pre={d.get('probe_pre')} "
              f"post={d.get('probe_post')}")
    if len(warm) < len(WARM_SLOTS):
        print(f"GATE FAIL: only {len(warm)} accepted warm runs (need "
              f"{len(WARM_SLOTS)}) — re-run rejected slots")
        return 1
    if len(ducks) < 3:
        print(f"GATE FAIL: only {len(ducks)} accepted duckdb legs (need 3)")
        return 1
    dmed = statistics.median(ducks)
    warm.sort()
    med_val, med_name = warm[len(warm) // 2]
    ratio = med_val / dmed
    print(f"median accepted warm = {med_val:.1f}s ({med_name}); duckdb "
          f"median = {dmed:.1f}s; ratio = {ratio:.3f}x")
    if ratio >= MAX_RATIO:
        print(f"GATE FAIL: ratio >= {MAX_RATIO} — do not commit this "
              f"sitting's bench.json")
        return 1
    shutil.copyfile(os.path.join(round_dir, med_name + ".json"), dest)
    print(f"ACCEPTED: {med_name} -> {dest} (ratio {ratio:.3f}x < {MAX_RATIO})")
    return 0


if __name__ == "__main__":
    if len(sys.argv) >= 3 and sys.argv[1] == "artifact":
        sys.exit(artifact(sys.argv[2]))
    if len(sys.argv) == 6 and sys.argv[1] == "pair":
        sys.exit(pair(sys.argv[2:6]))
    if len(sys.argv) == 4 and sys.argv[1] == "commit":
        sys.exit(commit(sys.argv[2], sys.argv[3]))
    print(__doc__)
    sys.exit(2)

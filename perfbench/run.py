#!/usr/bin/env python3
"""Benchmark of the reference's CLI chain (fan-out, verify, six
aggregate configs, presence), run in-process on local[4].

    python3 perfbench/run.py --workload etl-ref --seed 1 --seconds 25 --trace 0

Builds the program from source on first use (perfbench/build.py), runs
one JVM under its own directory in .bench_build/runs/, and prints as its
last line one JSON object with `correct`, `attempted`, `failed` and the
metrics BENCHMARK.json names: the end-to-end ones with `--trace 0`, the
per-layer ones with `--trace 1`. Exits non-zero when any correctness
check fails. The full artifact (per-pass figures, host sentinel, input
stamp, spans) is kept in .bench_build/artifacts/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402

JVM_TIMEOUT_S = 170
# the JDK 17 opens Spark needs outside spark-submit (build.sbt passes the same)
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def alive(pid):
    try:
        os.kill(pid, 0)
        return True
    except (ProcessLookupError, ValueError):
        return False
    except PermissionError:
        return True


def clean_stale_runs(runs):
    """Removes run directories whose process is gone (a killed earlier run)."""
    if not os.path.isdir(runs):
        return
    for d in os.listdir(runs):
        pid = d.rsplit("-", 1)[-1]
        if not pid.isdigit() or not alive(int(pid)):
            shutil.rmtree(os.path.join(runs, d), ignore_errors=True)


def run_jvm(classes, work, artifact, a):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # -UsePerfData: no hsperfdata file in the system temp dir; a run writes
    # only inside its checkout
    cmd = [build.java(), "-Xmx2g", "-Xss4m", "-XX:-UsePerfData",
           "-XX:-UseDynamicNumberOfCompilerThreads"]
    cmd += [x for p in ADD_OPENS for x in ("--add-opens", "java.base/%s=ALL-UNNAMED" % p)]
    cmd += ["-Djava.security.manager=allow",
            "-Djava.io.tmpdir=" + tmp,
            "-Dperfbench.clk_tck=%d" % os.sysconf("SC_CLK_TCK"),
            "-Dspark.master=local[4]",
            "-Dspark.sql.shuffle.partitions=4",
            "-Dspark.ui.enabled=false",
            "-Dspark.local.dir=" + tmp,
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
    if a.trace:
        cmd.append("-Dspark.extraListeners=perfbench.TraceListener")
    cmd += ["-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"), "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--out", artifact]
    env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1", SPARK_LOCAL_HOSTNAME="localhost")
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work, env=env,
                             start_new_session=True)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGTERM)
            try:
                p.wait(timeout=10)
            except subprocess.TimeoutExpired:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
            code = "timeout"
    if code != 0:
        with open(log_path, errors="replace") as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit("run: benchmark JVM failed (%s)" % code)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        raise SystemExit("run: unknown workload " + a.workload)
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]

    classes = build.build()
    build_dir = os.path.join(ROOT, ".bench_build")
    runs = os.path.join(build_dir, "runs")
    clean_stale_runs(runs)
    work = os.path.join(runs, "%s-%d" % (a.workload, os.getpid()))
    arts = os.path.join(build_dir, "artifacts")
    os.makedirs(arts, exist_ok=True)
    artifact = os.path.join(arts, "%s-seed%d-trace%d.json" % (a.workload, a.seed, a.trace))
    if os.path.exists(artifact):
        os.remove(artifact)
    try:
        run_jvm(classes, work, artifact, a)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    with open(artifact) as f:
        art = json.load(f)
    got = dict(art["metrics"])
    missing = [m["name"] for m in wanted if m["name"] not in got]
    failures = list(art["failures"]) + ["metric not reported: " + n for n in missing]
    for msg in failures:
        sys.stderr.write("check failed: %s\n" % msg)
    correct = bool(art["correct"]) and not missing
    result = {
        "correct": correct,
        "attempted": int(art["attempted"]),
        "failed": int(art["failed"]) + len(missing),
        "metrics": {m["name"]: {"value": got.get(m["name"], 0.0), "unit": m["unit"]} for m in wanted},
    }
    print(json.dumps(result, ensure_ascii=False))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()

"""The repo benchmark's command (see perfbench/README.md).

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repo root. Builds the program from source on first use
(perfbench/build.py), generates the workload's inputs from the seed
(perfbench/gen.py), runs one benchmark JVM, checks its outputs against the
committed pins (perfbench/pins.json) and prints every metric with its unit.
The last stdout line is the JSON result:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics of BENCHMARK.json, or with its per-layer metrics under --trace 1.

Extra options: --cores <n> (default: all), --selftest (failure-accounting
self-test; prints its verdict instead of a result).
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402

WORK = ".bench_work"
JVM_TIMEOUT_S = 170
WORKLOADS = ("daemon_soak", "collector_queries", "log_stream")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(2)


def heap():
    """The heap Tier-1 gives the JVM: MemTotal / 2, clamped to 2..8 GiB."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(8, max(2, g))}g"


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def data_dir(work, workload, seed):
    if workload == "daemon_soak":
        return gen.ensure_soak(work, seed)
    return gen.ensure_base(work)


def run_jvm(cp, digest, work, workload, seed, seconds, trace, cores,
            selftest=False):
    """One benchmark JVM; returns its result document."""
    data = data_dir(work, workload, seed)
    tag = f"{workload}-s{seed}-t{trace}-c{cores}{'-selftest' if selftest else ''}"
    out = os.path.abspath(os.path.join(work, "artifacts", f"{tag}.json"))
    log = os.path.join(work, "logs", f"{tag}.log")
    for d in ("artifacts", "logs", "tmp", "scratch"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    if os.path.exists(out):
        os.remove(out)
    work_abs = os.path.abspath(work)
    cmd = ["java", f"-Xmx{heap()}", "-XX:ReservedCodeCacheSize=1g",
           f"-Djava.io.tmpdir={work_abs}/tmp", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.bench.Main",
            "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace),
            "--cores", str(cores), "--work", work_abs,
            "--data", os.path.abspath(data),
            "--pins", os.path.join(HERE, "pins.json"), "--out", out]
    if workload == "daemon_soak":
        cmd += ["--warm-data", os.path.abspath(gen.ensure_soak_warm(work))]
        cmd += ["--expect", os.path.abspath(
            gen.soak_expect(work, seed, soak_horizon(seconds)))]
    if selftest:
        cmd.append("--selftest")
    env = dict(os.environ, SPARK_GRAFT_SCRATCH=f"{work_abs}/scratch",
               SPARK_LOCAL_DIRS=f"{work_abs}/spark-local",
               PERFBENCH_GIT_COMMIT=git_commit(),
               PERFBENCH_SOURCE_DIGEST=digest)
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT, env=env)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"{tag} did not finish within {JVM_TIMEOUT_S} s (log: {log})")
    if rc != 0 or not os.path.exists(out):
        with open(log) as fh:
            sys.stderr.write(fh.read()[-3000:])
        fail(f"{tag} exited with {rc} (log: {log})")
    with open(out) as fh:
        return json.load(fh)


def soak_horizon(seconds):
    """The soak's virtual horizon: 16 s per benchmark second, and at least the
    60 s that DaemonSoak.run needs for one high-frequency scrape."""
    return max(60, 16 * seconds)


def history_path(work, workload, digest, cores, seconds):
    """Untraced walls of one build at one size: the tracing-overhead baseline."""
    return os.path.join(work, "history",
                        f"{workload}-{digest[:16]}-c{cores}-s{seconds}.jsonl")


def history(path):
    if not os.path.exists(path):
        return []
    with open(path) as fh:
        return [json.loads(l) for l in fh if l.strip()]


def remember(path, doc):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "a") as fh:
        fh.write(json.dumps({"seed": doc["seed"],
                             "wall_s": doc["end_to_end"]["wall_s"]}) + "\n")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=None)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    ap.add_argument("--cores", type=int, default=os.cpu_count())
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not (a.workload or a.selftest):
        ap.error("--workload is required")

    if not os.path.isfile("BENCHMARK.json"):
        fail("run from the repo root (BENCHMARK.json not found)")
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    a.seconds = a.seconds or spec["run_seconds"]
    cp, digest = build.build(".")
    os.makedirs(WORK, exist_ok=True)

    if a.selftest:
        selftest(cp, digest, a)
        return

    extra = {}
    hist = history_path(WORK, a.workload, digest, a.cores, a.seconds)
    if a.trace:
        # tracing overhead against untraced runs of the same build, cores and
        # size; one is made first if this checkout has none yet
        if not history(hist):
            remember(hist, run_jvm(cp, digest, WORK, a.workload, a.seed,
                                   a.seconds, 0, a.cores))
        base_wall = statistics.median(h["wall_s"] for h in history(hist))
    doc = run_jvm(cp, digest, WORK, a.workload, a.seed, a.seconds, a.trace, a.cores)
    if a.trace:
        extra["trace.overhead_share"] = doc["end_to_end"]["wall_s"] / base_wall - 1
        if a.workload == "log_stream":
            # the single-threaded baseline: stream capacity at local[1]
            one = run_jvm(cp, digest, WORK, a.workload, a.seed, a.seconds, 0, 1)
            extra["scheduler.parallel_speedup"] = (
                doc["detail"]["capacity_lines_per_busy_s"]
                / one["detail"]["capacity_lines_per_busy_s"])
    else:
        remember(hist, doc)

    if a.trace:
        wanted, got = spec["per_layer"], {**doc["per_layer"], **extra}
    else:
        wanted, got = spec["end_to_end"], doc["end_to_end"]
    metrics, missing = {}, []
    for m in wanted:
        if m["name"] not in got:
            missing.append(m["name"])
        metrics[m["name"]] = {"value": float(got.get(m["name"], 0.0)),
                              "unit": m["unit"]}
    if missing and not a.trace:
        fail(f"the run did not report {missing}")

    host = doc["host"]
    print(f"perfbench {a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace}")
    print("host: " + ", ".join(f"{k}={v}" for k, v in host.items()))
    if missing:
        print("not measured on this workload (reported as 0): " + ", ".join(missing))
    for k, v in metrics.items():
        print(f"  {k:44s} {v['value']:14.4f} {v['unit']}")
    print(f"correct={doc['correct']} attempted={doc['attempted']} "
          f"failed={doc['failed']} failed_ops_share={doc['failed_ops_share']:.4f}")
    print(f"artifact: {os.path.join(WORK, 'artifacts')}")
    print(json.dumps({"correct": bool(doc["correct"]),
                      "attempted": int(doc["attempted"]),
                      "failed": int(doc["failed"]), "metrics": metrics}))


def selftest(cp, digest, a):
    """An injected failing entry and a tick blocked past its budget must be
    counted as failed, and neither may contribute a latency."""
    checks = []
    reg = run_jvm(cp, digest, WORK, "collector_queries", a.seed, a.seconds, 0,
                  a.cores, selftest=True)
    injected = [e for e in reg["detail"]["entries"]
                if e["name"] == "selftest_injected_failure"]
    checks.append(("injected entry counted as failed",
                   len(injected) == 1 and injected[0]["status"].startswith("error")
                   and reg["failed"] == 1))
    checks.append(("injected entry has no time", injected and injected[0]["ms"] is None))
    checks.append(("other entries still correct", reg["correct"]))
    # the shortest soak (60 s horizon) keeps the self-test short
    soak = run_jvm(cp, digest, WORK, "daemon_soak", a.seed, 1, 0, a.cores,
                   selftest=True)
    timed_out = soak["detail"]["failed_ticks"]
    checks.append(("blocked tick counted as failed",
                   timed_out == ["activity_10s@20:timed_out"] and soak["failed"] == 1))
    act = soak["detail"]["per_cadence"]["activity"]
    checks.append(("blocked tick has no time",
                   act["ticks"] == soak["detail"]["ticks_run"]["activity_10s"] - 1
                   and act["p90_ms"] < 3800))
    for name, ok in checks:
        print(f"  {'PASS' if ok else 'FAIL'} {name}")
    sys.exit(0 if all(ok for _, ok in checks) else 1)


if __name__ == "__main__":
    main()

"""Lifecycle benchmark of the graft sync pipeline and vector operators.

    python3 perfbench/run.py --workload sync_churn --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --selftest

--seconds defaults to run_seconds of BENCHMARK.json, the run length the
bounds were measured at.

Run from the root of a checkout. Builds the program and the benchmark from
source (see build.py), runs one workload in a fresh JVM on local[nproc],
and prints one JSON result line last on stdout. --trace 1 prints the
per-layer metrics instead of the end-to-end ones and writes the spans and
jobs to .bench_build/traces/. Each run appends its metadata (nproc, seed,
commit, source digest, hypervisor steal) to .bench_build/runs.jsonl.
"""
import argparse
import json
import os
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True  # leave no __pycache__ in the benchmark's directory
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

TIMEOUT_S = 170
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def cpu_times():
    """(steal, total) jiffies from the aggregate cpu line of /proc/stat."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
        return fields[7] if len(fields) > 7 else 0, sum(fields[:8])
    except OSError:
        return 0, 0


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=build.ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def spec():
    return json.loads((build.ROOT / "BENCHMARK.json").read_text())


def expected_metrics(trace):
    return {m["name"]: m["unit"] for m in spec()["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")
    if a.seconds is None and not a.selftest:
        a.seconds = spec()["run_seconds"]

    digest = build.ensure_built()
    jars = build.spark_jars()
    cp = os.pathsep.join([str(build.CLASSES), str(jars / "*")])
    args = (["--selftest", "1"] if a.selftest else
            ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
             "--trace", str(a.trace)])
    # Spark's scratch files and every JVM temp file stay inside the checkout
    tmp = build.OUT / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    cmd = (["java", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m",
            f"-Dlog4j2.configurationFile={build.BENCH_DIR / 'log4j2.properties'}",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            "-Dspark.ui.enabled=false"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK_OPENS]
           + ["-cp", cp, "perfbench.Main", "--out", str(build.OUT)] + args)
    steal0, total0 = cpu_times()
    t0 = time.time()
    proc = subprocess.Popen(cmd, cwd=build.ROOT, env=env, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        print(f"perfbench: run exceeded {TIMEOUT_S} s", file=sys.stderr)
        return 1
    if proc.returncode != 0:
        sys.stdout.write(out)
        print(f"perfbench: JVM exited with {proc.returncode}", file=sys.stderr)
        return proc.returncode or 1
    if a.selftest:
        sys.stdout.write(out)
        return 0
    lines = [l for l in out.splitlines() if l.strip()]
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        sys.stdout.write(out)
        print("perfbench: no result line", file=sys.stderr)
        return 1
    want = expected_metrics(a.trace)
    got = {k: v.get("unit") for k, v in result.get("metrics", {}).items()}
    if got != want:
        print(f"perfbench: metrics {sorted(got.items())} do not match BENCHMARK.json "
              f"{sorted(want.items())}", file=sys.stderr)
        return 1
    steal1, total1 = cpu_times()
    meta = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "nproc": os.cpu_count(), "commit": git_commit(), "source_sha256": digest,
            "steal_fraction": (steal1 - steal0) / (total1 - total0) if total1 > total0 else 0.0,
            "wall_s": time.time() - t0, "result": result}
    with open(build.OUT / "runs.jsonl", "a") as f:
        f.write(json.dumps(meta) + "\n")
    print(f"perfbench: steal_fraction={meta['steal_fraction']:.4f} nproc={meta['nproc']} "
          f"commit={meta['commit']}", file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload select_scan --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark from source (perfbench/build.py), then
launches the benchmark JVM with `java` directly in a fresh per-run directory
under .bench_runs/, which is deleted afterwards. Standard output ends with
two lines: the full record (every metric by name with its unit, sample count
and statistic, the inputs, the failing statements and, for a traced run, the
tracing overhead), then the compact result object
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics are
the end-to-end metrics of BENCHMARK.json, with --trace 1 its per-layer ones.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

ROOT = build.ROOT
WORKLOADS = ("select_scan", "dedup_ingest")
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def expected_names(trace: bool):
    spec = ROOT / "BENCHMARK.json"
    if not spec.is_file():
        return None
    key = "per_layer" if trace else "end_to_end"
    return {m["name"]: m["unit"] for m in json.loads(spec.read_text())[key]}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    try:
        classes = build.build()
        jars = build.spark_jars()
    except build.BuildError as e:
        fail(str(e))

    cores = max(1, min(4, os.cpu_count() or 1))
    run_dir = ROOT / ".bench_runs" / f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    cp = os.pathsep.join([str(classes), str(build.resources()), str(jars / "*")])
    cmd = ["java", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={run_dir / 'tmp'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--dir", str(run_dir), "--cores", str(cores)]
    log = run_dir / "jvm.log"
    record = None
    try:
        with open(log, "w") as err:
            proc = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE,
                                    stderr=err, text=True, start_new_session=True)
            try:
                out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                fail(f"benchmark JVM exceeded {JVM_TIMEOUT_S}s")
        for line in out.splitlines():
            if line.startswith("PERFBENCH_RECORD "):
                record = json.loads(line[len("PERFBENCH_RECORD "):])
        if proc.returncode != 0 or record is None:
            tail = log.read_text()[-3000:]
            fail(f"benchmark JVM exited {proc.returncode} without a record:\n{tail}")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        runs = ROOT / ".bench_runs"
        if runs.is_dir() and not any(runs.iterdir()):
            runs.rmdir()

    result = record["result"]
    want = expected_names(bool(a.trace))
    if want is not None:
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        if got != want:
            fail(f"metrics {sorted(got.items())} do not match BENCHMARK.json {sorted(want.items())}")
    print(json.dumps(record, separators=(",", ":")))
    print(json.dumps(result, separators=(",", ":")))


if __name__ == "__main__":
    main()

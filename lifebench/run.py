"""Lifecycle benchmark for the graft lakehouse.

    python3 lifebench/run.py --workload medallion_daily|delta_refresh \
        --seed N --seconds S --trace 0|1

Run from the repository root. Builds the program from source if needed
(lifebench/build.py), runs the workload in one JVM with a fresh
warehouse under `.bench_build/runs/`, checks its outputs, and prints as
the last stdout line one JSON object: `correct`, `attempted`, `failed`
and `metrics` — the end-to-end metrics of BENCHMARK.json with
`--trace 0`, its per-layer metrics with `--trace 1`. Earlier stdout
lines carry each cycle's input fingerprint and a run summary. With
`--trace 1` the spans are also written to
`.bench_build/spans/<workload>-<seed>.json`.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
import build  # noqa: E402

REPO = build.REPO
BENCH = build.BENCH
TIMEOUT_S = 170

# The flags sbt's forked JVM gets (build.sbt): Spark 4 on JDK 17 needs
# the add-opens outside spark-submit, and a full JIT code cache sends
# late codegen to the interpreter at 5-10x task CPU. -XX:-UsePerfData
# keeps the JVM from writing its perf file outside the checkout.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def spec():
    return json.loads((REPO / "BENCHMARK.json").read_text())


def jvm_command(classpath, work, args, heap):
    cmd = ["java", f"-Xmx{heap}", "-XX:ReservedCodeCacheSize=512m",
           "-XX:-UsePerfData",
           "-Duser.timezone=UTC", "-Dspark.sql.session.timeZone=UTC",
           "-Dspark.ui.enabled=false",
           f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", classpath, "lifebench.Main"] + args


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    bench = spec()
    if a.workload not in [w["name"] for w in bench["workloads"]]:
        sys.exit(f"unknown workload {a.workload}")
    wanted = bench["per_layer"] if a.trace else bench["end_to_end"]
    heap = json.loads((BENCH / "spec.json").read_text())["host"]["heap"]

    try:
        classpath = build.ensure()
    except build.BuildError as e:
        sys.exit(f"build failed: {e}")

    runs = REPO / ".bench_build" / "runs"
    work = runs / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    spans = REPO / ".bench_build" / "spans" / f"{a.workload}-{a.seed}.json"
    spans.parent.mkdir(parents=True, exist_ok=True)
    result_file = work / "result.json"
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", str(work), "--result", str(result_file),
            "--spans", str(spans)]
    proc = subprocess.Popen(jvm_command(classpath, work, args, heap),
                            cwd=work, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S)
        result = json.loads(result_file.read_text()) if result_file.is_file() else None
    except subprocess.TimeoutExpired:
        proc.kill()
        out, _ = proc.communicate()
        result = None
        print(f"timed out after {TIMEOUT_S}s", file=sys.stderr)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    sys.stdout.write(out)

    if result is None:
        result = {"attempted": 1, "failed": 1, "failures": ["no result"],
                  "end_to_end": {}, "per_layer": {}}
    measured = result["per_layer"] if a.trace else result["end_to_end"]
    failures = list(result["failures"])
    metrics = {}
    for m in wanted:
        v = measured.get(m["name"])
        if v is None:
            failures.append(f"metric {m['name']} missing")
            continue
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    failed = result["failed"] + (len(failures) - len(result["failures"]))
    for f in failures:
        print(f"failure: {f}", file=sys.stderr)
    print(json.dumps({"correct": failed == 0 and proc.returncode == 0,
                      "attempted": max(1, result["attempted"]),
                      "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 and proc.returncode == 0 else 1


if __name__ == "__main__":
    sys.exit(main())

"""Counter determinism check: two traced runs with the same seed must give
identical span counters.

    python3 lifebench/determinism.py --workload delta_refresh --seed 7 [--seconds 10]

Runs `run.py --trace 1` twice and compares, for every span, the job,
stage, task and files-written counts and the refresh-mode counts — the
per-layer metrics of the counted cycle, and the modes recorded in the
span dumps. Counters that spec.json lists under `nondeterministic` are
reported but do not fail the check. Exits 1 on any other difference.
"""
import argparse
import json
import subprocess
import sys
from collections import Counter
from pathlib import Path

BENCH = Path(__file__).resolve().parent
REPO = BENCH.parent
COUNTERS = ("jobs", "stages", "tasks", "files_written")


def traced_run(workload, seed, seconds):
    out = subprocess.run(
        [sys.executable, str(BENCH / "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "1"],
        cwd=REPO, stdout=subprocess.PIPE, text=True, check=False).stdout
    result = json.loads(out.strip().splitlines()[-1])
    if not result["correct"]:
        sys.exit(f"traced run failed: {result}")
    spans = json.loads((REPO / ".bench_build" / "spans" /
                        f"{workload}-{seed}.json").read_text())
    # the counted window is the first traced cycle (Main.CountedCycles)
    first = min(s["cycle"] for s in spans)
    modes = Counter((s["name"], m) for s in spans if s["cycle"] == first
                    for m in s["modes"])
    counters = {k: v["value"] for k, v in result["metrics"].items()
                if k.rsplit(".", 1)[-1] in COUNTERS or k.endswith("incremental_ratio")}
    return counters, modes


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    a = ap.parse_args()
    exempt = set(json.loads((BENCH / "spec.json").read_text())
                 ["nondeterministic"].get(a.workload, []))
    (c1, m1), (c2, m2) = (traced_run(a.workload, a.seed, a.seconds)
                          for _ in range(2))
    bad = False
    for k in sorted(c1):
        if c1[k] != c2.get(k):
            tag = "exempt" if k in exempt else "DIFFERS"
            bad |= k not in exempt
            print(f"{tag} {k}: {c1[k]} vs {c2.get(k)}")
    if m1 != m2:
        bad = True
        print(f"DIFFERS refresh modes: {dict(m1)} vs {dict(m2)}")
    print(f"{a.workload} seed {a.seed}: {len(c1)} counters, "
          f"{sum(m1.values())} refresh modes, "
          + ("mismatch" if bad else "identical"))
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())

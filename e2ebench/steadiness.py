"""Steadiness record: run every workload of ``BENCHMARK.json`` ten times
per set, each run with its own seed, for two sets on one commit, and
report per end-to-end metric the median, quartiles and quartile spread of
each set, the change of the median between sets, and each run's host
steal and wall time.

    python3 e2ebench/steadiness.py

Run from the repository root; it writes ``e2ebench/steadiness.json``.
The spread is (Q3 - Q1) / median with the quartiles of
``statistics.quantiles(values, n=4)``. For every metric, ``setup_s``
included, the record states two verdicts:

- ``within_bound``: every set's spread and the median change are at most
  the metric's bound in ``BENCHMARK.json``;
- ``under_third``: every set's spread is under a third of the bound.
"""

from __future__ import annotations

import json
import statistics
import subprocess
import sys
import time

RUNS = 10
SETS = 2
FIRST_SEED = 2000
OUT = "e2ebench/steadiness.json"


def run_once(workload: str, seed: int, seconds: int) -> dict:
    t0 = time.time()
    proc = subprocess.run(
        [sys.executable, "e2ebench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        capture_output=True, text=True, check=False,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed} failed:\n{proc.stderr[-2000:]}")
    summary = json.loads(lines[-2].split(" ", 1)[1])
    result = json.loads(lines[-1])
    return {
        "seed": seed, "wall_s": time.time() - t0, "correct": result["correct"],
        "failed": result["failed"], "steal_s": summary["host.steal_s"],
        "passes": summary["passes"],
        "metrics": {k: v["value"] for k, v in result["metrics"].items()},
    }


def stats(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med}


def main() -> int:
    with open("BENCHMARK.json", encoding="utf-8") as fh:
        bench = json.load(fh)
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    record: dict = {"runs_per_set": RUNS, "first_seed": FIRST_SEED, "sets": {}, "report": {}}
    seed = FIRST_SEED
    for s in range(SETS):
        for w in (w["name"] for w in bench["workloads"]):
            runs = []
            for _ in range(RUNS):
                runs.append(run_once(w, seed, bench["run_seconds"]))
                seed += 1
                r = runs[-1]
                print(f"set {s} {w} seed {r['seed']}: {r['wall_s']:.0f}s "
                      f"steal {r['steal_s']} failed {r['failed']}", file=sys.stderr)
            record["sets"].setdefault(w, []).append(runs)
    for w, sets in record["sets"].items():
        rep = {}
        for name, m in metrics.items():
            per_set = [stats([r["metrics"][name] for r in runs]) for runs in sets]
            first = per_set[0]["median"]
            # positive when the metric got worse
            sign = 1.0 if m["better"] == "lower" else -1.0
            worse = [sign * (p["median"] / first - 1.0) for p in per_set[1:]]
            rep[name] = {
                "bound": m["bound"],
                "sets": per_set,
                "median_change": [p["median"] / first - 1.0 for p in per_set[1:]],
                "within_bound": all(p["spread"] <= m["bound"] for p in per_set)
                and all(x <= m["bound"] for x in worse),
                "under_third": all(p["spread"] < m["bound"] / 3 for p in per_set),
            }
        rep["host.steal_s"] = [[r["steal_s"] for r in runs] for runs in sets]
        rep["run_wall_s"] = [[round(r["wall_s"], 1) for r in runs] for runs in sets]
        rep["failed"] = sum(r["failed"] for runs in sets for r in runs)
        record["report"][w] = rep
    with open(OUT, "w", encoding="utf-8") as fh:
        json.dump(record, fh, indent=1)
    for w, rep in record["report"].items():
        for name in metrics:
            m = rep[name]
            sp = " ".join(f"{p['spread']:.3f}" for p in m["sets"])
            ch = " ".join(f"{c:+.3f}" for c in m["median_change"])
            print(f"{w:16s} {name:16s} bound {m['bound']:.2f} spread {sp} change {ch} "
                  f"within_bound {m['within_bound']} under_third {m['under_third']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())

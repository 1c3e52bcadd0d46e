"""Benchmark entry point.

    python3 e2ebench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Generates the workload's inputs from the
seed into a fresh work directory under ``e2ebench/_work/``, runs the
workload in a fresh process (``child.py``), and prints one JSON object as
the last line of stdout: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``). The line before it is a human-readable
summary: every pass's wall, CPU, JIT and host steal, and the wall-clock
figures with the unit tail's percentile and sample count. Every process
started is waited for, and the work directory is removed, before exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from child import MAX_WARMUP_PASSES, PER_LAYER_UNITS  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

# local[1]: in warm passes the JIT compiler threads still use about one
# core and GC, the driver's Python and the task thread the rest; at
# local[2] a 4-CPU box is saturated and runs spread twice as widely.
CPUS = "1"
# one warm pass measured per this many seconds of --seconds (a warm pass
# takes 4-6 s): a fixed amount of work per run, so the warm metrics pool the
# same samples on any host
SECONDS_PER_WARM_PASS = 5
# a run must end within 180 s; the child gets what is left
DEADLINE_S = 170.0
UNITS = {"setup_s": "s", "first_pass_cpu_s": "s", "cpu_ms_per_krow": "ms"}


def _session_pids(sid: int) -> list[int]:
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii", errors="replace") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid:
            pids.append(int(name))
    return pids


def _reap_session(sid: int) -> None:
    """Wait for every process of a child's session to end; signal the
    stragglers if they outlive a grace period."""
    for sig, grace in ((None, 20.0), (signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        if sig is not None:
            for pid in _session_pids(sid):
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        end = time.time() + grace
        while time.time() < end:
            if not _session_pids(sid):
                return
            time.sleep(0.1)
    raise RuntimeError(f"processes of session {sid} did not exit")


def _run_child(argv: list[str], env: dict, log_path: str, timeout: float) -> None:
    with open(log_path, "ab") as log:
        t0 = time.time()
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "child.py"), *argv, "--t0", repr(t0)],
            env=env, stdout=log, stderr=log, stdin=subprocess.DEVNULL,
            start_new_session=True,
        )
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = "timeout"
        finally:
            _reap_session(proc.pid)
    if rc != 0:
        with open(log_path, encoding="utf-8", errors="replace") as fh:
            tail = fh.read()[-3000:]
        raise RuntimeError(f"benchmark process exited {rc}; log tail:\n{tail}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true",
                    help="keep the work directory (inputs, logs, trace.json)")
    args = ap.parse_args()
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "overpaint_spark", "cli.py")):
        sys.stderr.write("run from the repository root: overpaint_spark/ not found\n")
        return 2

    t_begin = time.time()
    measured = max(2, args.seconds // SECONDS_PER_WARM_PASS)
    n_passes = 1 + MAX_WARMUP_PASSES + measured * (2 if args.trace else 1)
    work = os.path.join(HERE, "_work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "spark-local", "eventlog"):
        os.makedirs(os.path.join(work, sub))
    env = dict(
        os.environ, SPARK_GRAFT_CPUS=CPUS, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=os.path.join(work, "tmp"), TZ="UTC", PYTHONPATH=root,
    )
    log = os.path.join(work, "child.log")
    try:
        WORKLOADS[args.workload].write_inputs(work, args.seed, n_passes)
        common = ["--workload", args.workload, "--seed", str(args.seed), "--work", work]
        out = os.path.join(work, "result.json")
        _run_child(
            [*common, "--measured", str(measured), "--trace", str(args.trace), "--out", out],
            env, log, DEADLINE_S - (time.time() - t_begin),
        )
        with open(out, encoding="utf-8") as fh:
            res = json.load(fh)
        if args.keep:
            sys.stderr.write(f"work directory kept: {work}\n")
    except Exception as exc:  # report and exit non-zero without a result line
        sys.stderr.write(f"benchmark failed: {exc}\n")
        return 1
    finally:
        if not args.keep:
            shutil.rmtree(work, ignore_errors=True)
            try:  # the shared parent, once no other run is using it
                os.rmdir(os.path.dirname(work))
            except OSError:
                pass

    passes = res["passes"]
    summary = {
        "workload": args.workload, "seed": args.seed,
        "passes": [f"{p['kind']}:{p['wall_s']:.2f}s/cpu{p['cpu_total_s']:.1f}s"
                   f"/jit{p['jit_ms']:.0f}ms/steal{p['steal_s']:.1f}s" for p in passes],
        "host.steal_s": round(sum(p["steal_s"] for p in passes), 2),
        "settled": res["settled"],
        "check_s": round(res["check_s"], 1),
        "peak_rss_mb": {k: round(v) for k, v in res["peak_rss_mb"].items()},
        "problems": res["problems"],
    }
    if args.trace:
        values = dict(res["per_layer"], **{"host.steal_s": summary["host.steal_s"]})
        metrics = {k: {"value": values[k], "unit": u} for k, u in PER_LAYER_UNITS.items()}
    else:
        summary["wall"] = res["wall"]
        metrics = {k: {"value": res["metrics"][k], "unit": u} for k, u in UNITS.items()}
    print("summary " + json.dumps(summary))
    print(json.dumps({
        "correct": res["failed"] == 0, "attempted": res["attempted"],
        "failed": res["failed"], "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

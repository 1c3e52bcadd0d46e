"""One benchmark process: cold set-up, the passes of one workload, the
output checks and the metrics. ``run.py`` starts it as a fresh process and
reads the JSON it writes to ``--out``.

Pass order: pass 1 is the cold first pass; warm-up passes follow until
one settles (its JIT compile time is at most ``SETTLE_JIT_OF_FIRST`` of
the first pass's); then ``--measured`` warm passes give the warm metrics. A
traced run follows each traced warm pass with an untraced one to measure
the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import tracing  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

# Warm-up is over at the first pass whose JIT compile time (summed over the
# compiler threads) is at most this share of the first pass's. What the
# compilers still do after that is mostly compiling the classes that
# Spark's code generation makes anew in every pass.
SETTLE_JIT_OF_FIRST = 0.25
MAX_WARMUP_PASSES = 4


def session_conf(work: str, traced: bool) -> dict[str, str]:
    """Directory, and for traced runs event-log, settings only: the
    session is otherwise the one the product builds."""
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # console progress bars would fill the run log
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": (
            f"-Dderby.system.home={os.path.join(work, 'derby')} "
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"
        ),
    }
    if traced:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "eventlog"),
            # no zstd reader is installed, so the log must be plain JSON
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def tail(values: list[float]) -> tuple[float, int]:
    """Value at the highest percentile with at least ten samples above
    it, and that percentile. With fewer than 100 samples that percentile
    falls below the 90th, and the maximum (percentile 100) is reported."""
    s = sorted(values)
    k = len(s) - 10
    pct = math.floor(100 * k / len(s)) if k > 0 else 0
    if pct < 90:
        return s[-1], 100
    return s[k - 1], pct


def settled(first: dict, rec: dict) -> bool:
    return rec["jit_ms"] <= SETTLE_JIT_OF_FIRST * first["jit_ms"]


class Runner:
    def __init__(self, wl, tracer: tracing.Tracer, jvm: tracing.JvmCounters) -> None:
        self.wl, self.tracer, self.jvm = wl, tracer, jvm
        self.pid = os.getpid()
        self.passes: list[dict] = []
        self.settled = False

    def one_pass(self, kind: str, traced: bool) -> dict:
        p = len(self.passes) + 1
        self.tracer.pass_no = p
        self.tracer.enabled = traced
        c0, cpu0, st0 = self.jvm.read(), tracing.tree_cpu(self.pid), tracing.steal_s()
        with self.tracer.span("pass", job_group=f"p{p}") as attrs:
            units = self.wl.run_pass(p)
        span = self.tracer.named("pass", p)[-1]
        rec = {
            "pass": p, "kind": kind, "traced": traced,
            "start": span.start, "end": span.end, "wall_s": span.dur,
            "units": units, "rows": self.wl.rows_per_pass,
            "steal_s": tracing.steal_s() - st0,
            **tracing.delta(self.jvm.read(), c0),
            **{f"cpu_{k}_s": v for k, v in
               tracing.delta(tracing.tree_cpu(self.pid), cpu0).items()},
        }
        attrs.update(kind=kind)
        self.passes.append(rec)
        return rec

    def run(self, measured: int, traced: bool) -> None:
        first = self.one_pass("first", traced)
        for _ in range(MAX_WARMUP_PASSES):
            if settled(first, self.one_pass("warmup", traced)):
                self.settled = True
                break
        # not settled after the cap: the run still measures, and says so
        # in its summary, rather than failing
        for _ in range(measured):
            self.one_pass("warm", traced)
            if traced:
                self.one_pass("untraced", False)
        self.tracer.enabled = True

    def warm(self) -> list[dict]:
        return [r for r in self.passes if r["kind"] == "warm"]


def cpu_ms_per_krow(passes: list[dict]) -> float:
    """Median over ``passes`` of process-tree CPU ms per 1 000 input rows."""
    return statistics.median(r["cpu_total_s"] * 1e6 / r["rows"] for r in passes)


def end_to_end(runner: Runner, setup_s: float) -> tuple[dict, dict]:
    """The end-to-end metrics, and the wall-clock figures the summary line
    prints beside them. Only ``setup_s`` of the bounded metrics is a wall
    time: on a host that steals CPU from the machine, wall time after
    set-up moves with the host several times as much as CPU time does
    (see the README)."""
    warm = runner.warm()
    units = [u for r in warm for u in r["units"]]
    tail_v, tail_pct = tail(units)
    metrics = {
        "setup_s": setup_s,
        "first_pass_cpu_s": runner.passes[0]["cpu_total_s"],
        "cpu_ms_per_krow": cpu_ms_per_krow(warm),
    }
    wall = {
        "first_pass_s": runner.passes[0]["wall_s"],
        "rows_per_s": runner.wl.rows_per_pass / statistics.median(r["wall_s"] for r in warm),
        "unit_p50_s": statistics.median(units),
        "unit_tail_s": tail_v, "unit_tail_pct": tail_pct, "unit_samples": len(units),
    }
    return metrics, wall


_S, _MS, _N, _MB = "s", "ms", "count", "MiB"
# Every per-layer metric, on every workload; a layer a workload does not
# use reports 0.
PER_LAYER_UNITS = {
    "session.get_spark_s": _S,
    "jvm.jit_ms": _MS, "jvm.classes_loaded": _N, "jvm.gc_ms": _MS,
    "jvm.jit_ms_first_pass": _MS, "jvm.classes_loaded_first_pass": _N,
    "codegen.compiles": _N, "codegen.compile_ms": _MS,
    "codegen.compiles_first_pass": _N, "codegen.compile_ms_first_pass": _MS,
    "warmup.passes": _N,
    "catalog.discover_s": _S, "catalog.footer_s": _S, "catalog.footer_calls": _N,
    "catalog.load_s": _S, "catalog.load_calls": _N,
    "profiler.table_self_p50_s": _S, "profiler.table_self_tail_s": _S,
    "profiler.jobs_per_table": _N, "profiler.tasks_per_table": _N,
    "cli.render_s": _S,
    "rules.eval_s": _S, "rules.jobs": _N, "rules.snapshot_write_s": _S,
    "rules.snapshot_files": _N, "rules.snapshot_bytes": "bytes", "rules.drift_s": _S,
    "query.dedup_ngram_jaccard.build_s": _S, "query.dedup_ngram_jaccard.exec_s": _S,
    "query.dedup_ngram_jaccard.jobs": _N,
    "stream.gate_build_s": _S,
    "stream.trigger_ms": _MS, "stream.add_batch_ms": _MS, "stream.planning_ms": _MS,
    "stream.latest_offset_ms": _MS, "stream.wal_commit_ms": _MS,
    "stream.commit_offsets_ms": _MS,
    "stream.rows_in": _N, "stream.rows_admitted": _N, "stream.admit_ratio": "ratio",
    "sink.files_per_batch": _N, "sink.bytes": "bytes",
    "spark.jobs": _N, "spark.stages": _N, "spark.tasks": _N,
    "spark.executor_run_s": _S, "spark.executor_cpu_s": _S, "spark.gc_s": _S,
    "spark.input_mb": _MB, "spark.shuffle_read_mb": _MB, "spark.shuffle_write_mb": _MB,
    "spark.spill_mb": _MB,
    "driver_py.cpu_s": _S, "pyworker.cpu_s": _S,
    "os.peak_rss_mb": _MB,
    "host.steal_s": _S,
    "trace.overhead_ratio": "ratio", "trace.job_counts_repeat": _N,
}


def _median_of(recs: list[dict], fn) -> float:
    return float(statistics.median(fn(r) for r in recs)) if recs else 0.0


def per_layer(runner: Runner, jobs: list[tracing.JobRecord], setup_span,
              peak_rss: float) -> dict:
    """Per-layer metrics: medians over the traced warm passes unless the
    name says first pass."""
    wl, t = runner.wl, runner.tracer
    warm, first = runner.warm(), runner.passes[0]
    out = dict.fromkeys(PER_LAYER_UNITS, 0.0)
    out |= {
        "session.get_spark_s": setup_span.dur,
        "jvm.jit_ms": _median_of(warm, lambda r: r["jit_ms"]),
        "jvm.classes_loaded": _median_of(warm, lambda r: r["classes_loaded"]),
        "jvm.jit_ms_first_pass": first["jit_ms"],
        "jvm.classes_loaded_first_pass": first["classes_loaded"],
        "jvm.gc_ms": _median_of(warm, lambda r: r["gc_ms"]),
        "codegen.compiles": _median_of(warm, lambda r: r["codegen_compiles"]),
        "codegen.compile_ms": _median_of(warm, lambda r: r["codegen_compile_ms"]),
        "codegen.compiles_first_pass": first["codegen_compiles"],
        "codegen.compile_ms_first_pass": first["codegen_compile_ms"],
        "driver_py.cpu_s": _median_of(warm, lambda r: r["cpu_driver_py_s"]),
        "pyworker.cpu_s": _median_of(warm, lambda r: r["cpu_pyworker_s"]),
        "warmup.passes": float(sum(r["kind"] == "warmup" for r in runner.passes)),
        "os.peak_rss_mb": peak_rss,
    }

    def pass_jobs(r):
        lo, hi = r["start"] * 1e3, r["end"] * 1e3
        return [j for j in jobs if lo <= j.submit_ms <= hi]

    totals = [tracing.engine_totals(pass_jobs(r)) for r in warm]
    for k in totals[0]:
        out[k] = float(statistics.median(tot[k] for tot in totals))
    counts = [(tot["spark.jobs"], tot["spark.stages"], tot["spark.tasks"]) for tot in totals]
    out["trace.job_counts_repeat"] = float(len(set(counts)) == 1)
    untraced = [r["wall_s"] for r in runner.passes if r["kind"] == "untraced"]
    out["trace.overhead_ratio"] = (
        statistics.median(r["wall_s"] for r in warm) / statistics.median(untraced)
    )

    # per-unit spans and job groups
    tables = [s for r in warm for s in t.named("profiler.table", r["pass"])]
    if tables:
        selfs = [t.self_time(s) for s in tables]
        out["profiler.table_self_p50_s"] = statistics.median(selfs)
        out["profiler.table_self_tail_s"] = tail(selfs)[0]

        def per_table(r, field):
            grp = [j for j in pass_jobs(r) if j.group.startswith(f"p{r['pass']}:table:")]
            n_tables = len(t.named("profiler.table", r["pass"]))
            return sum(field(j) for j in grp) / n_tables

        out["profiler.jobs_per_table"] = _median_of(warm, lambda r: per_table(r, lambda j: 1))
        out["profiler.tasks_per_table"] = _median_of(warm, lambda r: per_table(r, lambda j: j.tasks))
        out["rules.jobs"] = _median_of(warm, lambda r: sum(
            j.group == f"p{r['pass']}:rules" for j in pass_jobs(r)))
    for q in getattr(wl, "QUERY_NAMES", ()):
        out[f"query.{q}.jobs"] = _median_of(warm, lambda r: sum(
            j.group == f"p{r['pass']}:query:{q}" for j in pass_jobs(r)))
    layer_recs = [wl.pass_layers(r["pass"]) for r in warm]
    for k in layer_recs[0]:
        out[k] = float(statistics.median(lr.get(k, 0.0) for lr in layer_recs))
    unknown = set(out) - set(PER_LAYER_UNITS)
    if unknown:
        raise KeyError(f"per-layer metrics missing from PER_LAYER_UNITS: {sorted(unknown)}")
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--measured", type=int, default=0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--t0", type=float, required=True,
                    help="wall-clock time the parent started this process")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    traced = bool(args.trace)

    tracer = tracing.Tracer(f"{args.workload}-s{args.seed}-{os.getpid()}")
    from overpaint_spark.session import get_spark

    with tracer.span("session.get_spark"):
        spark = get_spark("overpaint-profile", extra_conf=session_conf(args.work, traced))
    spark.range(1).count()
    setup_s = time.time() - args.t0
    result: dict = {"setup_s": setup_s}
    try:
        tracer.sc = spark.sparkContext
        wl = WORKLOADS[args.workload](spark, args.work, tracer, traced)
        wl.install()
        runner = Runner(wl, tracer, tracing.JvmCounters(spark))
        runner.run(args.measured, traced)
        peak_rss = tracing.tree_peak_rss_mb(os.getpid())
        t_check = time.time()
        attempted, failed, problems = wl.check()
        result.update(
            attempted=attempted, failed=failed, problems=problems[:20],
            passes=[{k: v for k, v in r.items() if k not in ("start", "end")}
                    for r in runner.passes],
            peak_rss_mb=peak_rss, settled=runner.settled, check_s=time.time() - t_check,
        )
        if not traced:
            result["metrics"], result["wall"] = end_to_end(runner, setup_s)
    finally:
        spark.stop()
    if traced:
        jobs = tracing.fold_event_log(os.path.join(args.work, "eventlog"))
        result["per_layer"] = per_layer(
            runner, jobs, tracer.named("session.get_spark")[0], result["peak_rss_mb"]["total"]
        )
        result["trace_spans"] = len(tracer.spans)
        tracer.write(os.path.join(args.work, "trace.json"), {
            "workload": args.workload, "seed": args.seed,
            "settle_jit_of_first": SETTLE_JIT_OF_FIRST,
            "passes": result["passes"], "per_layer": result["per_layer"],
            "jobs": [j.__dict__ | {"stages": sorted(j.stages)} for j in jobs],
        })
    with open(args.out, "w", encoding="utf-8") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())

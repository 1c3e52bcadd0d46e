"""The benchmark workloads: what one pass does, which calls are wrapped, and
how the outputs are checked.

Every pass goes through the product's public entry points
(``overpaint_spark.cli.main`` and ``overpaint_spark.queries.QUERIES``) on
inputs the benchmark generated. Checks run after the timed passes.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import statistics

import checks
import gen

# data layout inside a run's work dir, shared with run.py which writes it
CATALOG_DIR = "input/catalog"
RULES_FILE = "input/rules.json"
CORPUS_DIR = "input/corpus"
STAGED_DIR = "input/staged"


def _call_cli(argv: list[str]) -> tuple[int, str, str]:
    from overpaint_spark import cli

    out, err = io.StringIO(), io.StringIO()
    with contextlib.redirect_stdout(out), contextlib.redirect_stderr(err):
        rc = cli.main(argv)
    return rc, out.getvalue(), err.getvalue()


def _dir_files_bytes(path: str) -> tuple[int, int]:
    n = size = 0
    for root, _dirs, names in os.walk(path):
        for name in names:
            if name.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(root, name))
    return n, size


class MonitorCatalog:
    """``cli.main`` profiles the catalog (exact counts, top-5 values, JSON,
    snapshot, drift against the previous pass), then validates the rule
    suite. Unit: one table's profile."""

    name = "monitor_catalog"
    TOP_K = 5

    def __init__(self, spark, work: str, tracer, traced: bool) -> None:
        self.spark, self.tracer, self.traced = spark, tracer, traced
        self.root = os.path.join(work, CATALOG_DIR)
        self.rules_path = os.path.join(work, RULES_FILE)
        self.snap = os.path.join(work, "snapshots")
        self.rows_per_pass = sum(gen.CATALOG_ROWS)
        self.outputs: list[tuple[int, str, list, str]] = []
        self._profiles = None

    @staticmethod
    def write_inputs(work: str, seed: int, n_passes: int) -> None:
        gen.write_catalog(seed, os.path.join(work, CATALOG_DIR))
        with open(os.path.join(work, RULES_FILE), "w", encoding="utf-8") as fh:
            json.dump(gen.rule_suite(), fh)

    def install(self) -> None:
        from overpaint_spark import cli
        from overpaint_spark.profiler import profile

        t = self.tracer

        def keep(_attrs, profiles):
            self._profiles = profiles

        t.wrap(cli, "profile_data_root", "profiler.data_root", on_result=keep,
               always=True)
        t.wrap(
            profile, "profile_table", "profiler.table",
            job_group=(lambda _s, h, *a, **k: f"p{t.pass_no}:table:{h.name}")
            if self.traced else None,
            always=True,
        )
        if not self.traced:
            return
        from overpaint_spark.rules import drift
        from overpaint_spark.sources import catalog

        for mod in (profile, catalog):
            t.wrap(mod, "discover_tables", "catalog.discover")
            t.wrap(mod, "footer_row_count", "catalog.footer")
            t.wrap(mod, "load_table", "catalog.load")
        t.wrap(cli, "_render_json", "cli.render")
        t.wrap(
            cli, "_run_validation", "rules.eval",
            job_group=lambda *a, **k: f"p{t.pass_no}:rules",
        )

        def snap_files(attrs, _df):
            run_dir = os.path.join(self.snap, f"run_id=r{t.pass_no:03d}")
            attrs["files"], attrs["bytes"] = _dir_files_bytes(run_dir)

        t.wrap(
            drift, "write_profile_snapshot", "rules.snapshot_write",
            on_result=snap_files,
        )

    def run_pass(self, p: int) -> list[float]:
        rid = f"r{p:03d}"
        prev = f"r{p - 1:03d}" if p > 1 else rid
        with self.tracer.span("cli.profile"):
            rc, out, err = _call_cli([
                self.root, "--exact", "--top-values", str(self.TOP_K),
                "--format", "json", "--snapshot-dir", self.snap,
                "--run-id", rid, "--drift-against", prev,
            ])
        if rc != 0:
            raise RuntimeError(f"profile pass {p} exited {rc}: {err.strip()[-500:]}")
        profiles, self._profiles = self._profiles, None
        with self.tracer.span("cli.validate"):
            rc, rules_out, err = _call_cli([self.root, "--rules", self.rules_path])
        if rc not in (0, 3):
            raise RuntimeError(f"rules pass {p} exited {rc}: {err.strip()[-500:]}")
        self.outputs.append((p, out, profiles, rules_out))
        return [s.dur for s in self.tracer.named("profiler.table", p)]

    def check(self) -> tuple[int, int, list[str]]:
        expect = checks.CatalogOracle(self.root, self.TOP_K)
        attempted = failed = 0
        problems: list[str] = []
        for p, out, profiles, rules_out in self.outputs:
            a, f, probs = expect.check_profiles(out, profiles)
            a2, f2, probs2 = expect.check_rules(rules_out)
            attempted += a + a2
            failed += f + f2
            problems += [f"pass {p}: {x}" for x in probs + probs2]
        return attempted, failed, problems

    def pass_layers(self, p: int) -> dict[str, float]:
        t = self.tracer
        out: dict[str, float] = {}
        for short, name in (("discover", "catalog.discover"),
                            ("footer", "catalog.footer"),
                            ("load", "catalog.load")):
            spans = t.named(name, p)
            out[f"catalog.{short}_s"] = sum(s.dur for s in spans)
            if short != "discover":
                out[f"catalog.{short}_calls"] = float(len(spans))
        out["cli.render_s"] = sum(s.dur for s in t.named("cli.render", p))
        out["rules.eval_s"] = sum(s.dur for s in t.named("rules.eval", p))
        snaps = t.named("rules.snapshot_write", p)
        out["rules.snapshot_write_s"] = sum(s.dur for s in snaps)
        out["rules.snapshot_files"] = float(sum(s.attrs.get("files", 0) for s in snaps))
        out["rules.snapshot_bytes"] = float(sum(s.attrs.get("bytes", 0) for s in snaps))
        # the drift read, joins and collects are everything the profile
        # call does after the snapshot write returns
        prof = t.named("cli.profile", p)
        if prof and snaps:
            out["rules.drift_s"] = prof[-1].end - snaps[-1].end
        return out


class CorpusStream:
    """The corpus side of a training-data pipeline, in one pass:

    1. the declared bulk dedup relation ``dedup_ngram_jaccard``, built by
       its ``QUERIES`` function and saved to the ``noop`` sink;
    2. ``cli.main --stream-gate dedup`` over a drop directory, re-run with
       the same checkpoint after this pass's drop files have landed
       (closed loop: all of a pass's files exist before the gate starts).
       One file is one micro-batch.

    Unit: one micro-batch, timed by its ``triggerExecution``. The query is
    not a unit: it shows in ``rows_per_s`` and in the traced ``query.*``
    metrics. Rows: the corpus documents plus the pass's drop documents."""

    name = "corpus_stream"
    QUERY_NAMES = ("dedup_ngram_jaccard",)

    def __init__(self, spark, work: str, tracer, traced: bool) -> None:
        self.spark, self.tracer, self.traced = spark, tracer, traced
        self.root = os.path.join(work, CORPUS_DIR)
        self.staged = os.path.join(work, STAGED_DIR)
        self.drops = os.path.join(work, "drops")
        self.sink = os.path.join(work, "sink")
        self.ckpt = os.path.join(work, "checkpoint")
        self.rows_per_pass = gen.CORPUS_DOCS + gen.DROP_FILES_PER_PASS * gen.DROP_DOCS_PER_FILE
        self.progress: dict[int, list[dict]] = {}
        self._query = None
        os.makedirs(self.drops, exist_ok=True)

    @staticmethod
    def write_inputs(work: str, seed: int, n_passes: int) -> None:
        corpus_t = gen.write_corpus(seed, os.path.join(work, CORPUS_DIR))
        for p in range(1, n_passes + 1):
            gen.write_drops(seed, corpus_t, p, os.path.join(work, STAGED_DIR, f"p{p:03d}"))

    def install(self) -> None:
        from overpaint_spark.streaming import dedup

        def keep(_attrs, query):
            self._query = query

        self.tracer.wrap(
            dedup, "write_incremental_dedup_stream", "stream.gate_build",
            on_result=keep, always=True,
        )

    def run_pass(self, p: int) -> list[float]:
        from overpaint_spark.queries import QUERIES

        t = self.tracer
        for q in self.QUERY_NAMES:
            group = f"p{p}:query:{q}" if self.traced else None
            with t.span(f"query.{q}", job_group=group):
                with t.span(f"query.{q}.build"):
                    df = QUERIES[q](self.spark, self.root)
                with t.span(f"query.{q}.exec"):
                    df.write.format("noop").mode("overwrite").save()

        staged = os.path.join(self.staged, f"p{p:03d}")
        for name in sorted(os.listdir(staged)):
            os.rename(os.path.join(staged, name), os.path.join(self.drops, name))
        with t.span("cli.stream_gate"):
            rc, _out, err = _call_cli([
                self.root, "--stream-gate", "dedup", "--stream-source", self.drops,
                "--stream-out", self.sink, "--stream-checkpoint", self.ckpt,
            ])
        if rc != 0:
            raise RuntimeError(f"stream pass {p} exited {rc}: {err.strip()[-500:]}")
        query, self._query = self._query, None
        batches = [
            json.loads(pr.json) for pr in query.recentProgress if pr.numInputRows > 0
        ]
        self.progress[p] = batches
        return [b["durationMs"]["triggerExecution"] / 1e3 for b in batches]

    def check(self) -> tuple[int, int, list[str]]:
        # one operation per query (executed once more against its oracle:
        # the timed executions write to noop) and one per micro-batch
        bad, problems = checks.check_corpus_queries(self.spark, self.root, self.QUERY_NAMES)
        attempted, failed, probs = checks.check_stream_sink(
            self.spark, self.root, self.drops, self.sink
        )
        return (len(self.QUERY_NAMES) + attempted, len(bad) + failed, problems + probs)

    def pass_layers(self, p: int) -> dict[str, float]:
        t = self.tracer
        out: dict[str, float] = {}
        for q in self.QUERY_NAMES:
            out[f"query.{q}.build_s"] = sum(s.dur for s in t.named(f"query.{q}.build", p))
            out[f"query.{q}.exec_s"] = sum(s.dur for s in t.named(f"query.{q}.exec", p))
        out["stream.gate_build_s"] = sum(s.dur for s in t.named("stream.gate_build", p))
        batches = self.progress.get(p, [])
        phases = (("trigger_ms", "triggerExecution"), ("add_batch_ms", "addBatch"),
                  ("planning_ms", "queryPlanning"), ("latest_offset_ms", "latestOffset"),
                  ("wal_commit_ms", "walCommit"), ("commit_offsets_ms", "commitOffsets"))
        for short, key in phases:
            vals = [b["durationMs"].get(key, 0) for b in batches]
            out[f"stream.{short}"] = float(statistics.median(vals)) if vals else 0.0
        # numInputRows counts every scan foreachBatch makes of the batch,
        # so the documents in are the drop files' rows
        rows_in = gen.DROP_FILES_PER_PASS * gen.DROP_DOCS_PER_FILE if batches else 0
        files = size = admitted = 0
        for b in batches:
            bdir = os.path.join(self.sink, f"_batch_id={b['batchId']}")
            n, sz = _dir_files_bytes(bdir)
            files, size = files + n, size + sz
            admitted += checks.parquet_rows(bdir)
        out["stream.rows_in"] = float(rows_in)
        out["stream.rows_admitted"] = float(admitted)
        out["stream.admit_ratio"] = admitted / rows_in if rows_in else 0.0
        out["sink.files_per_batch"] = files / len(batches) if batches else 0.0
        out["sink.bytes"] = float(size)
        return out


WORKLOADS = {w.name: w for w in (MonitorCatalog, CorpusStream)}

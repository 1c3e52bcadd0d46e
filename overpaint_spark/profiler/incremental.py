"""Incremental, partition-parallel profiling with mergeable per-file stats.

The reference profiles a live database, so every run re-reads every table
(one query per column — ``/root/reference/src/listTables.tsx:236-251``) and
its only cheap path is the planner's stale row estimate
(``pg_class.reltuples``, listTables.tsx:339). On an append-mostly data lake
at 100 TB, re-scanning unchanged data every monitoring run is the dominant
cost — and unnecessary: all of the profiler's statistics are **mergeable**.

This module keeps a *profile state* relation with one row per
``(file, column)`` holding only mergeable accumulators:

- ``n_rows`` / ``n_nonnull``            → merge by SUM
- ``min_d``/``max_d`` (numeric, double) → merge by MIN / MAX
- ``min_us``/``max_us`` (temporal, epoch microseconds) → MIN / MAX
- ``min_s``/``max_s`` (string, binary collation)       → MIN / MAX
- ``n_true``/``n_false`` (boolean, 3VL ``count_if``)   → SUM
- ``hll`` — a DataSketches HLL sketch (``hll_sketch_agg``) → merge by
  ``hll_union_agg`` → ``hll_sketch_estimate`` for distinct-count estimates

A monitoring run then:

1. lists the table's current data files (driver-side, metadata only),
2. profiles **only files not yet in the state** — one Spark job whose scan
   reads just the new files (partial aggregation collapses each file's
   rows map-side; the shuffle carries one row per (file, column)),
3. appends the new rows to the state (parquet),
4. folds the state into a full-table profile with a tiny all-metadata
   aggregation (thousands of rows, not terabytes).

So steady-state profiling cost is proportional to *new data*, not table
size — the correct analog of the reference's "single, fast catalog query"
posture (README.md:8) for an object-store lake.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from overpaint_spark.localrel import local_df

from overpaint_spark.functions import typeclass

#: lg_2 of the HLL register count — 4 KiB sketches, ~1.6% relative error.
DEFAULT_LG_K = 12

STATE_SCHEMA = T.StructType(
    [
        T.StructField("table_name", T.StringType()),
        T.StructField("file_path", T.StringType()),
        T.StructField("file_size", T.LongType()),
        T.StructField("column_name", T.StringType()),
        T.StructField("col_kind", T.StringType()),
        T.StructField("n_rows", T.LongType()),
        T.StructField("n_nonnull", T.LongType()),
        T.StructField("min_d", T.DoubleType()),
        T.StructField("max_d", T.DoubleType()),
        T.StructField("min_us", T.LongType()),
        T.StructField("max_us", T.LongType()),
        T.StructField("min_s", T.StringType()),
        T.StructField("max_s", T.StringType()),
        T.StructField("n_true", T.LongType()),
        T.StructField("n_false", T.LongType()),
        T.StructField("hll", T.BinaryType()),
    ]
)


def column_kind(dt: T.DataType) -> str:
    if typeclass.is_numeric(dt):
        return "numeric"
    # before the general temporal test: TimeType has no MIN/MAX support
    # in Spark 4.1 and its range is carried in the mergeable STRING
    # channel (zero-padded HH:MM:SS[.f] is order-preserving)
    if typeclass.is_time(dt):
        return "time"
    if typeclass.is_temporal(dt):
        return "temporal"
    if typeclass.is_boolean(dt):
        return "boolean"
    if isinstance(dt, T.StringType):
        return "string"
    return "other"


def _strip_scheme(p: str) -> str:
    """``file:/x`` / ``file:///x`` → ``/x`` (Hadoop URI → local path).

    ``input_file_name()`` yields PERCENT-ENCODED URIs (a space is
    ``%20``), while ``list_data_files`` yields raw OS paths — without
    decoding, a table path containing a space/non-ASCII char makes the
    incremental seen-set miss every file, re-profiling (and
    double-counting) the whole table on every run."""
    from urllib.parse import unquote

    return unquote(re.sub(r"^file:/+", "/", p))


def list_data_files(path: str) -> list[tuple[str, int]]:
    """Driver-side listing of a table's parquet data files (path, size).

    Accepts a single ``.parquet`` file or a directory of them. On a real
    lake this is one object-store LIST call — no Spark job.
    """
    if os.path.isfile(path):
        return [(os.path.abspath(path), os.path.getsize(path))]
    out = []
    for root, _dirs, names in os.walk(path):
        for n in sorted(names):
            if n.endswith(".parquet") and not n.startswith(("_", ".")):
                p = os.path.join(root, n)
                out.append((os.path.abspath(p), os.path.getsize(p)))
    return sorted(out)


def profile_files_df(
    spark: SparkSession,
    table_name: str,
    path: str,
    files: list[str] | None = None,
    lg_k: int = DEFAULT_LG_K,
    with_hll: bool = True,
) -> DataFrame:
    """Per-(file, column) mergeable stats in ONE job over the given files.

    ``files=None`` profiles every data file under ``path``; passing an
    explicit list restricts the scan to exactly those files (the
    incremental path — unchanged files are never read).

    ``with_hll=False`` skips the distinct-count sketches (NULL channel):
    the sketch updates are the single most expensive accumulator
    (~per-value hashing into 4 KiB registers for every column), and
    Catalyst does NOT prune them through the ``stack`` generator when a
    downstream reader discards the channel — measured ~2× on the
    min/max-only profile at sf0.1.

    The whole per-table plan is generated as ONE SQL statement over a
    temp view: building the ~30 aggregate channels as Column objects
    cost ~650 py4j round-trips per table (~2.5 s of pure driver time
    per 10-table build — the top bench cost of the incremental query);
    string SQL is a handful of calls regardless of column count.
    """
    listed = list_data_files(path)  # ONE directory walk serves both
    if files is None:
        files = [p for p, _sz in listed]
    if not files:
        return local_df(spark, [], STATE_SCHEMA)
    sizes = dict(listed)
    # input_file_name() percent-encodes; the map must answer for both
    # the raw OS path and its encoded form (they differ iff the path
    # contains chars like spaces)
    from urllib.parse import quote

    for p, sz in list(sizes.items()):
        q = quote(p, safe="/")
        if q != p:
            sizes[q] = sz
    # same TIMESTAMP(NANOS) escape hatch as sources.catalog.load_table:
    # Spark 4 rejects nanos parquet timestamps; read as raw ns longs and
    # truncate to micros (what DuckDB/pandas do too). The raw long stays
    # raw in the aggregate — MIN/MAX `div 1000` and xxhash64 over the
    # derived micros long are value-identical to converting first
    # (XxHash64 hashes a timestamp as its micros long).
    from overpaint_spark.sources.catalog import _nanos_timestamp_cols

    nanos = set(_nanos_timestamp_cols(files[0]))
    if nanos:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(*files)

    def bq(name: str) -> str:
        return "`" + name.replace("`", "``") + "`"

    def lit(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    # kinds are driven by the ORIGINAL types (nanos longs count as
    # temporal); TimeType columns are projected to their
    # order-preserving string form INSIDE the statement because Spark
    # 4.1 cannot plan an aggregate directly over a scan containing
    # TimeType — the explicit projection unblocks it
    fields = [
        (f_.name, "temporal" if f_.name in nanos else column_kind(f_.dataType),
         typeclass.is_time(f_.dataType), f_.name in nanos, f_.dataType)
        for f_ in df.schema.fields
    ]
    proj = [
        f"CAST({bq(n)} AS STRING) AS {bq(n)}" if is_time else bq(n)
        for n, _k, is_time, _nano, _dt in fields
    ]
    channels = ["count(1) AS n_rows"]
    tuples = []
    for i, (n, kind, is_time, is_nano, dt) in enumerate(fields):
        c = bq(n)
        channels.append(f"count({c}) AS nn_{i}")
        if kind == "numeric":
            channels.append(f"CAST(MIN({c}) AS DOUBLE) AS mnd_{i}")
            channels.append(f"CAST(MAX({c}) AS DOUBLE) AS mxd_{i}")
        elif kind == "temporal" and is_nano:
            channels.append(f"MIN({c}) div 1000 AS mnu_{i}")
            channels.append(f"MAX({c}) div 1000 AS mxu_{i}")
        elif kind == "temporal":
            channels.append(f"unix_micros(CAST(MIN({c}) AS TIMESTAMP)) AS mnu_{i}")
            channels.append(f"unix_micros(CAST(MAX({c}) AS TIMESTAMP)) AS mxu_{i}")
        elif kind in ("string", "time"):
            channels.append(f"MIN({c}) AS mns_{i}")
            channels.append(f"MAX({c}) AS mxs_{i}")
        elif kind == "boolean":
            channels.append(f"count_if({c}) AS nt_{i}")
            channels.append(f"count_if(NOT {c}) AS nf_{i}")
        if with_hll:
            # identical sketch-input domains as the historical Column
            # form — states written by either merge correctly
            if isinstance(
                dt, (T.LongType, T.IntegerType, T.ShortType, T.ByteType, T.StringType)
            ) and not is_nano:
                sk = c
            elif is_time:
                sk = f"CASE WHEN {c} IS NOT NULL THEN xxhash64({c}) END"
            elif is_nano:
                sk = f"CASE WHEN {c} IS NOT NULL THEN xxhash64({c} div 1000) END"
            else:
                sk = f"CASE WHEN {c} IS NOT NULL THEN xxhash64({c}) END"
            channels.append(f"hll_sketch_agg({sk}, {int(lg_k)}) AS hll_{i}")

        def ch(pref: str, typ: str, kinds: set) -> str:
            return f"{pref}_{i}" if kind in kinds else f"CAST(NULL AS {typ})"

        tuples.append(", ".join([
            lit(n), lit(kind), f"nn_{i}",
            ch("mnd", "DOUBLE", {"numeric"}), ch("mxd", "DOUBLE", {"numeric"}),
            ch("mnu", "BIGINT", {"temporal"}), ch("mxu", "BIGINT", {"temporal"}),
            ch("mns", "STRING", {"string", "time"}), ch("mxs", "STRING", {"string", "time"}),
            ch("nt", "BIGINT", {"boolean"}), ch("nf", "BIGINT", {"boolean"}),
            f"hll_{i}" if with_hll else "CAST(NULL AS BINARY)",
        ]))

    global _VIEW_SEQ
    _VIEW_SEQ += 1
    view = f"__incr_src_{re.sub(r'[^A-Za-z0-9_]', '_', table_name)}_{_VIEW_SEQ}"
    df.createOrReplaceTempView(view)
    size_map = "map(" + ", ".join(
        f"{lit(p)}, {int(sz)}L" for p, sz in sizes.items()
    ) + ")"
    stack = (
        f"stack({len(fields)}, " + ", ".join(tuples) + ") AS (column_name, col_kind, "
        "n_nonnull, min_d, max_d, min_us, max_us, min_s, max_s, n_true, n_false, hll)"
    )
    sql = (
        f"WITH __src AS (SELECT {', '.join(proj)}, input_file_name() AS __file "
        f"FROM {view}), "
        f"__agg AS (SELECT __file AS file_path, {', '.join(channels)} "
        f"FROM __src GROUP BY __file) "
        f"SELECT table_name, file_path, file_size, column_name, col_kind, n_rows, "
        f"n_nonnull, min_d, max_d, min_us, max_us, min_s, max_s, n_true, n_false, hll "
        f"FROM (SELECT {lit(table_name)} AS table_name, file_path, "
        f"CAST({size_map}[regexp_replace(file_path, '^file:/+', '/')] AS BIGINT) "
        f"AS file_size, n_rows, {stack} FROM __agg)"
    )
    out = spark.sql(sql)
    # the analyzed plan no longer needs the catalog entry
    spark.catalog.dropTempView(view)
    return out


_VIEW_SEQ = 0


@dataclass
class IncrementalResult:
    new_files: list[str]
    state: DataFrame


def incremental_update(
    spark: SparkSession,
    table_name: str,
    path: str,
    state_dir: str,
    lg_k: int = DEFAULT_LG_K,
) -> IncrementalResult:
    """Profile only files absent from the state, append, return full state.

    File identity is (absolute path, size): an in-place rewrite with a
    different size re-profiles; immutable lake files (the norm) never do.
    """
    current = list_data_files(path)
    seen: set[tuple[str, int]] = set()
    have_state = os.path.isdir(state_dir) and any(
        n.endswith(".parquet") for n in os.listdir(state_dir)
    )
    if have_state:
        prior = spark.read.parquet(state_dir)
        seen = {
            (os.path.abspath(_strip_scheme(r["file_path"])), r["file_size"])
            for r in prior.select("file_path", "file_size")
            .where(F.col("table_name") == table_name)
            .distinct()
            .collect()
        }
    new = [p for p, sz in current if (p, sz) not in seen]
    if new:
        profile_files_df(spark, table_name, path, files=new, lg_k=lg_k).write.mode(
            "append"
        ).parquet(state_dir)
    elif not have_state:
        # first run over an empty table: nothing written, no state dir
        # to read — an empty state relation, not PATH_NOT_FOUND
        return IncrementalResult([], local_df(spark, [], STATE_SCHEMA))
    return IncrementalResult(new, spark.read.parquet(state_dir))


COMPACTED_MARKER = "_compacted"


def compact_state(state: DataFrame) -> DataFrame:
    """Fold a per-file state relation into ONE row per (table, column)
    without losing incrementality.

    The state grows by one row per (new file × column) forever; on a
    lake ingesting thousands of files a day the fold in
    :func:`merged_column_profile` eventually reads more state than it
    saves. Every accumulator merges losslessly — counts by SUM, min/max
    by MIN/MAX, and the HLL registers by ``hll_union_agg`` which returns
    a *sketch*, not an estimate — so periodically rewriting the state as
    its own aggregate is exact: profiles and distinct estimates after
    compaction are bit-identical to the uncompacted fold, and NEW files
    keep appending next to the compacted row (checked in tests).

    Two row kinds come back:

    - one ``_compacted`` stats row per (table, column) holding the merged
      accumulators;
    - one zero-stat **tombstone** row per real file (column ``_file``)
      preserving the (path, size) identity set, so
      ``incremental_update`` still knows which files are already
      profiled and only scans genuinely new ones after compaction.
    """
    tombstones = (
        state.filter(F.col("file_path") != COMPACTED_MARKER)
        .select("table_name", "file_path", "file_size")
        .distinct()
        .select(
            "table_name",
            "file_path",
            "file_size",
            F.lit("_file").alias("column_name"),
            F.lit("file").alias("col_kind"),
            F.lit(0).cast("long").alias("n_rows"),
            F.lit(0).cast("long").alias("n_nonnull"),
            F.lit(None).cast("double").alias("min_d"),
            F.lit(None).cast("double").alias("max_d"),
            F.lit(None).cast("long").alias("min_us"),
            F.lit(None).cast("long").alias("max_us"),
            F.lit(None).cast("string").alias("min_s"),
            F.lit(None).cast("string").alias("max_s"),
            F.lit(None).cast("long").alias("n_true"),
            F.lit(None).cast("long").alias("n_false"),
            F.lit(None).cast("binary").alias("hll"),
        )
        .select([f_.name for f_ in STATE_SCHEMA.fields])
    )
    stats = (
        state.filter(F.col("column_name") != "_file")
        .groupBy("table_name", "column_name", "col_kind")
        .agg(
            F.lit(COMPACTED_MARKER).alias("file_path"),
            F.sum("file_size").alias("file_size"),
            F.sum("n_rows").alias("n_rows"),
            F.sum("n_nonnull").alias("n_nonnull"),
            F.min("min_d").alias("min_d"),
            F.max("max_d").alias("max_d"),
            F.min("min_us").alias("min_us"),
            F.max("max_us").alias("max_us"),
            F.min("min_s").alias("min_s"),
            F.max("max_s").alias("max_s"),
            F.sum("n_true").alias("n_true"),
            F.sum("n_false").alias("n_false"),
            F.when(
                F.count("hll") > 0, F.hll_union_agg("hll", F.lit(True))
            ).otherwise(F.lit(None).cast("binary")).alias("hll"),
        )
        .select([f_.name for f_ in STATE_SCHEMA.fields])
    )
    return stats.unionByName(tombstones)


def merged_column_profile(state: DataFrame, approx_distinct: bool = True) -> DataFrame:
    """Fold the per-file state into a per-(table, column) profile.

    Pure metadata aggregation — input is one row per (file, column).
    ``approx_distinct`` unions the per-file HLL sketches; the estimate is
    identical to sketching the whole table in one pass (sketch union is
    lossless), which is what makes distinct counts incrementally
    maintainable at all.
    """
    aggs = [
        F.sum("n_rows").alias("n_rows"),
        (F.sum("n_rows") - F.sum("n_nonnull")).alias("null_count"),
        F.min("min_d").alias("min_d"),
        F.max("max_d").alias("max_d"),
        F.min("min_us").alias("min_us"),
        F.max("max_us").alias("max_us"),
        F.min("min_s").alias("min_s"),
        F.max("max_s").alias("max_s"),
        F.sum("n_true").alias("n_true"),
        F.sum("n_false").alias("n_false"),
    ]
    if approx_distinct:
        aggs.append(
            F.when(
                F.count("hll") > 0,
                F.hll_sketch_estimate(F.hll_union_agg("hll", F.lit(True))),
            )
            .otherwise(F.lit(None).cast("long"))
            .alias("approx_distinct")
        )
    return (
        state.filter(F.col("column_name") != "_file")  # compaction tombstones
        .groupBy("table_name", "column_name", "col_kind")
        .agg(*aggs)
        .orderBy("table_name", "column_name")
    )

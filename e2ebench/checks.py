"""Output checks, run after the timed passes.

- monitor_catalog: profiles and rule verdicts recomputed with DuckDB over
  the same generated files;
- corpus_stream: the dedup relation against its declared oracle SQL
  (``queries.oracles()``); the stream sink holds each ``doc_id`` once, and
  exactly the documents the batch gate ``incremental_dedup_flags`` admits.
"""

from __future__ import annotations

import json
import os
import re

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import gen


def parquet_rows(path: str) -> int:
    n = 0
    for root, _dirs, names in os.walk(path):
        for name in names:
            if name.endswith(".parquet"):
                n += pq.ParquetFile(os.path.join(root, name)).metadata.num_rows
    return n


def _source(root: str, table: str) -> str:
    single = os.path.join(root, f"{table}.parquet")
    if os.path.exists(single):
        return f"read_parquet('{single}')"
    return f"read_parquet('{os.path.join(root, table)}/*.parquet')"


def _s(v) -> str | None:
    return None if v is None else str(v)


# ---------------------------------------------------------------------------
# monitor_catalog
# ---------------------------------------------------------------------------

_MINMAX = ("id", "qty", "price", "amount", "day", "ts", "score")
_RULE_LINE = re.compile(r"^(ok|FAIL)\s+(\S+)\s+(\S+)\s+(.*?)\s+(-?\d+|None)$")


class CatalogOracle:
    """DuckDB's answers for every table's profile and every rule."""

    def __init__(self, root: str, top_k: int) -> None:
        con = duckdb.connect()
        self.tables: dict[str, dict] = {}
        self.rules: dict[tuple[str, str, str], tuple[int | None, bool]] = {}
        suite = gen.rule_suite()
        for table in gen.catalog_table_names():
            src = _source(root, table)
            aggs = ["count(*)"] + [f"min({c}), max({c})" for c in _MINMAX]
            aggs += ["count_if(flag)", "count_if(NOT flag)", "count(status)"]
            row = con.sql(f"SELECT {', '.join(aggs)} FROM {src}").fetchone()
            exp = {"rows": row[0], "flag": (row[-3], row[-2]), "status_nn": row[-1]}
            for i, c in enumerate(_MINMAX):
                exp[c] = (_s(row[1 + 2 * i]), _s(row[2 + 2 * i]))
            exp["top_status"] = [
                (v, int(n)) for v, n in con.sql(
                    f"SELECT status, count(*) AS n FROM {src} WHERE status IS NOT NULL "
                    f"GROUP BY status ORDER BY n DESC, status LIMIT {top_k}"
                ).fetchall()
            ]
            self.tables[table] = exp
            for spec in suite[table]:
                key, metric_sql, passes = _rule_sql(spec)
                (m,) = con.sql(f"SELECT {metric_sql} FROM {src}").fetchone()
                self.rules[(table, *key)] = (m, passes(m))
        con.close()

    def check_profiles(self, json_out: str, profiles) -> tuple[int, int, list[str]]:
        got = {}
        for line in json_out.splitlines():
            if line.startswith("{"):
                obj = json.loads(line)
                got[obj["table"]] = obj
        by_name = {p.name: p for p in profiles or []}
        failed, problems = 0, []
        for table, exp in self.tables.items():
            why = _profile_diff(exp, got.get(table), by_name.get(table))
            if why:
                failed += 1
                problems.append(f"{table}: {why}")
        return len(self.tables), failed, problems

    def check_rules(self, text: str) -> tuple[int, int, list[str]]:
        got = {}
        for line in text.splitlines():
            m = _RULE_LINE.match(line.strip())
            if m:
                mark, table, rule, column, metric = m.groups()
                got[(table, rule, column)] = (
                    None if metric == "None" else int(metric), mark == "ok"
                )
        failed, problems = 0, []
        for key, exp in self.rules.items():
            if got.get(key) != exp:
                failed += 1
                problems.append(f"rule {key}: got {got.get(key)} want {exp}")
        return len(self.rules), failed, problems


def _rule_sql(spec: dict):
    """(rule_name, column) key, DuckDB metric SQL and pass test of one
    rule spec, mirroring rules/rules.py's definitions."""
    kind = spec["rule"]
    col = spec.get("column")
    zero = lambda m: m == 0  # noqa: E731
    if kind == "not_null":
        return (kind, col), f"count_if({col} IS NULL)", zero
    if kind == "unique":
        return (kind, col), f"count({col}) - count(DISTINCT {col})", zero
    if kind == "in_range":
        return (kind, col), (
            f"count_if(NOT ({col} BETWEEN {spec['lo']} AND {spec['hi']}))"
        ), zero
    if kind == "accepted_values":
        vals = ", ".join("'" + v + "'" for v in spec["values"])
        return (kind, col), f"count_if(NOT ({col} IN ({vals})))", zero
    if kind == "row_count_at_least":
        return ("row_count", "*"), "count(*)", lambda m: m >= spec["n"]
    if kind == "sql_check":
        pred = spec["predicate"]
        return (spec["name"], pred), f"count_if(({pred}) IS NOT TRUE)", zero
    raise ValueError(f"no DuckDB form for rule {kind!r}")


def _profile_diff(exp: dict, obj: dict | None, prof) -> str | None:
    if obj is None:
        return "missing from the JSON output"
    if obj.get("error"):
        return f"error {obj['error']}"
    if obj["exact_rows"] != exp["rows"] or obj["estimated_rows"] != exp["rows"]:
        return f"rows {obj['estimated_rows']}/{obj['exact_rows']} want {exp['rows']}"
    cols = {c["name"]: c for c in obj["columns"]}
    for c in _MINMAX:
        got = (cols[c]["min"], cols[c]["max"])
        if got != exp[c]:
            return f"{c} min/max {got} want {exp[c]}"
    flag = (cols["flag"]["true_count"], cols["flag"]["false_count"])
    if flag != exp["flag"]:
        return f"flag true/false {flag} want {exp['flag']}"
    if prof is None:
        return "profile object not captured"
    pcols = {c.name: c for c in prof.columns}
    top = [(v, int(n)) for v, n in (pcols["status"].top_values or [])]
    if top != exp["top_status"] or pcols["status"].non_null_count != exp["status_nn"]:
        return f"status top values {top} want {exp['top_status']}"
    if pcols["note"].top_values is not None:
        return "free-text note got a top-values histogram"
    return None


# ---------------------------------------------------------------------------
# corpus_stream
# ---------------------------------------------------------------------------

def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def frames_equal(a: pd.DataFrame, b: pd.DataFrame) -> str | None:
    """None when the two relations hold the same rows (order ignored,
    floats compared exactly), else the first difference found."""
    if sorted(a.columns) != sorted(b.columns):
        return f"columns {sorted(a.columns)} vs {sorted(b.columns)}"
    if len(a) != len(b):
        return f"row count {len(a)} vs {len(b)}"
    a, b = _canon(a), _canon(b)
    for c in a.columns:
        if not np.array_equal(a[c].to_numpy(), b[c].to_numpy()):
            return f"column {c} differs"
    return None


def check_corpus_queries(spark, root: str, names) -> tuple[set[str], list[str]]:
    from overpaint_spark import queries as Q

    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{os.path.join(root, 'documents.parquet')}')"
    )
    oracles = Q.oracles()
    bad, problems = set(), []
    for q in names:
        got = Q.QUERIES[q](spark, root).toPandas()
        why = frames_equal(got, con.sql(oracles[q]).df())
        probs = [why] if why else []
        if not probs and got.empty:
            probs = ["no pairs: the planted near-duplicates were missed"]
        if probs:
            bad.add(q)
            problems += [f"{q}: {p}" for p in probs]
    con.close()
    return bad, problems


def check_stream_sink(spark, root: str, drops: str, sink: str) -> tuple[int, int, list[str]]:
    """One operation per drop file (= micro-batch)."""
    from overpaint_spark.operators.dedup import incremental_dedup_flags
    from overpaint_spark.sources.catalog import load_table

    existing = load_table(spark, os.path.join(root, "documents.parquet"))
    incoming = spark.read.parquet(drops)
    flags = incremental_dedup_flags(existing, incoming).toPandas()
    want = set(flags.loc[flags["admitted"], "doc_id"].tolist())
    landed = spark.read.parquet(sink).select("doc_id", "text", "_batch_id").toPandas()
    corpus_texts = set(
        pq.read_table(os.path.join(root, "documents.parquet"), columns=["text"])
        .column("text").to_pylist()
    )
    dup_ids = set(landed.loc[landed["doc_id"].duplicated(), "doc_id"].tolist())
    file_of = lambda ids: (np.asarray(ids) - gen.DROP_ID_BASE) // gen.DROP_ID_STRIDE  # noqa: E731
    files = sorted(set(file_of(flags["doc_id"]).tolist()))
    landed = landed.assign(file=file_of(landed["doc_id"]))
    want_file = pd.Series(sorted(want), dtype="int64")
    want_by_file = want_file.groupby(file_of(want_file)).apply(set).to_dict()
    failed, problems = 0, []
    for f in files:
        rows = landed[landed["file"] == f]
        got = set(rows["doc_id"].tolist())
        why = None
        if got != want_by_file.get(f, set()):
            why = f"admitted {len(got)} docs, batch gate admits {len(want_by_file.get(f, ()))}"
        elif got & dup_ids:
            why = "a doc_id landed twice"
        elif rows["_batch_id"].nunique() > 1:
            why = "one drop file split over several batches"
        elif rows["text"].isin(corpus_texts).any():
            why = "an exact copy of a corpus document was admitted"
        if why:
            failed += 1
            problems.append(f"drop file {f}: {why}")
    return len(files), failed, problems

"""Seeded input generators for the benchmark workloads.

Every generator takes a seed and writes Parquet files. The seed changes
the values only: row counts, column names and types, file layout and the
near-duplicate share are constants of this module, so two seeds give the
same amount of work.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# monitor_catalog
# ---------------------------------------------------------------------------

# Row counts from a thousand to a quarter million: the small tables cost
# the profiler only per-job overhead, the large one is mostly scan.
CATALOG_ROWS = (1_000, 10_000, 100_000, 250_000)
# tables above this many rows are written as a directory of files, the
# layout the catalog walks for footer counts
FILE_ROWS = 125_000
ROW_GROUP_ROWS = 64_000
STATUS_VALUES = ("new", "open", "paid", "shipped", "held", "void", "late", "lost")
# a status outside the rule suite's accepted set; present in every table so
# that rule fails everywhere
STATUS_REJECTED = "lost"
VOCAB = tuple(
    "alpha beta gamma delta omega table value column join scan merge batch "
    "stream window spark order group filter key hash sort data query agg "
    "fast slow small big line part row vector customer the a of to and in "
    "is it for on with as at by from this that be or are was were has had "
    "not but all any can each few more most other some such only own same "
    "so than too very just now".split()
)
EPOCH_2024_DAYS = 19_723  # 2024-01-01
EPOCH_2024_US = EPOCH_2024_DAYS * 86_400 * 1_000_000


def catalog_table_names() -> list[str]:
    return [f"t{i:02d}_r{n}" for i, n in enumerate(CATALOG_ROWS)]


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


def _null_mask(rng: np.random.Generator, n: int, share: float) -> np.ndarray:
    return rng.random(n) < share


def _words(rng: np.random.Generator, n: int, k: int) -> pa.Array:
    """``n`` strings of ``k`` space-separated vocabulary words each."""
    vocab = pa.array(VOCAB)
    cols = [vocab.take(pa.array(rng.integers(0, len(VOCAB), n))) for _ in range(k)]
    return pc.binary_join_element_wise(*cols, " ")


def catalog_table(seed: int, idx: int) -> pa.Table:
    n = CATALOG_ROWS[idx]
    rng = _rng(seed, 1, idx)
    ids = np.arange(n, dtype=np.int64)
    cents = rng.integers(0, 10_000_000, n)
    status = pa.array(STATUS_VALUES).take(pa.array(rng.integers(0, len(STATUS_VALUES), n)))
    note = pc.binary_join_element_wise(
        _words(rng, n, 2), pa.array(ids.astype(str)), " "
    )
    return pa.table(
        {
            "id": pa.array(ids),
            "qty": pa.array(rng.integers(0, 1_000, n).astype(np.int32)),
            "price": pa.array(np.round(rng.gamma(2.0, 40.0, n), 4)),
            "amount": _cents_to_decimal(cents),
            "flag": pa.array(rng.random(n) < 0.3, mask=_null_mask(rng, n, 0.1)),
            "day": pa.array(
                (EPOCH_2024_DAYS + rng.integers(0, 730, n)).astype("datetime64[D]")
            ),
            "ts": pa.array(
                (EPOCH_2024_US + rng.integers(0, 730 * 86_400 * 1_000_000, n)).astype(
                    "datetime64[us]"
                )
            ),
            "status": pc.if_else(
                pa.array(_null_mask(rng, n, 0.05)), pa.scalar(None, pa.string()), status
            ),
            "note": pc.if_else(
                pa.array(_null_mask(rng, n, 0.2)), pa.scalar(None, pa.string()), note
            ),
            "score": pa.array(rng.normal(0.0, 1.0, n), mask=_null_mask(rng, n, 0.5)),
        }
    )


def _cents_to_decimal(cents: np.ndarray) -> pa.Array:
    """Non-negative integer cents → decimal(12,2), built from the unscaled
    128-bit little-endian integers so no float rounding is involved."""
    words = np.zeros((len(cents), 2), dtype=np.int64)
    words[:, 0] = cents
    return pa.Array.from_buffers(
        pa.decimal128(12, 2), len(cents), [None, pa.py_buffer(words.tobytes())]
    )


def write_catalog(seed: int, root: str) -> dict[str, list[str]]:
    """Write the catalog under ``root``; returns table name → data files."""
    os.makedirs(root, exist_ok=True)
    files: dict[str, list[str]] = {}
    for idx, name in enumerate(catalog_table_names()):
        t = catalog_table(seed, idx)
        if t.num_rows <= FILE_ROWS:
            path = os.path.join(root, f"{name}.parquet")
            pq.write_table(t, path, row_group_size=ROW_GROUP_ROWS)
            files[name] = [path]
            continue
        d = os.path.join(root, name)
        os.makedirs(d, exist_ok=True)
        files[name] = []
        for part, off in enumerate(range(0, t.num_rows, FILE_ROWS)):
            path = os.path.join(d, f"part-{part:05d}.parquet")
            pq.write_table(t.slice(off, FILE_ROWS), path, row_group_size=ROW_GROUP_ROWS)
            files[name].append(path)
    return files


def rule_suite() -> dict[str, list[dict]]:
    """One suite over every table, with passing and failing rules in each:
    ``flag`` has NULLs and ``status`` carries a value outside the accepted
    set, so ``not_null(flag)`` and ``accepted_values(status)`` fail."""
    accepted = [v for v in STATUS_VALUES if v != STATUS_REJECTED]
    suite = {}
    for name, n in zip(catalog_table_names(), CATALOG_ROWS):
        suite[name] = [
            {"rule": "not_null", "column": "id"},
            {"rule": "not_null", "column": "flag"},
            {"rule": "in_range", "column": "qty", "lo": 0, "hi": 999},
            {"rule": "accepted_values", "column": "status", "values": accepted},
            {"rule": "row_count_at_least", "n": n},
            {"rule": "sql_check", "predicate": "price >= 0", "name": "price_nonneg"},
        ]
    return suite


# ---------------------------------------------------------------------------
# corpus_stream
# ---------------------------------------------------------------------------

# the documents' vocabulary: thirty short words, as in the repository's
# fixture corpus, so the clean tier's quality and LM-band predicates keep
# most documents
DOC_VOCAB = tuple(
    "a the join hash row batch scan column customer filter small slow merge "
    "order vector line table data agg value key stream window spark part "
    "group big sort query fast".split()
)
LANGS = ("en", "en", "en", "de", "fr", "es", "zh")
N_SOURCES = 20
DOC_MIN_WORDS, DOC_MAX_WORDS = 20, 100
# share of documents that duplicate an earlier one: half exact copies,
# half copies with one word replaced
DUP_SHARE = 0.2
CORPUS_DOCS = 300
# the stream gate's drops: each file is one micro-batch, the unit of
# corpus_stream, so a pass gives DROP_FILES_PER_PASS unit samples
DROP_DOCS_PER_FILE = 12
DROP_FILES_PER_PASS = 1
# share of drop documents that duplicate a corpus document (exact or
# one-word edit); the rest are fresh
DROP_DUP_SHARE = 0.25
DROP_ID_BASE = 10_000_000
DROP_ID_STRIDE = 10_000


def _fresh_texts(rng: np.random.Generator, n: int) -> list[str]:
    lens = rng.integers(DOC_MIN_WORDS, DOC_MAX_WORDS + 1, n)
    words = np.asarray(DOC_VOCAB, dtype=object)
    return [" ".join(words[rng.integers(0, len(DOC_VOCAB), k)]) for k in lens]


def _edit_one_word(rng: np.random.Generator, text: str) -> str:
    toks = text.split(" ")
    i = int(rng.integers(0, len(toks)))
    # a token no fresh document contains, so the edit is always a change
    toks[i] = f"edit{int(rng.integers(0, 1_000_000))}"
    return " ".join(toks)


def _documents(rng: np.random.Generator, ids: np.ndarray, texts: list[str]) -> pa.Table:
    n = len(ids)
    return pa.table(
        {
            "doc_id": pa.array(ids, type=pa.int64()),
            "text": pa.array(texts, type=pa.string()),
            "lang": pa.array([LANGS[i] for i in rng.integers(0, len(LANGS), n)]),
            "source": pa.array([f"src{i}" for i in rng.integers(0, N_SOURCES, n)]),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )


def corpus(seed: int, n_docs: int = CORPUS_DOCS) -> pa.Table:
    """``documents`` with a fixed near-duplicate share: the last
    ``DUP_SHARE`` of the rows each copy an earlier original, alternating
    exact copies and one-word edits. Ids are shuffled into the originals
    so duplicates are not all at the end of the id range."""
    rng = _rng(seed, 2)
    n_dup = int(n_docs * DUP_SHARE)
    n_orig = n_docs - n_dup
    texts = _fresh_texts(rng, n_orig)
    for j, src in enumerate(rng.integers(0, n_orig, n_dup)):
        base = texts[int(src)]
        texts.append(base if j % 2 == 0 else _edit_one_word(rng, base))
    ids = rng.permutation(n_docs).astype(np.int64)
    return _documents(rng, ids, texts)


def drop_file(seed: int, corpus_texts: list[str], pass_no: int, file_no: int) -> pa.Table:
    """One drop file of ``DROP_DOCS_PER_FILE`` documents; exactly
    ``DROP_DUP_SHARE`` of them duplicate a corpus document."""
    rng = _rng(seed, 3, pass_no, file_no)
    n = DROP_DOCS_PER_FILE
    n_dup = int(n * DROP_DUP_SHARE)
    texts = _fresh_texts(rng, n - n_dup)
    for j, src in enumerate(rng.integers(0, len(corpus_texts), n_dup)):
        base = corpus_texts[int(src)]
        texts.append(base if j % 2 == 0 else _edit_one_word(rng, base))
    order = rng.permutation(n)
    texts = [texts[i] for i in order]
    base_id = DROP_ID_BASE + (pass_no * DROP_FILES_PER_PASS + file_no) * DROP_ID_STRIDE
    return _documents(rng, base_id + np.arange(n, dtype=np.int64), texts)


def write_corpus(seed: int, root: str, n_docs: int = CORPUS_DOCS) -> pa.Table:
    os.makedirs(root, exist_ok=True)
    t = corpus(seed, n_docs)
    pq.write_table(t, os.path.join(root, "documents.parquet"))
    return t


def write_drops(
    seed: int, corpus_t: pa.Table, pass_no: int, out_dir: str
) -> list[str]:
    """Write pass ``pass_no``'s drop files into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    texts = corpus_t.column("text").to_pylist()
    paths = []
    for f in range(DROP_FILES_PER_PASS):
        path = os.path.join(out_dir, f"drop-p{pass_no:03d}-f{f:02d}.parquet")
        pq.write_table(drop_file(seed, texts, pass_no, f), path)
        paths.append(path)
    return paths

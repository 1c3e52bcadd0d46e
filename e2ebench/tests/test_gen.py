"""Seeded generator tests: a seed fixes the values, never the amount of work.

    python3 -m pytest e2ebench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import gen  # noqa: E402

SEEDS = (1, 2)


def _files(root: str) -> dict[str, bytes]:
    out = {}
    for d, _dirs, names in os.walk(root):
        for n in names:
            path = os.path.join(d, n)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = fh.read()
    return out


def _write_all(seed: int, root: str) -> None:
    gen.write_catalog(seed, os.path.join(root, "catalog"))
    corpus = gen.write_corpus(seed, os.path.join(root, "corpus"))
    for p in (1, 2):
        gen.write_drops(seed, corpus, p, os.path.join(root, "drops"))


def _shape(t: pa.Table) -> tuple:
    return t.num_rows, tuple((f.name, str(f.type)) for f in t.schema)


def _one_word_apart(a: list[str], b: list[str]) -> bool:
    return len(a) == len(b) and sum(x != y for x, y in zip(a, b)) == 1


def _dup_counts(texts: list[str], against: list[str]) -> tuple[int, int]:
    """(exact copies, one-word edits) among ``texts`` of a document in
    ``against``; for the corpus itself, ``against`` is the corpus and a
    text counts against the documents before it."""
    same = texts is against
    exact = edits = 0
    for i, t in enumerate(texts):
        pool = against[:i] if same else against
        if t in pool:
            exact += 1
        elif any(_one_word_apart(t.split(" "), o.split(" ")) for o in pool):
            edits += 1
    return exact, edits


def test_same_seed_gives_byte_equal_files(tmp_path):
    _write_all(7, str(tmp_path / "a"))
    _write_all(7, str(tmp_path / "b"))
    a, b = _files(str(tmp_path / "a")), _files(str(tmp_path / "b"))
    assert a.keys() == b.keys()
    assert all(a[k] == b[k] for k in a)


def test_same_seed_gives_equal_values():
    for idx in range(len(gen.CATALOG_ROWS)):
        assert gen.catalog_table(3, idx).equals(gen.catalog_table(3, idx))
    corpus = gen.corpus(3)
    assert corpus.equals(gen.corpus(3))
    texts = corpus.column("text").to_pylist()
    assert gen.drop_file(3, texts, 1, 0).equals(gen.drop_file(3, texts, 1, 0))


def test_seeds_change_values():
    assert not gen.catalog_table(1, 0).equals(gen.catalog_table(2, 0))
    assert not gen.corpus(1).equals(gen.corpus(2))


def test_catalog_shape_is_seed_independent(tmp_path):
    layouts = []
    for seed in SEEDS:
        root = str(tmp_path / f"s{seed}")
        files = gen.write_catalog(seed, root)
        layouts.append({
            name: (len(paths), _shape(pq.read_table(paths[0]) if len(paths) == 1
                                     else pa.concat_tables(pq.read_table(p) for p in paths)))
            for name, paths in files.items()
        })
    assert layouts[0] == layouts[1]
    assert [v[1][0] for v in layouts[0].values()] == list(gen.CATALOG_ROWS)


@pytest.mark.parametrize("idx", range(len(gen.CATALOG_ROWS)))
def test_catalog_covers_every_profiled_kind(idx):
    t = gen.catalog_table(1, idx)
    assert [(f.name, f.type) for f in t.schema] == [
        ("id", pa.int64()), ("qty", pa.int32()), ("price", pa.float64()),
        ("amount", pa.decimal128(12, 2)), ("flag", pa.bool_()), ("day", pa.date32()),
        ("ts", pa.timestamp("us")), ("status", pa.string()), ("note", pa.string()),
        ("score", pa.float64()),
    ]
    # nullable columns carry NULLs; the rule suite's failing rules need
    # NULL flags and the rejected status in every table
    for col in ("flag", "status", "note", "score"):
        assert t.column(col).null_count > 0
    assert gen.STATUS_REJECTED in set(t.column("status").to_pylist())


def test_corpus_shape_and_duplicate_share_are_seed_independent():
    shapes, dups = set(), set()
    for seed in SEEDS:
        corpus = gen.corpus(seed)
        texts = corpus.column("text").to_pylist()
        shapes.add(_shape(corpus))
        dups.add(_dup_counts(texts, texts))
        drop = gen.drop_file(seed, texts, 1, 0)
        shapes.add(("drop", _shape(drop)))
        dups.add(("drop", _dup_counts(drop.column("text").to_pylist(), texts)))
    assert len(shapes) == 2 and len(dups) == 2
    n_dup = int(gen.CORPUS_DOCS * gen.DUP_SHARE)
    assert (n_dup - n_dup // 2, n_dup // 2) in dups
    n_drop = int(gen.DROP_DOCS_PER_FILE * gen.DROP_DUP_SHARE)
    assert ("drop", (n_drop - n_drop // 2, n_drop // 2)) in dups


def test_drop_ids_are_unique_across_passes_and_files():
    texts = gen.corpus(1).column("text").to_pylist()
    ids = [
        i for p in (1, 2) for f in range(gen.DROP_FILES_PER_PASS)
        for i in gen.drop_file(1, texts, p, f).column("doc_id").to_pylist()
    ]
    assert len(ids) == len(set(ids))

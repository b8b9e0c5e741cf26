"""Seeded generator: same seed, same bytes; another seed, other ids."""

from __future__ import annotations

import hashlib
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402

TABLES = ("documents", "embeddings", "events", "customer", "orders")


def _digests(path):
    return {
        f: hashlib.sha256(open(os.path.join(path, f), "rb").read()).hexdigest()
        for f in sorted(os.listdir(path))
    }


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    gen.generate(str(a), 7, "sf0.001", TABLES)
    gen.generate(str(b), 7, "sf0.001", TABLES)
    assert _digests(a) == _digests(b)
    assert sorted(_digests(a)) == sorted(f"{t}.parquet" for t in TABLES)


def test_other_seed_changes_ids_index_seeds_and_queries(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    gen.generate(str(a), 7, "sf0.001", TABLES)
    gen.generate(str(b), 8, "sf0.001", TABLES)
    ea = pq.read_table(a / "embeddings.parquet").to_pylist()
    eb = pq.read_table(b / "embeddings.parquet").to_pylist()
    # The catalog seeds IVF centroids with the lowest vec_ids and takes
    # its query vectors by id (vec_id 0 and up): both must move.
    low_a = {r["vec_id"]: r["embedding"] for r in ea if r["vec_id"] < 8}
    low_b = {r["vec_id"]: r["embedding"] for r in eb if r["vec_id"] < 8}
    assert all(low_a[i] != low_b[i] for i in range(8))
    da = pq.read_table(a / "documents.parquet").column("doc_id").to_pylist()
    db = pq.read_table(b / "documents.parquet").column("doc_id").to_pylist()
    assert sorted(da) == sorted(db) == list(range(len(da)))
    assert da != db


def test_fixture_schemas_and_sizes(tmp_path):
    gen.generate(str(tmp_path), 3, "sf0.1", ("documents", "embeddings"))
    docs = pq.read_table(tmp_path / "documents.parquet")
    emb = pq.read_table(tmp_path / "embeddings.parquet")
    assert docs.num_rows == 5000 and emb.num_rows == 2000
    assert [f.name for f in docs.schema] == ["doc_id", "text", "lang", "source", "n_chars"]
    assert emb.schema.field("embedding").type.value_type == pa.float32()
    texts = docs.column("text").to_pylist()
    assert sum(t.endswith(" dup") for t in texts) == 250
    assert docs.column("n_chars").to_pylist() == [len(t) for t in texts]
    # The fixtures' structure: 10-99 words outside the copies, and the
    # source tied to the doc id.
    words = [len(t.split()) for t in texts if not t.endswith(" dup")]
    assert (min(words), max(words)) == gen.WORDS
    ids = docs.column("doc_id").to_pylist()
    assert docs.column("source").to_pylist() == [f"src{i % 20}" for i in ids]


def test_tables_are_independent_of_the_selection(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    gen.generate(str(a), 5, "sf0.001", ("embeddings",))
    gen.generate(str(b), 5, "sf0.001", TABLES)
    assert _digests(a)["embeddings.parquet"] == _digests(b)["embeddings.parquet"]

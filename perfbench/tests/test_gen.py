"""Seed determinism of the input generator.

    python3 -m pytest perfbench/tests
"""
import filecmp
import os
import sys

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import gen  # noqa: E402


def files(d):
    return sorted(os.path.relpath(os.path.join(r, f), d)
                  for r, _, fs in os.walk(d) for f in fs)


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    gen.generate(str(a), 7)
    gen.generate(str(b), 7)
    assert files(a) == files(b)
    for f in files(a):
        assert filecmp.cmp(a / f, b / f, shallow=False), f


def test_other_seed_gives_other_content_of_the_same_shape(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    gen.generate(str(a), 7)
    gen.generate(str(b), 8)
    assert files(a) == files(b)
    for f in files(a):
        ta, tb = pq.read_table(a / f), pq.read_table(b / f)
        assert ta.schema == tb.schema, f
        assert ta.num_rows == tb.num_rows, f
        assert pq.ParquetFile(a / f).num_row_groups == pq.ParquetFile(b / f).num_row_groups
    for t in ["lineitem", "orders", "documents", "embeddings", "arrivals"]:
        assert not pq.read_table(a / f"{t}.parquet").equals(
            pq.read_table(b / f"{t}.parquet")), t


def test_arrivals_partition_the_documents(tmp_path):
    gen.generate(str(tmp_path), 3, ["documents"])
    docs = pq.read_table(tmp_path / "documents.parquet").column("doc_id").to_pylist()
    parts = [pq.read_table(tmp_path / "arrivals" / f"{k}.parquet").column("doc_id").to_pylist()
             for k in range(gen.ARRIVALS)]
    assert sorted(x for p in parts for x in p) == sorted(docs)
    assert {len(p) for p in parts} == {len(docs) // gen.ARRIVALS}

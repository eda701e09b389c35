"""Fixture determinism: the seed fixes every file byte for byte."""
import pyarrow.parquet as pq

from perfbench import fixture


def test_same_seed_same_files(tmp_path):
    a = fixture.generate(str(tmp_path / "a"), seed=7, scale=0.01,
                         corpus_scale=0.05)
    b = fixture.generate(str(tmp_path / "b"), seed=7, scale=0.01,
                         corpus_scale=0.05)
    assert a == b
    assert fixture.digest(str(tmp_path / "a")) \
        == fixture.digest(str(tmp_path / "b"))


def test_other_seed_other_files(tmp_path):
    fixture.generate(str(tmp_path / "a"), seed=7, scale=0.01,
                     corpus_scale=0.05)
    fixture.generate(str(tmp_path / "b"), seed=8, scale=0.01,
                     corpus_scale=0.05)
    assert fixture.digest(str(tmp_path / "a")) \
        != fixture.digest(str(tmp_path / "b"))


def test_manifest_records_every_table_and_scales_them(tmp_path):
    small = fixture.generate(str(tmp_path / "s"), seed=1, scale=0.02,
                             corpus_scale=0.1)
    big = fixture.generate(str(tmp_path / "b"), seed=1, scale=0.04,
                           corpus_scale=0.2)
    assert set(small["tables"]) == set(fixture.TABLES)
    for t, info in small["tables"].items():
        assert info["rows"] > 0 and info["bytes"] > 0
        if t not in ("region", "nation"):
            assert big["tables"][t]["rows"] > info["rows"], t


def test_schema_matches_engine_test_data(tmp_path):
    fixture.generate(str(tmp_path), seed=3, scale=0.01, corpus_scale=0.05)
    s = pq.read_schema(str(tmp_path / "orders.parquet"))
    assert [f.name for f in s] == ["o_orderkey", "o_custkey",
                                   "o_orderstatus", "o_totalprice",
                                   "o_orderdate", "o_orderpriority"]
    assert str(s.field("o_orderdate").type) == "timestamp[us]"
    ev = pq.read_table(str(tmp_path / "events.parquet")).to_pandas()
    # tie-free per user: LATEST / NOP and the as-of join depend on it
    assert not ev.duplicated(["user_id", "ts"]).any()
    emb = pq.read_schema(str(tmp_path / "embeddings.parquet"))
    assert str(emb.field("embedding").type) == "list<element: float>"

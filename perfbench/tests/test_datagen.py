import json
import os

import numpy as np
import pyarrow.parquet as pq

from perfbench import datagen


def test_same_seed_same_tables_other_seed_other_rows():
    a, b, c = datagen.generate(7), datagen.generate(7), datagen.generate(8)
    assert set(a) == set(datagen.TABLES)
    for name in datagen.TABLES:
        assert a[name].equals(b[name]), name
        assert a[name].schema.equals(c[name].schema), name
        assert a[name].num_rows == c[name].num_rows, name
        if name not in ("region", "nation"):  # copied unchanged
            assert not a[name].equals(c[name]), name


def test_schemas_match_fixtures(tmp_path):
    out = datagen.make_inputs(3, str(tmp_path / "in"))
    for name in datagen.TABLES:
        written = pq.read_table(os.path.join(out, f"{name}.parquet"))
        assert written.schema.equals(datagen._read(name).schema), name
    assert pq.read_table(os.path.join(out, "lineitem.parquet")).num_rows == \
        datagen._read("lineitem").num_rows


def test_keys_unique_and_foreign_keys_resolve():
    t = datagen.generate(11)
    col = lambda name, c: t[name].column(c).to_numpy()  # noqa: E731
    for name, key in (("customer", "c_custkey"), ("supplier", "s_suppkey"),
                      ("part", "p_partkey"), ("orders", "o_orderkey"),
                      ("events", "event_id"), ("documents", "doc_id"),
                      ("embeddings", "vec_id")):
        assert len(np.unique(col(name, key))) == t[name].num_rows, name
    assert np.isin(col("orders", "o_custkey"), col("customer", "c_custkey")).all()
    assert np.isin(col("lineitem", "l_orderkey"), col("orders", "o_orderkey")).all()
    assert np.isin(col("lineitem", "l_partkey"), col("part", "p_partkey")).all()
    assert np.isin(col("lineitem", "l_suppkey"), col("supplier", "s_suppkey")).all()


def test_documents_keep_whole_near_dup_groups_at_fixture_share():
    with open(os.path.join(datagen.FIXTURES, "doc_clusters.json")) as f:
        groups = json.load(f)
    fixture = datagen._read("documents").column("text").to_pylist()
    share = sum(map(len, groups)) / len(fixture)
    for seed in (1, 2, 3):
        texts = set(datagen.generate(seed)["documents"].column("text").to_pylist())
        kept = [g for g in groups if fixture[g[0]] in texts]
        assert all(all(fixture[i] in texts for i in g) for g in kept)
        grouped = sum(map(len, kept))
        assert abs(grouped / datagen.N_DOCS - share) <= 2 / datagen.N_DOCS

"""The seeded generator: one seed, one set of tables; another seed, the
same shapes with other rows."""

from __future__ import annotations

import os
import sys

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402


def _read(d):
    return {
        f[: -len(".parquet")]: pq.read_table(os.path.join(d, f))
        for f in sorted(os.listdir(d))
    }


def test_same_seed_same_digests(tmp_path):
    a = gen.write_tables(7, str(tmp_path / "a"))
    b = gen.write_tables(7, str(tmp_path / "b"))
    assert a == b
    assert set(a) == set(gen.TABLES)


def test_other_seed_same_shapes_other_rows(tmp_path):
    a = gen.write_tables(7, str(tmp_path / "a"))
    b = gen.write_tables(8, str(tmp_path / "b"))
    ta, tb = _read(tmp_path / "a"), _read(tmp_path / "b")
    for name in ta:
        assert ta[name].schema.equals(tb[name].schema), name
        assert ta[name].num_rows == tb[name].num_rows, name
    for name in set(gen.TABLES) - {"region"}:
        assert a[name] != b[name], name
        assert ta[name].num_rows == gen.ROWS[name]


def test_id_ranges_match_the_sf01_tables():
    t = gen.build_tables(3)
    keys = {
        "customer": "c_custkey", "supplier": "s_suppkey", "part": "p_partkey",
        "orders": "o_orderkey", "events": "event_id", "documents": "doc_id",
        "embeddings": "vec_id",
    }
    for name, col in keys.items():
        ids = sorted(t[name].column(col).to_pylist())
        assert ids == list(range(gen.ROWS[name])), name
    li = t["lineitem"]
    assert max(li.column("l_orderkey").to_pylist()) < gen.ROWS["orders"]
    assert max(li.column("l_partkey").to_pylist()) < gen.ROWS["part"]

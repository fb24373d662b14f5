"""Input generator determinism: a seed fixes the row order, never the rows."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import gen  # noqa: E402


@pytest.fixture(scope="module")
def hashes(tmp_path_factory):
    root = tmp_path_factory.mktemp("gen")
    out = {}
    for label, seed in (("a", 1), ("b", 1), ("c", 2)):
        d = gen.generate(str(root / label), sf=0.001, factor=2, seed=seed)
        out[label] = gen.table_hashes(d)
    return out


def test_same_seed_same_tables(hashes):
    assert hashes["a"] == hashes["b"]


def test_other_seed_reorders_the_same_rows(hashes):
    for name in gen.TABLES:
        ordered_a, multiset_a = hashes["a"][name]
        ordered_c, multiset_c = hashes["c"][name]
        assert multiset_a == multiset_c, name
        if name not in ("region", "nation"):  # 5 and 25 rows may collide
            assert ordered_a != ordered_c, name


def test_replicas_shift_keys(tmp_path):
    import duckdb

    d = gen.generate(str(tmp_path / "x3"), sf=0.001, factor=3, seed=0)
    con = duckdb.connect()
    n_orders, n_keys, max_key = con.execute(
        f"SELECT count(*), count(DISTINCT o_orderkey), max(o_orderkey) "
        f"FROM '{d}/orders.parquet'"
    ).fetchone()
    assert n_orders == n_keys == 3 * gen._sizes(0.001)["orders"]
    assert max_key >= 2 * gen.KEY_STRIDE
    # every lineitem still joins to an order of its own replica
    orphans = con.execute(
        f"SELECT count(*) FROM '{d}/lineitem.parquet' l "
        f"ANTI JOIN '{d}/orders.parquet' o ON l.l_orderkey = o.o_orderkey"
    ).fetchone()[0]
    assert orphans == 0

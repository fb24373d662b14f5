"""Seeded input generator for the benchmark, built with DuckDB only.

The engine under test never touches this module: it receives the directory
this module writes. Tables follow the engine's test-table schema (TPC-H-like
star schema plus `events`, `documents` and `embeddings`; see TESTDATA.md).

Two seeds are involved:

- ``BASE_SEED`` fixes the *values* of every table. It is a constant, so every
  run of the benchmark sees the same multiset of rows.
- the run seed (``--seed``) fixes the *row order*: every table is written
  ``ORDER BY hash(row, seed)``, hashing the row's content. A different seed gives a different physical
  layout of the same rows.

Fact tables (``orders``, ``lineitem``, ``events``) can be replicated
``factor`` times with key shifts, as ``tools/scaleup_bench.py`` does, so joins
keep their integrity while the data grows.

Usage (standalone)::

    python3 perfbench/gen.py --out DIR --sf 0.01 --factor 4 --seed 7
"""

from __future__ import annotations

import argparse
import hashlib
import os
import shutil

BASE_SEED = 42
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
# key stride per replica, as tools/scaleup_bench.py shifts them
KEY_SHIFTS = {
    "orders": ("o_orderkey",),
    "lineitem": ("l_orderkey",),
    "events": ("event_id",),
}
KEY_STRIDE = 10_000_000

_WORDS = (
    "batch sort value hash filter big data part column order scan a slow agg "
    "key window table merge vector join spark line small fast group customer "
    "query row stream the"
).split()
_ADJ = ("blue", "old", "small", "new", "large", "hot", "cold", "red")
_NOUN = ("widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil")


def _sizes(sf: float) -> dict[str, int]:
    return {
        "customer": max(50, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(50, int(200_000 * sf)),
        "orders": max(500, int(1_500_000 * sf)),
        "lineitem": max(2_000, int(6_000_000 * sf)),
        "events": max(1_000, int(1_000_000 * sf)),
        "documents": max(100, int(50_000 * sf)),
        "embeddings": min(2_000, max(100, int(50_000 * sf))),
    }


def _base_sql(n: dict[str, int]) -> dict[str, str]:
    """One SELECT per table. `u(i, salt)` is a uniform draw in [0, 1) that
    depends only on (row, salt, BASE_SEED)."""
    words = "[" + ",".join(f"'{w}'" for w in _WORDS) + "]"
    adj = "[" + ",".join(f"'{w}'" for w in _ADJ) + "]"
    noun = "[" + ",".join(f"'{w}'" for w in _NOUN) + "]"
    n_users = max(10, n["customer"] // 10)
    return {
        "region": """
            SELECT r::INTEGER AS r_regionkey,
                   ['AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'][r + 1] AS r_name
            FROM range(5) t(r)""",
        "nation": """
            SELECT n::INTEGER AS n_nationkey, 'NATION_' || n AS n_name,
                   (n % 5)::INTEGER AS n_regionkey
            FROM range(25) t(n)""",
        "customer": f"""
            SELECT i AS c_custkey, printf('Customer#%09d', i) AS c_name,
                   floor(u(i, 1) * 25)::INTEGER AS c_nationkey,
                   round(-999.99 + u(i, 2) * 10999.98, 2) AS c_acctbal,
                   ['MACHINERY','AUTOMOBILE','FURNITURE','HOUSEHOLD','BUILDING']
                       [1 + floor(u(i, 3) * 5)::INTEGER] AS c_mktsegment
            FROM range({n['customer']}) t(i)""",
        "supplier": f"""
            SELECT i AS s_suppkey, printf('Supplier#%09d', i) AS s_name,
                   floor(u(i, 1) * 25)::INTEGER AS s_nationkey,
                   round(-999.99 + u(i, 2) * 10999.98, 2) AS s_acctbal
            FROM range({n['supplier']}) t(i)""",
        "part": f"""
            SELECT i AS p_partkey,
                   {adj}[1 + floor(u(i, 1) * 8)::INTEGER] || ' '
                       || {noun}[1 + floor(u(i, 2) * 8)::INTEGER] AS p_name,
                   'Brand#' || (1 + floor(u(i, 3) * 25)::INTEGER) AS p_brand,
                   ['LARGE','ECONOMY','STANDARD','SMALL','MEDIUM','PROMO']
                       [1 + floor(u(i, 4) * 6)::INTEGER] AS p_type,
                   (1 + floor(u(i, 5) * 50))::INTEGER AS p_size,
                   round(900 + floor(u(i, 6) * 1000) / 10, 1) AS p_retailprice
            FROM range({n['part']}) t(i)""",
        "orders": f"""
            SELECT i AS o_orderkey,
                   floor(u(i, 1) * {n['customer']})::BIGINT AS o_custkey,
                   ['F','O','P'][1 + floor(u(i, 2) * 3)::INTEGER] AS o_orderstatus,
                   round(1000 + u(i, 3) * 499000, 2) AS o_totalprice,
                   TIMESTAMP '1995-01-01' + to_days(floor(u(i, 4) * 2404)::INTEGER)
                       AS o_orderdate,
                   ['1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW']
                       [1 + floor(u(i, 5) * 5)::INTEGER] AS o_orderpriority
            FROM range({n['orders']}) t(i)""",
        "lineitem": f"""
            SELECT floor(u(i, 1) * {n['orders']})::BIGINT AS l_orderkey,
                   floor(u(i, 2) * {n['part']})::BIGINT AS l_partkey,
                   floor(u(i, 3) * {n['supplier']})::BIGINT AS l_suppkey,
                   (1 + floor(u(i, 4) * 7))::INTEGER AS l_linenumber,
                   (1 + floor(u(i, 5) * 50))::DOUBLE AS l_quantity,
                   round(900 + u(i, 6) * 104100, 2) AS l_extendedprice,
                   floor(u(i, 7) * 11) / 100 AS l_discount,
                   floor(u(i, 8) * 9) / 100 AS l_tax,
                   ['A','N','R'][1 + floor(u(i, 9) * 3)::INTEGER] AS l_returnflag,
                   ['O','F'][1 + floor(u(i, 10) * 2)::INTEGER] AS l_linestatus,
                   TIMESTAMP '1995-01-02' + to_days(floor(u(i, 11) * 2498)::INTEGER)
                       AS l_shipdate
            FROM range({n['lineitem']}) t(i)""",
        # ts increases with event_id over 30 days; value is exponential-ish
        "events": f"""
            SELECT i AS event_id,
                   TIMESTAMP '2024-01-01' + to_microseconds(
                       ((i + u(i, 1)) * 2592000000000 / {n['events']})::BIGINT) AS ts,
                   floor(u(i, 2) * {n_users})::BIGINT AS user_id,
                   ['signup','click','error','view','purchase']
                       [1 + floor(u(i, 3) * 5)::INTEGER] AS event_type,
                   round(-ln(1 - u(i, 4)) * 50, 2) AS value,
                   '{{"k": ' || floor(u(i, 5) * 100)::INTEGER || '}}' AS props
            FROM range({n['events']}) t(i)""",
        # every 20th document is a near-duplicate of the one before it
        # (same text plus a ' dup' token), like the engine's test corpus
        "documents": f"""
            WITH base AS (
                SELECT i, (10 + floor(u(i, 1) * 91))::INTEGER AS n_words
                FROM range({n['documents']}) t(i)),
            txt AS (
                SELECT i, string_agg({words}[1 + floor(u(i * 1000 + w, 2) * 30)::INTEGER],
                                     ' ' ORDER BY w) AS text
                FROM base, range(100) r(w) WHERE w < n_words GROUP BY i),
            docs AS (
                SELECT t.i, CASE WHEN t.i % 20 = 19 THEN p.text || ' dup' ELSE t.text END
                           AS text
                FROM txt t LEFT JOIN txt p ON p.i = t.i - 1)
            SELECT i AS doc_id, text,
                   CASE WHEN u(i, 3) < 0.4 THEN 'en'
                        ELSE ['zh','de','fr','es'][1 + floor(u(i, 4) * 4)::INTEGER] END AS lang,
                   'src' || (i % 20) AS source,
                   length(text)::BIGINT AS n_chars
            FROM docs""",
        # unit vectors clustered around one of 10 label centroids
        "embeddings": f"""
            WITH l AS (
                SELECT i, floor(u(i, 1) * 10)::INTEGER AS label
                FROM range({n['embeddings']}) t(i)),
            v AS (
                SELECT i, label,
                       list(sqrt(-2 * ln(1 - u(label * 64 + d, 2)))
                                * cos(2 * pi() * u(label * 64 + d, 3))
                            + 0.8 * sqrt(-2 * ln(1 - u(i * 64 + d, 4)))
                                * cos(2 * pi() * u(i * 64 + d, 5)) ORDER BY d) AS raw
                FROM l, range(64) r(d) GROUP BY i, label)
            SELECT i AS vec_id,
                   list_transform(raw, x -> (x / sqrt(list_sum(list_transform(raw, y -> y * y))))
                                  ::FLOAT) AS embedding,
                   label
            FROM v""",
    }


def inputs_id(sf: float, factor: int, seed: int) -> str:
    return f"sf{sf:g}_x{factor}_seed{seed}"


def generate(out_dir: str, sf: float, factor: int, seed: int) -> str:
    """Write the ten tables for (sf, factor, seed) under `out_dir`; return it.

    Reuses a complete earlier output (marked by `_DONE`). Writes into a
    sibling temp dir and renames, so a killed run leaves no half-written set.
    """
    # imported here, not at the top: run.py imports this module for TABLES
    # and inputs_id, and DuckDB must not count in the driver's peak RSS
    import duckdb

    done = os.path.join(out_dir, "_DONE")
    if os.path.exists(done):
        return out_dir
    tmp = out_dir + ".part"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    con = duckdb.connect()
    try:
        con.execute("SET threads = 2")
        con.execute(
            f"CREATE MACRO u(i, salt) AS "
            f"(hash(i, salt, {BASE_SEED}) >> 11)::DOUBLE / 9007199254740992.0"
        )
        for name, sql in _base_sql(_sizes(sf)).items():
            if name in KEY_SHIFTS and factor > 1:
                cols = KEY_SHIFTS[name]
                shifted = ", ".join(f"{c} + r * {KEY_STRIDE} AS {c}" for c in cols)
                sql = (
                    f"SELECT * REPLACE ({shifted}) FROM ({sql}) b, "
                    f"range({factor}) rep(r)"
                )
            con.execute(f"CREATE TEMP TABLE base AS {sql}")
            path = os.path.join(tmp, f"{name}.parquet")
            con.execute(
                # order by row content: rowids of a parallel CTAS are not stable
                f"COPY (SELECT * FROM base b ORDER BY hash(b, {int(seed)}), b) "
                f"TO '{path}' (FORMAT parquet)"
            )
            con.execute("DROP TABLE base")
    finally:
        con.close()
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(out_dir, ignore_errors=True)
    os.replace(tmp, out_dir)
    return out_dir


def table_hashes(sf_dir: str) -> dict[str, tuple[str, str]]:
    """Per table: (hash of rows in file order, hash of the sorted rows).

    The first changes with the row order, the second only with the multiset
    of rows."""
    import duckdb

    con = duckdb.connect()
    out = {}
    try:
        for name in TABLES:
            rows = con.execute(
                f"SELECT * FROM '{os.path.join(sf_dir, name + '.parquet')}'"
            ).fetchall()
            lines = [repr(r) for r in rows]
            ordered = hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]
            multiset = hashlib.sha256("\n".join(sorted(lines)).encode()).hexdigest()[:16]
            out[name] = (ordered, multiset)
    finally:
        con.close()
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--out", required=True)
    ap.add_argument("--sf", type=float, default=0.01)
    ap.add_argument("--factor", type=int, default=1)
    ap.add_argument("--seed", type=int, default=0)
    a = ap.parse_args()
    print(generate(a.out, a.sf, a.factor, a.seed))


if __name__ == "__main__":
    main()

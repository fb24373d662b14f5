"""The artifact store (duckdb_ml_spark.memo): source fingerprints, one live
session, rebuild on change."""

from __future__ import annotations

import os
import shutil

from duckdb_ml_spark import memo

# the queries whose memoized artifacts (tables, plans, counts, signatures,
# matrices, codebooks, merge tables, shingles, indexes) all derive from the
# three tables the stale-source test replaces
STALE_SOURCE_QUERIES = (
    "pricing_summary",
    "bpe_merge_table",
    "dedup_minhash_lsh_pairs",
    "sim_topk_pq_rerank",
    "decontaminate_train",
    "sim_topk_ivf_index",
)


class _Session:
    """A stand-in session: the store only compares sessions by identity."""


def test_get_rebuilds_when_the_source_changes(tmp_path):
    src = tmp_path / "sf"
    src.mkdir()
    (src / "t.parquet").write_bytes(b"one")
    s = _Session()
    builds = []

    def build():
        builds.append(1)
        return len(builds)

    key = (str(src), "t", "artifact")
    assert memo.get(s, key, build) == 1
    assert memo.get(s, key, build) == 1  # hit
    (src / "t.parquet").write_bytes(b"three")  # new size and mtime
    assert memo.get(s, key, build) == 2  # stale: rebuilt in place
    assert memo.get(s, key, build) == 2
    (src / "u.parquet").write_bytes(b"")  # a new file changes the source too
    assert memo.get(s, key, build) == 3
    memo.clear()


def test_get_serves_one_session_and_none_key_is_not_memoized(tmp_path):
    a, b = _Session(), _Session()
    key = (str(tmp_path), "artifact")
    assert memo.get(a, key, lambda: "a") == "a"
    assert memo.get(b, key, lambda: "b") == "b"  # new session: store emptied
    assert memo.get(a, key, lambda: "a2") == "a2"  # b's entry is not served
    assert memo.get(a, None, lambda: "x") == "x"
    assert memo.get(a, None, lambda: "y") == "y"
    assert memo.get(a, ("label",), lambda: 1) == 1  # not a directory: session-long
    assert memo.get(a, ("label",), lambda: 2) == 1
    memo.clear(("label",))
    assert memo.get(a, ("label",), lambda: 3) == 3
    memo.clear()


def test_fingerprint_walks_directory_tables(tmp_path):
    (tmp_path / "a.parquet").write_bytes(b"x")
    parts = tmp_path / "b.parquet"
    parts.mkdir()
    (parts / "part-0.parquet").write_bytes(b"yy")
    fp = memo.fingerprint(str(tmp_path))
    assert [(os.path.basename(p), n) for p, n, _ in fp] == [
        ("a.parquet", 1),
        ("part-0.parquet", 2),
    ]
    assert memo.fingerprint(str(tmp_path), ["b.parquet"]) == fp[1:]
    assert memo.fingerprint(str(tmp_path / "missing")) == ()
    assert memo.fingerprint(None) == ()


def test_stale_source_rebuilds_artifacts(spark, sf_dir, tmp_path):
    """Replacing source tables under the same sf_dir must never let a memoized
    artifact of the old data answer: every query matches the oracle on the
    new data, in the same session."""
    import __spark_entry__ as entrymod
    from duckdb_ml_spark.tables import TABLE_NAMES
    from duckdb_ml_spark.testing import compare_to_oracle, duckdb_connection

    small, large = sf_dir, os.path.join(os.path.dirname(sf_dir), "sf0.01")
    sf_dir = str(tmp_path / "sf")
    os.mkdir(sf_dir)
    for t in TABLE_NAMES:
        shutil.copyfile(f"{small}/{t}.parquet", f"{sf_dir}/{t}.parquet")
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()

    def check():
        con = duckdb_connection(sf_dir)
        try:
            for name in STALE_SOURCE_QUERIES:
                report = compare_to_oracle(qs[name](spark, sf_dir), oracles[name], con)
                assert report["match"], (name, report)
        finally:
            con.close()

    check()
    for t in ("documents", "embeddings", "lineitem"):
        shutil.copyfile(f"{large}/{t}.parquet", f"{sf_dir}/{t}.parquet")
    check()

"""Pytest gate for the two retired r10 canaries (VERDICT r11 item 7).

`canary_events_ts_sum` and `canary_null_bool` were registry entries from the
r10 bisection era; both went driver-green (r10/r11) and their diagnostic job
is done, so r12 retires them from the registry. The axes they pin — events
content reaching both engines identically, NULL BIGINT and BOOLEAN hash
normalization — stay enforced here, through the SAME compare_to_oracle path
the local gate replica (tools/oracle_check.py) uses.
"""

from __future__ import annotations

import pytest


def _gate_specs():
    from duckdb_ml_spark.plans.bisect import GATE_SPECS

    return [pytest.param(spec, id=name) for name, spec in GATE_SPECS.items()]


@pytest.mark.parametrize("spec", _gate_specs())
def test_retired_canary_still_matches_oracle(spark, sf_dir, oracle_con, spec):
    from duckdb_ml_spark.testing import compare_to_oracle

    df = spec.builder(spark, sf_dir)
    report = compare_to_oracle(df, spec.oracle, oracle_con, name=spec.name)
    assert report["match"], f"{spec.name}: {report}"


def test_retired_canaries_not_registered():
    import __spark_entry__ as entrymod

    names = set(entrymod.queries())
    assert "canary_events_ts_sum" not in names
    assert "canary_null_bool" not in names


def test_plan_cache_resets_on_session_change(spark, sf_dir):
    """VERDICT r13 nit: memoized queries() plans must not outlive their
    session — a new session empties the artifact store, so no entry of the
    old one is ever served again."""
    import __spark_entry__ as entrymod
    from duckdb_ml_spark import memo

    qs = entrymod.queries()
    df = qs["range_ids"](spark, sf_dir)
    assert qs["range_ids"](spark, sf_dir) is df  # memoized within a session

    class _Fake:  # a different session identity; builder never executes it
        pass

    try:
        qs["range_ids"](_Fake(), sf_dir)
    except Exception:
        pass  # the builder will choke on the fake session — irrelevant here
    # the real session's plan is GONE: the next call rebuilds it
    assert memo.get(spark, (sf_dir, "plan", "range_ids"), lambda: None) is None
    memo.clear()

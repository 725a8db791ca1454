"""Driver-contract smoke tests for __spark_entry__.py."""

import sys

sys.path.insert(0, "/root/repo")

import __spark_entry__ as entrymod


def test_entry_runs(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 1
    assert "region" in df.columns


def test_queries_and_oracles_consistent():
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert qs, "no queries registered"
    assert set(oracles) <= set(qs)
    for name, sql in oracles.items():
        assert isinstance(sql, str) and "SELECT" in sql.upper(), name


def test_registry_size_matches_decorator_count():
    """Every @register decorator in the suite sources must land in the
    registry: a silent-overwrite duplicate shadowed a live query+oracle in
    round 7 (VERDICT r07 #1). register() now raises on duplicates; this
    test pins the decorator-count == registry-size invariant so a future
    refactor cannot reintroduce the gap through another path."""
    import glob
    import os
    import re

    from bbt_etl_dw_spark.suite import load_all

    reg = load_all()
    suite_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "bbt_etl_dw_spark",
        "suite",
    )
    decorators = 0
    for path in glob.glob(os.path.join(suite_dir, "*.py")):
        decorators += len(re.findall(r"^@register\(", open(path).read(), re.M))
    assert decorators == len(reg), (
        f"{decorators} @register decorators but {len(reg)} registry entries "
        "— a duplicate name or an unregistered decorator"
    )


def test_duplicate_registration_raises():
    import pytest

    from bbt_etl_dw_spark.suite import QUERIES, register

    existing = next(iter(QUERIES))
    with pytest.raises(ValueError, match="duplicate query registration"):
        register(existing)(lambda spark, sf_dir: None)


def test_force_recheck_loader_is_loud_on_corruption(tmp_path):
    """ADVICE r08 (medium): only a MISSING FORCE_RECHECK.json maps to the
    empty set; a corrupt or wrong-shaped artifact must raise — silently
    returning empty would disable evidence rotation, the exact failure
    the mechanism exists to prevent."""
    import json

    import pytest

    from bbt_etl_dw_spark.suite import _load_force_recheck

    missing = str(tmp_path / "nope.json")
    assert _load_force_recheck(missing) == {}

    ok = tmp_path / "ok.json"
    ok.write_text(json.dumps({"q_a": "changed since r04: impl"}))
    assert _load_force_recheck(str(ok)) == {"q_a": "changed since r04: impl"}

    corrupt = tmp_path / "corrupt.json"
    corrupt.write_text("{not json")
    with pytest.raises(json.JSONDecodeError):
        _load_force_recheck(str(corrupt))

    wrong_shape = tmp_path / "list.json"
    wrong_shape.write_text(json.dumps(["q_a", "q_b"]))
    with pytest.raises(ValueError, match="expected a"):
        _load_force_recheck(str(wrong_shape))


def test_longest_forced_query_sorts_first(monkeypatch):
    """The forced tier is ordered by how long each query has been forced:
    a query forced earlier goes ahead of a newly forced one even when the
    newcomer's evidence is older, so a shared-helper change that forces
    most of the registry cannot push earlier-forced queries out of the
    driver window."""
    import bbt_etl_dw_spark.suite as suite

    reason = "changed since r14: impl; forced since 2026-10-17T20:55:35Z"
    assert suite.forced_since(reason) == "2026-10-17T20:55:35Z"
    assert suite.forced_since("changed since r14: impl") == ""
    monkeypatch.setattr(
        suite, "_last_verified_round", lambda: {"early": 15, "newcomer": 10, "stale": 3}
    )
    monkeypatch.setattr(
        suite,
        "_FORCED_SINCE",
        {"early": "2026-10-17T20:55:35Z", "newcomer": "2026-10-19T09:00:00Z"},
    )
    monkeypatch.setattr(suite, "_FORCE_RECHECK", frozenset({"early", "newcomer"}))
    assert suite._check_order(["stale", "newcomer", "early", "never"]) == [
        "never",
        "early",
        "newcomer",
        "stale",
    ]

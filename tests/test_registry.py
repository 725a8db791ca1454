"""The query registry must not lose queries silently: every suite module
imports or load_all() raises."""

import pytest

from bbt_etl_dw_spark import suite


def test_module_set_and_registry_size_pinned():
    assert suite._MODULES == (
        "bbt_etl_dw_spark.suite.core",
        "bbt_etl_dw_spark.suite.classic",
        "bbt_etl_dw_spark.suite.analytics",
        "bbt_etl_dw_spark.suite.quality",
        "bbt_etl_dw_spark.suite.star",
        "bbt_etl_dw_spark.suite.text",
        "bbt_etl_dw_spark.suite.vector",
        "bbt_etl_dw_spark.suite.stream",
        "bbt_etl_dw_spark.suite.behavior",
        "bbt_etl_dw_spark.suite.multimodal",
        "bbt_etl_dw_spark.suite.lake",
        "bbt_etl_dw_spark.suite.ingest",
        "bbt_etl_dw_spark.suite.train",
    )
    assert len(suite.load_all()) == 235


def test_missing_module_raises(monkeypatch):
    monkeypatch.setattr(
        suite, "_MODULES", suite._MODULES + ("bbt_etl_dw_spark.suite.no_such_module",)
    )
    with pytest.raises(ModuleNotFoundError):
        suite.load_all()

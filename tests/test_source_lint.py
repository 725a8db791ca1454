"""Package-wide source invariants the scale design depends on.

These pin, as tests, properties the round reviews verify by hand:

- NO row-at-a-time Python UDFs (``F.udf`` / ``@udf``) — every hot path
  stays JVM-side (whole-stage codegen) or uses Arrow-batched Pandas UDFs
  (``pandas_udf`` / ``mapInPandas`` / ``applyInPandas``), which are the
  allow-listed slow path.
- NO ``.rdd`` access — a DataFrame→RDD conversion silently leaves
  Tungsten (deserializes every row) and breaks AQE; VERDICT r08 #5
  removed the last one (``traversal.py``'s empty check).
- NO ``_jvm.<package>.`` attribute walks outside ``bbt_etl_dw_spark/jvm.py``
  — every dotted segment is a py4j round trip, and each package segment
  makes the JVM scan the whole classpath with ``Class.forName`` first;
  ``jvm.jvm_class`` resolves a class once per gateway.

A legitimate future exception should be added to the explicit allowlist
here WITH its justification, so the default stays "the build fails".
"""

from __future__ import annotations

import glob
import os
import re

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "bbt_etl_dw_spark",
)


def _sources() -> dict[str, str]:
    return {
        path: open(path).read()
        for path in glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True)
    }


def test_no_row_at_a_time_python_udfs():
    hits = []
    for path, src in _sources().items():
        for m in re.finditer(r"(?<![\w.])(?:F\.udf|functions\.udf)\s*\(|@udf\b", src):
            line = src[: m.start()].count("\n") + 1
            hits.append(f"{path}:{line}")
    assert not hits, (
        "row-at-a-time Python UDFs found (use built-in exprs or a "
        f"pandas_udf): {hits}"
    )


def test_no_dataframe_rdd_access():
    hits = []
    for path, src in _sources().items():
        for m in re.finditer(r"\.rdd\b", src):
            line = src[: m.start()].count("\n") + 1
            hits.append(f"{path}:{line}")
    assert not hits, (
        "DataFrame.rdd access found (leaves Tungsten/codegen; use the "
        f"DataFrame API): {hits}"
    )


def test_jvm_classes_go_through_the_class_handle():
    helper = os.path.join(PKG, "jvm.py")
    hits = []
    for path, src in _sources().items():
        if path == helper:
            continue
        for m in re.finditer(r"(?<![A-Za-z0-9])_?jvm\.[a-z][\w$]*\.", src):
            line = src[: m.start()].count("\n") + 1
            hits.append(f"{path}:{line}")
    assert not hits, (
        "JVM package walk found (one py4j round trip and one classpath "
        f"scan per package segment; use jvm.jvm_class): {hits}"
    )

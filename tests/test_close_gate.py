"""tools/close.py's scan-audit step must not pass on a crashed or shrunken
audit, nor without a committed baseline."""

import importlib.util
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

spec = importlib.util.spec_from_file_location("close", os.path.join(REPO, "tools", "close.py"))
close = importlib.util.module_from_spec(spec)
spec.loader.exec_module(close)


def _audit(mass=3, audited=("a", "b", "c"), **queries):
    return {"total_duplicated_scans": mass, "audited": list(audited), "queries": queries}


BASE = _audit(mass=3, b={"dup_scans": {"orders": 4}, "smj": 0, "cartesian": 0})


def test_equal_or_smaller_mass_passes():
    assert close.scan_audit_verdict(BASE, BASE)[0]
    assert close.scan_audit_verdict(_audit(mass=1), BASE)[0]


def test_grown_mass_fails():
    ok, msg = close.scan_audit_verdict(_audit(mass=4), BASE)
    assert not ok and "GREW" in msg


def test_crashed_builder_fails_even_with_lower_mass():
    ok, msg = close.scan_audit_verdict(_audit(mass=0, c={"err": "boom"}), BASE)
    assert not ok and "c" in msg and "crashed" in msg


def test_shrunken_audited_set_fails():
    ok, msg = close.scan_audit_verdict(_audit(mass=0, audited=("a", "b")), BASE)
    assert not ok and "not audited" in msg and "c" in msg


def test_grown_audited_set_passes():
    assert close.scan_audit_verdict(_audit(audited=("a", "b", "c", "d")), BASE)[0]


def test_missing_baseline_is_invalid_and_says_commit():
    ok, msg = close.scan_audit_verdict(BASE, None)
    assert not ok and "commit" in msg and close.SCAN_AUDIT_BASELINE in msg

"""Mechanized round close: run every close check on the CURRENT tree and
report, in one shot, whether the committed artifacts describe it.

The close checklist has now been slipped twice by hand (r08: a code
commit landed after the sweep; r09 wave 1: the same, for the publish
feature). The checklist is mechanical, so it should be a program:

1. working tree must be clean (artifacts must describe a commit);
2. full pytest — the suite tally;
3. full driver_sim sweep (--all, hostile tz + hostile confs) — written
   to SWEEP_r{N}.json in the committed wrapper format;
3b. scan_audit against the committed SCAN_AUDIT_BASELINE.json (see
   ``scan_audit_verdict``);
4. emit_force_recheck — then byte-diff FORCE_RECHECK.json;
5. emit_window r{N} — then byte-diff WINDOW_r{N}.txt.

Exit 0 only if pytest passes, the sweep is all-green, and the emitted
artifacts are byte-stable against the committed ones (or were updated by
this run — reported either way; commit them with the close). Run it
AFTER the round's last code-touching commit:

    python tools/close.py r09
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(cmd: list[str], **kw) -> subprocess.CompletedProcess:
    return subprocess.run(cmd, cwd=REPO, text=True, capture_output=True, **kw)


def _git_dirty() -> str:
    return _run(["git", "status", "--porcelain"]).stdout.strip()


def _artifact_diff(path: str) -> str:
    return _run(["git", "status", "--porcelain", "--", path]).stdout.strip()


SCAN_AUDIT_BASELINE = "SCAN_AUDIT_BASELINE.json"


def scan_audit_verdict(audit: dict, baseline: dict | None) -> tuple[bool, str]:
    """The scan-audit close step: (passes, report line). It fails when the
    committed baseline is missing, when a builder crashed during the audit
    (an ``err`` entry), when the audited query set lost queries the
    baseline has, or when the duplicated-scan mass grew past the
    baseline's."""
    if baseline is None:
        return False, (
            f"scan audit: {SCAN_AUDIT_BASELINE} missing — close invalid; "
            f"commit one (python tools/scan_audit.py > {SCAN_AUDIT_BASELINE})"
        )
    crashed = sorted(n for n, q in audit["queries"].items() if "err" in q)
    if crashed:
        return False, (
            f"scan audit: {len(crashed)} builder(s) crashed "
            f"({', '.join(crashed[:5])}) — close invalid"
        )
    lost = sorted(set(baseline["audited"]) - set(audit["audited"]))
    if lost:
        return False, (
            f"scan audit: {len(lost)} baseline queries not audited "
            f"({', '.join(lost[:5])}) — close invalid"
        )
    mass, base_mass = audit["total_duplicated_scans"], baseline["total_duplicated_scans"]
    grew = mass > base_mass
    return not grew, (
        f"scan audit: duplicated-scan mass {mass} vs baseline {base_mass} "
        f"-> {'GREW — close invalid' if grew else 'OK'}"
    )


def main() -> int:
    if len(sys.argv) != 2 or not sys.argv[1].startswith("r"):
        sys.exit("usage: python tools/close.py r<NN>   (e.g. r09)")
    tag = sys.argv[1]
    ok = True
    report: list[str] = []

    dirty = _git_dirty()
    if dirty:
        sys.exit(
            "close: working tree is dirty — the close describes a COMMIT.\n"
            + dirty
        )
    head = _run(["git", "rev-parse", "--short", "HEAD"]).stdout.strip()
    report.append(f"close tree: {head}")

    # 2. full pytest
    print(f"[close {tag}] pytest tests/ ...", flush=True)
    py = _run([sys.executable, "-m", "pytest", "tests/", "-q"])
    tail = py.stdout.strip().splitlines()[-1] if py.stdout.strip() else "(no output)"
    report.append(f"pytest: {tail}")
    if py.returncode != 0:
        ok = False
        report.append("pytest FAILED — close invalid")

    # 3. full sweep
    print(f"[close {tag}] driver_sim --all --hostile-tz --hostile-confs ...", flush=True)
    sw = _run(
        [
            sys.executable,
            "driver_sim.py",
            "--hostile-tz",
            "--hostile-confs",
            "--all",
        ]
    )
    sweep_path = os.path.join(REPO, f"SWEEP_{tag}.json")
    raw = None
    if sw.stdout.strip():
        # Parse defensively: a crashed driver_sim can emit partial/non-JSON
        # stdout; that must report "close invalid", not a traceback.
        try:
            raw = json.loads(sw.stdout)
        except ValueError:
            ok = False
            report.append(
                f"sweep output unparseable (rc={sw.returncode}) — close invalid"
            )
    if raw is not None:
        green = sum(
            1
            for r in raw.values()
            if (
                r.get("hash_match") is True
                and r.get("rows_match") is True
                and r.get("schema_match") is True
            )
            or r.get("err") == "no_oracle"
        )
        with open(sweep_path, "w") as f:
            json.dump(
                {
                    "mode": "hostile-tz+hostile-confs",
                    "sf": "/root/testdata/sf0.01",
                    "checked": len(raw),
                    "green": green,
                    "queries": raw,
                },
                f,
                indent=1,
            )
            f.write("\n")
        report.append(f"sweep: {green}/{len(raw)} green -> SWEEP_{tag}.json")
        if sw.returncode != 0 or green != len(raw):
            ok = False
            report.append("sweep has FAILURES — close invalid")
    elif not sw.stdout.strip():
        ok = False
        report.append(f"sweep produced no output (rc={sw.returncode}) — close invalid")

    # 3b. registry duplicated-scan gate (VERDICT r14 stretch #10): the
    # round fails its close if duplicated-scan mass grew vs the committed
    # baseline without the baseline being consciously updated (a growth
    # is a new duplicated-subtree instance — the r14 systemic class).
    print(f"[close {tag}] scan_audit ...", flush=True)
    sa = _run([sys.executable, "tools/scan_audit.py"])
    try:
        audit = json.loads(sa.stdout) if sa.returncode == 0 else None
    except ValueError:
        audit = None
    if audit is None:
        ok = False
        report.append(f"scan_audit FAILED (rc={sa.returncode}) — close invalid")
    else:
        with open(os.path.join(REPO, f"SCAN_AUDIT_{tag}.json"), "w") as f:
            f.write(sa.stdout)
        base_path = os.path.join(REPO, SCAN_AUDIT_BASELINE)
        baseline = None
        if os.path.exists(base_path):
            with open(base_path) as f:
                baseline = json.load(f)
        audit_ok, msg = scan_audit_verdict(audit, baseline)
        ok = ok and audit_ok
        report.append(msg)

    # 4 + 5. evidence artifacts, then byte-diff against the committed ones
    print(f"[close {tag}] emit_force_recheck + emit_window ...", flush=True)
    fr = _run([sys.executable, "tools/emit_force_recheck.py"])
    if fr.returncode != 0:
        ok = False
        report.append(f"emit_force_recheck FAILED: {fr.stderr.strip()[:200]}")
    else:
        report.append(f"force-recheck: {fr.stdout.strip().splitlines()[0]}")
    win = _run([sys.executable, "tools/emit_window.py", tag])
    if win.returncode != 0:
        ok = False
        report.append(f"emit_window FAILED: {win.stderr.strip()[:200]}")

    for artifact in ("FORCE_RECHECK.json", f"WINDOW_{tag}.txt", f"SWEEP_{tag}.json"):
        d = _artifact_diff(artifact)
        report.append(
            f"{artifact}: {'byte-stable vs committed' if not d else 'UPDATED — commit with the close'}"
        )

    print()
    print(f"== close {tag} {'OK' if ok else 'INVALID'} ==")
    for line in report:
        print("  " + line)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())

"""Mechanically derive the force-recheck set from the git history.

VERDICT r07 #3: round 7 changed operator code behind queries whose latest
driver rows predate the change, and ``_FORCE_RECHECK`` stayed empty
because populating it was manual. This tool computes it from evidence:

1. Each query's latest driver-evidence round comes from the
   CORRECTNESS_r*.json artifacts (same logic as the registry rotation).
2. Each round maps to the driver's own "round N: ..." commit — the tree
   the driver actually verified.
3. Per-query implementation fingerprints (tools/_query_fingerprints.py:
   builder source + every transitively referenced function/class/constant
   at SYMBOL granularity across modules + oracle SQL) are computed at
   HEAD and at each evidence commit (its tree extracted with
   ``git archive`` into a temporary directory, so an interrupted run
   leaves nothing registered in the repository).
4. A query whose fingerprint differs from its evidence-commit fingerprint
   has changed since the driver last saw it: its evidence is stale
   regardless of recency, so it belongs in the force-recheck set.

Writes FORCE_RECHECK.json {query: reason} at the repo root, the reason
being "changed since rNN: <fields>; forced since <UTC time>" —
``bbt_etl_dw_spark.suite`` loads it as ``_FORCE_RECHECK`` and sorts those
queries right after the never-verified ones in the driver window,
longest-forced first. The forced-since mark of a query already in the
file is carried forward; one without a mark gets the commit time of the
oldest FORCE_RECHECK.json in the unbroken run of committed versions that
list it; a newly forced query gets the time of this run. Re-run after any
round that edits live operator code; commit the JSON with WINDOW_r{N}.txt.

Usage: python tools/emit_force_recheck.py
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import tempfile
from datetime import datetime, timezone

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _run(*cmd: str, cwd: str = REPO) -> str:
    return subprocess.run(
        cmd, cwd=cwd, check=True, capture_output=True, text=True
    ).stdout


def _round_commits() -> dict[int, str]:
    out = _run("git", "log", "--all", "--format=%H %s")
    commits: dict[int, str] = {}
    for line in out.splitlines():
        sha, _, subject = line.partition(" ")
        m = re.match(r"round (\d+): verdict/advice/correctness/bench", subject)
        if m:
            commits.setdefault(int(m.group(1)), sha)
    return commits


def _utc(when: datetime) -> str:
    return when.astimezone(timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ")


def _forced_since_in_history(names: set[str]) -> dict[str, str]:
    """Commit time of the oldest committed FORCE_RECHECK.json in the
    unbroken run, newest first, of versions that list each name."""
    log = _run("git", "log", "--format=%H %cI", "--", "FORCE_RECHECK.json")
    since: dict[str, str] = {}
    pending = set(names)
    for line in log.splitlines():
        if not pending:
            break
        sha, when = line.split()
        try:
            listed = json.loads(_run("git", "show", f"{sha}:FORCE_RECHECK.json"))
        except (subprocess.CalledProcessError, json.JSONDecodeError):
            listed = {}  # deleted or unreadable at that commit: the run ends
        for name in list(pending):
            if name in listed:
                since[name] = _utc(datetime.fromisoformat(when))
            else:
                pending.discard(name)
    return since


def _fingerprints_at(tree_root: str) -> dict[str, dict[str, str]]:
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "_query_fingerprints.py"), tree_root],
        check=True,
        capture_output=True,
        text=True,
    ).stdout
    return json.loads(out)


def main() -> None:
    from bbt_etl_dw_spark.suite import _last_verified_round, _load_force_recheck, forced_since

    latest = _last_verified_round()
    previous = {n: forced_since(why) for n, why in _load_force_recheck().items()}
    now = _utc(datetime.now(timezone.utc))
    commits = _round_commits()
    head = _fingerprints_at(REPO)

    force: dict[str, str] = {}
    # A round with driver evidence but no matching "round N: ..." commit
    # would silently exempt its whole cohort from change detection
    # (ADVICE r08). Fail loudly instead of shrinking the recheck set.
    unmapped = sorted({r for r in latest.values() if r not in commits})
    if unmapped:
        cohort = sorted(n for n, r in latest.items() if r in set(unmapped))
        sys.exit(
            f"emit_force_recheck: evidence rounds {unmapped} have no "
            f"'round N: verdict/advice/correctness/bench' commit — "
            f"{len(cohort)} queries ({', '.join(cohort[:5])}...) would be "
            f"silently exempted from change detection. Fix the round-to-"
            f"commit mapping (_round_commits) before emitting."
        )
    rounds_needed = sorted(set(latest.values()))
    for rnd in rounds_needed:
        with tempfile.TemporaryDirectory(prefix=f"fr_r{rnd}_") as tree:
            archive = subprocess.run(
                ["git", "archive", commits[rnd]], cwd=REPO, check=True,
                capture_output=True,
            ).stdout
            subprocess.run(["tar", "-x", "-C", tree], input=archive, check=True)
            old = _fingerprints_at(tree)
        for name, ev_round in latest.items():
            if ev_round != rnd or name not in head:
                continue
            if name not in old:
                continue  # not registered then: recency already handles it
            diff = [k for k in ("impl", "oracle") if head[name][k] != old[name][k]]
            if diff:
                force[name] = f"changed since r{rnd:02d}: {','.join(diff)}"

    history = _forced_since_in_history(
        {n for n in force if n in previous and not previous[n]}
    )
    for name in force:
        since = previous.get(name) or history.get(name) or now
        force[name] += f"; forced since {since}"

    out_path = os.path.join(REPO, "FORCE_RECHECK.json")
    with open(out_path, "w") as f:
        json.dump(dict(sorted(force.items())), f, indent=1)
        f.write("\n")
    print(f"{len(force)} queries stale-by-change -> {out_path}")
    for name, why in sorted(force.items()):
        print(f"  {name}: {why}")


if __name__ == "__main__":
    main()

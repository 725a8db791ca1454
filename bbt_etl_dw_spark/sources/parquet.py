"""Medallion parquet layout — SURVEY §2.1 S2/S3.

The reference's bronze/silver/gold directories are date-named snapshot
paths with no Spark partitioning (``etl_extract.py:42``). The engine keeps
the medallion layers but writes real partitioned parquet: at 100TB a
snapshot-per-run layout forces full rewrites and no pruning; partitioning
by snapshot_date (and optionally a domain column) gives partition pruning
and incremental loads for free.
"""

from __future__ import annotations

import threading
from collections import OrderedDict
from collections.abc import Sequence

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bbt_etl_dw_spark.jvm import jvm_class


def layer_path(root: str, layer: str, source: str) -> str:
    return f"{root.rstrip('/')}/{layer}/{source}"


def write_snapshot(
    df: DataFrame,
    root: str,
    layer: str,
    source: str,
    snapshot_date: str,
    partition_by: Sequence[str] = (),
) -> str:
    """Write one snapshot partition (dynamic overwrite: re-running a day
    replaces that day only, not the whole table)."""
    path = layer_path(root, layer, source)
    out = df.withColumn("snapshot_date", F.lit(snapshot_date))
    (
        out.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("snapshot_date", *partition_by)
        .parquet(path)
    )
    return path


def read_snapshot(
    spark: SparkSession, root: str, layer: str, source: str, snapshot_date: str | None = None
) -> DataFrame:
    """Read a layer table; filtering on snapshot_date prunes partitions."""
    df = spark.read.parquet(layer_path(root, layer, source))
    if snapshot_date is not None:
        df = df.filter(F.col("snapshot_date") == snapshot_date)
    return df


def read_resilient(
    spark: SparkSession,
    path: str,
    schema=None,
    report: dict | None = None,
):
    """Parquet scan that survives corrupt and vanishing files — at 100 TB
    a scan touches millions of objects and one truncated upload or
    compaction-deleted file must not kill the job (the default behavior:
    one bad footer fails the whole stage after 4 task retries).

    Sets ``ignoreCorruptFiles`` / ``ignoreMissingFiles`` as PER-READ
    options (never the session-wide conf — other readers in the session
    should keep fail-fast semantics, and silently tolerating corruption
    everywhere is how quality regressions hide). Pass ``schema`` when the
    FIRST file could be the corrupt one — schema inference reads footers
    before the options can protect the scan.

    When ``report`` is given, it is filled with {'files': <count of files
    the index sees>} so callers can alert on unexpected shrinkage — the
    tolerant read's blind spot is that skipped files are silent."""
    reader = (
        spark.read.option("ignoreCorruptFiles", "true")
        .option("ignoreMissingFiles", "true")
    )
    if schema is not None:
        reader = reader.schema(schema)
    df = reader.parquet(path)
    if report is not None:
        report["files"] = len(df.inputFiles())
    return df


class WriterLockHeld(RuntimeError):
    """Another writer holds (or crashed while holding) the swap lock."""


class ConcurrentWriteDetected(RuntimeError):
    """The fence observed the target change between snapshot and swap."""


def _hadoop_path(spark: SparkSession, path: str):
    return jvm_class(spark, "org.apache.hadoop.fs.Path")(path)


def _hadoop_fs(spark: SparkSession, path: str):
    p = _hadoop_path(spark, path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p, spark._jvm


# Session confs that decide which Spark type a parquet column infers to
# (or, for mergeSchema/respectSummaryFiles, which footers are read). A
# cached relation is valid only under the values it was resolved with. The
# last two type the partition columns of a hive-partitioned directory.
SCHEMA_CONFS = (
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
    "spark.sql.timestampType",
)
# Resolved parquet relations (a py4j handle to each analyzed
# LogicalRelation), least recently used first; see read_parquet.
_SCHEMA_CACHE_SIZE = 256
_SCHEMAS: OrderedDict = OrderedDict()
_SCHEMAS_LOCK = threading.Lock()


def path_identity(spark: SparkSession, path: str) -> tuple | None:
    """Version stamp of ``path``: length and modification time of a file;
    total length and file count (``getContentSummary``, recursive) plus
    the modification time of a directory. Rewriting a file, and adding,
    removing or renaming files in a directory, change it. ``None`` when
    the path cannot be stat-ed (missing, or a glob)."""
    try:
        fs, p, _ = _hadoop_fs(spark, path)
        st = fs.getFileStatus(p)
        if st.isDirectory():
            cs = fs.getContentSummary(p)
            return ("dir", cs.getLength(), cs.getFileCount(), st.getModificationTime())
        return ("file", st.getLen(), st.getModificationTime())
    except Py4JJavaError:
        return None


def read_parquet_versioned(
    spark: SparkSession, path: str
) -> tuple[DataFrame, tuple | None]:
    """:func:`read_parquet` plus the :func:`path_identity` its relation is
    keyed on, for callers that cache other per-version facts."""
    ident = path_identity(spark, path)
    if ident is None:  # a glob infers, a missing path raises as usual
        return spark.read.parquet(path), None
    session = spark._jsparkSession
    key = (
        path,
        ident,
        tuple(spark.conf.get(k) for k in SCHEMA_CONFS),
        (spark._jvm._gateway_client, session._target_id),
    )
    with _SCHEMAS_LOCK:
        relation = _SCHEMAS.get(key)
        if relation is not None:
            _SCHEMAS.move_to_end(key)
    if relation is not None:
        dataset = jvm_class(spark, "org.apache.spark.sql.classic.Dataset")
        return DataFrame(dataset.ofRows(session, relation.newInstance()), spark), ident
    df = spark.read.parquet(path)
    with _SCHEMAS_LOCK:
        _SCHEMAS[key] = df._jdf.queryExecution().analyzed()
        while len(_SCHEMAS) > _SCHEMA_CACHE_SIZE:
            _SCHEMAS.popitem(last=False)
    return df, ident


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that resolves the relation once per
    file version. Resolving infers the schema (a one-task Spark job that
    reads a footer) and lists the files; a dashboard re-reading the same
    snapshot paid both on every query. The analyzed ``LogicalRelation``,
    which holds the schema and the file listing, is kept in a bounded LRU
    keyed on the path, its :func:`path_identity`, the session's
    :data:`SCHEMA_CONFS` and the JVM session, so a relation never crosses
    into another session. A later read wraps ``relation.newInstance()``:
    the same files and schema under fresh attribute ids, so two reads of
    one table self-join like two fresh reads. Planning then runs no job
    and lists nothing. A file version is what :func:`path_identity`
    sees: a directory rewritten below its top level with the same total
    length and file count, and no entry of its own renamed, is not
    re-listed."""
    return read_parquet_versioned(spark, path)[0]


_ALREADY_EXISTS_CLASSES = (
    "org.apache.hadoop.fs.FileAlreadyExistsException",
    "org.apache.hadoop.fs.PathExistsException",
    "java.nio.file.FileAlreadyExistsException",
)


def _is_already_exists_exc(exc: BaseException) -> bool:
    """True iff ``exc`` wraps a typed already-exists Java exception,
    walking the Java cause chain (HDFS surfaces the FS exception directly;
    other impls wrap it in RemoteException/IOException)."""
    je = getattr(exc, "java_exception", None)
    seen = 0
    while je is not None and seen < 8:
        try:
            if je.getClass().getName() in _ALREADY_EXISTS_CLASSES:
                return True
            je = je.getCause()
        except Exception:
            return False
        seen += 1
    return False


def _create_exclusive(fs, jvm, p):
    """Exclusively create ``p``; return a Java output stream on a win,
    ``None`` on a lost race, raise on real IO failure.

    On HDFS and S3 (strong consistency + conditional writes),
    ``fs.create(path, overwrite=False)`` is the atomic claim. Hadoop's
    ``RawLocalFileSystem``/``LocalFileSystem`` however implement
    overwrite=False as CHECK-then-create — two local racers can both
    pass the check and the loser silently truncates the winner. For
    ``file:`` URIs the claim is therefore ``java.io.File.createNewFile()``
    (JDK-documented atomic), followed by a plain stream to the file this
    process just created. Shared by the publish manifest commit and the
    swap-lock claim (the two exclusive-create coordination points)."""
    try:
        # base FileSystem.getScheme() throws UnsupportedOperationException
        # for implementations that never override it — treat those as
        # non-local and take the generic create(overwrite=False) path.
        is_local = fs.getScheme() == "file"
    except Exception as exc:
        # Narrow demotion (ADVICE r11): ONLY the documented
        # UnsupportedOperationException may fall through to the non-local
        # path. Any other failure (a transient py4j error on a genuinely
        # local FileSystem) must propagate — silently demoting it would
        # route a local claim through Hadoop's non-atomic check-then-create,
        # losing exactly the local-race atomicity this branch provides.
        je = getattr(exc, "java_exception", None)
        name = ""
        if je is not None:
            try:
                name = je.getClass().getName()
            except Exception:
                name = ""
        if name != "java.lang.UnsupportedOperationException":
            raise
        is_local = False
    if is_local:
        f = jvm_class(jvm, "java.io.File")(p.toUri().getPath())
        # createNewFile (unlike Hadoop's create()) does NOT make parent
        # directories; the first-ever claim under a fresh root must not
        # fail with an opaque IOException.
        parent = f.getParentFile()
        if parent is not None and not parent.exists():
            parent.mkdirs()
        if not f.createNewFile():
            return None
        return jvm_class(jvm, "java.io.FileOutputStream")(f)
    try:
        return fs.create(p, False)
    except Exception as exc:
        if _is_already_exists_exc(exc):
            return None
        raise


def acquire_swap_lock(spark: SparkSession, path: str, owner: str = "writer"):
    """Single-writer lock for the atomic-swap sinks: create
    ``<path>.__lock__`` exclusively via :func:`_create_exclusive`
    (create-if-absent on HDFS, ``File.createNewFile`` on ``file:`` URIs;
    on object stores without conditional PUT the create-vs-exists
    window is the store's consistency gap — use a real table format for
    contended multi-writer tables there). Raises
    :class:`WriterLockHeld` with the current holder's identity when the
    lock exists — including a CRASHED holder's: a stale lock means the
    last swap's outcome is unknown, so refusing loudly (operator
    inspects, then deletes the lock file) beats silently proceeding into
    a half-swapped table. Returns the lock path; release with
    :func:`release_swap_lock`.

    Honesty note (the 100 TB contract): this serializes writers that USE
    the lock (compactors, folders — everything routed through
    :func:`overwrite_atomic`). A writer that bypasses it is caught by the
    caller-supplied fence in :func:`overwrite_atomic` up to the
    fence-to-rename window (sub-second, but real). Multi-writer tables
    needing more than that belong on a table format with real commit
    protocols, not raw parquet."""
    import time

    lock = f"{path.rstrip('/')}.__lock__"
    fs, lp, jvm = _hadoop_fs(spark, lock)
    held_exc: Exception | None = None
    try:
        # create-if-absent via the shared exclusive primitive: atomic on
        # HDFS/S3 through create(overwrite=False), and on file: URIs via
        # File.createNewFile (Hadoop's local create is check-then-create,
        # under which two racing writers could BOTH believe they hold
        # the lock and the loser silently truncates the winner's
        # identity record).
        out = _create_exclusive(fs, jvm, lp)
    except Exception as exc:
        # Only an already-exists outcome means "held" — a permission or
        # transient-FS error must NOT be reported as a lock conflict (the
        # recovery advice would misdirect the operator to delete a lock
        # file that does not exist). _create_exclusive classifies by the
        # TYPED Java exception; the fs.exists probe stays as a fallback
        # for FS impls that throw a bare IOException, accepting that a
        # holder releasing between the failed create and the probe
        # re-raises the original error — opaque but safe (the caller
        # retries against a free lock).
        if not fs.exists(lp):
            raise
        held_exc = exc
        out = None
    if out is None:
        holder = "<unreadable>"
        try:
            stream = fs.open(lp)
            holder = bytes(
                stream.readAllBytes()
            ).decode("utf-8", "replace")
            stream.close()
        except Exception:
            pass
        raise WriterLockHeld(
            f"swap lock {lock} is held by [{holder}]: another writer is "
            f"active, or a previous writer crashed mid-swap. Verify no "
            f"writer is running and the table at {path} is intact, then "
            f"delete the lock file to recover."
        ) from held_exc
    try:
        out.write(bytearray(f"{owner} pid={__import__('os').getpid()} "
                            f"t={time.time():.3f}".encode()))
        out.close()
    except BaseException:
        # a failure after create would leak an ownerless lock that blocks
        # every future writer — release before propagating
        try:
            fs.delete(lp, False)
        except Exception:
            pass
        raise
    return lock


def release_swap_lock(spark: SparkSession, lock: str) -> None:
    fs, lp, _ = _hadoop_fs(spark, lock)
    fs.delete(lp, False)


def vacuum_orphans(
    spark: SparkSession, path: str, include_temporary: bool = False
) -> list[str]:
    """VACUUM-style orphan sweep for the swap/epoch sinks: remove crash
    leftovers that are not part of the committed table —
    ``<path>.__staging__`` (a writer died between staging and rename)
    and, opt-in, ``_temporary`` task-attempt dirs inside the table (a
    Spark write failed before job commit; readers ignore them, but at
    100 TB they accumulate listing cost and confuse manual inspection).

    Safety: the sweep runs UNDER the single-writer lock, so a staging dir
    seen while holding the lock is GUARANTEED abandoned — every staging
    writer holds the lock across its stage-and-swap. A held lock raises
    :class:`WriterLockHeld`. The ``_temporary`` sweep is opt-in
    (``include_temporary=True``) because the lock does NOT protect it: a
    live ingest loop (which deliberately does not take the lock — see
    compact_epochs) writes through ``_temporary`` during every
    micro-batch, and sweeping it mid-write destroys the batch's
    task-committed output. Only enable it with ingest quiesced.
    Committed data files are never candidates. Returns removed paths."""
    lock = acquire_swap_lock(spark, path, owner="vacuum_orphans")
    removed: list[str] = []
    try:
        fs, root, _ = _hadoop_fs(spark, path)
        staging = _hadoop_path(spark, f"{path.rstrip('/')}.__staging__")
        if fs.exists(staging):
            fs.delete(staging, True)
            removed.append(staging.toString())
        if include_temporary and fs.exists(root):
            stack = [root]
            while stack:
                d = stack.pop()
                for st in fs.listStatus(d):
                    if not st.isDirectory():
                        continue
                    name = st.getPath().getName()
                    if name == "_temporary":
                        fs.delete(st.getPath(), True)
                        removed.append(st.getPath().toString())
                    else:
                        stack.append(st.getPath())
    finally:
        release_swap_lock(spark, lock)
    return removed


def overwrite_atomic(
    df: DataFrame,
    path: str,
    partition_by: Sequence[str] = (),
    fence=None,
    post_fence=None,
    owner: str = "overwrite_atomic",
) -> None:
    """Replace the dataset at ``path`` with ``df`` via write-to-temp +
    rename, instead of Spark's delete-then-write ``mode("overwrite")``.

    The difference matters for compaction folds that REWRITE a log from
    its own contents: plain overwrite deletes the target first, so a
    failure mid-write (or the loss of an executor holding the
    localCheckpoint blocks backing ``df``) destroys the only copy. Here
    the new dataset is fully committed to ``<path>.__staging__`` before
    the old one is touched; the worst crash outcome is a stale target
    plus a staging dir (and lock file) to clean up, never data loss.

    Multi-writer contract: the whole stage-and-swap runs under the
    single-writer lock (:func:`acquire_swap_lock` — concurrent
    lock-honoring writers get a loud :class:`WriterLockHeld`, never a
    lost update). ``fence``, when given, is called AFTER the staging
    write and immediately BEFORE the swap; it should raise (e.g.
    :class:`ConcurrentWriteDetected`) if the target changed since the
    caller snapshotted it — the defense against writers that do NOT
    honor the lock, such as a live ingest loop appending epoch
    partitions (see streaming/ops.compact_epochs). On a fence abort the
    staging dir is removed and the target is untouched.

    The swap itself never deletes live data inside the race window
    (ADVICE r07): the old table is RENAMED ASIDE to ``<path>.__old__``
    (atomic), staging is renamed into place, and only then is the old
    copy discarded. A lockless write landing mid-swap therefore either
    (a) lands before the rename-aside and travels INTO ``__old__`` —
    where ``post_fence(old_path)``, when given, re-checks the aside copy
    before the discard, turning what used to be silent destruction into
    a loud abort that leaves the data on disk (the check is an EXPLICIT
    parameter — ADVICE r08: the previous signature-sniffing opt-in
    silently downgraded to no re-check for partials/wrappers); or
    (b) recreates the target between the two renames, which the swap
    detects (target exists again) and aborts loudly, leaving the racer's
    data, ``__old__``, and staging all intact. A pre-existing ``__old__``
    (a previous swap crashed between renames) also aborts loudly —
    inspect and remove it before retrying; it may hold the only copy of
    a raced write.

    Callers that need concurrent readers during the swap belong on a
    table format, not raw parquet. Callers replacing SEVERAL tables that
    must become visible together (fact + dims from one snapshot) belong
    on :mod:`bbt_etl_dw_spark.sources.publish` — this function is
    single-table by design.
    """
    spark = df.sparkSession
    staging = f"{path.rstrip('/')}.__staging__"
    old = f"{path.rstrip('/')}.__old__"
    lock = acquire_swap_lock(spark, path, owner=owner)
    try:
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(staging)
        fs, dst, _ = _hadoop_fs(spark, path)
        src = _hadoop_path(spark, staging)
        jold = _hadoop_path(spark, old)
        if fs.exists(jold):
            fs.delete(src, True)
            raise ConcurrentWriteDetected(
                f"{old} already exists: a previous swap crashed between "
                f"renames (or an abort preserved a raced write there). "
                f"Inspect it — it may hold the only copy of a concurrent "
                f"write — then remove it and re-run."
            )
        if fence is not None:
            try:
                fence()
            except BaseException:
                fs.delete(src, True)
                raise
        moved_aside = False
        if fs.exists(dst):
            if not fs.rename(dst, jold):
                raise IOError(
                    f"rename {path} -> {old} failed; target untouched, "
                    f"staging intact"
                )
            moved_aside = True
        if fs.exists(dst):
            # a lockless writer recreated the target between the two
            # renames — renaming staging now would nest into their dir
            raise ConcurrentWriteDetected(
                f"{path} was recreated by a concurrent writer during the "
                f"swap; aborting. Their data is at {path}, the previous "
                f"table at {old}, the folded data at {staging} — merge "
                f"manually."
            )
        if not fs.rename(src, dst):
            raise IOError(
                f"rename {staging} -> {path} failed; the folded data is "
                f"intact in the staging directory"
                + (f"; the previous table is at {old}" if moved_aside else "")
            )
        if moved_aside:
            # Final fence over the renamed-aside copy: a write that landed
            # between the first fence and the rename-aside is sitting in
            # __old__ — post_fence detects it and aborts BEFORE the
            # discard (table already swapped; the raced data survives in
            # __old__ for manual merge, never silently deleted).
            if post_fence is not None:
                post_fence(old)
            fs.delete(jold, True)
    finally:
        release_swap_lock(spark, lock)

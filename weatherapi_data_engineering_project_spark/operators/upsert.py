"""MERGE-style upsert, audit counts, and gated stage cleanup (SURVEY §2.G).

Re-expresses the reference's five Snowflake ``MERGE INTO target USING
stage ON pk`` procedures (``location.sql:43-59``, ``condition.sql:51-69``,
``current_weather.sql:58-82``, ``forecast_day_weather.sql:70-100``,
``forecast_hour_weather.sql:73-106``) as a composition of stock Spark
operators, since plain Spark has no MERGE without a lakehouse format:

    merged = target ANTI-JOIN updates ON pk  UNION ALL  dedup(updates)

- matched rows    → the target copy is dropped by the anti-join and the
  stage copy survives (== "UPDATE all non-key columns").
- not-matched     → the stage row simply unions in (== "INSERT").
- stage multiplicity → one row per pk is selected by a window
  ``row_number() == 1`` with a caller-supplied ordering (the reference's
  MERGE would raise on duplicate stage keys; we resolve deterministically
  instead — deviation documented).

Scale notes: the anti-join shuffles both sides on pk — at 100 TB this is
the dominant cost, so ``upsert_path`` persists targets *partitioned by a
stable bucket of the pk* and we pre-repartition updates on the same key,
letting AQE pick shuffled-hash and coalesce post-join. When ``updates``
is small relative to ``target`` (the steady-state micro-batch case)
AQE's runtime statistics let it broadcast the update keyset instead of
shuffling the target.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType
from pyspark.sql.window import Window


def dedup_updates(
    updates: DataFrame, keys: list[str], order_by: list[Column] | None = None
) -> DataFrame:
    """Collapse the stage to one row per key (M1 pre-step; cf. the CTAS
    dedup at ``condition.sql:34-38``).

    ``order_by`` picks the winner deterministically (e.g. latest
    timestamp); default is an arbitrary-but-single winner via
    monotonically-stable ordering on all non-key columns.
    """
    if order_by is None:
        order_by = [F.col(c) for c in updates.columns if c not in keys]
        if not order_by:
            return updates.dropDuplicates(keys)
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(*order_by)
    return (
        updates.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def upsert(
    target: DataFrame,
    updates: DataFrame,
    keys: list[str],
    order_by: list[Column] | None = None,
) -> DataFrame:
    """MERGE semantics as a DataFrame→DataFrame transform (M1); AQE
    picks the anti-join strategy from runtime stats."""
    updates = dedup_updates(updates, keys, order_by)
    updates = updates.select(*target.columns)  # positional parity with target
    kept = target.join(updates.select(*keys).distinct(), on=keys, how="left_anti")
    return kept.unionByName(updates)


def audit_counts(
    target: DataFrame, stage: DataFrame, keys: list[str]
) -> tuple[int, int]:
    """The reference's load-verification protocol (M3/G1/G2): n0 = distinct
    stage keys (``location.sql:38-40``), n1 = distinct target keys
    restricted to stage keys (``location.sql:62-68``). Equal counts mean
    every staged key landed.

    Both counts come from ONE action: stage and target keys are unioned
    with a side tag and grouped by key. The counts are those of
    ``stage.select(keys).distinct().count()`` and of the target's
    ``left_semi`` join on the stage keys, distinct: a key with a NULL
    column is one distinct stage key but never joins, so it counts
    toward n0 only.
    """
    sides = stage.select(*keys, F.lit(1).alias("__side")).unionByName(
        target.select(*keys, F.lit(2).alias("__side"))
    )
    groups = sides.groupBy(*keys).agg(
        F.min("__side").alias("__first"), F.max("__side").alias("__last")
    )
    in_stage = F.col("__first") == 1
    landed = in_stage & (F.col("__last") == 2)
    for k in keys:
        landed = landed & F.col(k).isNotNull()
    row = groups.agg(
        F.count_if(in_stage).alias("n0"), F.count_if(landed).alias("n1")
    ).collect()[0]
    return row["n0"], row["n1"]


def upsert_path(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    keys: list[str],
    order_by: list[Column] | None = None,
    partition_by: list[str] | None = None,
) -> tuple[int, int]:
    """Persisted upsert with the overwrite-own-input hazard handled.

    Spark cannot overwrite a parquet directory it is concurrently
    reading, so: write the merged result to a temp sibling dir, then
    atomically swap. Returns the (n0, n1) audit counts; callers gate
    stage cleanup on n0 == n1 exactly as ``location.sql:71-79`` does.

    A partitioned load onto an existing target that lacks a partition
    column raises ``ValueError``: the incremental path's partition
    filter could not resolve it.
    """
    _recover_interrupted_swap(target_path)
    exists = os.path.exists(target_path)
    if exists:
        # heal crash-displaced partition dirs BEFORE any read, even on
        # the non-partitioned path: a whole-table merge that read past
        # an invisible .old partition dir would rewrite the table
        # without it and discard the only copy in the swap. Depth =
        # partition arity when known; a generous bound otherwise (a
        # non-partitioned call may be healing a previously-partitioned
        # table of unknown arity).
        _recover_interrupted_partition_swaps(
            target_path, max_depth=len(partition_by) if partition_by else 6
        )
    target = spark.read.parquet(target_path) if exists else None
    if exists and partition_by:
        missing = [c for c in partition_by if c not in target.columns]
        if missing:
            raise ValueError(
                f"target {target_path} lacks partition column(s) "
                f"{missing}; it was not written partitioned by "
                f"{partition_by}"
            )
        return _upsert_partitions(
            spark, target_path, target, updates, keys, order_by, partition_by
        )

    if exists:
        merged = upsert(target, updates, keys, order_by)
    else:
        merged = dedup_updates(updates, keys, order_by)

    tmp = os.path.join(
        os.path.dirname(target_path) or tempfile.gettempdir(),
        f".{os.path.basename(target_path)}.tmp-{uuid.uuid4().hex[:8]}",
    )
    writer = merged.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(tmp)
    if not _data_dirs(tmp):
        # an empty batch into a new partitioned target writes no file at
        # all: swapping in a dir with only _SUCCESS would leave a table
        # that no later read can infer a schema from
        shutil.rmtree(tmp, ignore_errors=True)
        return 0, 0

    n0, n1 = audit_counts(_read_keys(spark, tmp, merged, keys), updates, keys)

    old = target_path + f".old-{uuid.uuid4().hex[:8]}"
    if os.path.exists(target_path):
        os.rename(target_path, old)
    os.rename(tmp, target_path)
    _discard(old)
    return n0, n1


def _data_dirs(path: str) -> list[str]:
    """Directories under ``path`` that hold a ``.parquet`` data file."""
    return [
        root
        for root, _dirs, files in os.walk(path)
        if any(f.endswith(".parquet") for f in files)
    ]


def _read_keys(
    spark: SparkSession, path: str, written: DataFrame, keys: list[str]
) -> DataFrame:
    """Read back the key columns of the just-written ``path`` with their
    declared types: the audit still reads the files, but no job infers
    their schema."""
    schema = StructType([written.schema[k] for k in keys])
    return spark.read.schema(schema).parquet(path)


def _discard(path: str) -> None:
    """Delete a displaced dir safely: FIRST rename it to a ``.trash-*``
    name (atomic; never matches any recovery pattern), THEN rmtree
    best-effort. A partially-failed plain rmtree would leave a
    truncated dir that still matches the ``.old`` recovery pattern —
    and could later be 'restored' over the real table."""
    if not os.path.exists(path):
        return
    trash = os.path.join(
        os.path.dirname(path) or ".", f".trash-{uuid.uuid4().hex[:8]}"
    )
    try:
        os.rename(path, trash)
    except OSError:
        # rename failed: LEAVE the dir untouched rather than partially
        # rmtree-ing under its recoverable name — a truncated dir that
        # still wears the .old name could later be "restored" over the
        # real table. The next recovery pass retries the discard.
        return
    shutil.rmtree(trash, ignore_errors=True)


def _recover_interrupted_swap(target_path: str) -> None:
    """Heal the two-rename swap's crash window + clean swap debris.

    The swap is rename(target, old) then rename(tmp, target); a crash
    between them leaves no target but a ``<target>.old-*`` sibling —
    restore it (any such dir is an intact table copy: cleanup renames
    to ``.trash-*`` before deleting, so truncated dirs never wear the
    ``.old`` name). Also delete orphaned ``.{base}.tmp-*`` staging dirs
    and ``.trash-*`` leftovers — each is a full table copy that would
    otherwise leak disk forever.
    """
    parent = os.path.dirname(target_path) or "."
    base = os.path.basename(target_path)
    if not os.path.isdir(parent):
        return
    entries = os.listdir(parent)
    if not os.path.exists(target_path):
        olds = sorted(
            (os.path.join(parent, d) for d in entries if d.startswith(base + ".old-")),
            key=os.path.getmtime,
        )
        if olds:
            os.rename(olds[-1], target_path)
            for stale in olds[:-1]:
                _discard(stale)
    else:
        # target intact: any .old-* sibling is debris from a crash
        # after the swap completed but before cleanup
        for d in entries:
            if d.startswith(base + ".old-"):
                _discard(os.path.join(parent, d))
    import time as _time

    for d in entries:
        p = os.path.join(parent, d)
        if d.startswith(".trash-"):
            # `parent` is the warehouse dir shared by every table, and
            # pipeline.run_load upserts the tables concurrently, so this
            # sweep can race another table's _discard deleting the same
            # .trash-* dir. Safe: a .trash-* dir is debris by
            # construction and both sides rmtree with ignore_errors.
            shutil.rmtree(p, ignore_errors=True)
        elif d.startswith(f".{base}.tmp-"):
            # age-guarded: a FRESH tmp dir may belong to a concurrent /
            # zombie writer mid-stage (single-writer per table is the
            # operating assumption, but failovers overlap); only sweep
            # staging dirs whose WHOLE directory tree has been idle for
            # over an hour — the top-level mtime alone stays frozen
            # while Spark writes inside _temporary/ subtrees, but each
            # task file creation bumps its parent dir's mtime
            if _time.time() - _newest_dir_mtime(p) > 3600:
                shutil.rmtree(p, ignore_errors=True)


def _upsert_partitions(
    spark: SparkSession,
    target_path: str,
    target: DataFrame,
    updates: DataFrame,
    keys: list[str],
    order_by: list[Column] | None,
    partition_by: list[str],
) -> tuple[int, int]:
    """Incremental partition rewrite: merge and swap ONLY the partitions
    the batch touches.

    This is what makes the upsert viable at 100 TB: a steady-state
    micro-batch touches a handful of partitions (today's dates, a few
    locations), so the anti-join reads and the writer rewrites that
    sliver — never the whole table. Partition pruning serves the read
    (`filter(part IN affected)` prunes at the file index), and the swap
    renames just those partition directories.

    INVARIANT: partition columns must be immutable attributes of the
    key (e.g. the date embedded in the surrogate key) — if a key could
    move partitions, its old copy would survive in the old partition.
    That holds for every reference table (keys embed location+date).
    (Crash recovery already ran in upsert_path — the only caller.)
    """
    affected = updates.select(*partition_by).distinct().collect()
    if not affected:
        return 0, 0
    cond = None
    for row in affected:
        this = None
        for c in partition_by:
            # eqNullSafe, NOT ==: a NULL partition value under == makes
            # the whole predicate NULL, the target slice comes back
            # empty, and the swap would replace the null partition with
            # only the batch's rows — silent deletion of its history.
            clause = F.col(c).eqNullSafe(F.lit(row[c]))
            this = clause if this is None else (this & clause)
        cond = this if cond is None else (cond | this)

    merged = upsert(target.filter(cond), updates, keys, order_by)

    tmp = os.path.join(
        os.path.dirname(target_path) or tempfile.gettempdir(),
        f".{os.path.basename(target_path)}.tmp-{uuid.uuid4().hex[:8]}",
    )
    merged.write.mode("overwrite").partitionBy(*partition_by).parquet(tmp)

    n0, n1 = audit_counts(_read_keys(spark, tmp, merged, keys), updates, keys)

    # swap each affected partition dir (nested dirs for multi-col keys);
    # collect leaf dirs first — renaming during os.walk corrupts the walk
    leaf_dirs = [d for d in _data_dirs(tmp) if os.path.relpath(d, tmp) != "."]
    for root in leaf_dirs:
        rel = os.path.relpath(root, tmp)
        dst = os.path.join(target_path, rel)
        # the displaced dir gets a DOT-prefixed name: partition discovery
        # ignores dot/underscore paths, so a failed cleanup (rmtree is
        # best-effort) can never surface superseded rows as a bogus
        # partition value; _recover_interrupted_partition_swaps restores
        # it if the crash hits between the two renames
        old = os.path.join(
            os.path.dirname(dst),
            f".old-{uuid.uuid4().hex[:8]}-{os.path.basename(dst)}",
        )
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        if os.path.exists(dst):
            os.rename(dst, old)
        os.rename(root, dst)
        _discard(old)
    shutil.rmtree(tmp, ignore_errors=True)
    return n0, n1


def _newest_dir_mtime(path: str) -> float:
    """Newest mtime across a directory tree — directories AND files.

    Directory mtimes alone miss a live writer streaming ONE large task
    file for >1h (no new files ⇒ no dir mtime bump, but the file's own
    mtime does update on content writes); judging idleness by dirs only
    would sweep that writer's staging dir mid-write. Enumerating files
    is fine here: this runs only on orphan-candidate staging dirs (one
    in-flight table copy, bounded task-file count), never on the table
    tree. Returns the current time on listing errors so callers never
    treat an unreadable dir as idle."""
    import time as _time

    newest = 0.0
    try:
        for root, _dirs, files in os.walk(path):
            try:
                newest = max(newest, os.path.getmtime(root))
                for f in files:
                    newest = max(
                        newest, os.path.getmtime(os.path.join(root, f))
                    )
            except OSError:
                return _time.time()
    except OSError:
        return _time.time()
    return newest


def _recover_interrupted_partition_swaps(
    target_path: str, max_depth: int = 3
) -> None:
    """Partition-level twin of _recover_interrupted_swap: a crash in the
    per-partition swap window leaves ``.old-{uuid}-{leaf}`` (intact; the
    cleanup path renames to ``.trash-*`` before deleting) with no
    visible ``{leaf}`` sibling — restore it; if the visible leaf exists
    the swap completed and the dot dir is debris — discard it.

    Directory-only scan bounded to ``max_depth`` = the partition arity
    (callers pass ``len(partition_by)``): with arity N the displaced
    dirs live at levels 1..N, the frontier stops above the leaf
    partition dirs, and the per-micro-batch cost is the partition-dir
    count — data files are never enumerated.
    """
    frontier = [(target_path, 0)]
    while frontier:
        root, depth = frontier.pop()
        try:
            entries = [e for e in os.scandir(root) if e.is_dir()]
        except OSError:
            continue
        for e in entries:
            if e.name.startswith(".trash-"):
                shutil.rmtree(e.path, ignore_errors=True)
            elif e.name.startswith(".old-"):
                # name shape: .old-{8-hex}-{leaf}
                leaf = e.name[5 + 8 + 1:]
                visible = os.path.join(root, leaf)
                if leaf and not os.path.exists(visible):
                    os.rename(e.path, visible)
                else:
                    _discard(e.path)
            elif not e.name.startswith((".", "_")) and depth + 1 < max_depth:
                frontier.append((e.path, depth + 1))

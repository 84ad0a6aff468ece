"""Deletion vectors — merge-on-read DELETE over plain-parquet snapshots.

Capability gap vs the reference (SURVEY.md §2C table maintenance; the
reference — timkins666/config-driven-pyspark — has no mutable-table
story at all): ``delete_where`` / MERGE deletes are copy-on-write — a
10-row delete in a 1 TB partition rewrites 1 TB. Delta Lake and
Iceberg v2 answer with DELETION VECTORS: a positional tombstone
sidecar written at delete time (bytes ∝ deleted rows), consulted at
read time, and materialized into real file rewrites at compaction.
This module is that design, Spark-first:

- **Tombstone identity** is ``(rel_path, row_index)`` from the parquet
  scan's ``_metadata.file_path`` / ``_metadata.row_index`` pseudo-
  columns — computed and matched entirely inside the JVM scan, no
  Python in the row path. ``rel_path`` is the file path's last
  ``len(partition_by)+1`` segments (partition dirs + file name), which
  is exactly the part of the path that SURVIVES the history machinery's
  retention renames (operators/history.py renames whole partition dirs
  into ``__history/v<N>`` — dir name and file name are preserved), so
  one tombstone matches its file wherever retention moved it.
- **Storage**: each delete writes ONE parquet dataset under
  ``<table>/_deletes/dv_v<V>_s<S>_<uuid>/`` (``V`` = the history
  version the delete committed, 0 for unversioned tables; ``S`` = the
  rel-path segment count). Written distributed, renamed into place
  (readers see the whole vector or none of it). Bytes written are
  proportional to DELETED rows, never to table or partition size.
- **Reads**: :func:`read_table` (live), ``scan_table`` and
  ``read_table_version`` / ``table_changes`` (operators/history.py)
  LEFT ANTI JOIN the scan against the applicable vectors. Vectors are
  tiny next to the table, so AQE/size-based planning broadcasts the
  join; a table with no ``_deletes`` entries short-circuits to the
  plain read. Time travel applies only vectors committed at or before
  the requested version, so version ``N-1`` still shows the rows a
  version-``N`` delete tombstoned — and the CDF diff between them
  reports honest ``delete`` rows.
- **Materialization**: :func:`materialize_deletes` rewrites ONLY the
  partitions holding tombstoned rows through the standard verified
  crash-recovered swap, then archives the applied vectors into
  ``__history/_dv`` (versioned tables — older versions still need
  them; tagged ``_m<M>`` with the materialization version so vacuum
  can drop them once no readable version predates ``M``) or deletes
  them (unversioned). Every REWRITING table op (merge / scd2 /
  update / copy-on-write delete / compact / alter / incremental_agg /
  restore) materializes pending vectors first, so rewrites can never
  resurrect tombstoned rows — the Delta "DVs are absorbed by the next
  rewrite of the file" contract, table-scoped.
- **Crash honesty**: the vector rename happens between
  ``begin_retention`` (pending marker) and ``commit_retention`` — a
  crash in the window leaves the standard permanent version gap
  (reads below it refuse) with the vector already live, never a
  silently-partial delete. In-process failures clean their tmp dir
  and abort the marker.

Scale: the delete itself is one filtered scan (predicate pushed down,
partition-pruned by Catalyst) + one tombstone write; NO data file is
rewritten. A read pays one anti join against (usually broadcast)
vectors until compaction absorbs them. The only driver-side state is
the bounded partition-value probe shared with ``delete_where``
(capped at ``_MAX_SCOPED_PARTITIONS``).
"""

from __future__ import annotations

import json
import re
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from config_driven_pyspark_spark import storage

_DV_DIRNAME = "_deletes"
_DV_RE = re.compile(r"^dv_v(\d+)_s(\d+)(?:_m(\d+))?_([0-9a-f]{8})$")
_DV_SCHEMA = "rel_path string, row_index bigint"


def _dv_root(base: str) -> str:
    return f"{base.rstrip('/')}/{_DV_DIRNAME}"


def _dv_archive_root(base: str) -> str:
    from config_driven_pyspark_spark.operators.history import _hist_root

    return f"{_hist_root(base.rstrip('/'))}/_dv"


def _list_dv(spark: SparkSession, root: str) -> list[dict]:
    """Parsed deletion-vector entries under ``root`` (a ``_deletes`` or
    archive dir): ``{name, version, nseg, mat}``. Unparseable names are
    ignored (never silently applied)."""
    out = []
    for name, is_dir in storage.list_dir(spark, root):
        m = _DV_RE.match(name)
        if not (is_dir and m):
            continue
        out.append({
            "name": name,
            "version": int(m.group(1)),
            "nseg": int(m.group(2)),
            "mat": int(m.group(3)) if m.group(3) else None,
        })
    return sorted(out, key=lambda e: e["name"])


def has_live_deletes(spark: SparkSession, target_path: str) -> bool:
    """True when unmaterialized deletion vectors exist — one FS listing."""
    return bool(_list_dv(spark, _dv_root(target_path.rstrip("/"))))


_DV_STAGING_LEASE_S = 900  # matches the writer-lock lease
# Data-file cap for the single-pass delete's fingerprint validation
# (one listed file name per data file): above it, the delete re-stages
# its tombstones under the lock instead (one extra pass over the
# target, the pre-r15 cost — only for >10k-file tables).
_DV_FILE_CAP = 10_000


def _data_fingerprint(
    spark: SparkSession, base: str, nseg: int, cap: int | None = None
) -> dict[str, frozenset] | None:
    """``{relative partition dir: frozenset(data file names)}`` for the
    snapshot at ``base``, walked to the table's partition depth
    (``nseg - 1`` directory levels). Underscore/dot names are skipped at
    every level — exactly the entries Spark's parquet reader ignores —
    so the fingerprint covers precisely the files a scan would read.

    Because every mutating op swaps whole partition directories with
    job-unique part-file names and parquet files are immutable,
    fingerprint equality across a window PROVES no data commit landed
    in it: a commit anywhere — replaced files, a new partition dir, new
    files in a dir the delete references nothing in (ADVICE r15) —
    changes at least one name. Returns None above ``cap`` files (too
    big to fingerprint cheaply; the caller falls back to re-staging
    under the lock)."""
    if cap is None:
        cap = _DV_FILE_CAP  # read at call time so tests can lower it

    def ls(rel: str, want_dirs: bool) -> list[str]:
        return [
            name for name, is_dir in storage.list_dir(
                spark, base if not rel else f"{base}/{rel}"
            )
            if is_dir == want_dirs and name[:1] not in ("_", ".")
        ]

    dirs = [""]
    for _ in range(nseg - 1):
        dirs = [
            name if not rel else f"{rel}/{name}"
            for rel in dirs for name in ls(rel, True)
        ]
    out: dict[str, frozenset] = {}
    total = 0
    for rel in dirs:
        if not storage.exists(spark, base if not rel else f"{base}/{rel}"):
            continue
        names = set(ls(rel, False))
        total += len(names)
        if total > cap:
            return None
        out[rel] = frozenset(names)
    return out


def _gc_dv_staging(spark: SparkSession, base: str) -> None:
    """Reap `staging-*` dirs a CRASHED dv delete left in `_deletes`
    (never published → never applied; a LIVE writer's staging is
    younger than the lock lease, so age-gate like lock GC)."""
    import time as _time

    root = _dv_root(base)
    jvm, fs = storage.fs(spark, root)
    Path = jvm.org.apache.hadoop.fs.Path
    p = Path(root)
    if not fs.exists(p):
        return
    for st in fs.listStatus(p):
        name = st.getPath().getName()
        if not (st.isDirectory() and name.startswith("staging-")):
            continue
        age = (_time.time() * 1000 - st.getModificationTime()) / 1000.0
        if age > _DV_STAGING_LEASE_S:
            fs.delete(st.getPath(), True)


def _rel_expr(nseg: int):
    """The file-identity Column: last ``nseg`` path segments of
    ``_metadata.file_path`` (partition dirs + file name) — the part of
    the path that survives retention renames."""
    return F.concat_ws(
        "/",
        F.slice(F.split(F.col("_metadata.file_path"), "/"), -nseg, nseg),
    )


def _dv_frame(
    spark: SparkSession, entries: list[tuple[str, dict]]
) -> tuple[DataFrame, int] | None:
    """(distinct tombstones, nseg) for the given (root, entry) pairs,
    or None when empty. All entries of one table share a segment count
    (the partition layout is fixed); mixed counts refuse loudly rather
    than mis-match file identities."""
    if not entries:
        return None
    nsegs = {e["nseg"] for _r, e in entries}
    if len(nsegs) != 1:
        raise ValueError(
            f"deletion vectors disagree on path depth ({sorted(nsegs)}) "
            "— was the table's partition layout changed with vectors "
            "pending? materialize_deletes before re-partitioning"
        )
    paths = [f"{root}/{e['name']}" for root, e in entries]
    dv = spark.read.schema(_DV_SCHEMA).parquet(*paths)
    if len(paths) > 1:
        # two deletes may tombstone the same physical row (overlapping
        # conditions) — the anti join is idempotent but counts are not.
        # WITHIN one vector rows are unique by construction, so the
        # single-vector case (the common read) skips the exchange.
        dv = dv.distinct()
    return dv, nsegs.pop()


def apply_deletion_vectors(
    scan: DataFrame, dv: DataFrame, nseg: int
) -> DataFrame:
    """Filter a parquet-scan DataFrame through tombstones: LEFT ANTI
    JOIN on (rel_path, row_index). ``scan`` must be a direct file scan
    (``_metadata`` resolvable — before any join/union)."""
    cols = scan.columns
    keyed = scan.select(
        "*",
        _rel_expr(nseg).alias("__dv_rel"),
        F.col("_metadata.row_index").alias("__dv_ri"),
    )
    d = dv.select(
        F.col("rel_path").alias("__t_rel"),
        F.col("row_index").alias("__t_ri"),
    )
    out = keyed.join(
        d,
        (keyed["__dv_rel"] == d["__t_rel"])
        & (keyed["__dv_ri"] == d["__t_ri"]),
        "left_anti",
    )
    return out.select(*cols)


def _live_dv(spark: SparkSession, base: str) -> tuple[DataFrame, int] | None:
    root = _dv_root(base)
    return _dv_frame(
        spark, [(root, e) for e in _list_dv(spark, root)]
    )


def read_table(spark: SparkSession, target_path: str) -> DataFrame:
    """The table's LIVE logical state: the plain parquet read with any
    pending deletion vectors anti-joined away. Without vectors this IS
    ``spark.read.parquet`` (zero overhead); with them, one anti join
    against a (typically broadcast) tombstone set. Use this instead of
    a raw read wherever merge-on-read deletes may be in play."""
    base = target_path.rstrip("/")
    scan = spark.read.parquet(base)
    live = _live_dv(spark, base)
    if live is None:
        return scan
    dv, nseg = live
    return apply_deletion_vectors(scan, dv, nseg)


def _applicable_dv(
    spark: SparkSession, base: str, version: int,
    manifests: dict[int, dict] | None = None,
) -> tuple[DataFrame, int] | None:
    """Tombstones a version-``version`` read must honor: live vectors
    committed at or before it, plus ARCHIVED vectors (materialized at
    ``mat``) for reads older than their materialization — reads at or
    past ``mat`` see the rewritten files, whose fresh names no archived
    rel_path can match. ``manifests`` (the caller's already-scanned
    history entries) enables the self-heal path: a crash between a
    FULL-mode materialization swap and its archive rename leaves the
    vectors inside the retained ``v<M>`` dir (the full rename carried
    ``_deletes`` along) — those read as archived with ``mat = M``."""
    entries: list[tuple[str, dict]] = []
    root = _dv_root(base)
    for e in _list_dv(spark, root):
        if e["version"] <= version:
            entries.append((root, e))
    arch = _dv_archive_root(base)
    for e in _list_dv(spark, arch):
        if e["version"] <= version and (
            e["mat"] is None or version < e["mat"]
        ):
            entries.append((arch, e))
    if manifests:
        from config_driven_pyspark_spark.operators.history import (
            _hist_root,
        )

        hist = _hist_root(base)
        for k, man in manifests.items():
            # op "dv_materialize", or any rewrite that FOLDED pending
            # vectors into its own swap (r16 merge fold — flagged
            # `dv_absorbed` in the manifest): a crash between its
            # full-mode swap and the archive rename leaves the vectors
            # inside the retained v<k> dir
            if not (
                (
                    man.get("op") == "dv_materialize"
                    or man.get("dv_absorbed")
                )
                and man.get("mode") == "full"
                and version < k
            ):
                continue
            sub = f"{hist}/v{k}/{_DV_DIRNAME}"
            for e in _list_dv(spark, sub):
                if e["version"] <= version:
                    entries.append((sub, e))
    return _dv_frame(spark, entries)


def delete_where_dv(
    spark: SparkSession,
    target_path: str,
    condition: str,
    partition_by: list[str] | None = None,
) -> dict:
    """Merge-on-read ``DELETE FROM ... WHERE``: write a positional
    deletion vector instead of rewriting data files. Runs under the
    same partition-scoped writer lock as the rewriting ops (scope = the
    partitions holding matched rows), commits a history version on
    versioned tables (``mode: "dv"`` — time travel below it still sees
    the rows, CDF reports them as deletes), and touches ZERO data
    files. Returns ``{n_before, n_matched, n_after, rewrite: "dv"}``.
    A zero-match condition writes nothing (``rewrite: "none"``)."""
    if not condition:
        raise ValueError(
            "a WHERE condition is required — to drop a whole table, "
            "overwrite it instead of tombstoning every row"
        )
    cond = F.coalesce(F.expr(condition), F.lit(False))
    return _dv_delete_core(
        spark, target_path, partition_by,
        lambda df: (df, cond), what=repr(condition),
    )


def delete_matching_dv(
    spark: SparkSession,
    target_path: str,
    keys_df: DataFrame,
    keys: list[str],
    partition_by: list[str] | None = None,
) -> dict:
    """Merge-on-read delete BY KEY SET — the CDC-tombstone shape: every
    target row whose ``keys`` match a row of ``keys_df`` is tombstoned
    (null-safe, like the merge's own key match), no data file touched.
    This is what a delete-only merge batch wants at scale: the batch is
    small (broadcast side of the membership join), the target scan is
    one predicate-pruned pass, and the write is ∝ deleted rows — used
    by ``merge_upsert(delete_mode="merge_on_read")``."""
    for k in keys:
        if k not in keys_df.columns:
            raise ValueError(f"keys_df is missing key column {k!r}")
    marked = keys_df.select(
        *[F.col(k).alias(f"__del_{k}") for k in keys]
    ).distinct().withColumn("__del", F.lit(True))

    def attach(df: DataFrame):
        cond = None
        for k in keys:
            e = df[k].eqNullSafe(marked[f"__del_{k}"])
            cond = e if cond is None else cond & e
        joined = df.join(marked, cond, "left").drop(
            *[f"__del_{k}" for k in keys]
        )
        return joined, F.col("__del").isNotNull()

    out = _dv_delete_core(
        spark, target_path, partition_by, attach,
        what=f"keys in batch ({keys})",
    )
    return out


def _dv_delete_core(
    spark: SparkSession,
    target_path: str,
    partition_by: list[str] | None,
    attach,
    what: str,
) -> dict:
    """Shared merge-on-read delete machinery: ``attach(keyed_df) ->
    (df, cond Column)`` supplies the match — a SQL predicate
    (:func:`delete_where_dv`) or a key-set membership join
    (:func:`delete_matching_dv`)."""
    from config_driven_pyspark_spark.operators import history as _hist
    from config_driven_pyspark_spark.operators.table import (
        _MAX_SCOPED_PARTITIONS,
        _LockConflict,
        _WriterLock,
        _layout_matches,
        _recover_crashed_swap,
    )

    base = target_path.rstrip("/")
    jvm, fs = storage.fs(spark, base)
    Path = jvm.org.apache.hadoop.fs.Path
    if not fs.exists(Path(base)):
        raise ValueError(f"no snapshot at {target_path!r}")
    _recover_crashed_swap(spark, base)
    _gc_dv_staging(spark, base)
    scoped = bool(partition_by) and _layout_matches(
        spark, base, partition_by
    )
    nseg = len(partition_by or []) + 1
    # tombstone identity = partition dirs + file name, so the declared
    # depth MUST match the on-disk layout: one dynamic-partition write
    # task creates same-named part files in SIBLING partition dirs, and
    # a depth-1 rel_path would tombstone rows in all of them
    from config_driven_pyspark_spark.operators.table import (
        _list_partition_dirs,
    )

    if partition_by and not scoped:
        raise ValueError(
            f"partition_by={partition_by} does not match the on-disk "
            f"layout of {base!r} — merge-on-read tombstone identities "
            "depend on the real partition-path depth"
        )
    if not partition_by and _list_partition_dirs(spark, base, 1):
        raise ValueError(
            f"{base!r} is hive-partitioned — pass partition_by so "
            "tombstone identities include the partition path (part "
            "file names are only unique within a directory)"
        )

    tbl_schema: list = []  # table schema seen by the LAST scan (r16:
    # recorded in the version manifest so historical reads skip
    # schema inference; the authoritative pass's view wins)

    def keyed_live() -> DataFrame:
        """The live logical state with each row's (rel_path, row_index)
        identity MATERIALIZED as ordinary columns — computed on the raw
        scan, because ``_metadata`` stops resolving once the DV anti
        join (itself a file scan on the right) enters the plan."""
        scan = spark.read.parquet(base)
        tbl_schema[:] = [scan.schema]
        keyed = scan.select(
            "*",
            _rel_expr(nseg).alias("__dv_rel"),
            F.col("_metadata.row_index").alias("__dv_ri"),
        )
        prior = _live_dv(spark, base)
        if prior is not None:
            d = prior[0].select(
                F.col("rel_path").alias("__t_rel"),
                F.col("row_index").alias("__t_ri"),
            )
            keyed = keyed.join(
                d,
                (keyed["__dv_rel"] == d["__t_rel"])
                & (keyed["__dv_ri"] == d["__t_ri"]),
                "left_anti",
            )
        return keyed

    # r15/r16 single-pass flow (guide §1.2): the old shape paid THREE
    # full passes over the target — a pre-lock probe (lock scope), an
    # under-lock re-probe (authoritative counts), and the tombstone
    # write. Now the first pass IS the write: scan+match+stage the
    # tombstones pre-lock, with n_before/n_matched OBSERVED on the same
    # execution, derive the lock scope from the STAGED tombstones, and
    # under the lock validate with filesystem listings (no data pass)
    # that nothing the scan depended on moved in the window:
    #   (a) the `_deletes` listing still equals the set the scan
    #       anti-joined — a racer's vector in the window would skew
    #       n_matched and double-count already-deleted rows;
    #   (b) the table's WHOLE data-file fingerprint (dir → file-name
    #       set, `_data_fingerprint`) is unchanged — every mutating op
    #       swaps whole partition directories with job-unique part
    #       names and parquet files are immutable, so equality proves
    #       no data commit landed anywhere in the window: not on the
    #       referenced files, not in a new partition dir, not in a dir
    #       the staged tombstones reference no files in (the two
    #       ADVICE-r15 escapes of the per-referenced-file check this
    #       replaces — a commit the old check missed could add
    #       predicate-matching rows that silently survive, or strand
    #       tombstones pointing at replaced names).
    # Either failure aborts with the retryable conflict, staging
    # removed. A table above _DV_FILE_CAP data files skips the
    # fingerprint and instead RE-STAGES the tombstones under the lock —
    # the publish is then computed against the locked live state, so
    # no window exists at all (one extra pass, only for huge tables).
    from pyspark.sql import Observation

    def _stage_tombstones() -> tuple[str, int, int]:
        live2, cond = attach(keyed_live())
        obs = Observation()
        tomb = (
            live2.observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.sum(cond.cast("long")).alias("n_m"),
            )
            .filter(cond)
            .select(
                F.col("__dv_rel").alias("rel_path"),
                F.col("__dv_ri").alias("row_index"),
            )
        )
        # no leading dot: Spark's reader silently ignores dot-paths
        # even when named explicitly, which would zero the staged count
        t = f"{_dv_root(base)}/staging-{uuid.uuid4().hex[:8]}"
        tomb.write.mode("overwrite").parquet(t)
        got = obs.get
        return t, int(got["n"]), int(got["n_m"] or 0)

    # tombstone-sized job: durability check (the staged files read back
    # whole) + the partition dirs the vector actually touches
    saggs = [F.count(F.lit(1)).alias("n")]
    if scoped:
        saggs.append(
            F.slice(
                F.collect_set(
                    F.concat_ws(
                        "/",
                        F.slice(F.split("rel_path", "/"), 1, nseg - 1),
                    )
                ),
                1, _MAX_SCOPED_PARTITIONS + 1,
            ).alias("__dirs")
        )

    def _staged_info(t: str) -> tuple[int, list[str] | None]:
        staged = spark.read.schema(_DV_SCHEMA).parquet(t)
        srow = staged.agg(*saggs).collect()[0]
        n_st = int(srow["n"])
        d = None
        if scoped and len(srow["__dirs"]) <= _MAX_SCOPED_PARTITIONS:
            d = sorted(srow["__dirs"])
        return n_st, d

    fp0 = _data_fingerprint(spark, base, nseg)
    dv_seen = sorted(e["name"] for e in _list_dv(spark, _dv_root(base)))
    tmp, n_before, n_matched = _stage_tombstones()
    if n_matched == 0:
        fs.delete(Path(tmp), True)
        return {"n_before": n_before, "n_matched": 0,
                "n_after": n_before, "rewrite": "none"}
    n_staged, dirs = _staged_info(tmp)
    if n_staged != n_matched:
        fs.delete(Path(tmp), True)
        raise ValueError(
            f"staged {n_staged} tombstones but {n_matched} rows "
            "matched the probe — snapshot changed underneath; "
            "aborted, nothing deleted"
        )
    scope = list(dirs) if dirs is not None else None
    with _WriterLock(spark, base, scope=scope):
        now = sorted(e["name"] for e in _list_dv(spark, _dv_root(base)))
        if now != dv_seen:
            fs.delete(Path(tmp), True)
            raise _LockConflict(
                f"deletion vector(s) of {base!r} changed while this "
                f"delete ({what}) staged its tombstones — its counts "
                "and matches were computed against the earlier vector "
                "set; re-run the delete (it re-reads the live state), "
                "or set the lock wait to retry automatically"
            )
        if fp0 is not None:
            if _data_fingerprint(spark, base, nseg) != fp0:
                fs.delete(Path(tmp), True)
                raise _LockConflict(
                    f"data files of {base!r} were committed while this "
                    f"delete ({what}) staged its tombstones — the "
                    "staged matches and counts no longer describe the "
                    "live snapshot; re-run the delete (it re-reads the "
                    "live state), or set the lock wait to retry "
                    "automatically"
                )
        else:
            # huge table (>_DV_FILE_CAP files): re-stage under the lock
            # — authoritative against the locked state, so a
            # count-preserving rewrite in the window can never publish
            # tombstones against dead file names (ADVICE r15)
            fs.delete(Path(tmp), True)
            tmp, n_before, n_matched = _stage_tombstones()
            if n_matched == 0:
                fs.delete(Path(tmp), True)
                return {"n_before": n_before, "n_matched": 0,
                        "n_after": n_before, "rewrite": "none"}
            n_staged, dirs2 = _staged_info(tmp)
            if n_staged != n_matched:
                fs.delete(Path(tmp), True)
                raise ValueError(
                    f"staged {n_staged} tombstones but {n_matched} "
                    "rows matched the probe — snapshot changed "
                    "underneath; aborted, nothing deleted"
                )
            if scope is not None and (
                dirs2 is None or not set(dirs2) <= set(scope)
            ):
                fs.delete(Path(tmp), True)
                raise _LockConflict(
                    f"rows matching {what} moved while this delete "
                    f"staged its tombstones (concurrent writer on "
                    f"{base!r}) — re-run the delete, or set the lock "
                    "wait to retry automatically"
                )
            dirs = dirs2
        retain = _hist.begin_retention(spark, base, partition_by)
        name = (
            f"dv_v{retain or 0:06d}_s{nseg}_{uuid.uuid4().hex[:8]}"
        )
        if not fs.rename(Path(tmp), Path(f"{_dv_root(base)}/{name}")):
            fs.delete(Path(tmp), True)
            if retain is not None:
                _hist.abort_retention(spark, base, retain)
            raise IOError(
                f"could not publish deletion vector {name!r} for {base!r}"
            )
        if retain is not None:
            _hist.commit_retention(
                spark, base, retain, None, op="delete", mode="dv",
                replaced=[], created=[], rows_staged=n_matched,
                dv_dirs=sorted(dirs) if dirs is not None else None,
                schema_json=(
                    json.dumps(
                        _hist._nullable_schema(tbl_schema[0]).jsonValue()
                    )
                    if tbl_schema else None
                ),
            )
    return {
        "n_before": n_before,
        "n_matched": n_matched,
        "n_after": n_before - n_matched,
        "rewrite": "dv",
    }


def coalesce_deletes(
    spark: SparkSession,
    target_path: str,
    partition_by: list[str] | None = None,
    min_vectors: int = 2,
) -> dict:
    """Merge all PENDING deletion vectors into ONE — no data rewrite.

    A tombstone trickle (daily GDPR erasure batches) leaves one
    ``_deletes/dv_*`` dir per delete batch, and every DV-aware read
    lists and unions all of them (VERDICT r14 gap #2). Coalescing caps
    that read-side fan-in at ONE vector without paying
    :func:`materialize_deletes`'s data-file rewrites: union+distinct
    the pending tombstones (bytes ∝ tombstones, never table size),
    publish them as one new vector, retire the inputs.

    Versioned tables commit the coalesce like a delete (new version
    ``V``): the coalesced vector carries ``v=V`` and the inputs are
    ARCHIVED under ``__history/_dv`` tagged ``_m{V}``, so reads below
    ``V`` still consult the originals while reads at or past ``V`` use
    only the coalesced one — union(inputs) == coalesced, every version
    sees the same logical state, and the CDF diff across ``V`` is
    empty (``dv_dirs=[]`` keeps CDF/restore scoping tight).
    Unversioned tables delete the inputs after the coalesced vector is
    live; a crash in the window leaves duplicate tombstones, which the
    anti join dedupes (``_dv_frame`` is distinct across vectors).

    Returns ``{n_vectors_in, n_tombstones, n_vectors_out, version}``
    (``version`` None when unversioned or no-op).
    """
    from config_driven_pyspark_spark.operators import history as _hist
    from config_driven_pyspark_spark.operators.table import (
        _WriterLock,
        _recover_crashed_swap,
    )

    base = target_path.rstrip("/")
    jvm, fs = storage.fs(spark, base)
    Path = jvm.org.apache.hadoop.fs.Path
    if not fs.exists(Path(base)):
        raise ValueError(f"no snapshot at {target_path!r}")
    if len(_list_dv(spark, _dv_root(base))) < max(2, min_vectors):
        return {"n_vectors_in": 0, "n_tombstones": 0,
                "n_vectors_out": 0, "version": None}
    _recover_crashed_swap(spark, base)
    _gc_dv_staging(spark, base)
    # the coalesce touches only `_deletes` but must not interleave with
    # a rewrite's absorb/swap — global lock, the op is tombstone-sized
    with _WriterLock(spark, base, scope=None):
        entries = _list_dv(spark, _dv_root(base))  # authoritative
        if len(entries) < max(2, min_vectors):
            return {"n_vectors_in": 0, "n_tombstones": 0,
                    "n_vectors_out": 0, "version": None}
        dv, nseg = _dv_frame(
            spark, [(_dv_root(base), e) for e in entries]
        )
        if nseg != len(partition_by or []) + 1:
            raise ValueError(
                f"deletion vectors of {base!r} were written at "
                f"partition depth {nseg - 1} but coalesce_deletes was "
                f"called with partition_by={partition_by} — pass the "
                "table's real partition columns"
            )
        n_tomb = dv.count()
        tmp = f"{_dv_root(base)}/staging-{uuid.uuid4().hex[:8]}"
        from pyspark.sql import Observation

        # staged count observed on the write's own execution (r15) —
        # comparing it to the separately-counted n_tomb keeps the
        # cross-execution consistency check without a third read
        cobs = Observation()
        dv.observe(cobs, F.count(F.lit(1)).alias("n")).coalesce(
            1
        ).write.mode("overwrite").parquet(tmp)
        n_staged = int(cobs.get["n"])
        if n_staged != n_tomb:
            fs.delete(Path(tmp), True)
            raise ValueError(
                f"staged {n_staged} coalesced tombstones but the "
                f"pending vectors hold {n_tomb} — aborted, inputs "
                "untouched"
            )
        retain = _hist.begin_retention(spark, base, partition_by)
        name = f"dv_v{retain or 0:06d}_s{nseg}_{uuid.uuid4().hex[:8]}"
        if not fs.rename(Path(tmp), Path(f"{_dv_root(base)}/{name}")):
            fs.delete(Path(tmp), True)
            if retain is not None:
                _hist.abort_retention(spark, base, retain)
            raise IOError(
                f"could not publish coalesced deletion vector {name!r} "
                f"for {base!r}"
            )
        if retain is not None:
            arch = _dv_archive_root(base)
            fs.mkdirs(Path(arch))
            for e in entries:
                new = re.sub(
                    r"_s(\d+)_", rf"_s\1_m{retain:06d}_",
                    e["name"], count=1,
                )
                if not fs.rename(
                    Path(f"{_dv_root(base)}/{e['name']}"),
                    Path(f"{arch}/{new}"),
                ):
                    raise IOError(
                        f"coalesced input vector {e['name']!r} of "
                        f"{base!r} could not be archived — older "
                        "versions would double-apply; fix the "
                        "filesystem and re-run coalesce_deletes"
                    )
            _hist.commit_retention(
                spark, base, retain, None, op="coalesce", mode="dv",
                replaced=[], created=[], rows_staged=n_tomb,
                dv_dirs=[],
            )
        else:
            for e in entries:
                fs.delete(Path(f"{_dv_root(base)}/{e['name']}"), True)
    return {"n_vectors_in": len(entries), "n_tombstones": n_tomb,
            "n_vectors_out": 1, "version": retain}


def _archive_absorbed(
    spark: SparkSession,
    base: str,
    entries: list[dict],
    full_swap: bool,
    what: str = "materialize_deletes",
) -> None:
    """Post-swap bookkeeping for pending vectors a rewrite ABSORBED
    (materialization, or a merge folding pending vectors into its own
    rewrite — r16): archive them under ``__history/_dv`` re-tagged with
    the just-committed version (older versions still consult them;
    reads at or past it see the rewritten files) on versioned tables,
    delete them on unversioned ones. ``full_swap``: the swap renamed
    the whole pre-state — ``_deletes`` included — into the retained
    version dir, so the vectors to archive now live there; a scoped
    swap left them in the live ``_deletes`` dir."""
    from config_driven_pyspark_spark.operators import history as _hist

    jvm, fs = storage.fs(spark, base)
    Path = jvm.org.apache.hadoop.fs.Path
    if _hist.history_enabled(spark, base):
        from config_driven_pyspark_spark.operators.history import _hist_root

        mat = _hist.table_current_version(spark, base)
        arch = _dv_archive_root(base)
        fs.mkdirs(Path(arch))
        src_root = (
            f"{_hist_root(base)}/v{mat}/{_DV_DIRNAME}"
            if full_swap
            else _dv_root(base)
        )
        for e in entries:
            # re-tag with the absorbing version so vacuum knows when
            # no readable version needs this vector anymore
            new = re.sub(
                r"_s(\d+)_", rf"_s\1_m{mat:06d}_", e["name"], count=1
            )
            if not fs.rename(
                Path(f"{src_root}/{e['name']}"), Path(f"{arch}/{new}")
            ):
                raise IOError(
                    f"absorbed deletion vector {e['name']!r} of "
                    f"{base!r} could not be archived from {src_root!r} "
                    "— older versions would read resurrected rows; "
                    f"fix the filesystem and re-run {what}"
                )
    else:
        for e in entries:
            fs.delete(Path(f"{_dv_root(base)}/{e['name']}"), True)


def materialize_deletes(
    spark: SparkSession,
    target_path: str,
    partition_by: list[str] | None = None,
) -> dict:
    """Absorb pending deletion vectors into real file rewrites — the
    compaction-side of merge-on-read. Only the partitions holding
    tombstoned rows are rewritten (standard verified scoped swap);
    applied vectors are archived under ``__history/_dv`` on versioned
    tables (older versions still consult them; vacuum drops them once
    no readable version predates the materialization) and deleted on
    unversioned ones. No pending vectors = no-op. Returns
    ``{n_vectors, n_tombstones, n_after, rewrite}``."""
    from config_driven_pyspark_spark.operators import history as _hist
    from config_driven_pyspark_spark.operators.table import (
        _KEEP,
        _MAX_SCOPED_PARTITIONS,
        _layout_matches,
        _read_batch_marker,
        _recover_crashed_swap,
        _stage_verify_swap,
    )

    base = target_path.rstrip("/")
    entries = _list_dv(spark, _dv_root(base))
    if not entries:
        return {"n_vectors": 0, "n_tombstones": 0, "n_after": None,
                "rewrite": "none"}
    _recover_crashed_swap(spark, base)
    _gc_dv_staging(spark, base)
    dv, nseg = _dv_frame(
        spark, [(_dv_root(base), e) for e in entries]
    )
    if nseg != len(partition_by or []) + 1:
        raise ValueError(
            f"deletion vectors of {base!r} were written at partition "
            f"depth {nseg - 1} but materialize_deletes was called with "
            f"partition_by={partition_by} — pass the table's real "
            "partition columns (a mismatched rewrite would change the "
            "on-disk layout)"
        )
    scoped = bool(partition_by) and _layout_matches(
        spark, base, partition_by
    )
    touched: list[str] | None = None
    if scoped:
        # partition dirs = the rel paths' leading segments; tombstones
        # are bounded by deleted rows, the distinct dirs by the cap
        drows = (
            dv.select(
                F.concat_ws(
                    "/", F.slice(F.split("rel_path", "/"), 1, nseg - 1)
                ).alias("d")
            )
            .distinct()
            .limit(_MAX_SCOPED_PARTITIONS + 1)
            .collect()
        )
        if len(drows) <= _MAX_SCOPED_PARTITIONS:
            touched = sorted(r["d"] for r in drows)
    scan = (
        spark.read.option("basePath", base).parquet(
            *[f"{base}/{d}" for d in touched]
        )
        if touched is not None
        else spark.read.parquet(base)
    )
    keyed = scan.select(
        "*",
        _rel_expr(nseg).alias("__dv_rel"),
        F.col("_metadata.row_index").alias("__dv_ri"),
    )
    d = dv.select(
        F.col("rel_path").alias("__t_rel"),
        F.col("row_index").alias("__t_ri"),
    )
    jcond = (keyed["__dv_rel"] == d["__t_rel"]) & (
        keyed["__dv_ri"] == d["__t_ri"]
    )
    # dead = tombstones that still hit live rows (a vector whose file a
    # crash-recovered swap already replaced hits nothing — harmless).
    # ONE pass for n_scope + n_dead (r15, guide §1.2): tombstones are
    # distinct per (rel_path, row_index), so the left join is row-
    # preserving and count(*) over it IS the scope count the old
    # zero-column scan measured separately.
    prow = keyed.join(d, jcond, "left").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("__t_rel").isNotNull().cast("long")).alias("n_dead"),
    ).collect()[0]
    n_scope = int(prow["n"])
    n_dead = int(prow["n_dead"] or 0)
    n_tomb = dv.count()
    out = keyed.join(d, jcond, "left_anti").drop("__dv_rel", "__dv_ri")
    markers: dict[str, int] = {}
    root_marker = None
    if touched is not None:
        for pdir in touched:
            m = _read_batch_marker(spark, f"{base}/{pdir}")
            if m is not None:
                markers[pdir] = m
    else:
        root_marker = _read_batch_marker(spark, base)
    _stage_verify_swap(
        out, base, n_scope - n_dead, partition_by,
        f"({n_scope} rows in scope - {n_dead} live tombstones)",
        touched_dirs=touched,
        marker_batch_id=root_marker,
        partition_markers=markers or None,
        # dropping tombstoned rows leaves the key ranges valid-or-wide
        sidecars=_KEEP,
        op="dv_materialize",
        # re-checked under the swap lock (ADVICE r14): a vector
        # committed after the listing above would be silently lost by
        # this rewrite — the swap aborts retryably unless the live
        # _deletes listing still equals exactly the absorbed set
        dv_expected=[e["name"] for e in entries],
    )
    _archive_absorbed(
        spark, base, entries, full_swap=touched is None,
        what="materialize_deletes",
    )
    # the _deletes dir itself stays (empty) — harmless, one listing
    return {
        "n_vectors": len(entries),
        "n_tombstones": n_tomb,
        "n_after": n_scope - n_dead,
        "rewrite": "partition" if touched is not None else "full",
    }


def stage_table_read(df, spec: dict, spark: SparkSession | None = None):
    """``{"stage": "table_read", "path": ...}`` — source-like DV-aware
    read of a table's live logical state."""
    s = spark if spark is not None else df.sparkSession
    return read_table(s, spec["path"])


def stage_dv_materialize(df: DataFrame, spec: dict) -> DataFrame:
    """``{"stage": "dv_materialize", "path": ...,
    "partition_by": [...]?}`` — absorbs pending deletion vectors into
    file rewrites and returns the post-materialization table."""
    materialize_deletes(
        df.sparkSession, spec["path"], spec.get("partition_by")
    )
    return read_table(df.sparkSession, spec["path"])


def stage_dv_coalesce(
    df, spec: dict, spark: SparkSession | None = None
) -> DataFrame:
    """``{"stage": "dv_coalesce", "path": ..., "partition_by": [...]?,
    "min_vectors": N?}`` — merges pending deletion vectors into one
    (no data rewrite) and returns the table's live state. Source-like:
    usable as a pipeline's first stage."""
    s = spark if spark is not None else df.sparkSession
    coalesce_deletes(
        s, spec["path"], spec.get("partition_by"),
        min_vectors=int(spec.get("min_vectors", 2)),
    )
    return read_table(s, spec["path"])


def dv_housekeeping(
    spark: SparkSession,
    target_path: str,
    partition_by: list[str] | None,
    coalesce_after: int | None = None,
    materialize_after: int | None = None,
) -> None:
    """Post-delete vector hygiene for trickle workloads: when the
    pending-vector count reaches ``materialize_after``, absorb them
    into file rewrites; else when it reaches ``coalesce_after``, merge
    them into one vector (no rewrite). Config delete stages expose
    both knobs so a daily GDPR pipeline self-bounds its read-side
    vector fan-in without a separate maintenance job."""
    if not coalesce_after and not materialize_after:
        return
    n = len(_list_dv(spark, _dv_root(target_path.rstrip("/"))))
    if materialize_after and n >= materialize_after:
        materialize_deletes(spark, target_path, partition_by)
    elif coalesce_after and n >= coalesce_after:
        coalesce_deletes(spark, target_path, partition_by)

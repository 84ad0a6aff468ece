"""Mutable-table maintenance over plain parquet — MERGE/upsert.

Capability gap vs the reference (SURVEY.md §2C sinks): production
pipelines apply CDC batches (upserts + deletes) to large snapshots.
Table formats (Delta/Iceberg/Hudi) ship this as MERGE INTO but live in
external packages (gated in sources/readers.py); this operator provides
the core semantics engine-native over plain parquet directories, with
the same crash-safe atomic-swap discipline as
``similarity.ivf_compact_index``:

- rewrite goes to a sibling staging directory,
- the staged snapshot is row-count-verified BEFORE the swap (a short
  write can never replace a good snapshot),
- the swap is FS renames with rollback on failure,
- debris from a crashed earlier merge is RECOVERED (never deleted while
  it is the only surviving copy) before the new merge starts.

Semantics = the common MERGE INTO subset: match on ``keys``; matched
rows are replaced by the source row (update-all), unmatched source rows
insert, and rows whose ``delete_col`` is true delete (matched) or are
ignored (unmatched). Source keys must be unique — multiple source rows
matching one target row is the same ambiguity Delta's MERGE rejects,
and it raises here too.

Scale: one anti-join of the snapshot against the batch keys (CDC
batches are small next to snapshots — AQE broadcasts the build side
from runtime stats) + one union + one partitioned write. The snapshot
never collects; stats actions (counts) are aggregate-only jobs.

Write amplification: when ``partition_by`` is set, the rewrite is
PARTITION-SCOPED — the batch's touched partition values are derived
with one small distinct (plus, when a partition column is not part of
the match keys, one read-only semi-join to find the partitions matched
rows currently live in), only those partition directories are rewritten
and swapped, and untouched partition files stay byte-identical. That is
the same file-skipping discipline Delta/Iceberg/Hudi MERGE applies at
file granularity, here at partition granularity. Without
``partition_by`` the whole snapshot is rewritten per batch — fine for
aggregate-sized tables, a scale-killer for fact snapshots; partition
large tables.

Read amplification: when every partition column is a match key,
matched rows provably live in batch-named partitions, so the stats
probe also runs against the PRUNED scope — the full snapshot is
touched only by one zero-column count (footer metadata). When a
partition column is NOT a key, the probe prunes on the ``_key_stats``
sidecar (per-partition min/max of each match key, maintained at swap
time — Delta-style data skipping) and falls back to a full probe when
the sidecar is missing or stale-wide.
"""

from __future__ import annotations

import json
import re
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from config_driven_pyspark_spark import storage

# a batch touching this many partitions is effectively a full rewrite —
# fall back rather than drive thousands of per-partition renames
_MAX_SCOPED_PARTITIONS = 4096

# characters Spark/Hive escape in partition directory names
# (ExternalCatalogUtils.escapePathName: control chars, '"', '#', '%',
# ''', '*', '/', ':', '=', '?', '\\', DEL, '{', '[', ']', '^')
_HIVE_ESCAPE_CHARS = set('"#%\'*/:=?\\{[]^\x7f')

# dropped into the live root just before a FULL swap's first rename (so
# it travels into the backup): a backup carrying it next to a live
# target means the swap COMPLETED and the backup is pure debris.
# Underscore prefix = invisible to the parquet reader.
_FULL_SWAP_MARKER = "_premerge_full"


def _hive_escape(value: str) -> str:
    return "".join(
        "%{:02X}".format(ord(ch))
        if ch in _HIVE_ESCAPE_CHARS or ord(ch) < 0x20
        else ch
        for ch in value
    )


def _partition_dir(partition_by: list[str], str_vals: dict) -> str:
    """Relative partition directory path (``p1=a/p2=b``) for one touched
    partition, using Hive's escaping so it matches what Spark writes."""
    segs = []
    for c in partition_by:
        v = str_vals[c]
        seg = (
            "__HIVE_DEFAULT_PARTITION__"
            if v is None or v == ""
            else _hive_escape(v)
        )
        segs.append(f"{_hive_escape(c)}={seg}")
    return "/".join(segs)


def _touched_partitions(
    parts_src: DataFrame, partition_by: list[str]
) -> tuple[list[str], Column, list[dict]] | None:
    """Distinct touched partition values from ``parts_src`` (a frame of
    just the partition columns). Returns ``(relative_dirs, prune_pred,
    value_dicts)`` or None when the touched set exceeds
    ``_MAX_SCOPED_PARTITIONS`` (the caller falls back to a full
    rewrite). One small distinct job; the collect is bounded by the
    touched-partition count."""
    rows = (
        parts_src.select(
            *[F.col(c) for c in partition_by],
            *[
                F.col(c).cast("string").alias(f"__s_{c}")
                for c in partition_by
            ],
        )
        .distinct()
        .limit(_MAX_SCOPED_PARTITIONS + 1)
        .collect()
    )
    if len(rows) > _MAX_SCOPED_PARTITIONS:
        return None
    vals = [r.asDict() for r in rows]
    dirs, pred = _dirs_and_pred(partition_by, vals)
    return dirs, pred, vals


def _dirs_and_pred(
    partition_by: list[str], val_dicts: list[dict]
) -> tuple[list[str], Column]:
    """Relative dirs + prune predicate from touched-partition value
    dicts (``{col: typed, "__s_<col>": str}``), deduped by directory."""
    dirs = []
    vals = []
    seen = set()
    for d in val_dicts:
        path = _partition_dir(
            partition_by, {c: d[f"__s_{c}"] for c in partition_by}
        )
        if path in seen:
            continue
        seen.add(path)
        dirs.append(path)
        vals.append(tuple(d[c] for c in partition_by))
    # '' and NULL are ONE equivalence class: both write to
    # __HIVE_DEFAULT_PARTITION__ and rows already in that directory read
    # back as NULL — a prune predicate matching only == '' would exclude
    # those survivors from the scoped rewrite and silently drop them
    # when the directory is swapped
    def _null_class(x) -> bool:
        return x is None or x == ""

    def _null_term(c: str, x) -> Column:
        # the == '' arm only when '' was actually observed (proves the
        # column is string-typed — ANSI mode would error casting '' for
        # a numeric partition column); NULL-only classes need only
        # isNull, since __HIVE_DEFAULT_PARTITION__ reads back as NULL
        term = F.col(c).isNull()
        return term | (F.col(c) == F.lit("")) if x == "" else term

    if len(partition_by) == 1:
        # IN-list instead of an OR-chain: at thousands of touched
        # partitions the chain bloats analysis/codegen, while In is a
        # single partition-filter node the file index prunes on
        col = F.col(partition_by[0])
        plain = [v[0] for v in vals if not _null_class(v[0])]
        pred = col.isin(plain) if plain else F.lit(False)
        nulls = [v[0] for v in vals if _null_class(v[0])]
        if nulls:
            pred = pred | _null_term(
                partition_by[0], "" if "" in nulls else None
            )
    else:
        preds = []
        for v in vals:
            conj = None
            for c, x in zip(partition_by, v):
                term = (
                    _null_term(c, x)
                    if _null_class(x) else F.col(c).eqNullSafe(F.lit(x))
                )
                conj = term if conj is None else (conj & term)
            preds.append(conj)
        pred = preds[0]
        for p in preds[1:]:
            pred = pred | p
    return dirs, pred


def _hive_unescape(seg: str) -> str:
    """Inverse of :func:`_hive_escape` for one directory segment."""
    import re as _re

    return _re.sub(
        r"%([0-9A-Fa-f]{2})", lambda m: chr(int(m.group(1), 16)), seg
    )


def _dir_prune_pred(partition_by: list[str], rel_dirs: list[str]) -> Column:
    """Prune predicate matching exactly the rows whose WRITTEN partition
    directory is one of ``rel_dirs`` — string-cast comparison, the same
    value→directory mapping :func:`_partition_dir` uses (NULL and ''
    both write ``__HIVE_DEFAULT_PARTITION__``, so that segment matches
    either; string casts never raise, even under ANSI). Used where the
    touched set is known only as directory NAMES (e.g. the partitions a
    pending deletion vector references), not as typed values."""
    def _null_term(c: str):
        return F.col(c).isNull() | (F.col(c).cast("string") == F.lit(""))

    if len(partition_by) == 1:
        # IN-list instead of an OR-chain (the _dirs_and_pred rationale:
        # at thousands of touched partitions the chain bloats
        # analysis/codegen, while In is one partition-filter node)
        c = partition_by[0]
        vals, has_null = [], False
        for d in rel_dirs:
            _, _, val = d.partition("=")
            if val == "__HIVE_DEFAULT_PARTITION__":
                has_null = True
            else:
                vals.append(_hive_unescape(val))
        pred = (
            F.col(c).cast("string").isin(vals) if vals else F.lit(False)
        )
        return pred | _null_term(c) if has_null else pred

    preds = []
    for d in rel_dirs:
        segs = d.split("/")
        conj = None
        for c, seg in zip(partition_by, segs):
            _, _, val = seg.partition("=")
            if val == "__HIVE_DEFAULT_PARTITION__":
                term = _null_term(c)
            else:
                term = F.col(c).cast("string") == F.lit(_hive_unescape(val))
            conj = term if conj is None else conj & term
        preds.append(conj)
    pred = preds[0]
    for p in preds[1:]:
        pred = pred | p
    return pred


def _widen_scope_with_dirs(
    touched: tuple[list[str], Column],
    extra_dirs: list[str],
    partition_by: list[str],
) -> tuple[list[str], Column]:
    """Widen a ``(dirs, prune_pred)`` rewrite scope with partitions
    known only by directory NAME (r16: the dirs a pending deletion
    vector references, so the merge's own rewrite absorbs it)."""
    dirs, pred = touched
    extra = sorted(set(extra_dirs) - set(dirs))
    if not extra:
        return touched
    return (
        sorted(set(dirs) | set(extra)),
        pred | _dir_prune_pred(partition_by, extra),
    )


def _cast_void_cols(target: DataFrame, like: DataFrame) -> DataFrame:
    """A partition column whose directories are all
    ``__HIVE_DEFAULT_PARTITION__`` reads back as VOID — there are no
    values to infer a type from (data columns are immune; their types
    come from the parquet footers). Cast such columns to the batch's
    type so key joins and struct comparisons analyze."""
    voids = {c for c, t in target.dtypes if t == "void" and c in like.columns}
    if not voids:
        return target
    return target.select(*[
        F.col(c).cast(like.schema[c].dataType).alias(c) if c in voids
        else F.col(c)
        for c in target.columns
    ])


def _layout_matches(
    spark: SparkSession, target_path: str, partition_by: list[str]
) -> bool:
    """True when the snapshot on disk is actually laid out as
    ``partition_by`` directories. A scoped swap against a mismatched
    layout (unpartitioned files, or different/missing partition levels)
    would leave the old copies in place next to the promoted partitions
    — fall back to a full rewrite, which re-lays the table out."""
    p = target_path
    for col in partition_by:
        kids = [
            name for name, is_dir in storage.list_dir(spark, p)
            if is_dir and "=" in name
        ]
        if not kids:
            return False
        prefix = _hive_escape(col) + "="
        if not all(name.startswith(prefix) for name in kids):
            return False
        p = f"{p}/{kids[0]}"
    return True


def _list_partition_dirs(spark: SparkSession, base: str, depth: int) -> list[str]:
    """Relative ``p=v[/q=w...]`` directories actually present under
    ``base``, to ``depth`` partition levels."""
    rels = [""]
    for _ in range(depth):
        rels = [
            name if not rel else f"{rel}/{name}"
            for rel in rels
            for name, is_dir in storage.list_dir(
                spark, base if not rel else f"{base}/{rel}"
            )
            if is_dir and "=" in name
        ]
    return rels


def _partition_files(
    spark: SparkSession, base: str, depth: int
) -> dict[str, list[str]]:
    """Relative data-file paths per relative partition directory, from
    ONE parallel listing. The alternative — one ``listStatus`` RPC per
    partition directory in a serial driver loop — is 10⁴–10⁵ namenode
    round-trips at 10⁴–10⁵ partitions before any compaction work
    starts. ``df.inputFiles`` reuses Spark's own InMemoryFileIndex:
    a driver thread pool below
    ``spark.sql.sources.parallelPartitionDiscovery.threshold`` (32
    dirs) and a distributed listing JOB above it — exactly the scale
    path a 10⁵-partition table needs — shipped to Python as one string
    array. Names decode back to the on-disk form (Path.toString
    percent-encodes), so Hive-escaped directories round-trip."""
    from urllib.parse import unquote, urlparse

    jvm, fs = storage.fs(spark, base)
    Path = jvm.org.apache.hadoop.fs.Path
    qbase = unquote(
        urlparse(fs.makeQualified(Path(base)).toString()).path
    ).rstrip("/")
    out: dict[str, list[str]] = {}
    try:
        files = spark.read.parquet(base).inputFiles()
    except Exception:
        # no readable data files (e.g. only _SUCCESS) — nothing to list
        return out
    for full in files:
        fp = unquote(urlparse(full).path)
        if not fp.startswith(qbase + "/"):
            continue
        segs = fp[len(qbase) + 1:].split("/")
        # exactly depth partition levels + the file itself; files at
        # other depths (root markers, stray dirs) are not table data
        if len(segs) != depth + 1:
            continue
        if any("=" not in s for s in segs[:depth]):
            continue
        if segs[-1].startswith(("_", ".")):
            continue
        d = "/".join(segs[:depth])
        out.setdefault(d, []).append("/".join(segs))
    return out


def _partition_file_counts(
    spark: SparkSession, base: str, depth: int
) -> dict[str, int]:
    """Data-file count per relative partition directory (see
    :func:`_partition_files` — same single parallel listing)."""
    return {
        d: len(fl)
        for d, fl in _partition_files(spark, base, depth).items()
    }


# ---------------------------------------------------------------------------
# _key_stats sidecar: per-partition min/max of each match key (Delta-style
# data skipping for the merge stats probe when partition_by is NOT a subset
# of the keys — the one case where the probe otherwise needs a full scan).
#
# Correctness discipline: a TOO-NARROW sidecar would hide a matched row and
# turn an update into a duplicate insert, so every crash window must leave
# the stats absent or too WIDE, never narrow. Each swapping op states one
# policy (:class:`_Sidecars`) and :func:`_stage_verify_swap_locked`
# applies it:
#   - ``keep``: content-preserving or row-removing rewrites (compaction,
#     deletes, updates of non-key columns) leave the entries as they are —
#     they stay valid or too wide;
#   - ``drop``: every other op (incremental_agg, restore, alter, merges the
#     sidecar cannot serve, updates of key columns) drops both sidecars
#     before the first rename of a scoped swap;
#   - ``maintain``: a scoped swap WIDENS the touched entries (least/greatest
#     of old and staged) under :class:`_SidecarMutex` before the promote, so
#     a rollback or crash leaves wide stats.
# A full swap replaces the root and the sidecars inside it whatever the
# policy; ``maintain`` then rebuilds exact stats after it lands.
# Partitions on disk but missing from the sidecar are always probed. Like
# Delta's log, the sidecar assumes no OTHER writer appends files behind the
# table ops' back (a plain .write.parquet overwrite removes the whole
# directory, sidecar included, so that path stays safe).
# ---------------------------------------------------------------------------

_KEY_STATS_DIR = "_key_stats"
_KEY_STATS_FILE = f"{_KEY_STATS_DIR}/stats.json"
_SIDECAR_TYPES = {
    "tinyint", "smallint", "int", "bigint", "float", "double",
    "string", "date", "boolean",
}


def _sidecar_supported(schema, keys: list[str]) -> bool:
    for k in keys:
        dt = schema[k].dataType.simpleString()
        if dt not in _SIDECAR_TYPES and not dt.startswith("timestamp"):
            return False
    return True


def _ser_stat(v):
    """JSON-safe, ORDER-PRESERVING encoding: dates/timestamps to ISO
    strings (lexicographic == chronological), numbers/strings/bools
    native. Both sides of every comparison go through this, so mixed
    representations never meet."""
    import datetime

    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    return v


def _read_key_stats(
    spark: SparkSession, base: str, keys: list[str] | None = None,
    superset: bool = False,
) -> dict | None:
    """The valid ``_key_stats`` doc, or None. With ``keys`` the doc must
    be keyed by exactly those columns (by a superset of them when
    ``superset``) — a doc about other keys says nothing about these."""
    doc = _read_json_doc(spark, f"{base.rstrip('/')}/{_KEY_STATS_FILE}")
    if (
        doc is None or doc.get("version") != 1
        or not isinstance(doc.get("keys"), list)
        or not isinstance(doc.get("partitions"), dict)
    ):
        return None
    have = doc["keys"]
    if keys is not None and not (
        set(keys) <= set(have) if superset else have == sorted(keys)
    ):
        return None
    return doc


def _write_key_stats(
    spark: SparkSession, base: str, keys: list[str], partitions: dict
) -> None:
    _write_json_doc(
        spark, f"{base.rstrip('/')}/{_KEY_STATS_FILE}",
        {"version": 1, "keys": sorted(keys), "partitions": partitions},
    )


def _delete_key_stats(spark: SparkSession, base: str) -> None:
    """Drops BOTH key sidecars — whatever invalidates the partition-level
    stats invalidates the file-level ones for the same reason. A ``drop``
    op calls it before its first rename (:func:`_sidecars_before_promote`),
    and a ``maintain`` op when the stats cannot be written safely (over
    the collect cap, or the sidecar mutex timed out or was reclaimed)."""
    storage.delete(spark, f"{base.rstrip('/')}/{_KEY_STATS_DIR}", True)
    _delete_file_stats(spark, base)


# ---------------------------------------------------------------------------
# _file_stats sidecar: per-FILE min/max of each match key — Delta-style file
# skipping INSIDE a partition directory (r13, VERDICT r12 ask #1). The
# partition-level _key_stats prunes which directories a probe/scan reads;
# within a hot directory every file was still read. This sibling records
# each data file's key ranges so the probe/scan reads only intersecting
# files — the win compounds with compaction's sort_within / z_order_by,
# which make files range-disjoint on the clustered key.
#
# Correctness discipline is SIMPLER than _key_stats because part files are
# immutable once promoted (job-unique names, content never edited in
# place): entries are EXACT, keyed by the file's base-relative path, and
# every consumer treats an on-disk file with NO entry as "must read".
# Crash windows therefore need no widening rule:
#   - stats for staged files are written BEFORE the promote; if the swap
#     rolls back, the entries name files that never appear — dead weight,
#     never wrong (lookups go disk -> doc, not doc -> disk);
#   - if the swap lands but the stats write was lost, the new files have
#     no entries and are always read;
#   - ``keep`` ops that rewrite files (update/delete, deletion-vector
#     materialization) leave new files unknown (read) and old entries
#     dangling (never consulted — their files are gone).
# Storage is SHARDED per partition directory (r14, VERDICT r13 ask #2 —
# Delta's multi-part-checkpoint shape): a tiny meta doc pins the key set
# and each directory's entries live in their own shard JSON, so a scoped
# swap rewrites exactly its touched dirs' shards and a pruning read loads
# only the candidate dirs' shards — per-commit sidecar I/O is bounded by
# the touched scope, never the table's file count. Disjoint-scope
# concurrent writers touch physically disjoint shard files. Caps apply
# per shard; past _MAX_FILE_STATS_FILES entries a shard drops (its files
# read as unknown — safe).
# ---------------------------------------------------------------------------

_FILE_STATS_DIR = "_file_stats"
_FILE_STATS_META = "_file_stats/meta.json"
_FILE_STATS_SHARDS = "_file_stats/shards"
# per-SHARD caps (r14: the sidecar is sharded per partition directory,
# so every bound applies to one directory's file count — a 10⁵-file
# table stays skippable as long as no single directory explodes)
_MAX_FILE_STATS_FILES = 100_000
# candidate-dir cap for file-level pruning reads: past this many
# shards, directory-granular reading is already the cheaper plan
_MAX_SHARD_READS = 256

# per-file BLOOM membership (r13): ranges prune point lookups only on
# range-CLUSTERED files; in the CDC steady state every merge writes
# unsorted batch files whose min/max span the whole key space, so a
# point lookup re-opens them all. A small per-(file, key) bloom — the
# Delta bloom-index analog one level ABOVE parquet's row-group blooms
# (those still require opening the footer) — prunes files by
# membership. 1024 bits / 4 probes ≈ 1.2% false-positive at ~100 keys
# per file, saturating harmlessly (FP→1 = "read it") on huge files.
# The hash is engine-portable integer math (two polynomial hashes of
# the value's STRING form combined with seeded salts mod 2³¹−1 — the
# simhash64 construction), so the DRIVER probes lookup values in pure
# Python, no Spark round-trip, and an external oracle could replay the
# bits. NULLs are never bloom-tested (the has_null flag covers them).
_BLOOM_BITS = 1024
_BLOOM_WORDS = _BLOOM_BITS // 64
_BLOOM_HASHES = 4
_BLOOM_P = (1 << 31) - 1
# types whose Spark string cast equals the Python serialization below
_BLOOM_TYPES = {
    "tinyint", "smallint", "int", "bigint", "string", "date",
}
# entries past this many files drop their blooms (doc-size guard; the
# min/max ranges always stay)
_MAX_BLOOM_FILES = 8192
# batches with at most this many distinct keys ship their exact values
# to the bloom test (one bounded collect); bigger batches prune by
# range only
_MAX_PROBE_VALUES = 256
# files with more rows than this saturate a 1024-bit bloom (FP -> 1 =
# dead weight), so they carry no bloom. This is the honest division of
# labor: the sidecar bloom targets SMALL unsorted trickle-batch files
# (where ranges span everything and compaction hasn't run yet);
# compacted large files get range skipping + parquet's own row-group
# blooms (compact_table's bloom_filter_cols), which size by ndv inside
# the file.
_BLOOM_MAX_ROWS = 200


def _bloom_salts() -> list[tuple[int, int]]:
    import random

    rng = random.Random(7)
    return [
        (rng.randrange(1, _BLOOM_P), rng.randrange(1, _BLOOM_P))
        for _ in range(_BLOOM_HASHES)
    ]


_BLOOM_SALTS = _bloom_salts()


def _bloom_positions_py(value_str: str) -> list[int]:
    """Bit positions for a serialized value — the pure-Python side of
    the shared hash (must mirror the Column math in
    :func:`_bloom_word_aggs` bit-for-bit)."""
    g1 = g2 = 0
    for ch in value_str:
        c = ord(ch)
        g1 = (g1 * 131 + c) % _BLOOM_P
        g2 = (g2 * 137 + c) % _BLOOM_P
    return [
        ((g1 * c_i) % _BLOOM_P + (g2 * d_i) % _BLOOM_P)
        % _BLOOM_P % _BLOOM_BITS
        for c_i, d_i in _BLOOM_SALTS
    ]


def _bloom_prepare(df: DataFrame, keys: list[str]):
    """(projected df, aggregate list): per row, each key's two
    polynomial hashes and four bit positions are computed ONCE as
    projected columns (never re-inlined into every word term — 16
    words × 4 probes would otherwise replay the char fold ~128× per
    row); the aggregates are then one cheap ``bit_or`` per 64-bit
    word over column refs, riding the same
    groupBy(input_file_name) pass as the min/max stats. NULL values
    contribute no bits (tracked by has_null)."""
    aggs = []
    for key in keys:
        qk = "`" + key.replace("`", "``") + "`"
        s = F.col(qk).cast("string")

        def _codes(i, _s=s):
            # a plain closure, NOT a two-parameter transform lambda —
            # F.transform treats (x, y) lambdas as (element, INDEX)
            return F.ascii(F.substring(_s, i, F.lit(1))).cast("bigint")

        codes = F.transform(
            F.sequence(F.lit(1), F.length(s)),
            lambda i: _codes(i),
        )
        g1 = F.aggregate(
            codes, F.lit(0).cast("bigint"),
            lambda acc, c: (acc * 131 + c) % _BLOOM_P,
        )
        g2 = F.aggregate(
            codes, F.lit(0).cast("bigint"),
            lambda acc, c: (acc * 137 + c) % _BLOOM_P,
        )
        df = df.withColumn(f"__bg1_{key}", g1).withColumn(
            f"__bg2_{key}", g2
        )
        for i, (c_i, d_i) in enumerate(_BLOOM_SALTS):
            df = df.withColumn(
                f"__bp_{key}_{i}",
                (
                    (F.col(f"`__bg1_{key}`") * c_i) % _BLOOM_P
                    + (F.col(f"`__bg2_{key}`") * d_i) % _BLOOM_P
                )
                % _BLOOM_P % _BLOOM_BITS,
            )
        for w in range(_BLOOM_WORDS):
            terms = " | ".join(
                f"IF({qk} IS NOT NULL AND `__bp_{key}_{i}` DIV 64 = {w},"
                f" shiftleft(CAST(1 AS BIGINT),"
                f" CAST(`__bp_{key}_{i}` % 64 AS INT)),"
                f" CAST(0 AS BIGINT))"
                for i in range(_BLOOM_HASHES)
            )
            aggs.append(
                F.expr(f"bit_or({terms})").alias(f"__bw_{key}_{w}")
            )
    return df, aggs


def _bloom_encode(words: list[int]) -> str:
    import base64
    import struct

    return base64.b64encode(
        struct.pack(f">{_BLOOM_WORDS}q", *words)
    ).decode()


def _bloom_maybe_contains(b64: str, value_str: str) -> bool:
    """False ⇒ the value is PROVABLY absent from the file; True means
    maybe (bloom semantics). Unreadable blooms answer True — the safe
    direction."""
    import base64
    import struct

    try:
        words = struct.unpack(
            f">{_BLOOM_WORDS}q", base64.b64decode(b64)
        )
    except Exception:
        return True
    for p in _bloom_positions_py(value_str):
        if not (words[p // 64] >> (p % 64)) & 1:
            return False
    return True


def _shard_name(d: str) -> str:
    """Flat shard file name for a partition directory: URL-quoted so
    multi-level dirs (``a=1/b=2``) stay one file; real partition dirs
    always contain ``=``, so the root sentinel can never collide."""
    from urllib.parse import quote

    return quote(d, safe="") or "__ROOT__"


def _read_json_doc(spark: SparkSession, path: str) -> dict | None:
    # unreadable (torn write, checksum mismatch) = absent — every
    # consumer treats a missing doc as "read everything", the safe
    # direction
    try:
        return storage.read_json(spark, path)
    except Exception:
        return None


def _write_json_doc(spark: SparkSession, path: str, doc: dict) -> None:
    """tmp-write + replace (:func:`storage.write_bytes`): a crash
    mid-update leaves either the old doc or the new one — never torn."""
    storage.write_bytes(spark, path, json.dumps(doc).encode())


def _read_file_stats_meta(spark: SparkSession, base: str) -> dict | None:
    doc = _read_json_doc(
        spark, f"{base.rstrip('/')}/{_FILE_STATS_META}"
    )
    if doc is None or doc.get("version") != 2:
        return None
    return doc


def _read_file_stats_shards(
    spark: SparkSession, base: str, dirs: list[str] | None,
    keys: list[str],
) -> dict[str, dict]:
    """Per-file entries from the shards of the named partition dirs
    (``None`` = every shard — the compat/full-view path). A shard whose
    keys disagree with the caller's is skipped: its files read as
    unknown, which only ever widens the read."""
    root = f"{base.rstrip('/')}/{_FILE_STATS_SHARDS}"
    names: list[str]
    if dirs is None:
        names = [
            name for name, _is_dir in storage.list_dir(spark, root)
            if name.endswith(".json")
        ]
    else:
        names = [f"{_shard_name(d)}.json" for d in dirs]
    out: dict[str, dict] = {}
    for name in names:
        doc = _read_json_doc(spark, f"{root}/{name}")
        if doc is None or doc.get("keys") != sorted(keys):
            continue
        out.update(doc.get("files") or {})
    return out


def _read_file_stats(spark: SparkSession, base: str) -> dict | None:
    """Compat full view over the sharded sidecar: the merged
    ``{"keys": [...], "files": {rel: entry}}`` doc. Reads EVERY shard —
    tests/diagnostics only; the pruning read path loads just the
    candidate dirs' shards (:func:`_read_file_stats_shards`)."""
    meta = _read_file_stats_meta(spark, base)
    if meta is None:
        return None
    return {
        "version": 2,
        "keys": meta.get("keys") or [],
        "files": _read_file_stats_shards(
            spark, base, None, meta.get("keys") or []
        ),
    }


def _write_file_stats_shard(
    spark: SparkSession, base: str, d: str, keys: list[str],
    entries: dict[str, dict],
) -> None:
    """One partition dir's shard, with the size caps applied PER SHARD
    (each RMW is bounded by one directory's file count, never the
    table's): past ``_MAX_BLOOM_FILES`` entries the membership bits
    drop (pruning degrades to ranges), past ``_MAX_FILE_STATS_FILES``
    the shard drops entirely (its files read as unknown — safe)."""
    path = f"{base.rstrip('/')}/{_FILE_STATS_SHARDS}/{_shard_name(d)}.json"
    if not entries or len(entries) > _MAX_FILE_STATS_FILES:
        storage.delete(spark, path, False)
        return
    if len(entries) > _MAX_BLOOM_FILES:
        entries = {
            rel: {k: v for k, v in e.items() if k != "bloom"}
            for rel, e in entries.items()
        }
    _write_json_doc(
        spark, path,
        {"version": 2, "keys": sorted(keys), "files": entries},
    )


def _write_file_stats(spark: SparkSession, base: str, doc: dict) -> None:
    """Full rebuild: drop the sidecar, write the meta doc, then one
    shard per partition directory present in ``doc["files"]``."""
    _delete_file_stats(spark, base)
    keys = sorted(doc.get("keys") or [])
    by_dir: dict[str, dict[str, dict]] = {}
    for rel, e in (doc.get("files") or {}).items():
        d = rel.rsplit("/", 1)[0] if "/" in rel else ""
        by_dir.setdefault(d, {})[rel] = e
    _write_json_doc(
        spark, f"{base.rstrip('/')}/{_FILE_STATS_META}",
        {"version": 2, "keys": keys},
    )
    for d, entries in by_dir.items():
        _write_file_stats_shard(spark, base, d, keys, entries)


def _delete_file_stats(spark: SparkSession, base: str) -> None:
    storage.delete(spark, f"{base.rstrip('/')}/{_FILE_STATS_DIR}", True)


_FILE_STATS_MAX_FILES = 100_000  # driver-collect bound (VERDICT r15 #7)


def _key_range_aggs(keys: list[str]) -> list[Column]:
    """Per-key min, max and has-NULL aggregates: the key ranges of a
    keyed batch and of each file in :func:`_collect_file_key_stats`."""
    aggs = []
    for k in keys:
        aggs += [
            F.min(k).alias(f"__min_{k}"),
            F.max(k).alias(f"__max_{k}"),
            (F.sum(F.col(k).isNull().cast("long")) > 0).alias(f"__nul_{k}"),
        ]
    return aggs


def _key_ranges(row, keys: list[str]) -> dict[str, tuple]:
    """``{key: (min, max, has_null)}`` with serialized values, read from
    a row holding :func:`_key_range_aggs`."""
    return {
        k: (
            _ser_stat(row[f"__min_{k}"]),
            _ser_stat(row[f"__max_{k}"]),
            bool(row[f"__nul_{k}"]),
        )
        for k in keys
    }


def _batch_probe(
    source: DataFrame, keys: list[str], row, n_keys: int
) -> tuple[dict[str, tuple], dict[str, list] | None]:
    """(key ranges, exact key values) of a keyed batch for the pruned
    read: the ranges from its stats ``row``; the values only for batches
    of at most ``_MAX_PROBE_VALUES`` distinct keys (the CDC trickle the
    blooms exist for) — one collect bounded by the known key count."""
    values = None
    if 0 < n_keys <= _MAX_PROBE_VALUES:
        rows = source.select(*keys).distinct().collect()
        values = {k: [r[k] for r in rows] for k in keys}
    return _key_ranges(row, keys), values


def _collect_file_key_stats(
    spark: SparkSession, path: str, schema, keys: list[str]
) -> dict[str, dict]:
    """Per-file ``{key: {min, max, has_null}}`` over the parquet at
    ``path`` (a staged or live snapshot), keyed by the file's
    ``path``-relative name — one aggregate grouped by
    ``input_file_name`` (map-side combining; collect bounded by the
    file count). Relative paths survive the promote because the swap
    renames whole partition directories: ``staging/p=1/part-x`` lands
    at ``target/p=1/part-x``.

    Returns ``None`` above ``_FILE_STATS_MAX_FILES`` files (r16 —
    VERDICT r15 #7): a full-table bootstrap at warehouse scale would
    otherwise collect millions of per-file rows to the driver. Callers
    must then leave NO sidecar behind (absent stats probe everything —
    safe; stale-narrow stats lose rows)."""
    from urllib.parse import unquote, urlparse

    jvm, fs = storage.fs(spark, path)
    Path = jvm.org.apache.hadoop.fs.Path
    qbase = unquote(
        urlparse(fs.makeQualified(Path(path)).toString()).path
    ).rstrip("/")
    df = spark.read.schema(schema).parquet(path)
    # "bloom" is the entry's side-channel field name — a key column
    # actually called "bloom" would collide, so it opts the whole
    # entry out of membership bits (ranges still work)
    bloom_keys = [
        k for k in keys
        if schema[k].dataType.simpleString() in _BLOOM_TYPES
    ] if "bloom" not in keys else []
    cap = _FILE_STATS_MAX_FILES
    rows = (
        df.groupBy(F.input_file_name().alias("__f"))
        .agg(F.count(F.lit(1)).alias("__n_rows"), *_key_range_aggs(keys))
        .limit(cap + 1).collect()
    )
    if len(rows) > cap:
        return None
    out: dict[str, dict] = {}
    small: list[str] = []
    for r in rows:
        fp = unquote(urlparse(r["__f"]).path)
        if not fp.startswith(qbase + "/"):
            continue
        rel = fp[len(qbase) + 1:]
        out[rel] = {
            k: dict(zip(("min", "max", "has_null"), rng))
            for k, rng in _key_ranges(r, keys).items()
        }
        if bloom_keys and int(r["__n_rows"]) <= _BLOOM_MAX_ROWS:
            small.append(rel)
    # membership blooms exist only for files small enough not to
    # saturate them (<= _BLOOM_MAX_ROWS) — so the per-row hash fold
    # runs in a SECOND pass restricted to exactly those files (r15,
    # guide §1.2): a bulk merge whose staged files are all large pays
    # zero bloom hashing (the old single pass hashed every staged row
    # and then threw the words away at the driver), while the CDC
    # trickle the blooms exist for pays a read bounded by
    # small-file rows.
    if small:
        bdf = spark.read.schema(schema).option("basePath", path).parquet(
            *[f"{path.rstrip('/')}/{rel}" for rel in small]
        )
        bdf, bloom_aggs = _bloom_prepare(bdf, bloom_keys)
        brows = (
            bdf.groupBy(F.input_file_name().alias("__f"))
            .agg(*bloom_aggs).collect()
        )
        for r in brows:
            fp = unquote(urlparse(r["__f"]).path)
            rel = fp[len(qbase) + 1:]
            if rel not in out:
                continue
            out[rel]["bloom"] = {
                k: _bloom_encode([
                    int(r[f"__bw_{k}_{w}"] or 0)
                    for w in range(_BLOOM_WORDS)
                ])
                for k in bloom_keys
            }
    return out


def _update_file_stats(
    spark: SparkSession,
    base: str,
    keys: list[str],
    touched_dirs: list[str],
    staged: dict[str, dict],
) -> None:
    """Fold staged per-file entries into the SHARDED sidecar: a scoped
    swap rewrites exactly the shards of its touched dirs (each shard
    replaced wholesale — the swap replaced every file in that dir, so
    old entries drop naturally), touching NOTHING else — per-commit
    sidecar I/O is bounded by the touched scope's file count, never
    the table's (VERDICT r13 ask #2; the old design RMW'd one JSON
    holding every file's entry through the driver). A missing or
    differently keyed sidecar is rebuilt from the staged entries alone
    (old entries would describe other keys)."""
    meta = _read_file_stats_meta(spark, base)
    if meta is None or meta.get("keys") != sorted(keys):
        _write_file_stats(
            spark, base,
            {"version": 2, "keys": sorted(keys), "files": staged},
        )
        return
    by_dir: dict[str, dict[str, dict]] = {}
    for rel, e in staged.items():
        d = rel.rsplit("/", 1)[0] if "/" in rel else ""
        by_dir.setdefault(d, {})[rel] = e
    for d in sorted(set(touched_dirs) | set(by_dir)):
        _write_file_stats_shard(spark, base, d, keys, by_dir.get(d, {}))


def _bloom_admits(
    entry: dict, keys: list[str], probe_values: dict[str, list] | None
) -> bool:
    """Membership test on top of the range test: False ⇒ NO probed
    value of SOME key can be in this file (provably zero matches from
    it). Applies only when the caller supplied the key's exact probe
    values, the entry carries that key's bloom, the probe has no NULLs
    (has_null handles those), and every probe value's SERIALIZED type
    matches the entry's recorded min's — bloom equality depends on
    exact string serialization, so a type-coerced lookup (float 5.0
    against a bigint column) must fall back to ranges rather than
    false-negative a file away. Ranges are comparison-based and keep
    such lookups correct."""
    if not probe_values:
        return True
    blooms = entry.get("bloom") or {}
    for k in keys:
        vals = probe_values.get(k)
        b = blooms.get(k)
        if vals is None or b is None or any(v is None for v in vals):
            continue
        ref = (entry.get(k) or {}).get("min")
        svals = [_ser_stat(v) for v in vals]
        if ref is None or any(
            type(s) is not type(ref)
            and not (isinstance(s, str) and isinstance(ref, str))
            for s in svals
        ):
            continue
        if not any(
            _bloom_maybe_contains(b, str(s)) for s in svals
        ):
            return False
    return True


def _file_skip_paths(
    spark: SparkSession,
    base: str,
    dirs: list[str],
    depth: int,
    keys: list[str],
    batch_ranges: dict[str, tuple],
    probe_values: dict[str, list] | None = None,
) -> list[str] | None:
    """File-level skipping under the candidate ``dirs``: full paths of
    every file that must be read — files with no sidecar entry (always
    read) plus files whose recorded ranges intersect AND whose bloom
    (when present and the caller supplied exact ``probe_values`` for a
    key) maybe-contains at least one probed value. Returns None when
    nothing can be skipped (no valid doc, or no file pruned) so callers
    keep the cheaper directory-granular read; an empty list is a proof
    of zero matches."""
    meta = _read_file_stats_meta(spark, base)
    if meta is None or not set(keys) <= set(meta.get("keys") or []):
        return None
    if len(dirs) > _MAX_SHARD_READS:
        return None
    entries = _read_file_stats_shards(
        spark, base, dirs, meta.get("keys") or []
    )
    # list ONLY the candidate dirs: one listStatus RPC each while the
    # scope is small (the common partition-pruned case), one parallel
    # whole-table listing when it is not (never an RPC-per-partition
    # loop over a 10⁵-dir table — the r11 finding)
    if len(dirs) <= 32:
        by_dir: dict[str, list[str]] = {}
        for d in dirs:
            for name, is_dir in storage.list_dir(spark, f"{base}/{d}"):
                if is_dir or name.startswith(("_", ".")):
                    continue
                by_dir.setdefault(d, []).append(f"{d}/{name}")
    else:
        by_dir = _partition_files(spark, base, depth)
    keep: list[str] = []
    total = 0
    for d in dirs:
        for rel in by_dir.get(d, []):
            total += 1
            e = entries.get(rel)
            if e is None or (
                _ranges_intersect(e, keys, batch_ranges)
                and _bloom_admits(e, keys, probe_values)
            ):
                keep.append(f"{base}/{rel}")
    if len(keep) == total:
        return None
    return sorted(keep)


def _fresh_count(
    spark: SparkSession, base: str, attempts: int = 3,
    dv=None, nseg: int | None = None,
) -> int:
    """Zero-column snapshot count that tolerates a concurrent DISJOINT
    writer's rename window: a file listed before that writer's swap
    can vanish before its footer is read, failing the job spuriously.
    Each retry builds a FRESH reader (the cached file index would
    re-list the vanished file). Reporting stat only — the verified
    swap itself never depends on it. With ``dv``/``nseg`` (r16 merge
    fold) the count is of the LOGICAL state: the scan anti-joined
    against the pending tombstones."""
    import time as _time

    for i in range(attempts):
        try:
            frame = spark.read.parquet(base)
            if dv is not None:
                from config_driven_pyspark_spark.operators.deletes import (
                    apply_deletion_vectors,
                )

                frame = apply_deletion_vectors(frame, dv, nseg)
            return frame.count()
        except Exception:
            if i == attempts - 1:
                raise
            _time.sleep(0.3)
    raise AssertionError("unreachable")


class _SidecarMutex:
    """Serializes the read-modify-write of the ``_key_stats`` /
    ``_file_stats`` JSON docs across CONCURRENT disjoint-scope writers
    (r13): without it, two widening writers could interleave reads and
    the last write would revert the other's entries to their pre-swap
    ranges — NARROWER than the data, the one unsafe direction.

    Millisecond critical section (read two JSONs, write two JSONs), so
    acquisition is a short spin on an atomically-created owner-stamped
    sibling file; entries older than ``stale_s`` belong to crashed
    writers and are reclaimed. ``still_mine()`` lets the holder
    re-verify before writing (a reclaim while frozen mid-section means
    the docs must be DROPPED, not written — absent stats are safe,
    stale ones are not). On acquisition timeout callers degrade the
    same way: drop the docs."""

    def __init__(self, spark: SparkSession, base: str,
                 timeout_s: float = 30.0, stale_s: float = 120.0):
        self._spark = spark
        self._base = base.rstrip("/")
        self._timeout = timeout_s
        self._stale = stale_s
        self._owner = None

    def _path(self) -> str:
        return f"{self._base}__sidecar_mutex"

    def __enter__(self):
        import time as _time
        import uuid as _uuid

        jvm, fs = storage.fs(self._spark, self._base)
        p = jvm.org.apache.hadoop.fs.Path(self._path())
        self._owner = _uuid.uuid4().hex
        deadline = _time.time() + self._timeout
        while True:
            if storage.create_new(
                self._spark, self._path(), self._owner.encode()
            ):
                break
            try:
                age = (
                    _time.time() * 1000
                    - fs.getFileStatus(p).getModificationTime()
                ) / 1000.0
            except Exception:
                age = 0.0  # racing release — retry
            if age > self._stale:
                fs.delete(p, False)
                continue
            if _time.time() > deadline:
                raise IOError(
                    f"sidecar mutex {self._base}__sidecar_mutex held "
                    f"past {self._timeout}s — caller should drop the "
                    "stats docs instead of writing maybe-stale ones"
                )
            _time.sleep(0.1)
        return self

    def still_mine(self) -> bool:
        raw = storage.read_bytes(self._spark, self._path())
        return raw is not None and (
            raw.decode("utf-8", "replace") == self._owner
        )

    def __exit__(self, *exc):
        if self.still_mine():
            storage.delete(self._spark, self._path(), False)
        return False


def _derive_partition_stats(
    staged_files: dict[str, dict], keys: list[str]
) -> dict[str, dict]:
    """Per-partition key stats DERIVED from the per-file entries of the
    same snapshot: a partition's {min, max, has_null} is exactly the
    widened union of its files' (the same serialized-value ordering
    every sidecar comparison — ``_ranges_intersect``, ``_widen_entry``
    — already uses), so collecting them with a second aggregate job was
    a second full pass over the staged data (r15, guide §1.2). Keys are
    the files' own partition-directory names, which is what the staged-
    dirs-⊆-touched check has already validated by the time these are
    written."""
    out: dict[str, dict] = {}
    for rel, entry in staged_files.items():
        d = rel.rsplit("/", 1)[0] if "/" in rel else ""
        out[d] = _widen_entry(
            out.get(d), {k: dict(entry.get(k) or {}) for k in keys}, keys
        )
    return out


def _widen_entry(old: dict | None, new: dict, keys: list[str]) -> dict:
    """least/greatest union of two per-partition entries — the only
    update rule whose crash windows are all safe (see block comment)."""
    if old is None:
        return new
    out = {}
    for k in keys:
        o, n = old.get(k), new.get(k)
        if o is None:
            out[k] = n
            continue
        lo = [v for v in (o.get("min"), n.get("min")) if v is not None]
        hi = [v for v in (o.get("max"), n.get("max")) if v is not None]
        out[k] = {
            "min": min(lo) if lo else None,
            "max": max(hi) if hi else None,
            "has_null": bool(o.get("has_null") or n.get("has_null")),
        }
    return out


def _ranges_intersect(
    entry: dict, keys: list[str], batch_ranges: dict[str, tuple]
) -> bool:
    """True when EVERY key's recorded (min, max, has_null) could
    contain a probed row — the shared test behind partition- and
    file-level skipping. ``batch_ranges[k] = (min, max, has_null)``
    with serialized values."""
    for k in keys:
        bmin, bmax, bnull = batch_ranges[k]
        ek = entry.get(k) or {}
        non_null = (
            ek.get("min") is not None and bmin is not None
            and ek["min"] <= bmax and ek["max"] >= bmin
        )
        if not (non_null or (ek.get("has_null") and bnull)):
            return False
    return True


def _sidecar_candidates(
    doc: dict,
    disk_dirs: list[str],
    keys: list[str],
    batch_ranges: dict[str, tuple],
) -> list[str]:
    """Partition dirs the probe must read: every on-disk dir missing
    from the sidecar, plus known dirs whose per-key ranges all
    intersect the batch's. ``batch_ranges[k] = (min, max, has_null)``
    with serialized values."""
    parts = doc.get("partitions", {})
    return [
        d
        for d in disk_dirs
        if parts.get(d) is None
        or _ranges_intersect(parts[d], keys, batch_ranges)
    ]


class _Sidecars(NamedTuple):
    """What a swap does to the key-stats sidecars — ``keep``, ``drop`` or
    ``maintain`` them for ``keys`` (see the ``_key_stats`` block comment).
    ``partitions=False`` maintains only the per-file doc and keeps the
    per-partition one (compaction: its rewrite preserves every row)."""

    action: str
    keys: tuple[str, ...] = ()
    partitions: bool = True


_KEEP = _Sidecars("keep")
_DROP = _Sidecars("drop")


def _sidecars_before_promote(
    spark: SparkSession, base: str, staging: str, schema,
    touched_dirs: list[str], sc: _Sidecars,
) -> None:
    """A scoped swap's sidecar step, run with the verified staging and
    BEFORE the first rename. ``maintain`` folds ONE stats pass over the
    staged files into the docs: the per-file entries replace the touched
    dirs' shards (relative paths survive the directory rename; a
    rollback leaves dead entries, never wrong ones) and the partition
    entries, derived from them, widen the old ones. ``drop`` deletes the
    docs. Both run under :class:`_SidecarMutex` — the docs are shared by
    CONCURRENT disjoint-scope writers, and an interleaved read-modify-
    write could revert another writer's entries to pre-swap ranges,
    NARROWER than the data. Over the collect cap, on a mutex timeout or
    a reclaimed mutex the docs are dropped: absent stats read
    everything, stale ones can lose rows."""
    if sc.action == "keep":
        return
    keys = list(sc.keys)
    drop = _delete_key_stats if sc.partitions else _delete_file_stats
    staged = None
    if sc.action == "maintain":
        staged = _collect_file_key_stats(spark, staging, schema, keys)
    try:
        with _SidecarMutex(spark, base) as mx:
            if staged is None:
                drop(spark, base)
                return
            if sc.partitions:
                cur = _read_key_stats(spark, base, keys)
                parts = dict(cur["partitions"]) if cur is not None else {}
                new = _derive_partition_stats(staged, keys)
                for d in touched_dirs:
                    if d in new:
                        parts[d] = _widen_entry(parts.get(d), new[d], keys)
            if not mx.still_mine():
                raise IOError("sidecar mutex reclaimed")
            if sc.partitions:
                _write_key_stats(spark, base, keys, parts)
            _update_file_stats(spark, base, keys, touched_dirs, staged)
    except IOError:
        drop(spark, base)


def _rebuild_sidecars(
    spark: SparkSession, base: str, schema, keys: list[str],
    partitions: bool = True,
) -> None:
    """Exact sidecars for ``keys`` over the live snapshot at ``base``:
    the day-zero bootstrap, the rebuild after a maintained full swap and
    compaction's ``file_stats_keys`` (``partitions=False``: the per-file
    doc only). One stats pass — partition entries derive from the
    per-file ones. Over the collect cap no stats are left behind."""
    files = _collect_file_key_stats(spark, base, schema, keys)
    if files is None:
        (_delete_key_stats if partitions else _delete_file_stats)(spark, base)
        return
    if partitions:
        _write_key_stats(
            spark, base, keys, _derive_partition_stats(files, keys)
        )
    _write_file_stats(
        spark, base, {"version": 2, "keys": sorted(keys), "files": files}
    )


def _bootstrap(
    df: DataFrame, target_path: str, partition_by: list[str] | None,
    sidecar_keys: list[str] | None,
) -> None:
    """Day-zero write of a missing table — a plain write, there is no
    snapshot to swap aside — with exact sidecars for ``sidecar_keys``
    from the start, so the very next merge can prune (a crash before
    they land just means "read everything")."""
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(target_path)
    if sidecar_keys:
        _rebuild_sidecars(
            df.sparkSession, target_path.rstrip("/"), df.schema,
            sidecar_keys,
        )


def _sidecar_read_paths(
    spark: SparkSession,
    base: str,
    depth: int,
    keys: list[str],
    ranges: dict[str, tuple],
    probe_values: dict[str, list] | None = None,
    exact_keys: bool = True,
) -> list[str] | None:
    """The sidecar-pruned read of a keyed op: full paths of the partition
    directories — or of the files inside them — that can hold a row whose
    keys fall in ``ranges``; ``[]`` when none can; None when the
    sidecars rule nothing out (read the whole table).

    Merges (``exact_keys``) trust only a ``_key_stats`` doc keyed by
    exactly their keys, and use the sidecars only when it rules out a
    directory — an unpruned probe keeps its one-pass aggregate over the
    table. Scans accept a doc keyed by a superset of the scanned columns
    and try the per-file doc even without one."""
    doc = _read_key_stats(spark, base, keys, superset=not exact_keys)
    if doc is None and exact_keys:
        return None
    dirs = _list_partition_dirs(spark, base, depth)
    cand = dirs if doc is None else _sidecar_candidates(
        doc, dirs, keys, ranges
    )
    if not cand:
        return []
    if exact_keys and len(cand) == len(dirs):
        return None
    files = _file_skip_paths(
        spark, base, cand, depth, keys, ranges, probe_values
    )
    if files is not None:
        return files
    return None if len(cand) == len(dirs) else [f"{base}/{d}" for d in cand]


_LOCK_SUFFIX = "__lock"        # legacy single-file lock (pre-r13)
_LOCK_DIR_SUFFIX = "__lock.d"  # scoped entries, one file per writer
_LOCK_LEASE_SECONDS = 900
# Spark-conf key for the opt-in bounded lock wait (r14 — VERDICT r13
# ask #8): seconds a writer queues behind a LIVE conflicting lock
# before failing. Default 0 keeps the loud-failure contract.
_LOCK_WAIT_CONF = "spark.cdp.lock.wait_seconds"
# Spark-conf key restoring the pre-r15 staged-count READ-BACK (a second
# pass over the staged files) instead of the observed-on-write count:
# only the file-readability property differs — see the block comment in
# :func:`_stage_verify_swap_locked`.
_VERIFY_READBACK_CONF = "spark.cdp.verify.readback"


class _LockConflict(IOError):
    """A LIVE conflicting writer holds an intersecting scope —
    retryable (unlike structural lock failures)."""


class _WriterLock:
    """Partition-scoped writer mutex for the table family (r13 —
    VERDICT r12 ask #4; ADVICE r12 renewal/ownership fixes retained).

    Each acquirer atomically creates its OWN entry file
    ``<base>__lock.d/<owner>.json`` recording its scope — a sorted list
    of the partition directories its swap will touch, or ``null`` for
    the whole table (full rewrites, recovery, restore) — then lists
    the directory: any OTHER live entry whose scope intersects is a
    conflict. Two scoped merges on DISJOINT partitions therefore both
    proceed; overlapping scopes (or anything vs a global entry) fail
    loudly. Conflict resolution is deliberately CONSERVATIVE: on a
    simultaneous-acquire race, both writers see each other and both
    back off (delete own entry, raise) — a rare both-fail is safe and
    retryable, two winners never happen. The normal sequential case
    needs no tie-break: the holder's entry exists first, the
    latecomer sees it and fails.

    Liveness vs the lease (ADVICE r12): while held, a daemon heartbeat
    renews the entry's mtime every ``lease/3`` seconds, so a writer
    slower than the lease never loses a live lock; entries whose mtime
    is older than the lease belong to crashed writers and are
    garbage-collected by the next acquirer (entry files are
    owner-named, so GC-ing a stale entry can never delete a live
    one). ``__exit__`` verifies the entry content before deleting and
    raises on the success path if the entry was removed or replaced
    mid-operation — a concurrent writer may then have interleaved. A
    legacy single-file ``<base>__lock`` from an older writer is
    honored (live blocks, stale clears). Atomic-create is the only FS
    primitive required (HDFS/local native; object stores without it
    get best-effort semantics, Delta's documented S3 caveat)."""

    def __init__(self, spark: SparkSession, base: str,
                 lease_seconds: int = _LOCK_LEASE_SECONDS,
                 scope: list[str] | None = None,
                 wait_seconds: float | None = None):
        self._spark = spark
        self._base = base.rstrip("/")
        self._lease = lease_seconds
        self._scope = sorted(scope) if scope is not None else None
        self._wait = wait_seconds
        self._held = False
        self._owner: str | None = None
        self._stop = None
        self._thread = None

    @property
    def owner(self) -> str | None:
        return self._owner

    def _dir(self) -> str:
        return f"{self._base}{_LOCK_DIR_SUFFIX}"

    def _entry(self) -> str:
        return f"{self._dir()}/{self._owner}.json"

    def _intersects(self, other_scope) -> bool:
        if self._scope is None or other_scope is None:
            return True
        return bool(set(self._scope) & set(other_scope))

    def __enter__(self):
        """Acquire, with an opt-in BOUNDED in-lock wait
        (``wait_seconds``) behind live conflicts. NOTE the session-conf
        knob (``spark.cdp.lock.wait_seconds``) is deliberately consumed
        one level UP by :func:`_retry_on_lock_conflict`, not here: the
        table ops plan their probe/merge frames BEFORE locking, and a
        plan that queued through a competitor's swap would replay a
        stale file index — the whole op must re-run, not just the
        acquire. The wait is heartbeat-aware by construction: each
        retry re-runs the full acquire (lease GC included), so a live
        lease is never reclaimed, only outlasted or outlived."""
        import time as _time

        wait = self._wait or 0.0
        deadline = _time.monotonic() + max(0.0, wait)
        delay = 0.2
        while True:
            try:
                return self._acquire()
            except _LockConflict:
                now = _time.monotonic()
                if now >= deadline:
                    raise
                _time.sleep(max(0.05, min(delay, 5.0, deadline - now)))
                delay *= 1.7

    def _acquire(self):
        import json
        import time as _time
        import uuid as _uuid

        jvm, fs = storage.fs(self._spark, self._base)
        Path = jvm.org.apache.hadoop.fs.Path
        self._owner = _uuid.uuid4().hex
        # a legacy pre-r13 single-file lock: live blocks, stale clears
        legacy = Path(f"{self._base}{_LOCK_SUFFIX}")
        if fs.exists(legacy):
            try:
                age = (
                    _time.time() * 1000
                    - fs.getFileStatus(legacy).getModificationTime()
                ) / 1000.0
            except Exception:
                age = 0.0
            if age <= self._lease:
                raise _LockConflict(
                    f"{self._base!r} is being written by another "
                    f"process (legacy lock {self._base}{_LOCK_SUFFIX} "
                    f"is {int(age)}s old, lease {self._lease}s) — "
                    "retry after it finishes, or delete the lock file "
                    "if you know the owner died"
                )
            fs.delete(legacy, False)
        fs.mkdirs(Path(self._dir()))
        doc = {
            "owner": self._owner,
            "scope": self._scope,
            "created": _time.time(),
        }
        # owner-unique name; cannot pre-exist
        storage.create_new(
            self._spark, self._entry(), json.dumps(doc).encode()
        )
        try:
            conflict = self._scan_conflict(jvm, fs)
        except Exception:
            storage.delete(self._spark, self._entry(), False)
            raise
        if conflict is not None:
            storage.delete(self._spark, self._entry(), False)
            raise _LockConflict(
                f"{self._base!r} is being written by another process "
                f"(live lock entry {self._dir()}/{conflict} has an "
                "intersecting scope; entries renew while their writer "
                "is live and clear after the "
                f"{self._lease}s lease). Concurrent writers on "
                "overlapping partitions would corrupt the swap — retry "
                "after it finishes, or delete the entry if you know "
                "the owner died"
            )
        self._held = True
        self._start_heartbeat()
        return self

    def _scan_conflict(self, jvm, fs) -> str | None:
        """Name of a live intersecting entry, or None. Stale entries
        (mtime past the lease — their writer stopped heartbeating) are
        garbage-collected on the way."""
        import time as _time

        Path = jvm.org.apache.hadoop.fs.Path
        for st in fs.listStatus(Path(self._dir())):
            name = st.getPath().getName()
            if st.isDirectory() or name == f"{self._owner}.json":
                continue
            if not name.endswith(".json"):
                continue
            age = (
                _time.time() * 1000 - st.getModificationTime()
            ) / 1000.0
            if age > self._lease:
                fs.delete(st.getPath(), False)  # crashed writer — GC
                continue
            other = storage.read_json(
                self._spark, f"{self._dir()}/{name}"
            )
            if other is None:
                # unreadable LIVE entry (mid-write or torn): treat as
                # conflicting — the safe direction
                return name
            if self._intersects(other.get("scope")):
                return name
        return None

    def _start_heartbeat(self):
        import threading
        import time as _time

        self._stop = threading.Event()
        interval = max(0.2, self._lease / 3.0)
        owner = self._owner

        def beat(stop=self._stop):
            while not stop.wait(interval):
                try:
                    doc = storage.read_json(self._spark, self._entry())
                    if doc is None or doc.get("owner") != owner:
                        return  # entry lost/replaced — stop renewing
                    jvm, fs = storage.fs(self._spark, self._base)
                    fs.setTimes(
                        jvm.org.apache.hadoop.fs.Path(self._entry()),
                        int(_time.time() * 1000), -1,
                    )
                except Exception:
                    pass  # skipped beat; the lease spans ~3 intervals

        self._thread = threading.Thread(
            target=beat, daemon=True,
            name=f"writer-lock-heartbeat:{self._base}",
        )
        self._thread.start()

    def __exit__(self, exc_type, exc, tb):
        if not self._held:
            return False
        self._held = False
        if self._stop is not None:
            self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=10.0)
        doc = storage.read_json(self._spark, self._entry())
        if doc is not None and doc.get("owner") == self._owner:
            storage.delete(self._spark, self._entry(), False)
        elif exc_type is None:
            # never delete an entry we lost; a removed/replaced entry
            # means a concurrent writer may have interleaved with our
            # swap — loud beats silently-maybe-corrupt
            raise IOError(
                f"writer lock entry {self._dir()}/{self._owner}.json "
                + ("was deleted" if doc is None else "was replaced")
                + " while this operation held it — a concurrent writer "
                "may have interleaved with the swap; verify the "
                f"snapshot at {self._base!r} before trusting this write"
            )
        return False


def _retry_on_lock_conflict(fn):
    """Opt-in bounded commit-retry for the public mutating ops (r14 —
    VERDICT r13 ask #8, Delta's commit-retry ergonomics): when the
    session conf ``spark.cdp.lock.wait_seconds`` is set (> 0), an op
    that hits a LIVE conflicting writer lock re-runs FROM SCRATCH
    (fresh probe, fresh plan — never a stale pre-conflict file index)
    with capped exponential backoff until the budget runs out, then
    fails with the original loud error. Default 0 preserves the
    fail-loudly contract. Retryable: :class:`_LockConflict`, plus the
    transient read-race signatures a competitor's swap rename leaves
    (a file listed before the rename vanishing before its footer is
    read — the :func:`_fresh_count` class of failure). Structural
    failures (count-mismatch aborts, layout errors) propagate
    immediately.

    Transient classification is scoped to the TARGET table (ADVICE
    r14): a read-race error is retried only when its message
    references a path under the op's own ``target_path`` AND the
    target base still exists — a mistyped SOURCE path or a genuinely
    missing foreign file raises immediately instead of burning the
    whole wait budget obscuring the real failure."""
    import functools

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        import os as _os
        import time as _time

        first = args[0] if args else None
        spark = getattr(first, "sparkSession", first)
        try:
            wait = float(spark.conf.get(_LOCK_WAIT_CONF, "0") or 0)
        except Exception:
            wait = 0.0
        target = kwargs.get("target_path")
        if target is None and len(args) >= 2 and isinstance(args[1], str):
            target = args[1]
        deadline = _time.monotonic() + max(0.0, wait)
        delay = 0.5
        transient = (
            "FAILED_READ_FILE", "FILE_NOT_EXIST", "PATH_NOT_FOUND",
            "FileNotFoundException", "UNABLE_TO_INFER_SCHEMA",
        )

        def _is_target_race(msg: str) -> bool:
            if not any(t in msg for t in transient):
                return False
            tnorm = str(target or "").rstrip("/")
            if not tnorm:
                return False
            # error paths may carry a scheme (file:/tmp/…) — compare on
            # the scheme-less suffix so both spellings match
            if tnorm.lstrip("/") not in msg.replace("\\", "/"):
                return False
            # local targets: if the base itself is gone, that is not a
            # competitor's swap rename racing the read — fail loudly
            if "://" not in tnorm and not _os.path.exists(
                tnorm.split(":", 1)[-1] if tnorm.startswith("file:")
                else tnorm
            ):
                return False
            return True

        while True:
            try:
                return fn(*args, **kwargs)
            except _LockConflict:
                now = _time.monotonic()
                if now >= deadline:
                    raise
            except Exception as e:  # noqa: BLE001
                now = _time.monotonic()
                if now >= deadline or not _is_target_race(str(e)):
                    raise
            _time.sleep(max(0.05, min(delay, 5.0, deadline - now)))
            delay *= 1.7

    return wrapper


def _live_lock_owners(spark: SparkSession, base: str) -> set[str]:
    """Owner ids of every UNEXPIRED lock entry — recovery uses this to
    tell a live writer's staging/backup from a dead one's debris."""
    import time as _time

    jvm, fs = storage.fs(spark, base)
    Path = jvm.org.apache.hadoop.fs.Path
    d = Path(f"{base}{_LOCK_DIR_SUFFIX}")
    out: set[str] = set()
    if not fs.exists(d):
        return out
    for st in fs.listStatus(d):
        name = st.getPath().getName()
        if st.isDirectory() or not name.endswith(".json"):
            continue
        age = (
            _time.time() * 1000 - st.getModificationTime()
        ) / 1000.0
        if age <= _LOCK_LEASE_SECONDS:
            out.add(name[:-len(".json")])
    return out


def _find_swap_debris(
    spark: SparkSession, base: str
) -> tuple[bool, list[str]]:
    """(legacy ``__staging``/``__premerge`` debris present?, dead
    owners with suffixed ``__staging-<o>``/``__premerge-<o>`` debris).
    Suffixed dirs whose owner holds a LIVE lock entry are a concurrent
    writer mid-swap — not debris."""
    jvm, fs = storage.fs(spark, base)
    Path = jvm.org.apache.hadoop.fs.Path
    legacy = fs.exists(Path(f"{base}__staging")) or fs.exists(
        Path(f"{base}__premerge")
    )
    # server-side glob instead of listing the whole parent directory:
    # this runs on EVERY op start, and iterating a listStatus of e.g.
    # /tmp from Python costs several py4j round-trips per sibling
    # entry (r15 — measured ~0.2s per call on a busy parent). Glob
    # metacharacters in the table path itself are escaped.
    esc = re.sub(r"([*?\[\]{}\\])", r"\\\1", base)
    name = Path(base).getName()
    owners: set[str] = set()
    for pref in ("__staging-", "__premerge-"):
        sts = fs.globStatus(Path(f"{esc}{pref}*"))
        for st in sts or []:
            n = st.getPath().getName()
            owners.add(n[len(name) + len(pref):])
    if owners:
        owners -= _live_lock_owners(spark, base)
    return legacy, sorted(owners)


def _recover_crashed_swap(spark: SparkSession, target_path: str) -> None:
    """Debris-gated, lock-holding recovery: inspects and MOVES swap
    debris, so it must never run concurrently with a live writer's
    swap on the same directories. The no-debris fast path (every op
    start) takes NO lock — that is what lets disjoint-scope writers
    run concurrently. When debris exists, healing takes the GLOBAL
    lock (a dead full-swap's backup can touch anything); if a live
    scoped writer blocks it, the op fails loudly and retries after
    that writer finishes. A live writer's own suffixed staging/backup
    (its lock entry still heartbeats) is never treated as debris."""
    base = target_path.rstrip("/")
    legacy, dead = _find_swap_debris(spark, base)
    if not legacy and not dead:
        return
    with _WriterLock(spark, base):
        # re-check under the lock: the debris owner may have finished
        legacy, dead = _find_swap_debris(spark, base)
        if legacy:
            _recover_crashed_swap_locked(spark, base)
        for owner in dead:
            _recover_owner_debris(spark, base, owner)


def _recover_owner_debris(
    spark: SparkSession, base: str, owner: str
) -> None:
    """Heal a DEAD scoped writer's suffixed debris. Scoped swaps never
    move the table root, so the rules are the partition-scoped subset
    of :func:`_recover_crashed_swap_locked`: restore backed-up
    partition directories whose target counterpart is missing (moved
    aside but not re-promoted), then delete backup and staging."""
    backup = f"{base}__premerge-{owner}"
    if storage.exists(spark, backup):
        if not storage.exists(spark, base):
            raise IOError(
                f"{base!r} is missing but a scoped-writer backup "
                f"{backup} exists — scoped swaps never move the root; "
                "refusing to guess, restore manually"
            )
        _restore_missing_dirs(spark, backup, base)
        storage.delete(spark, backup, True)
    storage.delete(spark, f"{base}__staging-{owner}", True)


def _recover_crashed_swap_locked(
    spark: SparkSession, target_path: str
) -> None:
    """Heal debris from a merge that crashed mid-swap BEFORE treating it
    as garbage — the backup may be the ONLY surviving copy of the
    snapshot, so it is restored, never deleted blind:

    - target missing + ``__premerge`` present → the crash hit between
      the two renames of a full swap; the backup IS the snapshot —
      rename it back.
    - both present + the backup carries the ``_premerge_full`` marker
      (dropped into the root just before a full swap's first rename) →
      the full swap COMPLETED and only the backup delete was lost; the
      backup is the entire PRE-merge snapshot and restoring any of it
      would blend old rows into the new one — pure debris, delete.
    - both present, no marker (a partition-scoped crash, or a legacy
      backup) → restore every backed-up partition DIRECTORY whose
      target counterpart is missing (moved aside but not yet
      re-promoted). Only whole missing directories are ever renamed —
      never individual files into an existing destination directory:
      part-file names are job-unique, so a file-level restore into a
      promoted partition would silently DUPLICATE its pre-merge rows.
      A backed-up partition whose target counterpart exists was already
      promoted; its backup copy is genuine debris.
    - ``__staging`` with a live target → an unverified or unpromoted
      staged write; debris.
    - ``__staging`` with NO target and no backup → an unrecognizable
      state this code never produces; refuse to guess rather than
      bootstrap a fresh snapshot over someone's data.

    A partition-scoped crash mid-promote can leave a mix of pre- and
    post-merge partitions after recovery; re-running the SAME merge
    batch heals it (upsert/SCD2 application is idempotent per key)."""
    jvm, fs = storage.fs(spark, target_path)
    Path = jvm.org.apache.hadoop.fs.Path
    base = target_path.rstrip("/")
    staging_p = Path(f"{base}__staging")
    backup_p = Path(f"{base}__premerge")
    target_p = Path(base)
    if fs.exists(backup_p):
        if not fs.exists(target_p):
            if not fs.rename(backup_p, target_p):
                raise IOError(
                    f"found crashed-merge backup {base}__premerge but could "
                    f"not restore it to {target_path!r}"
                )
            # the mode marker travelled with the restored root — drop it
            fs.delete(Path(f"{base}/{_FULL_SWAP_MARKER}"), False)
        elif fs.exists(Path(f"{base}__premerge/{_FULL_SWAP_MARKER}")):
            fs.delete(backup_p, True)
        else:
            _restore_missing_dirs(spark, f"{base}__premerge", base)
            fs.delete(backup_p, True)
    if fs.exists(staging_p):
        if not fs.exists(target_p):
            raise IOError(
                f"{target_path!r} is missing but a staging directory "
                f"{base}__staging exists — refusing to clear it or "
                "bootstrap over it; restore the snapshot manually"
            )
        fs.delete(staging_p, True)


def _absorb_pending_deletes(
    spark: SparkSession, target_path: str, partition_by: list[str] | None
) -> None:
    """Rewriting-op preamble: absorb pending deletion vectors
    (operators/deletes.py) BEFORE planning the rewrite — a rewrite that
    read the raw files would resurrect tombstoned rows, and one that
    replaced them would orphan the vectors. One FS listing when no
    vector exists (the overwhelmingly common path)."""
    from config_driven_pyspark_spark.operators.deletes import (
        has_live_deletes,
        materialize_deletes,
    )

    if has_live_deletes(spark, target_path):
        materialize_deletes(spark, target_path, partition_by)


def _restore_missing_dirs(spark: SparkSession, src: str, dst: str) -> None:
    """Rename whole child DIRECTORIES of ``src_dir`` missing under
    ``dst_dir`` back into place; recurse where both sides have the
    directory (an intermediate partition level whose leaves diverge).
    Files are never restored: a leaf partition dir present on both
    sides was promoted before the crash, and recursing into it finds
    only its pre-merge data files, which are skipped — the fix for the
    r11 blend bug where job-unique part-file names let pre-merge files
    rename into already-promoted directories as duplicate rows."""
    jvm, fs = storage.fs(spark, src)
    Path = jvm.org.apache.hadoop.fs.Path
    for name, is_dir in storage.list_dir(spark, src):
        if not is_dir:
            continue
        if not storage.exists(spark, f"{dst}/{name}"):
            fs.rename(Path(f"{src}/{name}"), Path(f"{dst}/{name}"))
        else:
            _restore_missing_dirs(spark, f"{src}/{name}", f"{dst}/{name}")


def _stage_verify_swap(
    df: DataFrame,
    target_path: str,
    expected_rows: int,
    partition_by: list[str] | None,
    breakdown: str,
    touched_dirs: list[str] | None = None,
    marker_batch_id: int | None = None,
    partition_markers: dict[str, int] | None = None,
    sidecars: _Sidecars = _DROP,
    op: str = "merge",
    writer_options: dict | None = None,
    dv_expected: list[str] | None = None,
) -> int:
    """Writer-lock entry point: every mutating table op funnels through
    here. r13: the lock is PARTITION-SCOPED for a scoped swap (scope =
    its touched dirs, staging/backup owner-suffixed so concurrent
    writers never share sibling dirs) — two merges on disjoint
    partitions proceed concurrently, overlapping scopes fail loudly,
    full rewrites take the global lock. HISTORY-ENABLED tables
    participate too: version numbers are allocated by compare-and-set
    on the pending marker's atomic create (operators/history.py::
    begin_retention), so racing disjoint writers take distinct
    versions; while one swap is in flight, reads below its pending
    number refuse transiently (the same honest gap semantics a crash
    leaves, cleared at commit).

    Counts/probes taken BEFORE the lock are safe because the staging
    write re-executes the plan against the live snapshot while the
    expected count came from the earlier probe — a snapshot swapped
    underneath (even by a DISJOINT writer racing the probe window on
    the same partitions) makes the staged count miss its expectation
    and the op aborts with the snapshot untouched (optimistic
    concurrency detection). See :func:`_stage_verify_swap_locked` for
    the swap itself.

    The one mutation that count-verification CANNOT catch is a
    merge-on-read DELETE racing the pre-lock window (ADVICE r14): a
    deletion-vector commit changes NO data files, so a rewrite planned
    before it would re-read the raw files — resurrecting the
    just-tombstoned rows into newly named part files while the
    vector's rel_paths point at replaced files (the anti join never
    matches again, a silent un-delete). So the ``_deletes`` listing is
    RE-CHECKED here, under the lock: every rewriting op absorbs
    pending vectors in its preamble, so the live listing must be
    empty — except ``dv_materialize``, whose own absorbed entries are
    still on disk mid-swap and are passed in as ``dv_expected``. A
    mismatch aborts with the retryable :class:`_LockConflict` (the
    snapshot untouched); the opt-in wait budget re-runs the op from
    scratch, re-absorbing the late vector."""
    spark = df.sparkSession
    base = target_path.rstrip("/")
    scope = sorted(touched_dirs) if touched_dirs is not None else None
    with _WriterLock(spark, base, scope=scope) as lk:
        from config_driven_pyspark_spark.operators.deletes import (
            _dv_root, _list_dv,
        )

        live = sorted(e["name"] for e in _list_dv(spark, _dv_root(base)))
        want = sorted(dv_expected or [])
        if live != want:
            raise _LockConflict(
                f"deletion vector(s) {sorted(set(live) - set(want))} of "
                f"{base!r} were committed after this {op!r} planned its "
                "rewrite — proceeding would resurrect the tombstoned "
                "rows (a DV commit changes no data files, so the staged "
                "count cannot catch it). Re-run the op (it re-absorbs "
                "pending vectors first), or set "
                f"{_LOCK_WAIT_CONF!r} to retry automatically"
            )
        return _stage_verify_swap_locked(
            df, target_path, expected_rows, partition_by, breakdown,
            touched_dirs, marker_batch_id, partition_markers,
            sidecars, op, writer_options,
            suffix=f"-{lk.owner}" if scope is not None else "",
            dv_absorbed=sorted(dv_expected) if dv_expected else None,
        )


def _stage_verify_swap_locked(
    df: DataFrame,
    target_path: str,
    expected_rows: int,
    partition_by: list[str] | None,
    breakdown: str,
    touched_dirs: list[str] | None = None,
    marker_batch_id: int | None = None,
    partition_markers: dict[str, int] | None = None,
    sidecars: _Sidecars = _DROP,
    op: str = "merge",
    writer_options: dict | None = None,
    suffix: str = "",
    dv_absorbed: list[str] | None = None,
) -> int:
    """Write ``df`` to the sibling staging dir (owner-``suffix``-ed
    under a scoped lock, so concurrent disjoint writers never share
    it), verify the staged row count equals ``expected_rows`` (a short
    write can never replace a good snapshot), then atomically swap
    staging into ``target_path``. Returns the staged count. The caller
    must have run :func:`_recover_crashed_swap` first.

    Full mode (``touched_dirs`` None): two whole-directory renames with
    rollback. Partition-scoped mode: only the ``touched_dirs`` partition
    directories are moved aside and replaced — untouched partition files
    are never rewritten, renamed, or even listed. Before any rename, the
    staged partition directories are checked to be a subset of
    ``touched_dirs`` (a partition value whose escaped directory name we
    mispredicted would otherwise be silently dropped — abort with the
    snapshot untouched instead).

    The op's sidecar policy ``sidecars`` is applied here and nowhere
    else: a scoped swap drops or widens the docs before its first rename
    (:func:`_sidecars_before_promote`); a full swap replaces the root
    and the docs inside it, then a ``maintain`` op rebuilds them exactly
    (:func:`_rebuild_sidecars`)."""
    spark = df.sparkSession
    jvm, fs = storage.fs(spark, target_path)
    Path = jvm.org.apache.hadoop.fs.Path
    base = target_path.rstrip("/")
    staging = f"{base}__staging{suffix}"
    backup = f"{base}__premerge{suffix}"
    # staged-count verification (guide §1.2: remove passes): the count
    # is OBSERVED on the staging write's own execution instead of read
    # back in a second pass over the staged files. The optimistic-
    # concurrency check is unchanged — the staging write re-executes
    # the plan against the then-live snapshot and the observed count is
    # measured on THAT execution, so a snapshot swapped after the probe
    # still misses `expected_rows` and aborts with the target
    # untouched. What the observation does NOT re-verify is staged-file
    # READABILITY (footer integrity); `spark.cdp.verify.readback=true`
    # restores the old read-back for storage you don't trust.
    readback = str(
        spark.conf.get(_VERIFY_READBACK_CONF, "false")
    ).lower() == "true"
    obs = None
    to_write = df
    if not readback:
        from pyspark.sql import Observation

        obs = Observation()
        to_write = df.observe(obs, F.count(F.lit(1)).alias("n"))
    writer = to_write.write.mode("overwrite")
    for k, v in (writer_options or {}).items():
        writer = writer.option(k, v)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(staging)
    if obs is not None:
        n_after = int(obs.get["n"])
    else:
        # explicit schema: a scoped merge that deletes a whole partition
        # stages ZERO files, which plain inference cannot read
        n_after = spark.read.schema(df.schema).parquet(staging).count()
    if n_after != expected_rows:
        fs.delete(Path(staging), True)
        raise ValueError(
            f"merge staged {n_after} rows but {expected_rows} were "
            f"expected {breakdown} — aborted, snapshot untouched"
        )
    # version retention (operators/history.py): a pending marker drops
    # BEFORE the first rename so a crash always leaves a trace; the
    # backup is RENAMED into __history instead of deleted on success
    from config_driven_pyspark_spark.operators import history as _hist

    retain = _hist.begin_retention(spark, base, partition_by)

    if touched_dirs is None:
        if marker_batch_id is not None:
            # staged INSIDE staging before the swap: the single rename
            # below commits data + batch marker atomically (underscore
            # prefix = hidden to the parquet reader)
            _write_batch_marker(spark, staging, marker_batch_id)
        # mode marker into the live root — it travels with the rename,
        # so a backup carrying it next to a live target proves the swap
        # completed and recovery may delete the backup outright instead
        # of resurrecting partitions the merge legitimately dropped
        out = fs.create(Path(f"{base}/{_FULL_SWAP_MARKER}"), True)
        out.close()
        if not fs.rename(Path(base), Path(backup)):
            if retain is not None:
                _hist.abort_retention(spark, base, retain)
            raise IOError(f"could not move aside {target_path}")
        if not fs.rename(Path(staging), Path(base)):
            fs.rename(Path(backup), Path(base))
            fs.delete(Path(f"{base}/{_FULL_SWAP_MARKER}"), False)
            if retain is not None:
                _hist.abort_retention(spark, base, retain)
            raise IOError(
                f"could not swap merged snapshot into {target_path!r}"
            )
        if retain is not None:
            _hist.commit_retention(
                spark, base, retain, backup, op=op, mode="full",
                replaced=[], created=[], rows_staged=n_after,
                dv_absorbed=dv_absorbed,
                schema_json=json.dumps(
                    _hist._nullable_schema(df.schema).jsonValue()
                ),
            )
        else:
            fs.delete(Path(backup), True)
        if sidecars.action == "maintain":
            _rebuild_sidecars(
                spark, base, df.schema, list(sidecars.keys),
                sidecars.partitions,
            )
        return n_after

    staged_dirs = _list_partition_dirs(spark, staging, len(partition_by))
    unexpected = sorted(set(staged_dirs) - set(touched_dirs))
    if unexpected:
        fs.delete(Path(staging), True)
        if retain is not None:
            _hist.abort_retention(spark, base, retain)
        raise ValueError(
            f"staged partition directories {unexpected[:5]} were not in "
            "the computed touched set (partition value not path-"
            "predictable — e.g. fractional timestamps); aborted with the "
            "snapshot untouched. Use a string/int/date partition column "
            "or unset partition_by for a full rewrite"
        )
    if marker_batch_id is not None:
        # per-partition markers INSIDE the staged dirs: each promotes
        # atomically with its partition's data in the rename below, so
        # a crash at any point leaves every partition either pre-merge
        # (no new marker) or post-merge (new marker) — never folded
        # data without its marker
        for d in staged_dirs:
            _write_batch_marker(spark, f"{staging}/{d}", marker_batch_id)
    elif partition_markers:
        # content-preserving rewrites (compaction) carry the existing
        # per-partition markers forward so retry dedup survives them
        for d in staged_dirs:
            if d in partition_markers:
                _write_batch_marker(
                    spark, f"{staging}/{d}", partition_markers[d]
                )
    _sidecars_before_promote(
        spark, base, staging, df.schema, touched_dirs, sidecars
    )
    moved: list[str] = []
    promoted: list[str] = []
    try:
        for d in touched_dirs:
            src = Path(f"{base}/{d}")
            if fs.exists(src):
                dst = Path(f"{backup}/{d}")
                fs.mkdirs(dst.getParent())
                if not fs.rename(src, dst):
                    raise IOError(f"could not move aside partition {d!r}")
                moved.append(d)
        for d in staged_dirs:
            src = Path(f"{staging}/{d}")
            dst = Path(f"{base}/{d}")
            fs.mkdirs(dst.getParent())
            if not fs.rename(src, dst):
                raise IOError(f"could not promote staged partition {d!r}")
            promoted.append(d)
    except Exception:
        for d in reversed(promoted):
            fs.rename(Path(f"{base}/{d}"), Path(f"{staging}/{d}"))
        for d in reversed(moved):
            fs.rename(Path(f"{backup}/{d}"), Path(f"{base}/{d}"))
        if retain is not None:
            _hist.abort_retention(spark, base, retain)
        raise
    if marker_batch_id is not None:
        # root marker is only the fast-path hint (skip the whole fold
        # when <= last); the per-partition markers written above are
        # authoritative, so losing this write to a crash re-checks
        # per-partition and still skips — no double-fold window
        _write_batch_marker(spark, base, marker_batch_id)
    if retain is not None:
        _hist.commit_retention(
            spark, base, retain, backup, op=op, mode="partition",
            replaced=moved,
            created=[d for d in staged_dirs if d not in set(moved)],
            rows_staged=n_after,
            dv_absorbed=dv_absorbed,
            schema_json=json.dumps(
                _hist._nullable_schema(df.schema).jsonValue()
            ),
        )
    else:
        fs.delete(Path(backup), True)
    fs.delete(Path(staging), True)
    return n_after


@_retry_on_lock_conflict
def merge_upsert(
    source: DataFrame,
    target_path: str,
    keys: list[str],
    delete_col: str | None = None,
    delete_mode: str = "copy_on_write",
    partition_by: list[str] | None = None,
    allow_new_columns: bool = False,
    schema_evolution: bool = False,
    update_set: dict[str, str] | None = None,
    match_condition: str | None = None,
    when_matched: str = "update",
    when_not_matched: str = "insert",
    when_not_matched_by_source: str = "none",
    by_source_condition: str | None = None,
    by_source_set: dict[str, str] | None = None,
) -> dict:
    """Apply ``source`` (a CDC batch) to the parquet snapshot at
    ``target_path`` and atomically swap in the merged snapshot.
    Returns the merge stats dict ``{n_before, n_matched, n_updated,
    n_inserted, n_deleted, n_after, rewrite}`` where ``rewrite`` is
    ``"partition"`` when only the batch's touched partitions were
    rewritten (``partition_by`` set; see module docstring) and
    ``"full"`` otherwise. Every stats number is one aggregate-only
    action.

    Conditional / column-level MERGE (the Delta/Iceberg ``WHEN MATCHED
    [AND cond] THEN UPDATE SET col = expr`` surface):

    - ``update_set`` maps target column -> SQL expression over
      ``source.<col>`` / ``target.<col>``; matched rows update ONLY
      those columns (each expression is cast to the stored column's
      type so the snapshot schema never drifts) and keep every other
      value. Match keys cannot be updated. Updating a partition column
      forces a full rewrite (the new value is not known until the
      expression evaluates, so partition scoping cannot be proven).
    - ``match_condition`` is a SQL boolean over ``source.``/
      ``target.``; matched rows update only when it is TRUE (NULL =
      no update, standard SQL predicate semantics) and otherwise stay
      byte-identical. Deletes (``delete_col``) are a separate clause
      and stay unconditional on match, like Delta's
      ``WHEN MATCHED THEN DELETE``.
    - ``when_matched='none'`` ignores matches entirely (insert-only
      merge; deletes still apply); ``when_not_matched='none'`` drops
      unmatched source rows (update-only merge).
    - ``when_not_matched_by_source`` (Delta's third clause, the
      full-sync surface): target rows with NO source match can
      ``'delete'`` (drop stale rows) or ``'update'`` (apply
      ``by_source_set`` — expressions over ``target.`` only, there is
      no source row), optionally gated by ``by_source_condition``.
      Every target row is potentially affected, so this mode forces a
      FULL rewrite — the same physics as Delta. By-source deletes fold
      into ``n_deleted`` and by-source updates into ``n_updated``.

    Schema evolution: extra source columns are projected off by
    default (update-all MERGE targets the snapshot's schema);
    ``schema_evolution=True`` (Delta's ``mergeSchema``) instead
    auto-adds them with NULL backfill, on EVERY merge flavor (r14 —
    VERDICT r13 ask #4): the update-all merge appends them inside its
    own verified swap (``allow_new_columns`` is the older update-all-
    only spelling and still works), while a conditional/by-source
    merge first evolves the snapshot through :func:`alter_table`'s
    verified add-with-backfill swap and then merges against the new
    shape (two crash-safe swaps; a crash between leaves a benignly
    widened schema). Type CONFLICTS on shared columns refuse loudly —
    silent coercion is how a bigint key becomes a double. Plain
    parquet has no metadata-only column add, so the evolving step
    forces a FULL rewrite (a scoped swap would leave partitions with
    divergent schemas, which plain directory reads resolve from one
    file's footer); batches after the evolving one scope normally
    again.

    ``delete_mode="merge_on_read"`` (r14): the batch's delete rows
    tombstone their matched target rows through a DELETION VECTOR
    (operators/deletes.py) instead of participating in the rewrite —
    and when the batch is DELETE-ONLY the merge touches ZERO data
    files (the CDC-tombstone trickle at scale: today a delete-only
    batch rewrites every touched partition). Upserts, if any, merge
    FIRST (their rewrite would otherwise absorb the fresh vector), the
    vector is written against the post-merge state, and the stats fold
    both phases. Incompatible with the by-source clause (those deletes
    target rows NOT in the batch — full-rewrite physics either way).

    Two mixed-batch consequences to plan around (ADVICE r14): (1) COST
    — the upsert phase is a copy-on-write merge whose preamble
    materializes ALL pending deletion vectors, so in a steady CDC
    stream of mixed batches every batch pays a materialization
    rewrite; the zero-data-file advantage holds for DELETE-ONLY
    batches (route tombstone trickles separately, or raise the
    coalesce/materialize cadence — operators/deletes.py). (2)
    PRECEDENCE — a key appearing in BOTH the upsert and delete slices
    of one batch is two source rows with the same key, which the
    duplicate-key guard rejects loudly before either phase runs
    ("dedupe the batch first"); there is no silent delete-wins
    ordering to rely on.

    A missing target bootstraps from the batch's non-delete rows — the
    day-zero case."""
    if not keys:
        raise ValueError("merge_upsert needs at least one key column")
    if when_matched not in ("update", "none"):
        raise ValueError("when_matched must be 'update' or 'none'")
    if when_not_matched not in ("insert", "none"):
        raise ValueError("when_not_matched must be 'insert' or 'none'")
    if when_matched == "none" and (update_set or match_condition):
        raise ValueError(
            "update_set/match_condition describe the UPDATE branch — "
            "they need when_matched='update'"
        )
    if when_not_matched_by_source not in ("none", "delete", "update"):
        raise ValueError(
            "when_not_matched_by_source must be 'none', 'delete' or "
            "'update'"
        )
    if when_not_matched_by_source == "update" and not by_source_set:
        raise ValueError(
            "when_not_matched_by_source='update' needs by_source_set "
            "({col: expr over target.*})"
        )
    if when_not_matched_by_source != "update" and by_source_set:
        raise ValueError(
            "by_source_set needs when_not_matched_by_source='update'"
        )
    by_source = when_not_matched_by_source != "none"
    for us in (update_set, by_source_set):
        if us:
            bad = sorted(set(us) & set(keys))
            if bad:
                raise ValueError(
                    f"update_set must not touch match keys {bad} — "
                    "updating a key breaks merge idempotency; delete + "
                    "insert instead"
                )
    if delete_mode not in ("copy_on_write", "merge_on_read"):
        raise ValueError(
            f"unknown delete_mode {delete_mode!r} — 'copy_on_write' or "
            "'merge_on_read'"
        )
    if delete_mode == "merge_on_read" and delete_col is None:
        raise ValueError(
            "delete_mode='merge_on_read' needs delete_col (it changes "
            "how the batch's DELETE rows apply)"
        )
    if delete_mode == "merge_on_read" and when_not_matched_by_source != "none":
        raise ValueError(
            "delete_mode='merge_on_read' is incompatible with "
            "when_not_matched_by_source — by-source deletes target rows "
            "NOT in the batch, which is full-rewrite physics either way"
        )
    conditional = (
        update_set is not None or match_condition is not None
        or when_matched != "update" or when_not_matched != "insert"
        or by_source
    )
    if conditional and allow_new_columns:
        raise ValueError(
            "allow_new_columns is only supported by the update-all merge "
            "— use schema_evolution=True, which evolves conditional "
            "merges through alter_table first"
        )
    if schema_evolution and not conditional:
        allow_new_columns = True  # rides the one-swap append path
    spark = source.sparkSession
    for k in keys:
        if k not in source.columns:
            raise ValueError(f"source is missing key column {k!r}")
    # when the partition columns are NOT all match keys, this table can
    # use the _key_stats sidecar — fold the batch's per-key min/max
    # (needed for the pruning decision) into the same stats pass
    sidecar_able = (
        bool(partition_by)
        and not set(partition_by) <= set(keys)
        and _sidecar_supported(source.schema, keys)
    )
    # one aggregate-only job for the batch stats (count + distinct keys
    # + deletes + key ranges together — never four passes over the batch)
    src_stats = source.agg(
        F.count("*").alias("n"),
        # struct wrapper: count_distinct skips NULL arguments, but a
        # NULL key row is a legitimate (single) match group here
        F.count_distinct(F.struct(*[F.col(k) for k in keys])).alias(
            "n_keys"
        ),
        (
            F.sum(
                F.coalesce(F.col(delete_col), F.lit(False)).cast("long")
            ) if delete_col is not None else F.lit(0)
        ).alias("n_del"),
        *(_key_range_aggs(keys) if sidecar_able else []),
    ).collect()[0]
    n_src, n_src_keys = int(src_stats["n"]), int(src_stats["n_keys"])
    n_del_total = int(src_stats["n_del"] or 0)
    if n_src_keys != n_src:
        raise ValueError(
            f"source has {n_src - n_src_keys} duplicate key rows — a "
            "target row would match more than one source row (the MERGE "
            "ambiguity); dedupe the batch first"
        )
    batch_ranges, probe_values = (
        _batch_probe(source, keys, src_stats, n_src_keys)
        if sidecar_able else (None, None)
    )
    if delete_col is not None:
        upserts = source.filter(
            ~F.coalesce(F.col(delete_col), F.lit(False))
        ).drop(delete_col)
    else:
        upserts = source

    if delete_mode == "merge_on_read" and storage.exists(spark, target_path):
        from config_driven_pyspark_spark.operators.deletes import (
            delete_matching_dv,
        )

        del_keys = (
            source.filter(F.coalesce(F.col(delete_col), F.lit(False)))
            .select(*keys)
        )
        # upserts FIRST (their rewrite would absorb a just-written
        # vector), each phase on the batch slice that drives it; a
        # delete-only batch skips the merge machinery entirely. The
        # batch-stats pass above already counted the non-delete rows —
        # no extra job (r15)
        if n_src - n_del_total > 0:
            stats = merge_upsert(
                upserts, target_path, keys,
                partition_by=partition_by,
                allow_new_columns=allow_new_columns,
                schema_evolution=schema_evolution,
                update_set=update_set,
                match_condition=match_condition,
                when_matched=when_matched,
                when_not_matched=when_not_matched,
            )
        else:
            stats = {"n_before": None, "n_matched": 0, "n_updated": 0,
                     "n_inserted": 0, "n_deleted": 0, "n_after": None,
                     "rewrite": "none"}
        dv = delete_matching_dv(
            spark, target_path, del_keys, keys, partition_by
        )
        return {
            "n_before": (
                stats["n_before"] if stats["n_before"] is not None
                else dv["n_before"]
            ),
            "n_matched": stats["n_matched"],
            "n_updated": stats["n_updated"],
            "n_inserted": stats["n_inserted"],
            "n_deleted": dv["n_matched"],
            "n_after": dv["n_after"],
            "rewrite": (
                "dv" if stats["rewrite"] == "none" else stats["rewrite"]
            ),
        }

    _recover_crashed_swap(spark, target_path)
    # r16 (VERDICT r15 #1, guide §1.2): pending deletion vectors FOLD
    # into this merge's own rewrite instead of paying a separate
    # materialize_deletes rewrite first — the target is read THROUGH
    # the pending tombstones (anti-join at scan time), the rewrite
    # scope is widened to the partitions the vectors reference, and the
    # absorbed vectors are archived at commit (versioned tables re-tag
    # them with the merge's version, so time travel below it still
    # applies them). The swap's under-lock `_deletes` listing check
    # pins the absorbed set: a vector landing mid-fold aborts
    # retryably. Schema-evolving merges still materialize first — their
    # alter_table step is a separate rewrite that must not run with
    # vectors pending.
    pending = None  # (entries, dv frame, nseg, dv_dirs | None)
    if storage.exists(spark, target_path):
        from config_driven_pyspark_spark.operators import deletes as _dvm

        _b = target_path.rstrip("/")
        dv_entries = _dvm._list_dv(spark, _dvm._dv_root(_b))
        if dv_entries and schema_evolution:
            _absorb_pending_deletes(spark, target_path, partition_by)
        elif dv_entries:
            _dvm._gc_dv_staging(spark, _b)
            dv_frame, dv_nseg = _dvm._dv_frame(
                spark, [(_dvm._dv_root(_b), e) for e in dv_entries]
            )
            if dv_nseg != len(partition_by or []) + 1:
                raise ValueError(
                    f"deletion vectors of {_b!r} were written at "
                    f"partition depth {dv_nseg - 1} but merge_upsert "
                    f"was called with partition_by={partition_by} — "
                    "pass the table's real partition columns (a "
                    "mismatched rewrite would change the on-disk "
                    "layout)"
                )
            dv_dirs = None
            if partition_by:
                # partitions the tombstones reference = the rel paths'
                # leading segments; bounded by deleted rows + the cap
                drows = (
                    dv_frame.select(
                        F.concat_ws(
                            "/",
                            F.slice(
                                F.split("rel_path", "/"), 1, dv_nseg - 1
                            ),
                        ).alias("d")
                    )
                    .distinct()
                    .limit(_MAX_SCOPED_PARTITIONS + 1)
                    .collect()
                )
                if len(drows) <= _MAX_SCOPED_PARTITIONS:
                    dv_dirs = sorted(r["d"] for r in drows)
            pending = (dv_entries, dv_frame, dv_nseg, dv_dirs)

    if not storage.exists(spark, target_path):
        if when_not_matched == "none":
            raise ValueError(
                f"no snapshot at {target_path!r} and when_not_matched="
                "'none' — an update-only merge has nothing to bootstrap"
            )
        n_ins = upserts.count()
        _bootstrap(
            upserts, target_path, partition_by, keys if sidecar_able else None
        )
        return {"n_before": 0, "n_matched": 0, "n_updated": 0,
                "n_inserted": n_ins, "n_deleted": 0, "n_after": n_ins,
                "rewrite": "full"}

    def _dv_filter(frame: DataFrame) -> DataFrame:
        """Read through the pending tombstones (r16 fold) — must wrap
        every RAW file scan of the target, or tombstoned rows would
        re-match and be resurrected into the rewrite."""
        if pending is None:
            return frame
        from config_driven_pyspark_spark.operators.deletes import (
            apply_deletion_vectors,
        )

        return apply_deletion_vectors(frame, pending[1], pending[2])

    target = _cast_void_cols(
        _dv_filter(spark.read.parquet(target_path)), upserts
    )
    missing = [c for c in target.columns if c not in upserts.columns]
    if missing and when_not_matched == "insert":
        # update-only merges may carry a partial schema: only the keys
        # plus whatever the update expressions reference
        raise ValueError(
            f"source is missing target columns {missing} — update-all "
            "replacement and inserts take whole rows, so the batch must "
            "carry the full schema (or set when_not_matched='none')"
        )
    if schema_evolution:
        from pyspark.sql.types import NullType

        # loud type-conflict refusal: a shared column whose batch type
        # disagrees with the stored one must not silently coerce
        conflicts = sorted(
            c for c in upserts.columns
            if c in target.columns
            and upserts.schema[c].dataType != target.schema[c].dataType
            and not isinstance(upserts.schema[c].dataType, NullType)
        )
        if conflicts:
            raise ValueError(
                "schema_evolution adds NEW columns only — shared "
                f"columns {conflicts} have conflicting types "
                f"(batch {[upserts.schema[c].dataType.simpleString() for c in conflicts]}"
                f" vs stored {[target.schema[c].dataType.simpleString() for c in conflicts]});"
                " cast the batch explicitly"
            )
        if conditional:
            evolve = [
                c for c in upserts.columns if c not in target.columns
            ]
            bad = sorted(
                c for c in evolve
                if isinstance(upserts.schema[c].dataType, NullType)
            )
            if bad:
                raise ValueError(
                    f"evolving columns {bad} are untyped (all-NULL "
                    "batch column) — cast them to a real type first"
                )
            if evolve:
                # conditional merges target the snapshot's own schema,
                # so evolve the SNAPSHOT first: alter_table's verified
                # add-with-backfill swap, then merge against the new
                # shape (partition columns can never be in `evolve` —
                # they exist in the stored schema by construction)
                alter_table(
                    spark, target_path,
                    add={
                        c: "CAST(NULL AS "
                        f"{upserts.schema[c].dataType.simpleString()})"
                        for c in evolve
                    },
                    partition_by=partition_by,
                )
                target = _cast_void_cols(
                    spark.read.parquet(target_path), upserts
                )
    for us in (update_set, by_source_set):
        if us:
            unknown = sorted(set(us) - set(target.columns))
            if unknown:
                raise ValueError(
                    f"update_set names columns {unknown} not in the "
                    f"snapshot schema {target.columns}"
                )
    new_cols = (
        [c for c in upserts.columns if c not in target.columns]
        if allow_new_columns else []
    )
    if new_cols:
        # append the evolved columns to the snapshot schema: survivors
        # carry NULL; types come from the batch
        target = target.select(
            "*",
            *[
                F.lit(None).cast(upserts.schema[c].dataType).alias(c)
                for c in new_cols
            ],
        )
    # batch keys under join-safe aliases; reused by the stats probe, the
    # (null-safe) survivors anti-join, and touched-partition discovery
    bkeys = source.select(*[F.col(k).alias(f"__k_{k}") for k in keys])
    key_cond = [F.col(k).eqNullSafe(F.col(f"__k_{k}")) for k in keys]

    # an evolving merge can't scope: old-schema files would survive in
    # untouched partitions and a plain directory read resolves the
    # schema from one file's footer. An update_set touching a partition
    # column can't either: the new value is an expression result, so
    # the touched set isn't known until evaluation. A by-source clause
    # can't either: target rows in EVERY partition are potentially
    # affected (the same full-rewrite physics as Delta's clause).
    scoped = (
        bool(partition_by) and not new_cols and not by_source
        and not (update_set and set(update_set) & set(partition_by))
        # r16 fold: absorbing pending vectors needs their partitions in
        # the rewrite scope — unknown (over-cap) dv dirs force a full
        # rewrite so no tombstone can outlive the swap unabsorbed
        and (pending is None or pending[3] is not None)
        and _layout_matches(spark, target_path, partition_by)
    )
    # ONE snapshot pass for n_before / n_matched / n_deleted — a left
    # join against the (small, AQE-broadcast) batch keys + one
    # aggregate. In scoped mode the SAME pass also collects the
    # partition values matched rows currently live in (an update can
    # move a row out of a partition the batch's new values never name)
    # — the r11 consolidation that removed the separate semi-join scan
    # and count job which made scoped merges read the snapshot twice.
    probe = source.select(
        *[F.col(k).alias(f"__k_{k}") for k in keys],
        (
            F.coalesce(F.col(delete_col), F.lit(False))
            if delete_col is not None else F.lit(False)
        ).alias("__del"),
    )
    need_old_parts = scoped and not set(partition_by) <= set(keys)

    # r12 read-path fix: when every partition column IS a match key,
    # matched target rows provably share the batch rows' partition
    # values — discover the touched partitions FIRST (one batch-sized
    # distinct, no snapshot read) and run the stats probe against the
    # PRUNED scope. The full snapshot is then touched only by one
    # zero-column count for n_before (row-group metadata, no column
    # bytes) — r11 scoped the writes; this scopes the probe reads.
    new_parts: list = []
    touched = None
    pre_pruned = False
    if scoped:
        new_parts = source.select(
            *[F.col(c) for c in partition_by],
            *[
                F.col(c).cast("string").alias(f"__s_{c}")
                for c in partition_by
            ],
        ).distinct().limit(_MAX_SCOPED_PARTITIONS + 1).collect()
    if (
        scoped and not need_old_parts
        and len(new_parts) <= _MAX_SCOPED_PARTITIONS
    ):
        t = _dirs_and_pred(
            partition_by, [r.asDict() for r in new_parts]
        )
        if pending is not None:
            # absorb scope: the partitions the pending vectors
            # reference rewrite in the SAME swap (r16 fold)
            t = _widen_scope_with_dirs(t, pending[3], partition_by)
        if len(t[0]) <= _MAX_SCOPED_PARTITIONS:
            touched = t
            pre_pruned = True

    # r12 ask #4: when the partition column is NOT a key, the probe
    # genuinely needs the partitions matched rows could live in — the
    # sidecars (per-partition and per-file key ranges, maintained at
    # swap time) prune it to the dirs and files whose ranges intersect
    # the batch's; an absent / differently-keyed sidecar falls back to
    # the full probe.
    base = target_path.rstrip("/")
    pruned = None
    if sidecar_able and scoped:
        pruned = _sidecar_read_paths(
            spark, base, len(partition_by), keys, batch_ranges,
            probe_values,
        )
    stat_aggs = [
        F.count("*").alias("n"),
        F.sum(F.col("__del").isNotNull().cast("long")).alias("n_m"),
        F.sum(F.coalesce(F.col("__del"), F.lit(False)).cast("long")).alias(
            "n_d"
        ),
    ]
    if need_old_parts:
        stat_aggs.append(
            # sliced IN the query: the fallback decision only needs to
            # know the set exceeded 2*cap, so the driver never receives
            # (and the final agg never ships) an unbounded array when a
            # batch's matches span a huge partition count
            F.slice(
                F.collect_set(
                    F.when(
                        F.col("__del").isNotNull(),
                        F.struct(
                            *[F.col(c).alias(c) for c in partition_by],
                            *[
                                F.col(c).cast("string").alias(f"__s_{c}")
                                for c in partition_by
                            ],
                        ),
                    )
                ),
                1, 2 * _MAX_SCOPED_PARTITIONS + 1,
            ).alias("__oldparts")
        )
    if pre_pruned:
        probe_src = target.filter(touched[1])
    elif pruned == []:
        # no dir or file's key range intersects the batch: provably
        # zero matches — skip the probe scan entirely
        probe_src = None
    elif pruned is not None:
        probe_src = _dv_filter(
            spark.read.option("basePath", base).parquet(*pruned)
        )
    else:
        probe_src = target
    dv_f, dv_n = (pending[1], pending[2]) if pending else (None, None)

    def _sdir(d: dict) -> str:
        return _partition_dir(
            partition_by, {c: d[f"__s_{c}"] for c in partition_by}
        )

    grp_dirs = None  # [(dir, rows)] for EVERY partition dir, or None
    old_dirs: list | None = []  # matched dirs; None = over the cap
    if probe_src is None:
        tgt_stats = None
        n_matched = n_deleted = 0
        n_before = _fresh_count(spark, base, dv=dv_f, nseg=dv_n)
    elif scoped and not pre_pruned and pruned is None:
        # r16 (VERDICT r15 #5): the full-probe scoped merge folds
        # n_before, n_matched/n_deleted, the matched-partition
        # discovery AND the per-partition row counts into ONE two-level
        # aggregate — the separate zero-column n_scope pass (and the
        # _fresh_count this path used to pay) is gone. Level 1 groups
        # the probe join by the NORMALIZED partition-value strings
        # (NULL and '' collapse into one class — exactly the
        # directory-name equivalence, so groups map 1:1 to directories
        # even when distinct raw values share a string form, the r15
        # deferral); level 2 folds the tiny per-group frame into totals
        # plus bounded group lists, so n_scope for any later-chosen
        # touched set is an exact driver-side summation.
        norm = [
            F.when(
                F.col(c).isNull()
                | (F.col(c).cast("string") == F.lit("")),
                F.lit(None).cast("string"),
            ).otherwise(F.col(c).cast("string")).alias(f"__s_{c}")
            for c in partition_by
        ]
        per = probe_src.join(probe, key_cond, "left").groupBy(*norm).agg(
            F.count("*").alias("__n"),
            F.sum(F.col("__del").isNotNull().cast("long")).alias("__nm"),
            F.sum(
                F.coalesce(F.col("__del"), F.lit(False)).cast("long")
            ).alias("__nd"),
        )
        l2 = [
            F.sum("__n").alias("n"),
            F.sum("__nm").alias("n_m"),
            F.sum("__nd").alias("n_d"),
            F.slice(
                F.collect_set(
                    F.struct(
                        *[F.col(f"__s_{c}") for c in partition_by],
                        F.col("__n"),
                    )
                ),
                1, 2 * _MAX_SCOPED_PARTITIONS + 1,
            ).alias("__groups"),
        ]
        if need_old_parts:
            l2.append(
                F.slice(
                    F.collect_set(
                        F.when(
                            F.col("__nm") > 0,
                            F.struct(
                                *[
                                    F.col(f"__s_{c}")
                                    for c in partition_by
                                ]
                            ),
                        )
                    ),
                    1, 2 * _MAX_SCOPED_PARTITIONS + 1,
                ).alias("__oldparts")
            )
        row = per.agg(*l2).collect()[0]
        tgt_stats = None
        n_before = int(row["n"] or 0)
        n_matched = int(row["n_m"] or 0)
        n_deleted = int(row["n_d"] or 0)
        groups = [r.asDict() for r in row["__groups"] or []]
        if len(groups) <= 2 * _MAX_SCOPED_PARTITIONS:
            grp_dirs = [(_sdir(g), int(g["__n"])) for g in groups]
        if need_old_parts:
            ops = [r.asDict() for r in row["__oldparts"] or []]
            old_dirs = (
                None if len(ops) > 2 * _MAX_SCOPED_PARTITIONS
                else [_sdir(o) for o in ops]
            )
    else:
        tgt_stats = probe_src.join(probe, key_cond, "left").agg(
            *stat_aggs
        ).collect()[0]
        n_matched = int(tgt_stats["n_m"] or 0)
        n_deleted = int(tgt_stats["n_d"] or 0)
        if pre_pruned or pruned is not None:
            # the probe ran over a pruned scope, so its count is not
            # n_before — that costs one zero-column scan (row-group
            # footer metadata only); under pre_pruned it IS n_scope
            if pre_pruned:
                n_scope = int(tgt_stats["n"])
            n_before = _fresh_count(spark, base, dv=dv_f, nseg=dv_n)
        else:
            n_before = int(tgt_stats["n"])
        if need_old_parts and tgt_stats is not None:
            ops = [r.asDict() for r in tgt_stats["__oldparts"] or []]
            old_dirs = (
                None if len(ops) > 2 * _MAX_SCOPED_PARTITIONS
                else [_sdir(o) for o in ops]
            )

    if scoped and not pre_pruned:
        # touched scope as directory NAMES: the batch's partitions, the
        # matched rows' current partitions, and (r16 fold) the pending
        # vectors' partitions — prune predicate via the string-cast
        # directory mapping (_dir_prune_pred), which Catalyst evaluates
        # against the partition values like any partition filter
        if len(new_parts) <= _MAX_SCOPED_PARTITIONS and old_dirs is not None:
            dirs = {_sdir(r.asDict()) for r in new_parts} | set(old_dirs)
            if pending is not None:
                dirs |= set(pending[3])
            if len(dirs) <= _MAX_SCOPED_PARTITIONS:
                sd = sorted(dirs)
                touched = (sd, _dir_prune_pred(partition_by, sd))
    if touched is not None:
        touched_dirs, prune = touched
        if pre_pruned:
            tgt_scope = probe_src
        else:
            tgt_scope = target.filter(prune)
            if grp_dirs is not None:
                # exact scope count by summation over the complete
                # per-partition group counts — no second pass (r16)
                dirset = set(touched_dirs)
                n_scope = sum(n for d, n in grp_dirs if d in dirset)
            else:
                # rows inside the touched partitions: a partition-
                # pruned, zero-column scan (row-group counts only)
                n_scope = tgt_scope.count()
    else:
        touched_dirs = None
        tgt_scope = target
        n_scope = n_before
    n_inserted = (
        n_src - n_matched - (n_del_total - n_deleted)
        if when_not_matched == "insert" else 0
    )
    obs = None
    if not conditional:
        n_updated = n_matched - n_deleted
        # null-safe anti-join: a NULL-key target row matched null-safely
        # by the stats probe must also be REMOVED here, or the staged
        # count disagrees with expected and the merge aborts
        survivors = tgt_scope.join(bkeys, key_cond, "left_anti")
        merged = survivors.unionByName(
            upserts.select(*target.columns), allowMissingColumns=False
        )
        expected = n_scope - n_matched + (n_src - n_del_total)
        breakdown = (
            f"({n_scope} in scope - {n_matched} matched + "
            f"{n_src - n_del_total} upserts)"
        )
    else:
        # conditional branch: ONE full-outer join carries matched,
        # target-only and source-only rows; per-column CASE picks the
        # update expression / source value / target value. The aliases
        # make `source.<col>` / `target.<col>` resolve natively inside
        # user expressions — the same qualification Delta's MERGE uses.
        from pyspark.sql import Observation

        tgt_a = tgt_scope.withColumn("__t_ex", F.lit(True)).alias("target")
        src_a = source.select(
            "*",
            (
                F.coalesce(F.col(delete_col), F.lit(False))
                if delete_col is not None else F.lit(False)
            ).alias("__del"),
            F.lit(True).alias("__s_ex"),
        ).alias("source")
        jcond = None
        for k in keys:
            term = F.col(f"target.{k}").eqNullSafe(F.col(f"source.{k}"))
            jcond = term if jcond is None else (jcond & term)
        joined = tgt_a.join(src_a, jcond, "full_outer")
        is_matched = (
            F.col("__t_ex").isNotNull() & F.col("__s_ex").isNotNull()
        )
        is_del = F.coalesce(F.col("__del"), F.lit(False))
        cond = (
            F.expr(match_condition) if match_condition else F.lit(True)
        )
        do_update = (
            (is_matched & ~is_del & cond)
            if when_matched == "update" else F.lit(False)
        )
        src_only = F.col("__t_ex").isNull()
        tgt_only = F.col("__s_ex").isNull()
        bs_cond = (
            F.expr(by_source_condition)
            if by_source_condition else F.lit(True)
        )
        bs_delete = (
            (tgt_only & bs_cond)
            if when_not_matched_by_source == "delete" else F.lit(False)
        )
        bs_update = (
            (tgt_only & bs_cond)
            if when_not_matched_by_source == "update" else F.lit(False)
        )
        # the staged-count verification needs the by-source delete
        # count BEFORE the write — one anti-join count, only in the
        # (inherently full-scan) delete mode
        n_bs_del = 0
        if when_not_matched_by_source == "delete":
            stale = tgt_scope.alias("target").join(
                bkeys, key_cond, "left_anti"
            )
            if by_source_condition:
                stale = stale.filter(F.expr(by_source_condition))
            n_bs_del = stale.count()
        keep = (
            (tgt_only & ~bs_delete)
            | (is_matched & ~is_del)
            | (src_only & ~is_del & F.lit(when_not_matched == "insert"))
        )
        out_cols = []
        for c in target.columns:
            if update_set and c in update_set:
                # cast to the stored type so the snapshot schema never
                # drifts under an expression's own result type
                upd = F.expr(update_set[c]).cast(target.schema[c].dataType)
            elif update_set is not None:
                upd = F.col(f"target.{c}")
            else:
                upd = F.col(f"source.{c}")  # condition-gated update-all
            ins = (
                F.col(f"source.{c}")
                if when_not_matched == "insert" else F.col(f"target.{c}")
            )
            bs_val = (
                F.expr(by_source_set[c]).cast(target.schema[c].dataType)
                if by_source_set and c in by_source_set
                else F.col(f"target.{c}")
            )
            out_cols.append(
                F.when(src_only, ins).when(do_update, upd)
                .when(bs_update, bs_val)
                .otherwise(F.col(f"target.{c}")).alias(c)
            )
        # observed on the join node: n_updated is collected DURING the
        # staging write (no second execution of the join)
        obs = Observation()
        merged = joined.observe(
            obs,
            F.sum(do_update.cast("long")).alias("n_upd"),
            F.sum(bs_update.cast("long")).alias("n_bs_upd"),
        ).filter(keep).select(*out_cols)
        expected = n_scope - n_deleted - n_bs_del + n_inserted
        breakdown = (
            f"({n_scope} in scope - {n_deleted} deleted - "
            f"{n_bs_del} stale + {n_inserted} inserts)"
        )
    staged = _stage_verify_swap(
        merged, target_path, expected, partition_by, breakdown,
        touched_dirs=touched_dirs,
        # a table this merge cannot serve drops the sidecars: a stale
        # one would be NARROW after the rewrite, the one unsafe direction
        sidecars=_Sidecars("maintain", tuple(keys)) if sidecar_able
        else _DROP,
        op="merge",
        # r16 fold: the under-lock listing must equal exactly the
        # absorbed set — a vector landing mid-fold aborts retryably
        dv_expected=(
            [e["name"] for e in pending[0]] if pending is not None
            else None
        ),
    )
    if pending is not None:
        from config_driven_pyspark_spark.operators.deletes import (
            _archive_absorbed,
        )

        _archive_absorbed(
            spark, base, pending[0], full_swap=touched_dirs is None,
            what="merge_upsert",
        )
    if obs is not None:
        got = obs.get
        # by-source deletes fold into n_deleted, by-source updates
        # into n_updated (keeps the stats-dict shape stable)
        n_updated = int(got["n_upd"] or 0) + int(got["n_bs_upd"] or 0)
        n_deleted += n_bs_del
    n_after = n_before - n_scope + staged
    return {"n_before": n_before, "n_matched": n_matched,
            "n_updated": n_updated, "n_inserted": n_inserted,
            "n_deleted": n_deleted, "n_after": n_after,
            "rewrite": "full" if touched_dirs is None else "partition"}


def stage_merge(df: DataFrame, spec: dict) -> DataFrame:
    """``{"stage": "merge", "path": ..., "keys": [...],
    "delete_col": name?, "partition_by": [...]?,
    "allow_new_columns": bool?, "schema_evolution": bool?,
    "update_set": {col: expr}?,
    "match_condition": expr?, "when_matched": "update"|"none"?,
    "when_not_matched": "insert"|"none"?,
    "when_not_matched_by_source": "none"|"delete"|"update"?,
    "by_source_condition": expr?, "by_source_set": {col: expr}?}`` —
    ``df`` is the CDC batch; applies it to the snapshot and returns the
    POST-merge snapshot so downstream stages read the new table state.
    ``update_set`` / ``match_condition`` expressions reference
    ``source.<col>`` and ``target.<col>``; by-source expressions only
    ``target.<col>``."""
    merge_upsert(
        df, spec["path"], list(spec["keys"]),
        spec.get("delete_col"),
        partition_by=spec.get("partition_by"),
        delete_mode=spec.get("delete_mode", "copy_on_write"),
        allow_new_columns=bool(spec.get("allow_new_columns", False)),
        schema_evolution=bool(spec.get("schema_evolution", False)),
        update_set=spec.get("update_set"),
        match_condition=spec.get("match_condition"),
        when_matched=spec.get("when_matched", "update"),
        when_not_matched=spec.get("when_not_matched", "insert"),
        when_not_matched_by_source=spec.get(
            "when_not_matched_by_source", "none"
        ),
        by_source_condition=spec.get("by_source_condition"),
        by_source_set=spec.get("by_source_set"),
    )
    return df.sparkSession.read.parquet(spec["path"])


@_retry_on_lock_conflict
def scd2_merge(
    source: DataFrame,
    target_path: str,
    keys: list[str],
    ts_col: str = "effective_ts",
    delete_col: str | None = None,
    partition_by: list[str] | None = None,
) -> dict:
    """Type-2 slowly-changing-dimension merge over plain parquet — the
    versioned counterpart of :func:`merge_upsert` (the warehouse-classic
    history-keeping upsert):

    - the snapshot carries every business column plus ``valid_from``,
      ``valid_to`` (NULL = open) and ``is_current``;
    - a CHANGED matched row closes the current version
      (``valid_to`` = the batch row's ``ts_col``, ``is_current`` false)
      and appends the new version;
    - an UNCHANGED matched row is a no-op (standard SCD2 change
      detection — re-delivered identical rows create no versions);
    - an unmatched row inserts as a new current version;
    - a ``delete_col``-flagged matched row closes without a successor;
    - closed history rows are never touched.

    ``source`` must carry the business columns plus ``ts_col`` (the
    per-row effective time of the change). A missing target bootstraps
    from the batch (day zero). Source keys must be unique per batch
    (same MERGE ambiguity contract as :func:`merge_upsert`).

    Change detection is a null-safe struct comparison over every
    business column (``<=>`` recurses into struct fields), JVM-side.

    Scale: the history partition is touched only by the final union
    (never joined); the current partition joins the batch once
    (full-outer on keys — AQE broadcasts the CDC side from runtime
    stats); one partitioned rewrite with the row-count-verified atomic
    swap. When ``partition_by`` names key/business columns (a stable
    dimension attribute like region), the rewrite is PARTITION-SCOPED:
    only partitions holding matched current rows or receiving new
    versions are rewritten, and history files in untouched partitions
    stay byte-identical. Partitioning by the SCD2 metadata columns
    (``is_current``/``valid_to``) still works but forces a full rewrite
    — every merge moves rows across those partitions by design."""
    if not keys:
        raise ValueError("scd2_merge needs at least one key column")
    spark = source.sparkSession
    meta = {"valid_from", "valid_to", "is_current"}
    for c in (*keys, ts_col):
        if c not in source.columns:
            raise ValueError(f"source is missing column {c!r}")
    if meta & set(source.columns):
        raise ValueError(
            f"source must not carry the SCD2 metadata columns "
            f"{sorted(meta & set(source.columns))} — the merge owns them"
        )
    # scd2 shares the merge _key_stats sidecar discipline: when the
    # partition columns are business (not key) columns, the discovery
    # semi-join can prune to key-range-intersecting partitions — fold
    # the batch's per-key ranges into the same stats pass
    sidecar_able = (
        bool(partition_by)
        and not set(partition_by) <= set(keys)
        and all(
            c in source.columns and c not in (ts_col,)
            for c in partition_by
        )
        and _sidecar_supported(source.schema, keys)
    )
    batch_stats = source.agg(
        F.count("*").alias("n"),
        F.count_distinct(F.struct(*[F.col(k) for k in keys])).alias(
            "n_keys"
        ),
        *(_key_range_aggs(keys) if sidecar_able else []),
    ).collect()[0]
    n_src = int(batch_stats["n"])
    if int(batch_stats["n_keys"]) != n_src:
        raise ValueError(
            "source has duplicate key rows — one key would version "
            "more than once in a single batch; split the batch by "
            "effective time first"
        )
    batch_ranges, probe_values = (
        _batch_probe(source, keys, batch_stats, n_src)
        if sidecar_able else (None, None)
    )
    if delete_col is not None:
        is_del = F.coalesce(F.col(delete_col), F.lit(False))
        deletes = source.filter(is_del).drop(delete_col)
        upserts = source.filter(~is_del).drop(delete_col)
    else:
        deletes = None
        upserts = source
    biz = [c for c in upserts.columns if c != ts_col and c not in keys]

    _recover_crashed_swap(spark, target_path)
    _absorb_pending_deletes(spark, target_path, partition_by)

    def as_version(df: DataFrame) -> DataFrame:
        return df.select(
            *keys, *biz,
            F.col(ts_col).alias("valid_from"),
            F.lit(None).cast(df.schema[ts_col].dataType).alias("valid_to"),
            F.lit(True).alias("is_current"),
        )

    if not storage.exists(spark, target_path):
        boot = as_version(upserts)
        n = boot.count()
        _bootstrap(
            boot, target_path, partition_by, keys if sidecar_able else None
        )
        return {"n_closed": 0, "n_new_versions": n, "n_unchanged": 0,
                "n_deleted": 0, "n_after": n, "rewrite": "full"}

    def _read(frame: DataFrame) -> DataFrame:
        frame = _cast_void_cols(frame, upserts)
        # a snapshot partitioned by is_current reads the flag back as a
        # STRING partition value (Spark's partition-type inference has
        # no boolean case) — normalize, the merge owns this column
        if dict(frame.dtypes).get("is_current") == "string":
            frame = frame.withColumn(
                "is_current", F.col("is_current").cast("boolean")
            )
        return frame

    target = _read(spark.read.parquet(target_path))
    missing = [c for c in (*keys, *biz, *meta) if c not in target.columns]
    if missing:
        raise ValueError(
            f"target snapshot is missing columns {missing} — not an SCD2 "
            "table produced by scd2_merge"
        )

    src_all = (
        upserts.withColumn("__del", F.lit(False)).unionByName(
            deletes.withColumn("__del", F.lit(True))
        ) if deletes is not None
        else upserts.withColumn("__del", F.lit(False))
    )
    skeys = src_all.select(*[F.col(k).alias(f"__k_{k}") for k in keys])
    key_cond = [F.col(k).eqNullSafe(F.col(f"__k_{k}")) for k in keys]

    # touched-partition discovery: only key/business partition columns
    # scope (metadata columns move rows across partitions every merge)
    base = target_path.rstrip("/")
    touched = None
    if (
        partition_by
        and set(partition_by) <= set(keys) | set(biz)
        and _layout_matches(spark, target_path, partition_by)
    ):
        if set(partition_by) <= set(keys):
            # matched rows share the batch rows' key-derived partition
            # values — deletes included, no snapshot read needed
            parts_src = src_all.select(*partition_by)
        else:
            # a business partition value may CHANGE: new versions land
            # at the batch's values, closed rows stay at the current
            # rows' values — cover both with one read-only semi-join,
            # PRUNED by the sidecars when present: the pruned read is a
            # superset of the files holding matching keys, so the
            # semi-join over it still finds every matched current row
            # (r12 — the scd2 read-path counterpart of the merge probe
            # pruning)
            pruned = _sidecar_read_paths(
                spark, base, len(partition_by), keys, batch_ranges,
                probe_values,
            ) if sidecar_able else None
            if pruned is None:
                cur = target.filter(F.col("is_current"))
            elif pruned:
                cur = _read(
                    spark.read.option("basePath", base).parquet(*pruned)
                ).filter(F.col("is_current"))
            else:
                cur = None  # provably no matched rows anywhere
            parts_src = upserts.select(*partition_by)
            if cur is not None:
                parts_src = parts_src.unionByName(
                    cur.join(skeys, key_cond, "left_semi")
                    .select(*partition_by)
                )
        touched = _touched_partitions(parts_src, partition_by)
    if touched is not None:
        touched_dirs, prune, _ = touched
        tgt_scope = target.filter(prune)
        # the ONLY full-snapshot touch in scoped mode: a zero-column
        # count (row-group footer metadata, no column bytes) for the
        # n_after stat — every join/aggregate below reads tgt_scope
        n_total = _fresh_count(spark, target_path.rstrip("/"))
    else:
        touched_dirs = None
        tgt_scope = target
        n_total = None

    # history rows in touched partitions ride along unchanged in the
    # scoped rewrite; untouched partitions' history is never even read
    history = tgt_scope.filter(~F.col("is_current"))
    current = tgt_scope.filter(F.col("is_current"))

    s = src_all.select(
        *[F.col(k).alias(f"__k_{k}") for k in keys],
        *[F.col(c).alias(f"__s_{c}") for c in biz],
        F.col(ts_col).alias("__ts"),
        "__del",
    )
    joined = current.join(s, key_cond, "full_outer")
    matched = F.col("__ts").isNotNull() & F.col("is_current").isNotNull()
    changed = matched & ~F.struct(*[F.col(c) for c in biz]).eqNullSafe(
        F.struct(*[F.col(f"__s_{c}") for c in biz])
    )
    closing = matched & (changed | F.col("__del"))

    # two aggregate-only jobs for ALL the stats: one over the scoped
    # snapshot (total + current together), one over the probe join
    # (closed / deleted / unchanged together) — never five scans
    tgt_stats = tgt_scope.agg(
        F.count("*").alias("n"),
        F.sum(F.col("is_current").cast("long")).alias("n_cur"),
    ).collect()[0]
    n_current = int(tgt_stats["n_cur"] or 0)
    n_history = int(tgt_stats["n"]) - n_current
    n_scope = n_history + n_current
    if n_total is None:
        n_total = n_scope
    j_stats = joined.agg(
        F.sum(closing.cast("long")).alias("n_closed"),
        F.sum((matched & F.col("__del")).cast("long")).alias("n_del"),
        F.sum(
            (matched & ~changed & ~F.col("__del")).cast("long")
        ).alias("n_same"),
    ).collect()[0]
    n_closed = int(j_stats["n_closed"] or 0)
    n_deleted = int(j_stats["n_del"] or 0)
    n_unchanged = int(j_stats["n_same"] or 0)

    kept_current = joined.filter(
        F.col("__ts").isNull() | (matched & ~changed & ~F.col("__del"))
    ).select(*keys, *biz, "valid_from", "valid_to", "is_current")
    closed = joined.filter(closing).select(
        *keys, *biz, "valid_from",
        F.col("__ts").alias("valid_to"),
        F.lit(False).alias("is_current"),
    )
    new_versions = joined.filter(
        ~F.col("__del") & F.col("__ts").isNotNull()
        & (F.col("is_current").isNull() | changed)
    ).select(
        *[F.coalesce(F.col(f"__k_{k}"), F.col(k)).alias(k) for k in keys],
        *[F.col(f"__s_{c}").alias(c) for c in biz],
        F.col("__ts").alias("valid_from"),
        F.lit(None).cast(joined.schema["__ts"].dataType).alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    n_new = n_src - (deletes.count() if deletes is not None else 0) \
        - n_unchanged
    merged = history.unionByName(kept_current).unionByName(
        closed
    ).unionByName(new_versions)
    expected = n_history + n_current + n_new
    staged = _stage_verify_swap(
        merged, target_path, expected, partition_by,
        f"({n_history} history + {n_current} current + {n_new} new "
        "versions)",
        touched_dirs=touched_dirs,
        sidecars=_Sidecars("maintain", tuple(keys)) if sidecar_able
        else _DROP,
        op="scd2",
    )
    return {"n_closed": n_closed, "n_new_versions": n_new,
            "n_unchanged": n_unchanged, "n_deleted": n_deleted,
            "n_after": n_total - n_scope + staged,
            "rewrite": "full" if touched_dirs is None else "partition"}


def stage_scd2(df: DataFrame, spec: dict) -> DataFrame:
    """``{"stage": "scd2", "path": ..., "keys": [...], "ts_col": ...,
    "delete_col": name?, "partition_by": [...]?}`` — ``df`` is the CDC
    batch; returns the post-merge versioned snapshot."""
    scd2_merge(
        df, spec["path"], list(spec["keys"]),
        spec.get("ts_col", "effective_ts"),
        spec.get("delete_col"), spec.get("partition_by"),
    )
    return df.sparkSession.read.parquet(spec["path"])


def scd2_read_asof(snapshot: DataFrame, ts) -> DataFrame:
    """Point-in-time (as-of) read of an SCD2 snapshot: the rows whose
    validity interval covers ``ts`` — ``valid_from <= ts AND (valid_to
    IS NULL OR valid_to > ts)`` (half-open intervals, so the instant a
    version closes its successor is the one in force). ``ts`` may be a
    date/datetime or an ISO string; it is cast to the snapshot's
    ``valid_from`` type so date tables and timestamp tables both
    compare natively.

    A plain filter: predicate pushdown prunes row groups on the
    ``valid_from``/``valid_to`` parquet stats, and when the snapshot is
    partitioned by ``is_current`` a current-time read prunes the history
    files entirely. Metadata columns are kept — project them off
    downstream if the business view is wanted."""
    for c in ("valid_from", "valid_to", "is_current"):
        if c not in snapshot.columns:
            raise ValueError(
                f"scd2_read_asof input is missing {c!r} — not an SCD2 "
                "snapshot produced by scd2_merge"
            )
    t = F.lit(ts).cast(snapshot.schema["valid_from"].dataType)
    return snapshot.filter(
        (F.col("valid_from") <= t)
        & (F.col("valid_to").isNull() | (F.col("valid_to") > t))
    )


def stage_scd2_asof(
    df: DataFrame | None, spec: dict, spark: SparkSession | None = None
) -> DataFrame:
    """``{"stage": "scd2_asof", "ts": "2024-02-01", "path": ...?}`` —
    as-of read of an SCD2 snapshot: from ``path`` when given (usable as
    a pipeline's first, source-like stage), else ``df`` itself is the
    versioned snapshot (e.g. straight after an ``scd2`` stage)."""
    if "ts" not in spec:
        raise ValueError("scd2_asof needs `ts` (the point-in-time)")
    if spec.get("path"):
        session = spark if spark is not None else df.sparkSession
        snap = session.read.parquet(spec["path"])
    else:
        snap = df
    return scd2_read_asof(snap, spec["ts"])


_MONOID_COMBINE = {
    "sum": lambda a, b: F.coalesce(a, F.lit(0)) + F.coalesce(b, F.lit(0)),
    "count": lambda a, b: F.coalesce(a, F.lit(0)) + F.coalesce(b, F.lit(0)),
    "min": lambda a, b: F.least(a, b),
    "max": lambda a, b: F.greatest(a, b),
}


_BATCH_MARKER = "_last_batch_id"


def _read_batch_marker(spark: SparkSession, target_path: str) -> int | None:
    data = storage.read_bytes(
        spark, f"{target_path.rstrip('/')}/{_BATCH_MARKER}"
    )
    if data is None:
        return None
    try:
        return int(data.decode().strip())
    except ValueError:
        return None


def _write_batch_marker(spark: SparkSession, dir_path: str, batch_id: int):
    storage.write_bytes(
        spark, f"{dir_path.rstrip('/')}/{_BATCH_MARKER}",
        str(int(batch_id)).encode(),
    )


@_retry_on_lock_conflict
def incremental_agg(
    batch: DataFrame,
    target_path: str,
    keys: list[str],
    aggs: dict[str, str],
    partition_by: list[str] | None = None,
    batch_id: int | None = None,
) -> DataFrame:
    """Incremental materialized aggregate — maintain a persisted groupBy
    result by FOLDING each new batch's partial aggregates into the
    stored table, never rescanning history (the classic materialized-
    view maintenance move: at 100 TB of history a refresh costs one
    batch scan + one snapshot-sized merge, not a re-aggregation).

    ``aggs`` maps output column -> ``"fn(expr)"`` where fn is a MONOID
    whose partials combine losslessly: ``sum``, ``count`` (combines by
    +), ``min`` (least), ``max`` (greatest). Non-monoid aggregates
    (avg, DISTINCT variants, percentiles) are rejected with the fix
    spelled out — store sum+count and derive avg at read time. Batches
    must be DISJOINT slices of the fact stream (at-most-once delivery;
    re-folding the same batch double-counts — the same single-writer
    contract as :func:`merge_upsert`).

    ``partition_by`` must name key columns; the fold then rewrites only
    the partitions holding the batch's groups (partition-scoped swap —
    untouched partition files stay byte-identical).

    ``batch_id`` (monotonically increasing, e.g. the foreachBatch epoch)
    makes retried deliveries SAFE for this one retry-sensitive op: the
    snapshot stores the last folded id in a ``_last_batch_id`` marker
    (underscore-hidden from the parquet reader) and a fold whose id is
    <= the stored one is skipped — the standard Structured Streaming
    batch-id dedup idiom. In full-rewrite mode the marker rides inside
    the staged directory, so ONE rename commits data + marker
    atomically; in partition-scoped mode every staged partition
    carries its OWN marker, promoted atomically with its data by the
    same directory rename, and a retry excludes partitions whose
    marker is already >= batch_id — exactly-once per partition with no
    crash window (the root marker is just the fast-path skip hint).
    Compaction carries the markers through its rewrites.

    Returns the post-fold aggregate snapshot. Same row-count-verified
    atomic-swap write as the other table maintainers."""
    import re as _re

    if not keys or not aggs:
        raise ValueError("incremental_agg needs keys and aggs")
    if partition_by and not set(partition_by) <= set(keys):
        raise ValueError(
            f"incremental_agg partition_by must name key columns (got "
            f"{sorted(set(partition_by) - set(keys))}) — aggregate "
            "values change on every fold, so partitioning by them would "
            "move rows across partitions each batch"
        )
    combiners = {}
    exprs = []
    for out, spec in aggs.items():
        m = _re.match(r"\s*([a-zA-Z_]+)\s*\((.*)\)\s*$", spec)
        fn = m.group(1).lower() if m else None
        if fn not in _MONOID_COMBINE:
            raise ValueError(
                f"incremental_agg only folds monoid aggregates "
                f"{sorted(_MONOID_COMBINE)}; {out!r} uses {spec!r} — for "
                "avg store sum+count and divide at read time; distinct "
                "counts and percentiles need sketches (approx_sketches)"
            )
        if m and _re.search(r"\bdistinct\b", m.group(2), _re.I):
            # name-only gating would let count(DISTINCT x) fold with +
            # and silently double-count across batches
            raise ValueError(
                f"{out!r} uses {spec!r}: DISTINCT aggregates are not "
                "monoids under + — partials from different batches "
                "overlap; use approx_sketches (HLL) for cross-batch "
                "distinct counts"
            )
        combiners[out] = _MONOID_COMBINE[fn]
        exprs.append(F.expr(spec).alias(out))
    partial = batch.groupBy(*[F.col(k) for k in keys]).agg(*exprs)

    spark = batch.sparkSession
    _recover_crashed_swap(spark, target_path)
    _absorb_pending_deletes(spark, target_path, partition_by)
    if batch_id is not None and storage.exists(spark, target_path):
        last = _read_batch_marker(spark, target_path)
        if last is not None and int(batch_id) <= last:
            # retried delivery of an already-folded batch — skip
            return spark.read.parquet(target_path)
    if not storage.exists(spark, target_path):
        writer = partial.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(target_path)
        if batch_id is not None:
            # bootstrap is a plain overwrite, so a crash before this
            # marker lands just re-bootstraps identically on retry
            _write_batch_marker(spark, target_path, int(batch_id))
        return spark.read.parquet(target_path)

    stored = _cast_void_cols(spark.read.parquet(target_path), partial)
    missing = [c for c in (*keys, *aggs) if c not in stored.columns]
    if missing:
        raise ValueError(
            f"stored aggregate at {target_path!r} is missing columns "
            f"{missing} — not a snapshot produced by this aggs spec"
        )
    # partition_by ⊆ keys, so every stored group the batch touches lives
    # in a partition named by the batch's own partition values
    touched = (
        _touched_partitions(partial.select(*partition_by), partition_by)
        if partition_by and _layout_matches(spark, target_path, partition_by)
        else None
    )
    if touched is not None:
        touched_dirs, prune, touched_vals = touched
        if batch_id is not None:
            # per-partition markers promote atomically with their data
            # (they ride the same directory rename, written into the
            # staged dirs below) — a partition whose marker is already
            # >= batch_id was folded by a crashed earlier delivery of
            # THIS batch, so the retry excludes it: exactly-once per
            # partition, closing the post-promote root-marker window
            tbase = target_path.rstrip("/")
            done = {
                d for d in touched_dirs
                if (m := _read_batch_marker(spark, f"{tbase}/{d}"))
                is not None and int(batch_id) <= m
            }
            if done:
                remaining = [
                    v for v in touched_vals
                    if _partition_dir(
                        partition_by,
                        {c: v[f"__s_{c}"] for c in partition_by},
                    ) not in done
                ]
                if not remaining:
                    # every touched partition already folded; only the
                    # root hint was lost — restore it and skip
                    _write_batch_marker(spark, tbase, int(batch_id))
                    return spark.read.parquet(target_path)
                touched_dirs, prune = _dirs_and_pred(
                    partition_by, remaining
                )
                partial = partial.filter(prune)
        stored_scope = stored.filter(prune)
    else:
        touched_dirs = None
        stored_scope = stored
    p = partial.select(
        *[F.col(k).alias(f"__k_{k}") for k in keys],
        *[F.col(c).alias(f"__p_{c}") for c in aggs],
    )
    # ONE probe join shared by the fold and the expected-row count
    joined = stored_scope.join(
        p, [F.col(k).eqNullSafe(F.col(f"__k_{k}")) for k in keys],
        "full_outer",
    )
    folded = joined.select(
        *[F.coalesce(F.col(k), F.col(f"__k_{k}")).alias(k) for k in keys],
        *[
            F.when(
                F.col(f"__p_{c}").isNull(), F.col(c)
            ).when(
                F.col(c).isNull(), F.col(f"__p_{c}")
            ).otherwise(
                combiners[c](F.col(c), F.col(f"__p_{c}"))
            ).alias(c)
            for c in aggs
        ],
    )
    # expected rows = scoped stored keys + batch-partial keys new to the
    # store — an aggregate over the SAME joined frame, no second join
    expected = int(joined.agg(F.count("*").alias("n")).collect()[0]["n"])
    _stage_verify_swap(
        folded, target_path, expected, partition_by,
        "(stored keys in scope + first-seen batch keys)",
        touched_dirs=touched_dirs,
        marker_batch_id=int(batch_id) if batch_id is not None else None,
        # these folds do not maintain the merge sidecars; a leftover
        # one would go stale-NARROW
        sidecars=_DROP,
        op="incremental_agg",
    )
    return spark.read.parquet(target_path)


@_retry_on_lock_conflict
def compact_table(
    spark: SparkSession,
    target_path: str,
    partition_by: list[str] | None = None,
    min_files: int = 2,
    n_files: int = 1,
    sort_within: list[str] | None = None,
    z_order_by: list[str] | None = None,
    bloom_filter_cols: list[str] | None = None,
    bloom_filter_ndv: dict[str, int] | None = None,
    file_stats_keys: list[str] | None = None,
) -> dict:
    """Small-file compaction — the maintenance op every CDC-maintained
    table eventually needs: each merge batch writes its own files, so a
    partition accumulates one file per batch and scan/open overhead
    grows with ingest history, not data size. Content-preserving by
    construction (the same rows are rewritten through the row-count-
    verified swap; a compaction can never change query results).

    Partitioned mode (``partition_by``): ONE recursive ``listFiles``
    walk (not a listStatus RPC per partition — the r11 finding) finds
    the partitions holding >= ``min_files`` parquet files; ONLY those
    are read (``basePath`` union of the touched directories — no
    value-parsing, no full-table scan) and rewritten to one file per
    partition (``repartition`` on the partition columns hashes each
    value to a single task). Untouched partitions keep their files
    byte-identical — the same scoped-swap discipline as the merges.
    Touched sets over ``_MAX_SCOPED_PARTITIONS`` compact worst-first
    (most files) and defer the remainder to the next call
    (``n_partitions_deferred`` in the result), bounding the
    per-partition rename loop the same way the merges do.

    Unpartitioned mode: the snapshot coalesces to ``n_files`` behind
    the full atomic swap.

    Compaction is also the natural moment to RECLUSTER: ``sort_within``
    sorts rows inside each rewritten file (parquet min/max row-group
    stats then prune point/range queries on those columns);
    ``z_order_by`` is the multi-dimensional version (Morton curve over
    quantile buckets — the same ``z_value`` the sink stage uses). Both
    keep the op content-preserving; they only change row order inside
    the rewritten files. With a cluster spec, ``n_files > 1`` in
    partitioned mode writes ~``n_files`` RANGE-DISJOINT files per
    compacted partition (``repartitionByRange`` over partition columns
    + cluster key), the layout ``_file_stats`` skipping exploits: a
    point/range read inside a hot partition then opens only the
    file(s) whose recorded key range intersects (Delta OPTIMIZE's
    size-bounded clustered files, expressed as a file-count target).

    ``file_stats_keys`` additionally (re)builds the per-file key-range
    sidecar for those columns over the WHOLE table after the rewrite —
    the explicit bootstrap for tables not maintained by the merge
    family (sink-written snapshots). Without it, an existing
    ``_file_stats`` doc is kept current for the compacted partitions
    automatically.

    Returns ``{files_before, files_after, n_partitions_compacted,
    n_rows, rewrite}``. A no-op (nothing over the threshold) touches
    nothing and reports itself as one."""
    if min_files < 2:
        raise ValueError("min_files must be >= 2 (1 file is compact)")
    if n_files < 1:
        raise ValueError("n_files must be >= 1")
    if sort_within and z_order_by:
        raise ValueError("sort_within and z_order_by are exclusive")
    # compaction is also the natural moment to ADD parquet bloom
    # filters to a CDC-maintained table: point-lookup file skipping on
    # columns min/max stats can't separate (ids, hashes, urls); the
    # merge family's own writes stay bloom-free (per-batch files are
    # short-lived), the compacted long-lived files carry them
    bloom_opts: dict[str, str] = {}
    for c in bloom_filter_cols or []:
        bloom_opts[f"parquet.bloom.filter.enabled#{c}"] = "true"
        ndv = (bloom_filter_ndv or {}).get(c)
        if ndv:
            bloom_opts[f"parquet.bloom.filter.expected.ndv#{c}"] = str(
                int(ndv)
            )

    def _cluster(df: DataFrame) -> DataFrame:
        # the dynamic-partition writer re-sorts each task by the
        # partition columns unless the child is ALREADY ordered by them
        # — prefix the cluster sort so our row order survives the write
        prefix = list(partition_by or [])
        if z_order_by:
            from config_driven_pyspark_spark.sources.writers import z_value

            return df.withColumn(
                "__z", z_value(df, list(z_order_by))
            ).sortWithinPartitions(*prefix, "__z").drop("__z")
        if sort_within:
            return df.sortWithinPartitions(*prefix, *sort_within)
        return df
    if not storage.exists(spark, target_path):
        raise ValueError(f"no snapshot at {target_path!r} to compact")
    _recover_crashed_swap(spark, target_path)
    # compaction is ALSO the designated deletion-vector materializer
    _absorb_pending_deletes(spark, target_path, partition_by)
    base = target_path.rstrip("/")

    def _rebuild_file_stats(fkeys: list[str]) -> None:
        snap = spark.read.parquet(base)
        missing = [k for k in fkeys if k not in snap.columns]
        if missing:
            raise ValueError(
                f"file_stats_keys {missing} not in the table"
            )
        if not _sidecar_supported(snap.schema, fkeys):
            raise ValueError(
                f"file_stats_keys {fkeys} have types the sidecar "
                "cannot order — only atomic orderable types"
            )
        _rebuild_sidecars(spark, base, snap.schema, fkeys, partitions=False)

    def _n_parquet_files(rel: str) -> int:
        return sum(
            1 for name, is_dir in storage.list_dir(
                spark, base if not rel else f"{base}/{rel}"
            )
            if not is_dir and not name.startswith(("_", "."))
        )

    if not partition_by:
        files_before = _n_parquet_files("")
        if files_before < min_files:
            return {"files_before": files_before,
                    "files_after": files_before,
                    "n_partitions_compacted": 0,
                    "n_partitions_deferred": 0, "n_rows": None,
                    "rewrite": "none"}
        snap = spark.read.parquet(base)
        expected = snap.count()
        _stage_verify_swap(
            _cluster(snap.coalesce(n_files)), base, expected, None,
            "(content-preserving compaction)",
            # the full swap replaces the root — carry the batch marker
            # (incremental_agg retry dedup) through the rewrite
            marker_batch_id=_read_batch_marker(spark, base),
            sidecars=_KEEP,
            op="compact",
            writer_options=bloom_opts or None,
        )
        # the full swap replaced the root, old sidecars went with it;
        # an explicit key list rebuilds exact per-file stats
        if file_stats_keys:
            _rebuild_file_stats(sorted(file_stats_keys))
        return {"files_before": files_before,
                "files_after": _n_parquet_files(""),
                "n_partitions_compacted": 0,
                "n_partitions_deferred": 0, "n_rows": expected,
                "rewrite": "full"}

    if not _layout_matches(spark, base, partition_by):
        raise ValueError(
            f"{target_path!r} is not laid out by {partition_by} — "
            "compact with the layout the snapshot actually has"
        )
    # one recursive listing instead of a listStatus per partition (the
    # r11 RPC-count finding); over-cap touched sets compact worst-first
    # and defer the rest to the next call, the same bounded-rename
    # discipline as the merges' _MAX_SCOPED_PARTITIONS fallback
    counts = _partition_file_counts(spark, base, len(partition_by))
    over = [(d, n) for d, n in counts.items() if n >= min_files]
    files_before = sum(counts.values())
    deferred = 0
    if len(over) > _MAX_SCOPED_PARTITIONS:
        over.sort(key=lambda kv: (-kv[1], kv[0]))
        deferred = len(over) - _MAX_SCOPED_PARTITIONS
        over = over[:_MAX_SCOPED_PARTITIONS]
    touched = sorted(d for d, _n in over)
    if not touched:
        return {"files_before": files_before,
                "files_after": files_before,
                "n_partitions_compacted": 0,
                "n_partitions_deferred": 0, "n_rows": None,
                "rewrite": "none"}
    # read ONLY the oversized partitions; basePath keeps the partition
    # columns without parsing directory names back into values
    scope = spark.read.option("basePath", base).parquet(
        *[f"{base}/{d}" for d in touched]
    )
    expected = scope.count()
    old_markers = {}
    for d in touched:
        m = _read_batch_marker(spark, f"{base}/{d}")
        if m is not None:
            old_markers[d] = m
    if n_files > 1 and (sort_within or z_order_by):
        # ~n_files range-disjoint files per compacted partition: range-
        # partition on (partition cols, cluster key) so each output
        # file covers a contiguous key slice — what _file_stats
        # skipping exploits. repartitionByRange samples once; the
        # sortWithinPartitions keeps rows ordered inside each file.
        if z_order_by:
            from config_driven_pyspark_spark.sources.writers import (
                z_value,
            )

            pre = scope.withColumn("__z", z_value(scope, list(z_order_by)))
            out_df = pre.repartitionByRange(
                n_files * len(touched), *partition_by, "__z"
            ).sortWithinPartitions(*partition_by, "__z").drop("__z")
        else:
            out_df = scope.repartitionByRange(
                n_files * len(touched), *partition_by, *sort_within
            ).sortWithinPartitions(*partition_by, *sort_within)
    else:
        out_df = _cluster(
            scope.repartition(*[F.col(c) for c in partition_by])
        )
    # keep an existing per-file sidecar current for the partitions this
    # compaction rewrites (the merges bootstrapped it; compaction is
    # where long-lived clustered files get their exact entries)
    fmeta = _read_file_stats_meta(spark, base)
    fkeys = sorted(
        (fmeta.get("keys") or []) if fmeta is not None else []
    )
    sidecars = _KEEP
    if (
        fkeys
        and all(k in scope.columns for k in fkeys)
        and _sidecar_supported(scope.schema, fkeys)
    ):
        sidecars = _Sidecars("maintain", tuple(fkeys), partitions=False)
    _stage_verify_swap(
        out_df,
        base, expected, partition_by,
        "(content-preserving compaction)",
        touched_dirs=touched,
        partition_markers=old_markers or None,
        sidecars=sidecars,
        op="compact",
        writer_options=bloom_opts or None,
    )
    if file_stats_keys:
        _rebuild_file_stats(sorted(file_stats_keys))
    return {"files_before": files_before,
            "files_after": sum(
                _partition_file_counts(
                    spark, base, len(partition_by)
                ).values()
            ),
            "n_partitions_compacted": len(touched),
            "n_partitions_deferred": deferred, "n_rows": expected,
            "rewrite": "partition"}


def stage_compact(df: DataFrame, spec: dict) -> DataFrame:
    """``{"stage": "compact", "path": ..., "partition_by": [...]?,
    "min_files": 2?, "n_files": 1?, "sort_within": [...]?,
    "z_order_by": [...]?, "bloom_filter_cols": [...]?,
    "bloom_filter_ndv": {col: n}?, "file_stats_keys": [...]?}`` —
    compacts (and optionally reclusters / bloom-indexes / rebuilds the
    per-file key-range sidecar) the snapshot at ``path`` and returns
    it post-compaction."""
    compact_table(
        df.sparkSession, spec["path"], spec.get("partition_by"),
        int(spec.get("min_files", 2)), int(spec.get("n_files", 1)),
        spec.get("sort_within"), spec.get("z_order_by"),
        spec.get("bloom_filter_cols"), spec.get("bloom_filter_ndv"),
        spec.get("file_stats_keys"),
    )
    return df.sparkSession.read.parquet(spec["path"])


def scan_table(
    spark: SparkSession,
    target_path: str,
    partition_by: list[str],
    key_eq: dict | None = None,
    key_between: dict | None = None,
) -> DataFrame:
    """Sidecar-pruned read: the READ-side of ``_key_stats`` /
    ``_file_stats`` data skipping. For point lookups / key ranges on
    columns that are NOT partition columns, the per-partition key
    min/max the merges maintain prunes the directory list BEFORE Spark
    ever plans the scan, and the per-file ranges then prune to the
    intersecting FILES inside each kept directory — the Delta
    data-skipping read path at both granularities (r13: file level).

    ``key_eq = {col: value}`` / ``key_between = {col: (lo, hi)}``
    constrain sidecar key columns; directories whose recorded range
    cannot contain the value(s) are skipped, directories missing from
    the sidecar are read (its maintenance discipline only ever leaves
    it absent or too WIDE, never narrow — so pruning is always safe).
    The same predicates are ALSO applied as a real filter, so results
    are correct whether or not the sidecar exists; without one the
    call degrades to a plain filtered read. Partition-column
    predicates don't need this — express them as normal filters and
    Spark's own partition pruning applies."""
    if not partition_by:
        raise ValueError(
            "scan_table needs partition_by (unpartitioned tables have "
            "no directories to skip — use a plain filtered read)"
        )
    key_eq = dict(key_eq or {})
    key_between = dict(key_between or {})
    if not key_eq and not key_between:
        raise ValueError("scan_table needs key_eq and/or key_between")
    overlap = sorted(set(key_eq) & set(key_between))
    if overlap:
        raise ValueError(f"columns in both key_eq and key_between: {overlap}")
    base = target_path.rstrip("/")
    ranges: dict[str, tuple] = {}
    for c, v in key_eq.items():
        if v is None:
            raise ValueError(
                f"key_eq[{c!r}] is None — NULL point lookups need a "
                "plain `col IS NULL` filter, not range skipping"
            )
        ranges[c] = (_ser_stat(v), _ser_stat(v), False)
    for c, (lo, hi) in key_between.items():
        if lo is None or hi is None:
            raise ValueError(f"key_between[{c!r}] needs non-null bounds")
        ranges[c] = (_ser_stat(lo), _ser_stat(hi), False)

    # partition dirs, then the files inside them, whose recorded key
    # ranges (and, for point lookups, blooms) can hold a match; the
    # maintenance policy only ever leaves the sidecars absent or too
    # WIDE, and files without an entry are always read
    paths = _sidecar_read_paths(
        spark, base, len(partition_by), list(ranges), ranges,
        probe_values={c: [v] for c, v in key_eq.items()},
        exact_keys=False,
    )
    if paths is None:
        df = spark.read.parquet(base)
    elif paths:
        df = spark.read.option("basePath", base).parquet(*paths)
    else:
        df = spark.read.parquet(base).limit(0)
    # merge-on-read deletes (operators/deletes.py): tombstoned rows must
    # not surface from a pruned read either
    from config_driven_pyspark_spark.operators.deletes import (
        _live_dv,
        apply_deletion_vectors,
    )

    live = _live_dv(spark, base)
    if live is not None:
        df = apply_deletion_vectors(df, live[0], live[1])
    pred = None
    for c, v in key_eq.items():
        e = F.col(c) == F.lit(v)
        pred = e if pred is None else pred & e
    for c, (lo, hi) in key_between.items():
        e = F.col(c).between(F.lit(lo), F.lit(hi))
        pred = e if pred is None else pred & e
    return df.filter(pred)


def stage_table_scan(df, spec: dict, spark: SparkSession | None = None):
    """``{"stage": "table_scan", "path": ..., "partition_by": [...],
    "key_eq": {col: value}?, "key_between": {col: [lo, hi]}?}`` —
    source-like sidecar-pruned read."""
    s = spark if spark is not None else df.sparkSession
    return scan_table(
        s,
        spec["path"],
        list(spec["partition_by"]),
        spec.get("key_eq"),
        {c: tuple(v) for c, v in (spec.get("key_between") or {}).items()},
    )


@_retry_on_lock_conflict
def alter_table(
    spark: SparkSession,
    target_path: str,
    add: dict[str, str] | None = None,
    rename: dict[str, str] | None = None,
    drop: list[str] | None = None,
    partition_by: list[str] | None = None,
) -> dict:
    """``ALTER TABLE``: add (with a backfill expression), rename, and
    drop columns on the parquet snapshot — one verified full swap.

    Plain parquet has no metadata-only schema change (every reader
    infers from file footers), so an alter is honestly a full rewrite —
    the same physics as Delta's ``ALTER COLUMN`` variants that rewrite,
    and the reason the three alterations batch into ONE pass here.
    Application order: ``rename``, then ``add``, then ``drop`` — add
    expressions see the post-rename frame INCLUDING columns about to
    drop, so replacing a column (add the derived value, drop the
    original) is one call. Partition columns cannot be dropped or
    renamed (the directory layout IS the column — rewrite into a new
    table to change it); ``add`` backfills every existing row with its
    expression (use a literal for a plain default).

    Batch markers survive (rows are only reshaped, so retry dedup
    stays valid); the key-stats sidecars drop (their key names/ranges
    may no longer describe the snapshot) — the full swap replaces the
    root and the sidecars inside it. With table history
    enabled the alter is a version like any other swap — time travel
    returns the old shape, restore brings it back."""
    add = dict(add or {})
    rename = dict(rename or {})
    drop = list(drop or [])
    if not add and not rename and not drop:
        raise ValueError("alter_table needs add, rename and/or drop")
    base = target_path.rstrip("/")
    _recover_crashed_swap(spark, base)
    _absorb_pending_deletes(spark, base, partition_by)
    snap = spark.read.parquet(base)
    cols = snap.columns
    pcols = set(partition_by or [])
    for old, new in rename.items():
        if old not in cols:
            raise ValueError(f"cannot rename {old!r}: not a column")
        if old in pcols:
            raise ValueError(
                f"cannot rename partition column {old!r} — the "
                "directory layout is the column; rewrite into a new "
                "table instead"
            )
    post = [rename.get(c, c) for c in cols]
    clash = sorted({c for c in post if post.count(c) > 1})
    if clash:
        raise ValueError(f"rename collides on {clash}")
    for c in add:
        if c in post:
            raise ValueError(f"cannot add {c!r}: already a column")
    for c in drop:
        if c not in post:
            raise ValueError(
                f"cannot drop {c!r}: not a (post-rename) column"
            )
        if c in pcols:
            raise ValueError(
                f"cannot drop partition column {c!r} — the directory "
                "layout is the column; rewrite into a new table instead"
            )
    n_before = snap.count()
    out = snap
    if rename:
        out = out.withColumnsRenamed(rename)
    for c, expr in add.items():
        out = out.withColumn(c, F.expr(expr))
    if drop:
        out = out.drop(*drop)
    _stage_verify_swap(
        out, base, n_before, partition_by,
        "(schema change preserves every row)",
        marker_batch_id=_read_batch_marker(spark, base),
        sidecars=_DROP,
        op="alter",
    )
    return {
        "n_rows": n_before,
        "added": sorted(add),
        "renamed": dict(rename),
        "dropped": sorted(drop),
        "rewrite": "full",
    }


def stage_alter(df: DataFrame, spec: dict) -> DataFrame:
    """``{"stage": "alter", "path": ..., "add": {col: expr}?,
    "rename": {old: new}?, "drop": [col]?, "partition_by": [...]?}`` —
    alters the snapshot and returns it post-change."""
    alter_table(
        df.sparkSession, spec["path"],
        spec.get("add"), spec.get("rename"), spec.get("drop"),
        spec.get("partition_by"),
    )
    return df.sparkSession.read.parquet(spec["path"])


def _mutate_where(
    spark: SparkSession,
    target_path: str,
    condition: str,
    set_exprs: dict[str, str] | None,
    partition_by: list[str] | None,
) -> dict:
    """Shared core of :func:`delete_where` / :func:`update_where`."""
    if not condition:
        raise ValueError(
            "a WHERE condition is required — to drop or rewrite a whole "
            "table, overwrite it instead of mutating every row"
        )
    if not storage.exists(spark, target_path):
        raise ValueError(f"no snapshot at {target_path!r}")
    _recover_crashed_swap(spark, target_path)
    _absorb_pending_deletes(spark, target_path, partition_by)
    base = target_path.rstrip("/")
    target = spark.read.parquet(target_path)
    if set_exprs:
        unknown = sorted(set(set_exprs) - set(target.columns))
        if unknown:
            raise ValueError(
                f"set names columns {unknown} not in the snapshot schema "
                f"{target.columns}"
            )
    cond = F.coalesce(F.expr(condition), F.lit(False))

    # scoping: an update writing a partition column can move rows to
    # partitions the condition never named — full rewrite, like the
    # merge's update_set guard
    scoped = (
        bool(partition_by)
        and not (set_exprs and set(set_exprs) & set(partition_by))
        and _layout_matches(spark, target_path, partition_by)
    )
    # ONE snapshot pass for EVERYTHING (r16 — VERDICT r15 #5): the old
    # shape collected n_before + n_matched + matched partitions in one
    # aggregate, then paid a SECOND (scoped, zero-column) pass for
    # n_scope. Now a two-level aggregate — level 1 groups by the
    # NORMALIZED partition-value strings (NULL and '' collapse into one
    # class, exactly the equivalence the directory naming uses, so
    # groups map 1:1 to directories even when distinct raw values share
    # a string form — the r15 deferral), level 2 folds the per-group
    # rows into totals plus the matched groups' (strings, row count)
    # structs — so n_scope is an exact driver-side summation and the
    # second pass is gone.
    parts: list[dict] = []
    if scoped:
        norm = [
            F.when(
                F.col(c).isNull()
                | (F.col(c).cast("string") == F.lit("")),
                F.lit(None).cast("string"),
            ).otherwise(F.col(c).cast("string")).alias(f"__s_{c}")
            for c in partition_by
        ]
        gstats = (
            target.groupBy(*norm)
            .agg(
                F.count("*").alias("__n"),
                F.sum(cond.cast("long")).alias("__nm"),
            )
            .agg(
                F.sum("__n").alias("n"),
                F.sum("__nm").alias("n_m"),
                F.slice(
                    F.collect_set(
                        F.when(
                            F.col("__nm") > 0,
                            F.struct(
                                *[
                                    F.col(f"__s_{c}")
                                    for c in partition_by
                                ],
                                F.col("__n"),
                            ),
                        )
                    ),
                    1, _MAX_SCOPED_PARTITIONS + 1,
                ).alias("__parts"),
            )
            .collect()[0]
        )
        n_before = int(gstats["n"] or 0)
        n_matched = int(gstats["n_m"] or 0)
        parts = [r.asDict() for r in gstats["__parts"] or []]
    else:
        stats = target.agg(
            F.count("*").alias("n"),
            F.sum(cond.cast("long")).alias("n_m"),
        ).collect()[0]
        n_before = int(stats["n"])
        n_matched = int(stats["n_m"] or 0)

    touched_dirs = None
    tgt_scope = target
    n_scope = n_before
    if scoped and n_matched and len(parts) <= _MAX_SCOPED_PARTITIONS:
        touched_dirs = sorted(
            _partition_dir(
                partition_by, {c: p[f"__s_{c}"] for c in partition_by}
            )
            for p in parts
        )
        tgt_scope = target.filter(
            _dir_prune_pred(partition_by, touched_dirs)
        )
        n_scope = sum(int(p["__n"]) for p in parts)
    if n_matched == 0:
        return {"n_before": n_before, "n_matched": 0,
                "n_after": n_before, "rewrite": "none"}

    if set_exprs is None:
        out = tgt_scope.filter(~cond)
        expected = n_scope - n_matched
        breakdown = f"({n_scope} in scope - {n_matched} matched deletes)"
    else:
        out = tgt_scope.select(*[
            F.when(
                cond, F.expr(set_exprs[c]).cast(target.schema[c].dataType)
            ).otherwise(F.col(c)).alias(c)
            if c in set_exprs else F.col(c)
            for c in target.columns
        ])
        expected = n_scope
        breakdown = f"({n_scope} rows in scope, update keeps the count)"

    # sidecar hygiene: an update touching the sidecar's key columns
    # would make its ranges stale-NARROW (unsafe); deletes and
    # other-column updates leave the ranges valid-or-wide
    doc = _read_key_stats(spark, base) if set_exprs else None
    sidecars = _DROP if doc and set(set_exprs) & set(doc["keys"]) else _KEEP
    # batch markers (incremental_agg retry dedup) survive the rewrite
    markers = {}
    if touched_dirs is not None:
        for d in touched_dirs:
            m = _read_batch_marker(spark, f"{base}/{d}")
            if m is not None:
                markers[d] = m
    root_marker = (
        _read_batch_marker(spark, base) if touched_dirs is None else None
    )
    _stage_verify_swap(
        out, target_path, expected, partition_by, breakdown,
        touched_dirs=touched_dirs,
        marker_batch_id=root_marker,
        partition_markers=markers or None,
        sidecars=sidecars,
        op="delete" if set_exprs is None else "update",
    )
    n_after = n_before - (n_matched if set_exprs is None else 0)
    return {"n_before": n_before, "n_matched": n_matched,
            "n_after": n_after,
            "rewrite": "full" if touched_dirs is None else "partition"}


@_retry_on_lock_conflict
def delete_where(
    spark: SparkSession,
    target_path: str,
    condition: str,
    partition_by: list[str] | None = None,
    mode: str = "copy_on_write",
) -> dict:
    """``DELETE FROM <snapshot> WHERE <condition>`` over plain parquet —
    the GDPR/right-to-be-forgotten staple. One snapshot pass finds the
    match count AND the partitions matched rows live in; with
    ``partition_by`` only those directories are rewritten and swapped
    (untouched partition files stay byte-identical), through the same
    row-count-verified crash-recovered swap as the merges. A zero-match
    condition touches nothing (``rewrite: "none"``). Returns
    ``{n_before, n_matched, n_after, rewrite}``.

    ``mode="merge_on_read"`` writes a positional DELETION VECTOR
    instead of rewriting any data file (operators/deletes.py — the
    Delta/Iceberg-v2 answer to "a 10-row delete in a 1 TB partition
    rewrites 1 TB"): bytes written ∝ deleted rows; reads through
    :func:`~config_driven_pyspark_spark.operators.deletes.read_table`,
    ``scan_table``, time travel and CDF honor the tombstones; the next
    compaction (or any rewriting op) materializes them."""
    if mode == "merge_on_read":
        from config_driven_pyspark_spark.operators.deletes import (
            delete_where_dv,
        )

        return delete_where_dv(spark, target_path, condition, partition_by)
    if mode != "copy_on_write":
        raise ValueError(
            f"unknown delete mode {mode!r} — use 'copy_on_write' or "
            "'merge_on_read'"
        )
    return _mutate_where(spark, target_path, condition, None, partition_by)


@_retry_on_lock_conflict
def update_where(
    spark: SparkSession,
    target_path: str,
    set_exprs: dict[str, str],
    condition: str,
    partition_by: list[str] | None = None,
) -> dict:
    """``UPDATE <snapshot> SET col = expr WHERE <condition>`` — the
    in-place backfill/correction surface. ``set_exprs`` values are SQL
    expressions over the table's own columns, cast to each stored
    column type so the snapshot schema never drifts. Updating a
    partition column forces a full rewrite (rows may move to partitions
    the condition never named); updating a ``_key_stats`` key column
    drops the sidecar (its ranges would go stale-narrow). Same scoped
    swap discipline as :func:`delete_where`."""
    if not set_exprs:
        raise ValueError("update_where needs set_exprs ({col: expr})")
    return _mutate_where(
        spark, target_path, condition, dict(set_exprs), partition_by
    )


def stage_table_delete(df: DataFrame, spec: dict) -> DataFrame:
    """``{"stage": "table_delete", "path": ..., "where": <condition>,
    "partition_by": [...]?, "mode": "merge_on_read"?,
    "coalesce_after": N?, "materialize_after": N?}`` — deletes
    matching rows from the snapshot and returns the post-delete table
    (deletion-vector-aware, so merge-on-read deletes are reflected).
    The ``*_after`` knobs bound a tombstone trickle's vector fan-in:
    once the pending-vector count reaches the threshold the stage
    coalesces (one vector, no rewrite) or materializes (file
    rewrites) before returning."""
    delete_where(
        df.sparkSession, spec["path"], spec["where"],
        spec.get("partition_by"),
        mode=spec.get("mode", "copy_on_write"),
    )
    from config_driven_pyspark_spark.operators.deletes import (
        dv_housekeeping, read_table,
    )

    dv_housekeeping(
        df.sparkSession, spec["path"], spec.get("partition_by"),
        coalesce_after=spec.get("coalesce_after"),
        materialize_after=spec.get("materialize_after"),
    )
    return read_table(df.sparkSession, spec["path"])


def stage_table_update(df: DataFrame, spec: dict) -> DataFrame:
    """``{"stage": "table_update", "path": ..., "set": {col: expr},
    "where": <condition>, "partition_by": [...]?}`` — applies the
    update and returns the post-update table."""
    update_where(
        df.sparkSession, spec["path"], dict(spec["set"]), spec["where"],
        spec.get("partition_by"),
    )
    return df.sparkSession.read.parquet(spec["path"])


def stage_incremental_agg(df: DataFrame, spec: dict) -> DataFrame:
    """``{"stage": "incremental_agg", "path": ..., "keys": [...],
    "aggs": {out: "sum(expr)" | "count(*)" | "min(expr)" | "max(expr)"},
    "partition_by": [...]?, "batch_id": int?}`` — ``df`` is the new
    fact batch; returns the post-fold aggregate snapshot. ``batch_id``
    makes manual re-runs of the same batch skip instead of
    double-folding (see :func:`incremental_agg`)."""
    bid = spec.get("batch_id")
    return incremental_agg(
        df, spec["path"], list(spec["keys"]), dict(spec["aggs"]),
        spec.get("partition_by"),
        batch_id=int(bid) if bid is not None else None,
    )

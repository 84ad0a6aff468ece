"""Deduplication operators — exact and near-duplicate, at 100 TB shapes.

Capability gap vs the reference (SURVEY.md §2C). Methods:

- ``exact``        — hash-groupBy on a normalized key (md5 fingerprint or
                     raw columns); one shuffle, map-side combinable.
- ``ngram_jaccard``— exact n-gram Jaccard pairs via shingle-explode +
                     self-join on shingle; fully SQL-expressible (oracle-able).
- ``tfidf_cosine`` — cosine pairs over sparse TF-IDF token vectors via the
                     term inverted index; idf-downweighted, so shared
                     boilerplate alone can't cross the threshold.
- ``minhash_lsh``  — MinHash signatures over shingles + banded LSH to
                     generate candidates, verified with true Jaccard. The
                     scale path: candidate generation is O(n·bands), never
                     O(n²).
- ``simhash``      — 64-bit SimHash over tokens + pigeonhole banding for
                     Hamming-distance ≤ k pairs.
- ``embedding``    — cosine ≥ threshold pairs over a vector column, either
                     brute-force (small corpora) or SRP-LSH bucketed.

All signature/banding math is built-in Column expressions (``transform``,
``aggregate``, ``xxhash64``) — no Python UDFs. Frequent-shingle capping
(``max_df``) bounds the explode-join blowup on pathological shingles.

Output modes: ``output: "pairs"`` → (id_a, id_b, score) candidate/dup pairs;
``output: "dedup"`` (default) → input rows minus any row that has a
duplicate partner with a smaller id (cheap single-pass policy);
``output: "clusters"`` → transitive closure via iterative hash-min
connected components (``connected_components``) — one surviving
representative per duplicate *cluster*, the correct semantics when
A≈B≈C but A̸≈C.
"""

from __future__ import annotations

import random

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from config_driven_pyspark_spark import storage
from config_driven_pyspark_spark.functions import text as TX
from config_driven_pyspark_spark.functions import vectors as V


def _spread(df: DataFrame) -> DataFrame:
    """Repartition up to the session's shuffle parallelism when the input
    arrives from fewer files than that (e.g. one small parquet file → 1
    scan partition).

    The signature/shingle expressions below are CPU-heavy per row; on a
    under-partitioned input they'd run on a handful of cores. At real scale
    inputs already span many files/splits and this is a no-op — the shuffle
    only triggers for small/few-file reads, where it's cheap.

    Deliberately avoids the RDD API (``df.rdd.getNumPartitions``): it is
    unavailable under Spark Connect and forces a plan conversion (under
    AQE it would even EXECUTE the upstream shuffle stages). File count
    via ``inputFiles()`` is a plan-metadata read that works on both
    classic and Connect sessions; streaming inputs (no file listing, no
    repartition-before-shuffle need) pass through untouched.

    r16 (guide §2.4 — remove shuffles outright): ``inputFiles()`` sees
    through persists and repartitions to the SOURCE files, so in a
    chained pipeline every downstream operator used to re-pay a full
    repartition of data that was already spread — measured 0.96 s vs
    0.46 s for the bpe corpus pass over the persisted corpus at sf0.1,
    once per operator in the e2e chains. Skip the repartition when the
    frame is itself persisted, or its plan contains a persisted or
    explicitly repartitioned intermediate: a cached plan's output keeps
    the static shuffle partitioning (Spark leaves
    ``canChangeCachedPlanOutputPartitioning`` off, so AQE never
    coalesces it below ``spark.sql.shuffle.partitions``), and an
    explicit repartition IS the spread. Shuffle markers that AQE can
    coalesce to data-proportional counts (plain aggregates, joins,
    windows) deliberately do NOT skip — at sf-small they coalesce to a
    handful of partitions and the repartition is load-bearing for the
    CPU-heavy expressions this guards.
    """
    if df.isStreaming:
        return df
    try:
        lvl = df.storageLevel
        if lvl.useMemory or lvl.useDisk:
            return df
    except Exception:  # Connect: storageLevel RPC may be unavailable
        pass
    try:
        n_files = len(df.inputFiles())
    except Exception:  # non-file-backed plans (createDataFrame, views)
        return df
    target = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
    if 0 < n_files < target:
        try:
            plan = df._jdf.queryExecution().optimizedPlan().toString()
            if "InMemoryRelation" in plan or "Repartition" in plan:
                return df
        except Exception:  # Connect has no _jdf — keep the old behavior
            pass
        return df.repartition(target)
    return df


def _pairs_to_dedup(
    df: DataFrame, pairs: DataFrame, id_col: str, keep_by: str | None = None
) -> DataFrame:
    """Drop the losing member of every dup pair. Default policy: the larger
    id loses. With ``keep_by`` (a SQL expression over the input columns,
    higher = better): the lower-scoring member loses, ties broken toward
    the smaller id — so a training pipeline keeps the *best* duplicate
    (e.g. ``keep_by: "quality_score"``), not an arbitrary one."""
    if keep_by is None:
        losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
        return df.join(losers, on=id_col, how="left_anti")
    scores = df.select(F.col(id_col).alias("__kid"), F.expr(keep_by).alias("__ks"))
    sa = scores.select(F.col("__kid").alias("id_a"), F.col("__ks").alias("__sa"))
    sb = scores.select(F.col("__kid").alias("id_b"), F.col("__ks").alias("__sb"))
    a_loses = (F.col("__sa") < F.col("__sb")) | (
        (F.col("__sa") == F.col("__sb")) & (F.col("id_a") > F.col("id_b"))
    )
    losers = (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select(F.when(a_loses, F.col("id_a")).otherwise(F.col("id_b")).alias(id_col))
        .distinct()
    )
    return df.join(losers, on=id_col, how="left_anti")


def connected_components(
    pairs: DataFrame,
    max_iterations: int = 50,
    check_every: int = 1,
    checkpoint_dir: str | None = None,
    salt: int | None = None,
) -> DataFrame:
    """Connected components of the (id_a, id_b) pair graph via hash-min
    label propagation: every node repeatedly adopts the smallest label in
    its neighborhood until a fixpoint. Returns (id, component) with
    ``component`` = smallest node id in the component.

    Scale: each round is one self-join-free pass — labels join edges
    (shuffle on id), neighborhood-min aggregates (map-side combinable),
    converging in O(diameter) rounds; dedup-cluster graphs have tiny
    diameters (near-cliques), so 3-4 rounds typical. Every round's labels
    have their lineage truncated: iterative DataFrame loops grow the
    logical plan exponentially (each round embeds all previous rounds) and
    OOM the optimizer within ~15 rounds otherwise. With ``checkpoint_dir``
    set the truncation is a reliable ``checkpoint()`` to that directory
    (survives executor loss — use on real clusters); the default is
    ``localCheckpoint`` (executor-local blocks, fastest, fine for
    single-node / fault-free runs).

    Convergence is detected by an aggregate count of changed labels, never
    a collect of data rows — and only every ``check_every`` rounds, so the
    convergence-check job amortizes over deep graphs (hash-min labels are
    monotone non-increasing, so "no change across a k-round block" is
    exactly "fixpoint reached within the block"; the only cost of k > 1 is
    up to k−1 extra no-op rounds after the fixpoint). A fixpoint reached
    inside the final block (when ``max_iterations`` truncates it) is
    confirmed by one extra single-round check instead of being refused as
    non-convergence — including at ``check_every=1``, whose final round
    can do work with no round left in budget to observe the no-op. That
    confirmation round intentionally runs one round PAST
    ``max_iterations``; it is a no-op on converged labels.

    Skew: each round shuffles edges on ``dst`` to meet labels — a hub
    node (one vertex in a large fraction of the pairs, e.g. a boilerplate
    document matching everything) concentrates its whole edge list in one
    shuffle partition. Dedup graphs are near-cliques with tiny hubs, so
    the default plan is right for them; for hub-heavy graphs pass
    ``salt=k`` to spread each node's edges over ``k`` partitions (labels
    replicated ``k``×, same placement-only construction as
    ``relational.salted_join``; results identical, pinned by the
    star-graph test). AQE's skew-join split is the automatic fallback
    when partition-size thresholds trip.

    This is the standard large-graph CC construction (hash-min /
    "small-star" family) on DataFrames.
    """
    if check_every < 1:
        raise ValueError(f"check_every must be >= 1, got {check_every}")
    if checkpoint_dir is not None:
        pairs.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)

        def _truncate(df: DataFrame) -> DataFrame:
            return df.checkpoint(eager=True)
    else:

        def _truncate(df: DataFrame) -> DataFrame:
            return df.localCheckpoint(eager=True)

    edges = _truncate(
        pairs.selectExpr("id_a AS src", "id_b AS dst")
        .union(pairs.selectExpr("id_b AS src", "id_a AS dst"))
        .distinct()
    )
    labels = _truncate(
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
    )
    def _propagate(lbl: DataFrame) -> DataFrame:
        # each node's candidate label: min over (own label, neighbors')
        if salt:
            # hub-skew variant: edges carry a uniform salt, labels are
            # replicated once per salt value, and the join key becomes
            # (dst, salt) — a hub's edge list spreads over `salt` shuffle
            # partitions instead of one straggler. Placement-only: the
            # joined rows are identical to the unsalted plan's.
            salted_edges = edges.withColumn(
                "__salt", (F.rand(seed=42) * salt).cast("int")
            )
            salted_lbl = lbl.withColumn(
                "__salt", F.explode(F.array(*[F.lit(i) for i in range(salt)]))
            )
            neighbor_min = (
                salted_edges.join(
                    salted_lbl,
                    on=(salted_edges.dst == salted_lbl.id)
                    & (salted_edges["__salt"] == salted_lbl["__salt"]),
                    how="inner",
                )
                .select(F.col("src").alias("id"), "component")
            )
        else:
            neighbor_min = (
                edges.join(lbl, on=edges.dst == lbl.id, how="inner")
                .select(F.col("src").alias("id"), "component")
            )
        return _truncate(
            lbl.unionByName(neighbor_min)
            .groupBy("id")
            .agg(F.min("component").alias("component"))
        )

    def _n_changed(new: DataFrame, old: DataFrame) -> int:
        return (
            new.join(old.withColumnRenamed("component", "old"), "id")
            .filter(F.col("component") != F.col("old"))
            .count()
        )

    it = 0
    converged = False
    while it < max_iterations and not converged:
        anchor = labels  # labels as of the last convergence check
        for _ in range(min(check_every, max_iterations - it)):
            labels = _propagate(labels)
            it += 1
        changed = _n_changed(labels, anchor)
        converged = changed == 0
    if not converged:
        # The block-anchor comparison cannot see a fixpoint reached INSIDE
        # the final block (at check_every=1: BY the final round): changed >
        # 0 only says the block did *some* work. One extra single-round
        # check — deliberately one round past max_iterations, a no-op on
        # converged labels — disambiguates, so a run that converged right
        # at the max_iterations boundary isn't refused (ADVICE r5: the
        # check_every > 1 gate re-created the boundary case it fixed).
        next_labels = _propagate(labels)
        changed = _n_changed(next_labels, labels)
        labels = next_labels
        converged = changed == 0
    if not converged:
        # silent partial labels would keep duplicates undetected — refuse
        raise RuntimeError(
            f"connected_components did not converge within {max_iterations} "
            f"iterations ({changed} labels still changing); the pair graph "
            "has a longer diameter than expected — raise max_iterations"
        )
    return labels


def _pairs_to_clusters(
    df: DataFrame, pairs: DataFrame, id_col: str, keep_by: str | None = None,
    cc_kwargs: dict | None = None,
) -> DataFrame:
    """Keep one representative per duplicate cluster; rows not in any pair
    survive untouched. Default representative: smallest id. With
    ``keep_by`` (SQL expression, higher = better): the best-scoring member,
    ties toward the smaller id — one extra shuffle on the component key
    (a window top-1), same scale shape as the anti join it replaces.
    ``cc_kwargs`` passes through to :func:`connected_components`
    (max_iterations / check_every / checkpoint_dir)."""
    comp = connected_components(pairs, **(cc_kwargs or {}))
    if keep_by is None:
        losers = comp.filter(F.col("id") != F.col("component")).select(
            F.col("id").alias(id_col)
        )
        return df.join(losers, on=id_col, how="left_anti")
    from pyspark.sql.window import Window

    labeled = df.join(
        comp.select(F.col("id").alias(id_col), "component"), on=id_col, how="left"
    ).withColumn("__comp", F.coalesce(F.col("component"), F.col(id_col)))
    w = Window.partitionBy("__comp").orderBy(
        F.expr(keep_by).desc(), F.col(id_col).asc()
    )
    return (
        labeled.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("component", "__comp", "__rn")
    )


def exact_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    normalize: bool = True,
    keep_by: str | None = None,
) -> DataFrame:
    """Keep one row per identical (optionally normalized) text — the
    smallest id by default, or the best by ``keep_by`` (SQL expression,
    higher wins, ties toward the smaller id).

    Scale: one hash-shuffle on the md5 fingerprint either way. The default
    groupBy+semi-join moves 16-byte keys with a map-side partial ``min``;
    ``keep_by`` instead runs a window top-1 over the fingerprint (full rows
    shuffle once — the price of scoring arbitrary expressions).

    Streaming inputs lower to ``dropDuplicates`` on the fingerprint —
    the same one-survivor-per-content contract with FIRST-ARRIVAL
    survivor selection instead of smallest id (a stream has no total
    order to take a min over; state is one 16-byte key per distinct
    content, exactly the batch store's footprint — bound it with a
    watermark upstream or the ``stream_dedup`` stage for age-limited
    windows).  ``keep_by`` needs the batch total order and raises.
    """
    key = TX.fingerprint(F.col(text_col)) if normalize else F.md5(F.col(text_col).cast("binary"))
    keyed = df.withColumn("__fp", key)
    if df.isStreaming:
        if keep_by is not None:
            raise ValueError(
                "exact_dedup keep_by needs a total order over the data; "
                "a stream has none — drop keep_by (first-arrival "
                "survivor) or dedup in foreachBatch"
            )
        return keyed.dropDuplicates(["__fp"]).drop("__fp")
    if keep_by is None:
        keepers = keyed.groupBy("__fp").agg(F.min(id_col).alias(id_col)).drop("__fp")
        return keyed.join(keepers, on=id_col, how="left_semi").drop("__fp")
    from pyspark.sql.window import Window

    w = Window.partitionBy("__fp").orderBy(F.expr(keep_by).desc(), F.col(id_col).asc())
    return (
        keyed.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__fp", "__rn")
    )


def exact_dedup_incremental(
    df: DataFrame,
    id_col: str,
    store_path: str,
    text_col: str = "text",
    normalize: bool = True,
    update_store: bool = True,
) -> DataFrame:
    """Exact dedup of a NEW batch against a persisted fingerprint store —
    the incremental-ingest pattern: yesterday's corpus never rescans,
    today's batch drops (a) rows duplicating any fingerprint already in
    the store and (b) within-batch duplicates (smallest id kept), and
    the store grows by the survivors' fingerprints.

    The store is a parquet directory of 16-byte ``fingerprint`` strings
    — O(distinct docs ever seen), readable by any engine, append-only.
    A missing/empty store means "first batch" (everything is new).
    ``update_store=False`` runs the check without growing the store
    (idempotent re-runs, dry-run QA).

    **Failure/concurrency contract (read before wiring into a real
    ingest).** With the default ``update_store=True`` the store append
    is NOT transactional with the caller's downstream consumption: the
    fingerprints commit when this function returns, so if the caller's
    own write of the returned batch then fails, a retry sees its
    fingerprints already in the store and returns 0 rows — the batch is
    silently lost (at-most-once). The store also assumes a SINGLE
    writer: concurrent appends interleave files without coordination
    and two racing batches can both pass the anti-join probe. For
    exactly-once ingest use the two-phase pattern — run with
    ``update_store=False``, write your downstream output, then call
    :func:`commit_fingerprints` on the returned survivors — and
    serialize writers externally (one ingest job per store).

    Scale: the batch fingerprints shuffle once for the within-batch
    ``groupBy(fp).min(id)``; the store probe is a left-anti equi-join on
    the 16-byte key that AQE turns into a broadcast when today's batch
    is small against history — history itself streams through the join,
    it is never collected or rewritten. The store append writes only
    the NEW fingerprints.
    """
    spark = df.sparkSession
    key = (
        TX.fingerprint(F.col(text_col))
        if normalize
        else F.md5(F.col(text_col).cast("binary"))
    )
    keyed = _materialize(df.withColumn("__fp", key))
    firsts = keyed.groupBy("__fp").agg(F.min(id_col).alias(id_col))
    batch_fresh = keyed.join(
        firsts, on=[id_col, "__fp"], how="left_semi"
    )
    if storage.exists(spark, store_path):
        seen = spark.read.parquet(store_path).select(
            F.col("fingerprint").alias("__fp")
        )
        fresh = batch_fresh.join(seen, on="__fp", how="left_anti")
    else:
        fresh = batch_fresh
    # localCheckpoint (not persist): appending to store_path triggers
    # Spark's refreshByPath, which INVALIDATES any cached plan that reads
    # that path — a persisted `fresh` would silently recompute against
    # the just-updated store and return zero rows. Checkpointing cuts
    # the file-source lineage, so the result is pinned to the pre-append
    # store state whatever the caller does next.
    fresh = fresh.localCheckpoint()
    if update_store:
        fresh.select(F.col("__fp").alias("fingerprint")).write.mode(
            "append"
        ).parquet(store_path)
    return fresh.drop("__fp")


def commit_fingerprints(
    survivors: DataFrame,
    store_path: str,
    text_col: str = "text",
    normalize: bool = True,
) -> None:
    """Phase 2 of the two-phase incremental-dedup pattern (see
    :func:`exact_dedup_incremental`'s failure contract): after the
    batch's own downstream output has succeeded, append the surviving
    rows' fingerprints to the store. ``survivors`` is the frame
    :func:`exact_dedup_incremental` returned (``update_store=False``);
    fingerprints are recomputed with the same key derivation, so the
    bytes appended are identical to what the single-phase mode would
    have written — a crash between the downstream write and this call
    re-ingests the batch on retry (at-least-once, dedupable by the
    store itself) instead of silently dropping it."""
    key = (
        TX.fingerprint(F.col(text_col))
        if normalize
        else F.md5(F.col(text_col).cast("binary"))
    )
    survivors.select(key.alias("fingerprint")).write.mode("append").parquet(
        store_path
    )


def exact_pairs(
    df: DataFrame, id_col: str, text_col: str = "text", normalize: bool = True
) -> DataFrame:
    """Identical-content pairs (id_a < id_b, score 1.0) via fingerprint
    self-join — the inverted index is the fingerprint itself, so cost is
    Σ dup_count² per distinct content, never n²."""
    key = TX.fingerprint(F.col(text_col)) if normalize else F.md5(F.col(text_col).cast("binary"))
    fp = df.select(F.col(id_col).alias("id"), key.alias("__fp"))
    a, b = fp.alias("a"), fp.alias("b")
    return (
        a.join(b, on="__fp")
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.lit(1.0).alias("score"),
        )
    )


def _materialize(df: DataFrame) -> DataFrame:
    """Persist (MEMORY_AND_DISK) a CPU-heavy intermediate that downstream
    plans reference more than once.

    Without this, Catalyst's ``CollapseProject`` inlines the producing
    expression into every consumer — a MinHash signature would re-tokenize
    and re-shingle the document once per hash function (measured 14.2 s vs
    1.6 s for 64 hashes over sf0.1 documents), and self-joins/verify joins
    recompute the whole scan per branch. At 100 TB MEMORY_AND_DISK spills
    and evicted blocks recompute — strictly cheaper than 64× expression
    re-evaluation. Streaming inputs skip the persist (unsupported there)."""
    if df.isStreaming:
        return df
    return df.persist(StorageLevel.MEMORY_AND_DISK)


def _shingle_df(
    df: DataFrame, id_col: str, text_col: str, k: int, unit: str,
    hashed: bool = False,
) -> DataFrame:
    """(id, sh): the distinct shingle set per document. With ``hashed``,
    ``sh`` is ``array<bigint>`` of raw xxhash64 per shingle — strings never
    leave the scan stage, so everything downstream (inverted-index joins,
    signature folds, verify intersections) persists, shuffles, and compares
    8-byte longs instead of ~k-word strings. Distinctness survives hashing
    modulo xxhash64 collisions (~|corpus shingles|²/2⁶⁴ — negligible)."""
    sh = (
        TX.shingles(F.col(text_col), k)
        if unit == "char"
        else TX.word_ngrams(F.col(text_col), k)
    )
    if hashed:
        sh = F.transform(sh, lambda s: F.xxhash64(s))
    return _materialize(
        _spread(df).select(F.col(id_col).alias("id"), sh.alias("sh"))
    )


def _shingle_ex_df(
    df: DataFrame, id_col: str, text_col: str, k: int, unit: str
) -> DataFrame:
    """(id, h): the distinct hashed shingles of each document in EXPLODED
    form — one row per (doc, shingle), ``h`` the raw xxhash64 long.

    Hash-identical to ``explode(_shingle_df(hashed=True).sh)`` (pinned by
    tests) but ~20× cheaper to produce: the array form builds shingles with
    ``sequence``+``transform`` higher-order functions, which Spark evaluates
    INTERPRETED per array element (measured 36 s for 1M shingles at sf0.1);
    here the k-gram enumeration is ``explode`` over start offsets with a
    plain ``substr``+``xxhash64`` per row — all whole-stage codegen
    (0.6 s for the same shingles). Distinctness (``array_distinct`` in the
    array form) becomes one partial-aggregated (id, h) dedup shuffle of
    8-byte pairs. Consumers that need the per-doc set size aggregate this
    frame; consumers that need the set intersection join it — neither ever
    materializes shingle arrays or strings.
    """
    spread = _spread(df)
    if unit == "char":
        norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
        ex = (
            spread.select(F.col(id_col).alias("id"), norm.alias("__t"))
            .select(
                "id",
                "__t",
                F.explode(
                    F.sequence(
                        F.lit(1),
                        F.greatest(F.length("__t") - (k - 1), F.lit(1)),
                    )
                ).alias("__p"),
            )
            .select(
                "id",
                F.xxhash64(F.col("__t").substr(F.col("__p"), F.lit(k))).alias("h"),
            )
        )
    else:
        toks = TX.tokens(F.lower(F.col(text_col)))
        ex = (
            spread.select(F.col(id_col).alias("id"), toks.alias("__w"))
            .select(
                "id",
                "__w",
                F.explode(
                    F.sequence(
                        F.lit(0), F.greatest(F.size("__w") - k, F.lit(0))
                    )
                ).alias("__p"),
            )
            .select(
                "id",
                F.xxhash64(
                    F.concat_ws(" ", F.slice("__w", F.col("__p") + 1, k))
                ).alias("h"),
            )
        )
    return ex.dropDuplicates(["id", "h"])


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 5,
    threshold: float = 0.8,
    unit: str = "char",
    max_df: int | None = None,
) -> DataFrame:
    """Exact Jaccard-similar pairs via shingle inverted index.

    |A∩B| comes from a self-join on exploded distinct shingles (group count
    per pair); |A∪B| = |A|+|B|−|A∩B|. Scale: the join key is the shingle —
    an inverted index — so cost is Σ df(s)² over shingles, not n²; ``max_df``
    drops stop-shingles that would dominate that sum. The index keys are
    8-byte xxhash64 values, not shingle strings (see ``_shingle_ex_df``):
    exact modulo hash collisions, which the birthday bound makes negligible.
    """
    inter = _shingle_pair_counts(df, id_col, text_col, k, unit, max_df)
    return (
        inter.withColumn(
            "jaccard",
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def _shingle_pair_counts(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    unit: str,
    max_df: int | None,
) -> DataFrame:
    """Shared inverted-index intersection: ``(id_a, id_b, n_common,
    n_a, n_b)`` for every pair sharing ≥ 1 (sub-``max_df``) shingle —
    the Σ df(s)² core of both ``ngram_jaccard_pairs`` and
    ``containment_pairs``. Sizes count ALL distinct shingles (the true
    set sizes) even when ``max_df`` prunes the join side."""
    ex = _materialize(_shingle_ex_df(df, id_col, text_col, k, unit))
    sizes = ex.groupBy("id").agg(F.count("*").alias("n_sh"))
    inverted = ex.select("id", F.col("h").alias("s"))
    if max_df is not None:
        rare = (
            inverted.groupBy("s").agg(F.count("*").alias("df"))
            .filter(F.col("df") <= max_df)
            .select("s")
        )
        inverted = inverted.join(rare, on="s", how="left_semi")
    a = inverted.alias("a")
    b = inverted.alias("b")
    inter = (
        a.join(b, on="s")
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"))
    return inter.join(sa, "id_a").join(sb, "id_b")


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 5,
    threshold: float = 0.9,
    unit: str = "char",
    max_df: int | None = None,
) -> DataFrame:
    """Overlap-coefficient pairs via the same shingle inverted index —
    the doc-INSIDE-doc detector Jaccard structurally misses: a quote,
    repost-with-boilerplate, or prefix expansion whose 100 shingles all
    appear in a 10,000-shingle container has jaccard ≈ 0.01 (union
    dilution) but containment 1.0. Score is the overlap coefficient
    ``|A∩B| / min(|A|, |B|)``; the directional coefficients
    ``containment_a = |A∩B|/|A|`` and ``containment_b = |A∩B|/|B|`` are
    kept alongside so callers can tell which side is the contained one
    (the near-1.0 direction).

    Scale: identical to ``ngram_jaccard_pairs`` — the Σ df(s)² postings
    self-join, never n²; ``max_df`` bounds the per-shingle quadratic
    blowup. NOTE ``max_df`` pruning can undercount ``n_common`` (sizes
    stay exact), so pruned-mode containments are a lower bound — same
    contract as the jaccard variant."""
    inter = _shingle_pair_counts(df, id_col, text_col, k, unit, max_df)
    small = F.least(F.col("n_a"), F.col("n_b"))
    return (
        inter.withColumn("overlap", F.col("n_common") / small)
        .filter(F.col("overlap") >= threshold)
        .select(
            "id_a",
            "id_b",
            F.round(F.col("n_common") / F.col("n_a"), 6)
            .alias("containment_a"),
            F.round(F.col("n_common") / F.col("n_b"), 6)
            .alias("containment_b"),
            F.round("overlap", 6).alias("overlap"),
        )
    )


def tfidf_cosine_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    threshold: float = 0.6,
    max_df: int | None = 1000,
) -> DataFrame:
    """Cosine-similar document pairs over sparse TF-IDF vectors via the
    term inverted index — the classic pre-neural lexical near-dup, and
    the complement of ``ngram_jaccard``: Jaccard scores raw OVERLAP, so
    boilerplate-heavy pairs score high on stop-material alone, while
    TF-IDF cosine downweights corpus-common terms (idf) so only shared
    DISTINCTIVE vocabulary pushes a pair over the threshold.

    The vector space is the whitespace-token vocabulary restricted to
    terms with document frequency ≤ ``max_df`` (stop-terms leave the
    space entirely — norms and dots agree, so a reported cosine is
    exact within the restricted space, never a mix). weight(d, t) =
    tf · ln(N / df_t) rounded to 9 decimals; norms and dot products
    then accumulate DECIMAL(18, 9) products, which are exact and
    order-independent, so the score is bit-replicable across engines
    (the BM25 pattern, corpus.py:2784).

    Scale: pairs come from the postings self-join on term — Σ df(t)²
    work, never n², with ``max_df`` bounding the per-term quadratic
    blowup; tf/df/norms are single map-side-combinable aggregates and
    corpus size N is a 1-row broadcast. Nothing is collected."""
    tok = TX.tokens(F.lower(F.col(text_col)))
    tf = (
        _spread(df)
        .select(F.col(id_col).alias("__id"), F.explode(tok).alias("__t"))
        .groupBy("__id", "__t")
        .agg(F.count("*").cast("bigint").alias("__tf"))
    )
    dfs = tf.groupBy("__t").agg(F.count("*").alias("__df"))
    if max_df is not None:
        dfs = dfs.filter(F.col("__df") <= max_df)
    stats = df.agg(F.count("*").cast("double").alias("__n_docs"))
    w = _materialize(
        tf.join(dfs, "__t")
        .crossJoin(F.broadcast(stats))
        .select(
            "__id",
            "__t",
            F.round(
                F.col("__tf").cast("double")
                * F.log(F.col("__n_docs") / F.col("__df").cast("double")),
                9,
            ).cast("decimal(18,9)").alias("__w"),
        )
    )
    norms = w.groupBy("__id").agg(F.sum(F.col("__w") * F.col("__w")).alias("__ss"))
    a, b = w.alias("a"), w.alias("b")
    dots = (
        a.join(b, on="__t")
        .filter(F.col("a.__id") < F.col("b.__id"))
        .groupBy(
            F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b")
        )
        .agg(F.sum(F.col("a.__w") * F.col("b.__w")).alias("__dot"))
    )
    na = norms.select(F.col("__id").alias("id_a"), F.col("__ss").alias("__ssa"))
    nb = norms.select(F.col("__id").alias("id_b"), F.col("__ss").alias("__ssb"))
    return (
        dots.join(na, "id_a")
        .join(nb, "id_b")
        .withColumn(
            "cosine",
            F.round(
                F.col("__dot").cast("double")
                / F.sqrt(F.col("__ssa").cast("double"))
                / F.sqrt(F.col("__ssb").cast("double")),
                9,
            ),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


_MH_P = (1 << 31) - 1  # Mersenne prime 2³¹−1, the universal-hash modulus


def _mh_ab(num_hashes: int, seed: int = 7) -> list[tuple[int, int]]:
    """The seeded (a, b) universal-hash constants shared by every MinHash
    path — one generation order, so signatures agree bit-for-bit across the
    Column fold, the DataFrame aggregate, and the LSH pipeline."""
    rng = random.Random(seed)
    return [
        (rng.randrange(1, _MH_P), rng.randrange(0, _MH_P))
        for _ in range(num_hashes)
    ]


def minhash_signature(sh: Column, num_hashes: int, seed: int = 7) -> Column:
    """MinHash signature as array<bigint> via the standard one-hash
    construction (Broder): each shingle is xxhash64'd ONCE (masked to 31
    bits), then ``num_hashes`` seeded universal-hash permutations
    ``h_i(x) = (a_i·x + b_i) mod (2³¹−1)`` are folded with an elementwise
    min. Per document this costs |shingles| string hashes +
    |shingles|·num_hashes integer mul-add-mods — vs num_hashes string
    hashes per shingle for the naive per-seed form (measured ~3× faster at
    64 hashes on sf0.1 documents, identical recall behavior).

    Expression shape: the base-hash array is the *argument* of the
    ``aggregate`` fold, so it is evaluated once per row — never per
    permutation (higher-order functions evaluate argument arrays once,
    unlike a column reference that CollapseProject would inline per use).
    The (a, b) literal arrays constant-fold, and the whole tree stays O(1)
    in ``num_hashes`` driver-side, keeping codegen compile subsecond.
    31-bit masking keeps ``a·x + b < 2⁶²`` — no bigint overflow under ANSI
    mode; the hash-space collision loss (~|shingles|²/2³²) is negligible
    for the estimate."""
    ab = F.array(
        *[
            F.struct(
                F.lit(a).cast("bigint").alias("a"),
                F.lit(b).cast("bigint").alias("b"),
            )
            for a, b in _mh_ab(num_hashes, seed)
        ]
    )
    bases = F.transform(sh, lambda s: F.xxhash64(s).bitwiseAND(F.lit(_MH_P)))
    return F.aggregate(
        bases,
        F.array_repeat(F.lit(_MH_P).cast("bigint"), num_hashes),
        lambda acc, x: F.zip_with(
            acc,
            F.transform(ab, lambda p: (p["a"] * x + p["b"]) % _MH_P),
            lambda m, h: F.least(m, h),
        ),
    )


def minhash_signatures_df(
    shingled: DataFrame,
    num_hashes: int,
    seed: int = 7,
    pre_hashed: bool = False,
    include_empty: bool = True,
) -> DataFrame:
    """(id, sh) → (id, sig): the same signature recipe as
    ``minhash_signature`` (identical seeded (a,b) constants, identical
    xxhash64 base hash — pinned equal in tests), shaped for whole-stage
    codegen.

    Spark's higher-order functions (``aggregate``/``zip_with``) are
    interpreted per array element — at 64 hashes that interpretation was
    ~2/3 of the whole LSH query. Here shingles are exploded once, each
    hashed once, and the permutations fold in 64 codegen'd ``min()``
    aggregate buffers with map-side combine: the shuffle moves at most
    |docs|·64 longs per map partition, not shingle strings.

    ``pre_hashed``: ``sh`` already holds raw xxhash64 longs (see
    ``_shingle_df(hashed=True)``) — only the 31-bit mask is applied, so the
    signatures equal the string path's exactly. ``include_empty``: docs
    with an empty shingle set (dropped by the explode) rejoin with the
    fold's all-P signature so both forms agree row-for-row; with False they
    are omitted entirely and the join-back is skipped — the right call for
    LSH banding, where degenerate all-P signatures would band-collide into
    an all-pairs clique of empty documents.
    """
    ab = _mh_ab(num_hashes, seed)
    base = F.col("s") if pre_hashed else F.xxhash64("s")
    exploded = shingled.select("id", F.explode("sh").alias("s")).withColumn(
        "h", base.bitwiseAND(F.lit(_MH_P))
    )
    mins = exploded.groupBy("id").agg(
        *[
            F.min(
                (F.lit(a).cast("bigint") * F.col("h") + F.lit(b)) % _MH_P
            ).alias(f"m{i}")
            for i, (a, b) in enumerate(ab)
        ]
    )
    sig = F.array(*[f"m{i}" for i in range(num_hashes)])
    if not include_empty:
        return mins.select("id", sig.alias("sig"))
    empty_sig = F.array_repeat(F.lit(_MH_P).cast("bigint"), num_hashes)
    # a missing mins row surfaces as null m0 (never null otherwise: the
    # mod keeps every hash non-null), not as a null array — test the field.
    # A null sh array (also dropped by the explode) must stay null, not
    # become the all-P signature, to match minhash_signature's fold exactly
    return (
        shingled.select("id", F.col("sh").isNull().alias("__sh_null"))
        .join(mins, "id", "left")
        .select(
            "id",
            F.when(F.col("__sh_null"), F.lit(None).cast("array<bigint>"))
            .when(F.col("m0").isNull(), empty_sig)
            .otherwise(sig)
            .alias("sig"),
        )
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 5,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
    unit: str = "char",
    verify: bool = True,
) -> DataFrame:
    """MinHash + banded LSH near-dup pairs, optionally verified with true
    Jaccard (on the shingle sets) so output quality is exact.

    Banding: ``bands`` bands of ``num_hashes/bands`` rows; candidate iff some
    band hashes equal. With 64 hashes / 16 bands (r=4), pair-capture
    probability at j=0.8 is 1-(1-0.8⁴)¹⁶ ≈ 0.9996. Scale: only (band,
    band_hash) groups join — shuffle moves 8-byte hashes; the O(n²) pair
    space is never materialized. Shingles are carried as raw xxhash64 longs
    end-to-end (signature fold, verify intersection) — strings never leave
    the scan stage; exact modulo negligible 64-bit collisions.

    Empty/short documents all share the single partial shingle ``""`` (see
    ``word_ngrams``), so they pair with each other at Jaccard 1.0 — they
    ARE exact duplicates under the shingle definition, but a corpus with
    millions of them makes the verified output itself quadratic: drop or
    length-filter such docs upstream.

    Both the signature fold and the verify intersection consume the
    EXPLODED distinct-shingle frame (``_shingle_ex_df``, persisted once):
    signatures are 64 codegen'd ``min`` aggregate buffers over it, and
    verify counts intersections through it as an inverted index — shingle
    arrays are never materialized (the array-building higher-order
    functions were the query's hottest stage: interpreted per element).
    """
    rows = num_hashes // bands
    ex = _materialize(_shingle_ex_df(df, id_col, text_col, k, unit))
    hm = F.col("h").bitwiseAND(F.lit(_MH_P))
    mins = ex.groupBy("id").agg(
        *[
            F.min((F.lit(a).cast("bigint") * hm + F.lit(b)) % _MH_P).alias(f"m{i}")
            for i, (a, b) in enumerate(_mh_ab(num_hashes))
        ]
    )
    # materialized: both sides of the band self-join consume the signatures,
    # and the broadcast side breaks exchange reuse — without the persist the
    # 64-buffer min-aggregate (the hottest remaining stage) runs twice
    sigs = _materialize(
        mins.select(
            "id", F.array(*[f"m{i}" for i in range(num_hashes)]).alias("sig")
        )
    )
    banded = sigs.select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda bi: F.struct(
                    bi.alias("band"),
                    F.hash(F.slice("sig", bi * rows + 1, rows)).alias("bh"),
                ),
            )
        ).alias("b"),
    ).select("id", "b.band", "b.bh")
    cand = (
        banded.alias("x")
        .join(banded.alias("y"), on=["band", "bh"])
        .filter(F.col("x.id") < F.col("y.id"))
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .distinct()
    )
    if not verify:
        return cand
    # exact Jaccard via the same inverted index: |A∩B| as a per-pair match
    # count through the candidate set, |A∪B| = |A|+|B|−|A∩B|. Candidates
    # broadcast into the (persisted) index scans under AQE; per-pair cost
    # is |shingles(a)| rows, never an array materialization.
    sizes = ex.groupBy("id").agg(F.count("*").alias("n_sh"))
    ex_a = ex.select(F.col("id").alias("id_a"), "h")
    ex_b = ex.select(F.col("id").alias("id_b"), "h")
    inter = (
        cand.join(ex_a, "id_a")
        .join(ex_b, ["id_b", "h"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def minhash_incremental(
    df: DataFrame,
    id_col: str,
    store_path: str,
    text_col: str = "text",
    k: int = 5,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
    unit: str = "char",
    update_store: bool = True,
) -> DataFrame:
    """NEAR-duplicate pairs of a NEW batch against a persisted MinHash
    store — :func:`exact_dedup_incremental`'s counterpart for near
    duplicates: history is never re-shingled or re-signed.  Today's
    batch signs once, bands against the STORED signatures, candidates
    verify with TRUE Jaccard through the stored shingle inverted index,
    and (with ``update_store``) the store grows by the batch's
    signatures and shingles.

    Store layout (parquet, readable by any engine):
      ``<store>/signatures`` — (id, sig array<bigint>, n_sh)
      ``<store>/shingles``   — (id, h): exploded distinct xxhash64 longs
    Returned pairs always involve the new batch (store×new and
    within-new; old×old pairs were reported when history ingested):
    (id_a, id_b, jaccard), id_a < id_b, true Jaccard ≥ ``threshold`` on
    banding-captured candidates — the same seeded, deterministic
    banding recall shape as :func:`minhash_lsh_pairs`, with exact
    precision from the verify step.  Ids must be unique across store
    and batch (the exact_dedup_incremental single-writer/at-most-once
    contract applies verbatim; for two-phase/exactly-once run with
    ``update_store=False``, write your downstream output, then call
    :func:`commit_minhash_store` on the batch).

    **Crash safety of the append.** The two store tables commit in a
    fixed order — shingles FIRST, signatures LAST — so the signature
    write is the single commit point: a crash between the writes
    leaves orphan shingle rows, which are inert (candidates only ever
    come from banding the SIGNATURES; an id with shingles but no
    signature is never probed).  Re-ingesting the batch after such a
    crash (at-least-once) duplicates rows in either table, which the
    probe tolerates by construction: banded candidates are
    ``distinct()``, verify dedups the common-shingle rows per
    (pair, hash) before counting, and duplicated size rows can only
    clone whole output pairs (``n_sh`` is functionally dependent on
    the id), which the final pair-key dedup removes — so no store
    repair is ever required; partial appends self-heal on retry.

    Scale: the probe shuffles (band, bh) 8-byte keys — store
    signatures stream through the band join, never collected; verify
    routes candidates through the combined shingle index at
    |shingles(doc)| rows per pair; per-doc set sizes ride the
    signature store (``n_sh``), so no pass over stored shingles is
    needed for sizes.  Store growth is O(batch), append-only."""
    if num_hashes % bands:
        raise ValueError(
            f"num_hashes ({num_hashes}) must divide into bands ({bands})"
        )
    rows = num_hashes // bands
    spark = df.sparkSession
    ex_new, sigs_new = _minhash_sign(df, id_col, text_col, k, num_hashes, unit)
    sigs_new = _materialize(sigs_new)

    def banded(sigs: DataFrame, is_new: bool) -> DataFrame:
        return sigs.select(
            "id",
            F.lit(is_new).alias("is_new"),
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(bands - 1)),
                    lambda bi: F.struct(
                        bi.alias("band"),
                        F.hash(F.slice("sig", bi * rows + 1, rows)).alias(
                            "bh"
                        ),
                    ),
                )
            ).alias("b"),
        ).select("id", "is_new", "b.band", "b.bh")

    sig_store = f"{store_path}/signatures"
    sh_store = f"{store_path}/shingles"
    all_b = banded(sigs_new, True)
    ex_all = ex_new.select("id", "h")
    sizes = sigs_new.select("id", "n_sh")
    if storage.exists(spark, sig_store):
        sigs_old = spark.read.parquet(sig_store)
        all_b = banded(sigs_old, False).unionByName(all_b)
        ex_all = spark.read.parquet(sh_store).unionByName(ex_all)
        sizes = sigs_old.select("id", "n_sh").unionByName(sizes)
    cand = (
        all_b.alias("x")
        .join(all_b.alias("y"), on=["band", "bh"])
        .filter(
            (F.col("x.id") < F.col("y.id"))
            & (F.col("x.is_new") | F.col("y.is_new"))
        )
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .distinct()
    )
    # Duplicate-tolerant verify (crash-safety contract): identical
    # results on a clean store (shingle rows are distinct per (id, h)
    # by construction) but tolerant of duplicated store rows from an
    # at-least-once re-append after a crash.  count_distinct plans as
    # partial-agg(pair, h) → exchange → final + pair count — map-side
    # combine before the shuffle, so the tolerance costs one extra
    # pair-bounded exchange, never a raw-row reshuffle (r10 A/B note).
    inter = (
        cand.join(ex_all.select(F.col("id").alias("id_a"), "h"), "id_a")
        .join(ex_all.select(F.col("id").alias("id_b"), "h"), ["id_b", "h"])
        .groupBy("id_a", "id_b")
        .agg(F.count_distinct("h").alias("n_common"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"))
    out = (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("n_common")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
        # n_sh is functionally dependent on id, so duplicated store
        # size rows can only duplicate whole output pairs — this
        # pair-key dedup replaces a sizes.distinct() exchange and runs
        # exchange-free on the final join's partitioning
        .dropDuplicates(["id_a", "id_b"])
    )
    # localCheckpoint BEFORE the append: the result must stay pinned to
    # the pre-append store state (same refreshByPath pitfall as
    # exact_dedup_incremental — a cached plan over the store path would
    # recompute against the just-grown store and self-match the batch)
    out = out.localCheckpoint()
    if update_store:
        # shingles FIRST, signatures LAST: the signature write is the
        # commit point (docstring crash-safety contract) — orphan
        # shingles from a crash in between are never banded, and a
        # retry's duplicate rows are neutralized by the distinct
        # counting above
        ex_new.select("id", "h").write.mode("append").parquet(sh_store)
        sigs_new.write.mode("append").parquet(sig_store)
    return out


def commit_minhash_store(
    batch: DataFrame,
    id_col: str,
    store_path: str,
    text_col: str = "text",
    k: int = 5,
    num_hashes: int = 64,
    unit: str = "char",
) -> None:
    """Phase 2 of the two-phase incremental near-dup pattern (the
    :func:`commit_fingerprints` counterpart for :func:`minhash_incremental`):
    after the batch's downstream output has succeeded, append its shingle
    index and signatures to the store.  ``batch`` is the frame that was
    probed with ``update_store=False``; shingles and signatures are
    recomputed with the same seeded derivation, so the bytes appended are
    identical to what the single-phase mode would have written.  Writes in
    the crash-safe order (shingles first, signatures last — the commit
    point); a crash before the signature write re-ingests the batch on
    retry (at-least-once), and the duplicate rows that can leave behind
    are neutralized by the probe's distinct counting."""
    ex_new, sigs_new = _minhash_sign(
        batch, id_col, text_col, k, num_hashes, unit
    )
    ex_new.select("id", "h").write.mode("append").parquet(
        f"{store_path}/shingles"
    )
    sigs_new.write.mode("append").parquet(f"{store_path}/signatures")
    ex_new.unpersist()


def _minhash_sign(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    num_hashes: int,
    unit: str,
) -> tuple[DataFrame, DataFrame]:
    """Shared seeded MinHash derivation: (exploded distinct shingles
    ``(id, h)`` — persisted, signatures ``(id, sig, n_sh)``).  Both
    :func:`minhash_incremental` and :func:`commit_minhash_store` sign
    through here so two-phase commits append byte-identical rows."""
    ex = _materialize(_shingle_ex_df(df, id_col, text_col, k, unit))
    hm = F.col("h").bitwiseAND(F.lit(_MH_P))
    mins = ex.groupBy("id").agg(
        *[
            F.min((F.lit(a).cast("bigint") * hm + F.lit(b)) % _MH_P).alias(
                f"m{i}"
            )
            for i, (a, b) in enumerate(_mh_ab(num_hashes))
        ],
        F.count("*").alias("n_sh"),
    )
    sigs = mins.select(
        "id",
        F.array(*[f"m{i}" for i in range(num_hashes)]).alias("sig"),
        "n_sh",
    )
    return ex, sigs


_SH_P = (1 << 31) - 1  # Mersenne prime: every product stays in BIGINT


def simhash_bit_salts(
    bits: int = 64, seed: int = 42
) -> list[tuple[int, int]]:
    """Per-bit (C_j, D_j) multipliers for :func:`simhash64` — seeded so
    an external oracle regenerates the identical constants and
    replicates every code bit-for-bit (the :func:`srp_planes`
    pattern)."""
    rng = random.Random(seed)
    return [
        (rng.randrange(1, _SH_P), rng.randrange(1, _SH_P))
        for _ in range(bits)
    ]


def _polyhash(t: Column, base: int) -> Column:
    """Polynomial rolling hash of a token's code points mod 2³¹−1 —
    integer math both Spark and any ANSI-SQL engine evaluate
    identically (no engine-private hash like xxhash64)."""
    codes = F.transform(
        F.sequence(F.lit(1), F.length(t)),
        lambda i: F.ascii(F.substring(t, i, F.lit(1))).cast("bigint"),
    )
    return F.aggregate(
        codes,
        F.lit(0).cast("bigint"),
        lambda acc, c: (acc * base + c) % _SH_P,
    )


def simhash64(text: Column) -> Column:
    """64-bit SimHash over whitespace tokens, pure Column expressions.

    Per token: two seeded polynomial hashes (g1, g2) of its code
    points; bit j comes from the strongly-universal combination
    ``((g1·C_j)%P + (g2·D_j)%P) % P & 1`` with the seeded per-bit salts
    of :func:`simhash_bit_salts` — deliberately engine-portable integer
    math (every product < 2⁶², no wrapping), so a DuckDB oracle can
    replay the codes exactly; xxhash64 would pin the codes to Spark's
    private implementation. Per bit: +1/−1 votes summed with
    ``aggregate``+``zip_with`` (O(1) expression tree, codegen-friendly);
    sign of each vote → final bit. Each token's g1/g2 are computed ONCE
    (a transform to struct before the vote fold), not per bit."""
    toks = TX.tokens(F.lower(text))
    salts = simhash_bit_salts()
    cs = F.array(*[F.lit(c).cast("bigint") for c, _ in salts])
    ds = F.array(*[F.lit(d).cast("bigint") for _, d in salts])
    # per-bit masks as one literal array (bit 63 is the sign bit, hence
    # the negative literal)
    masks = F.array(
        *[
            F.lit((1 << j) if j < 63 else -(1 << 63)).cast("bigint")
            for j in range(64)
        ]
    )
    tok_hashes = F.transform(
        toks,
        lambda t: F.struct(
            _polyhash(t, 131).alias("g1"), _polyhash(t, 137).alias("g2")
        ),
    )
    bit_votes = F.aggregate(
        tok_hashes,
        F.array_repeat(F.lit(0).cast("bigint"), 64),
        lambda acc, g: F.zip_with(
            acc,
            F.zip_with(
                cs,
                ds,
                lambda cj, dj: F.when(
                    (
                        ((g["g1"] * cj) % _SH_P + (g["g2"] * dj) % _SH_P)
                        % _SH_P
                    ).bitwiseAND(F.lit(1))
                    == 1,
                    1,
                )
                .otherwise(-1)
                .cast("bigint"),
            ),
            lambda a, b: a + b,
        ),
    )
    return F.aggregate(
        F.zip_with(
            bit_votes,
            masks,
            lambda v, m: F.when(v > 0, m).otherwise(F.lit(0).cast("bigint")),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc.bitwiseOR(x),
    )


def hamming_pairs(
    codes: DataFrame,
    id_col: str,
    code_col: str,
    max_hamming: int = 3,
) -> DataFrame:
    """Hamming-distance ≤ k pairs over any packed 64-bit code column
    (SimHash, image aHash, binary-quantized sketches) via pigeonhole
    banding: split 64 bits into k+1 chunks; any pair within distance k
    matches exactly on ≥1 chunk.  Candidates verified with exact
    ``bit_count(a XOR b)``.  Output: (id_a, id_b, hamming), id_a < id_b.

    Scale: the corpus is never self-joined — candidates come from the
    equi-join on (chunk, key), fan-out bounded by Σ bucket² per band
    key, and each code explodes to only k+1 rows.  The 100 TB shape for
    any 64-bit perceptual fingerprint."""
    chunks = max_hamming + 1
    width = 64 // chunks
    sh = _materialize(
        _spread(codes).select(
            F.col(id_col).alias("id"), F.col(code_col).alias("sh")
        )
    )
    banded = sh.select(
        "id",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(ci).alias("chunk"),
                        F.shiftright("sh", ci * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("key"),
                    )
                    for ci in range(chunks)
                ]
            )
        ).alias("c"),
    ).select("id", "sh", "c.chunk", "c.key")
    return (
        banded.alias("x")
        .join(banded.alias("y"), on=["chunk", "key"])
        .filter(F.col("x.id") < F.col("y.id"))
        .select(
            F.col("x.id").alias("id_a"),
            F.col("y.id").alias("id_b"),
            F.bit_count(F.col("x.sh").bitwiseXOR(F.col("y.sh"))).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """Hamming-distance ≤ k SimHash pairs — ``simhash64`` codes through
    the generic pigeonhole ``hamming_pairs`` (identical plan to the
    pre-r9 inline form)."""
    codes = _spread(df).select(
        F.col(id_col).alias("id"), simhash64(F.col(text_col)).alias("sh")
    )
    return hamming_pairs(codes, "id", "sh", max_hamming)


def _vector_dim(df: DataFrame, vec_col: str) -> int | None:
    """Width of the first NON-NULL vector, or None when there is none —
    one bounded driver job at plan-build time. Probing an unfiltered
    first row would let a leading NULL set the width to garbage."""
    row = df.filter(F.col(vec_col).isNotNull()).select(vec_col).first()
    return None if row is None else len(row[0])


def srp_planes(dim: int, bits: int, seed: int) -> list[list[float]]:
    """Deterministic random-hyperplane set for SRP-LSH — seeded so an
    external oracle can regenerate the identical planes and replicate the
    bucketing bit-for-bit."""
    rng = random.Random(seed)
    return [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(bits)]


def semdedup(
    df: DataFrame,
    id_col: str,
    vec_col: str = "embedding",
    n_clusters: int | str = 8,
    iters: int = 2,
    threshold: float = 0.95,
    max_cluster_size: int | None = 1024,
    srp_bits: int = 4,
    seed: int = 42,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — semantic
    deduplication by cluster-then-compare: k-means-cluster the
    embeddings (:func:`~.similarity.kmeans_clusters`), score cosine
    pairs ONLY within each cluster, and keep a row iff it has NO
    lower-id cluster-mate at cosine ≥ ``threshold`` (rounded to 6, the
    repo-wide convention). Declarative survivor rule — independent of
    which other rows were dropped — so an external oracle states it
    directly. Returns the surviving rows of ``df``.

    Scale: the cluster step is the whole point — pairwise scoring
    drops from O(n²) to Σ|cluster|² with the equi-join on the cluster
    id; grow ``n_clusters`` with the corpus (SemDeDup uses ~10⁴-10⁵
    clusters at web scale) to keep clusters bounded —
    ``n_clusters="auto"`` does it for you (one count job; ≈512 rows
    per cluster, floor 8). Clusters can still run hot (a skewed corpus
    can land half its rows in one cluster no matter how many centroids
    exist): ``max_cluster_size`` sub-buckets every cluster LARGER than
    it by a seeded ``srp_bits``-bit random-hyperplane signature of the
    unit vector, so the pair join keys on (cluster, bucket) and a hot
    cluster's |c|² collapses to Σ|bucket|² — the guard is the
    :func:`embedding_pairs` SRP shape applied inside clusters.  The
    trade is explicit and the standard one: within an oversized
    cluster the survivor rule then sees only same-bucket mates
    (identical vectors ALWAYS share a bucket; cosine-θ pairs collide
    with prob (1−θ/π)^srp_bits per the SRP bound — recall loss shows
    up as extra survivors, never lost rows).  Clusters at or under the
    bound are exact as before.  The guard is ON by default (1024 —
    the r11 sf1 audit measured 52× wall on 10× rows with fixed
    clusters and no bound: unbounded Σ|c|² is the same hazard class
    as brute-force all-pairs, which is opt-in-gated too); pass
    ``max_cluster_size=None`` for the unbounded exact tier on corpora
    you know are small.  Complement, not replacement,
    of :func:`embedding_pairs`: that one reports cross-corpus dup
    PAIRS via hashing; this one enforces a survivor set via clustering
    — the two standard shapes of embedding-level dedup."""
    from config_driven_pyspark_spark.functions import vectors as V
    from config_driven_pyspark_spark.operators.similarity import (
        kmeans_clusters,
    )

    if n_clusters == "auto":
        # SemDeDup's own scaling rule: clusters grow with the corpus so
        # Σ|cluster|² stays ~linear. ≈512 rows/cluster, floor 8.
        n_clusters = max(8, -(-df.count() // 512))
    assign = kmeans_clusters(df, id_col, vec_col, int(n_clusters), iters)
    # vector width for the unrolled codegen dot (r16): the pair join
    # below scores SUM(|cluster|^2) dots — the operator's hot loop
    vdim = _vector_dim(df, vec_col)
    unit = _materialize(
        df.select(
            F.col(id_col).alias("id"),
            V.unit_normalize(F.col(vec_col)).alias("u"),
        ).join(
            assign.select(
                F.col(id_col).alias("id"), F.col("cluster")
            ),
            "id",
        )
    )
    join_keys = ["cluster"]
    if max_cluster_size is not None:
        if max_cluster_size < 1:
            raise ValueError("max_cluster_size must be >= 1")
        if srp_bits < 1:
            raise ValueError("srp_bits must be >= 1 when sub-bucketing")
        # cluster sizes: one count over the materialized assignment
        # (k rows out). When NO cluster exceeds the bound — the common
        # small-corpus case — skip the bucket machinery entirely so the
        # plan is identical to the exact tier (r11 A/B: the always-on
        # bucket join cost 1.19x on a corpus that never triggered it).
        sizes = unit.groupBy("cluster").agg(F.count("*").alias("__csz"))
        max_sz = sizes.agg(F.max("__csz")).collect()[0][0] or 0
        if max_sz > max_cluster_size:
            planes = srp_planes(vdim or 1, srp_bits, seed)
            # broadcast the k-row size table back; only OVERSIZED
            # clusters pay the bucket split — the rest keep the exact
            # single-bucket path
            unit = (
                unit.join(F.broadcast(sizes), "cluster")
                .withColumn(
                    "bucket",
                    F.when(
                        F.col("__csz") > max_cluster_size,
                        V.hyperplane_signature("u", planes),
                    ).otherwise(F.lit(-1)),
                )
                .drop("__csz")
            )
            join_keys = ["cluster", "bucket"]
    a = unit.select(
        F.col("id").alias("id_a"), F.col("u").alias("ua"), *join_keys
    )
    b = unit.select(
        F.col("id").alias("id_b"), F.col("u").alias("ub"), *join_keys
    )
    dropped = (
        a.join(b, join_keys)
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            F.round(V.dot("ua", "ub", vdim), 6) >= threshold
        )
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return df.join(dropped, on=id_col, how="left_anti")


def embedding_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str = "embedding",
    threshold: float = 0.95,
    lsh_bits: int = 8,
    seed: int = 42,
    dim: int | None = None,
    allow_brute_force: bool = False,
) -> DataFrame:
    """Cosine ≥ threshold pairs over a vector column.

    Default (``lsh_bits>0``) is SRP-LSH: pairs must share a ``lsh_bits``-bit
    random-hyperplane bucket before being scored — the scale path;
    near-identical vectors collide with prob ≈ (1−θ/π)^bits, and identical
    vectors always do. ``lsh_bits=0`` is brute-force all-pairs — an O(n²)
    cartesian plan that is never acceptable by accident at scale, so it
    additionally requires ``allow_brute_force=True`` (exact baseline for
    small/sampled corpora only).

    ``dim`` (vector length) is needed to draw the hyperplanes; when omitted
    it is probed with a single-row driver action. An empty input yields an
    empty pair frame rather than an error.
    """
    if lsh_bits <= 0 and not allow_brute_force:
        raise ValueError(
            "embedding_pairs with lsh_bits=0 builds an all-pairs cartesian "
            "plan (O(n²)) — pass allow_brute_force=True to opt in for a "
            "small corpus, or keep lsh_bits > 0 for the SRP-bucketed path"
        )
    base = _materialize(
        df.select(F.col(id_col).alias("id"), V.unit_normalize(F.col(vec_col)).alias("v"))
    )
    if dim is None:
        # empty input: any plane set works — the join below yields no rows
        dim = _vector_dim(df, vec_col) or 1
    if lsh_bits > 0:
        planes = srp_planes(dim, lsh_bits, seed)
        base = base.withColumn("bucket", V.hyperplane_signature("v", planes))
        joined = base.alias("x").join(base.alias("y"), on=["bucket"])
    else:
        joined = base.alias("x").crossJoin(base.alias("y"))
    return (
        joined.filter(F.col("x.id") < F.col("y.id"))
        .select(
            F.col("x.id").alias("id_a"),
            F.col("y.id").alias("id_b"),
            F.round(V.dot("x.v", "y.v", dim), 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def stage_dedup(df: DataFrame, spec: dict) -> DataFrame:
    """``{"stage": "dedup", "method": "exact|ngram_jaccard|containment|tfidf_cosine|
    minhash_lsh|simhash|hamming|semdedup|embedding", "id_col": ...,
    "output": "dedup"|"pairs"|"clusters",
    "keep_by": <SQL expr>?, ...}``.

    ``keep_by`` changes which duplicate survives in ``dedup``/``clusters``
    outputs: the highest-scoring row by the expression (ties → smallest id)
    instead of the default smallest id — e.g. ``keep_by: "n_chars"`` keeps
    the longest member of each duplicate cluster.

    ``output: "clusters"`` additionally honors the connected-components
    knobs ``max_iterations`` (int, default 50), ``check_every`` (int,
    default 1 — convergence-check cadence in rounds) and ``checkpoint_dir``
    (str — reliable ``checkpoint()`` lineage truncation for real clusters
    instead of the default ``localCheckpoint``).

    ``output: "pairs"`` always carries a method-agnostic ``score`` double in
    [0, 1] (higher = more similar) so downstream config stages can consume
    any method's pairs uniformly: exact → 1.0, ngram/minhash → ``jaccard``,
    embedding → ``cosine``, simhash → ``1 − hamming/64``. The
    method-specific column (``jaccard``/``cosine``/``hamming``) is kept
    alongside. Unverified minhash (``verify: false``) emits candidates with
    no similarity value — its ``score`` is null.
    """
    method = spec.get("method", "exact")
    id_col = spec.get("id_col", "id")
    out = spec.get("output", "dedup")
    keep_by = spec.get("keep_by")

    if method == "exact":
        if spec.get("store_path"):
            if out != "dedup" or keep_by:
                raise ValueError(
                    "store_path (incremental dedup) supports only "
                    "output='dedup' without keep_by — the store keeps "
                    "fingerprints, not scored rows"
                )
            return exact_dedup_incremental(
                df, id_col, spec["store_path"], spec.get("column", "text"),
                spec.get("normalize", True), spec.get("update_store", True),
            )
        if out == "pairs":
            return exact_pairs(
                df, id_col, spec.get("column", "text"), spec.get("normalize", True)
            )
        # equality is transitive, so "clusters" and "dedup" coincide
        return exact_dedup(
            df, id_col, spec.get("column", "text"), spec.get("normalize", True),
            keep_by,
        )

    if method == "ngram_jaccard":
        pairs = ngram_jaccard_pairs(
            df, id_col, spec.get("column", "text"), int(spec.get("k", 5)),
            float(spec.get("threshold", 0.8)), spec.get("unit", "char"),
            spec.get("max_df"),
        )
    elif method == "minhash_lsh":
        if spec.get("store_path"):
            if out != "pairs" or keep_by:
                raise ValueError(
                    "store_path (incremental minhash) supports only "
                    "output='pairs' without keep_by — pairs involving "
                    "the new batch; resolve survivors downstream"
                )
            return minhash_incremental(
                df, id_col, spec["store_path"],
                spec.get("column", "text"), int(spec.get("k", 5)),
                int(spec.get("num_hashes", 64)),
                int(spec.get("bands", 16)),
                float(spec.get("threshold", 0.8)),
                spec.get("unit", "char"),
                spec.get("update_store", True),
            ).withColumn("score", F.col("jaccard").cast("double"))
        pairs = minhash_lsh_pairs(
            df, id_col, spec.get("column", "text"), int(spec.get("k", 5)),
            int(spec.get("num_hashes", 64)), int(spec.get("bands", 16)),
            float(spec.get("threshold", 0.8)), spec.get("unit", "char"),
            spec.get("verify", True),
        )
    elif method == "containment":
        pairs = containment_pairs(
            df, id_col, spec.get("column", "text"), int(spec.get("k", 5)),
            float(spec.get("threshold", 0.9)), spec.get("unit", "char"),
            spec.get("max_df"),
        )
    elif method == "tfidf_cosine":
        pairs = tfidf_cosine_pairs(
            df, id_col, spec.get("column", "text"),
            float(spec.get("threshold", 0.6)),
            spec.get("max_df", 1000),
        )
    elif method == "simhash":
        pairs = simhash_pairs(
            df, id_col, spec.get("column", "text"), int(spec.get("max_hamming", 3))
        )
    elif method == "hamming":
        # precomputed packed 64-bit codes (e.g. multimodal.image_ahash)
        pairs = hamming_pairs(
            df, id_col, spec.get("column", "code"),
            int(spec.get("max_hamming", 3)),
        )
    elif method == "semdedup":
        if out != "dedup" or keep_by:
            raise ValueError(
                "semdedup defines a survivor SET (keep iff no lower-id "
                "cluster-mate within threshold) — only output='dedup' "
                "without keep_by; use method='embedding' for pairs"
            )
        # guard defaults ON; spec'ing max_cluster_size: null opts into
        # the unbounded exact tier explicitly
        mcs = spec.get("max_cluster_size", 1024)
        nc = spec.get("n_clusters", 8)
        return semdedup(
            df, id_col, spec.get("column", "embedding"),
            nc if nc == "auto" else int(nc), int(spec.get("iters", 2)),
            float(spec.get("threshold", 0.95)),
            int(mcs) if mcs is not None else None,
            int(spec.get("srp_bits", 4)), int(spec.get("seed", 42)),
        )
    elif method == "embedding":
        pairs = embedding_pairs(
            df, id_col, spec.get("column", "embedding"),
            float(spec.get("threshold", 0.95)), int(spec.get("lsh_bits", 8)),
            int(spec.get("seed", 42)), spec.get("dim"),
            bool(spec.get("allow_brute_force", False)),
        )
    else:
        raise ValueError(f"Unknown dedup method {method!r}")

    if out == "pairs":
        # method-agnostic similarity score (see docstring)
        if "jaccard" in pairs.columns:
            score = F.col("jaccard").cast("double")
        elif "overlap" in pairs.columns:
            score = F.col("overlap").cast("double")
        elif "cosine" in pairs.columns:
            score = F.col("cosine").cast("double")
        elif "hamming" in pairs.columns:
            score = 1.0 - F.col("hamming") / F.lit(64.0)
        else:  # unverified candidates: no similarity value
            score = F.lit(None).cast("double")
        return pairs.withColumn("score", score)
    if out == "clusters":
        cc_kwargs = {
            k: spec[k]
            for k in ("max_iterations", "check_every", "checkpoint_dir")
            if k in spec
        }
        return _pairs_to_clusters(df, pairs, id_col, keep_by, cc_kwargs)
    return _pairs_to_dedup(df, pairs, id_col, keep_by)

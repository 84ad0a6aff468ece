#!/usr/bin/env python
"""Benchmark the headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE JSON line (the driver captures only the final ~2,000 chars of
the merged stdout+stderr stream, so this line is fixed-size by design):
``{"metric": "total_query_seconds", "value": N, "unit": "sec",
   "sf": 0.1, "n_queries": M}``
Per-query timings and per-run spreads persist to the committed
``bench_runs_latest.json`` — never to stdout/stderr.

Each query is forced end-to-end with the noop sink (full computation, no
driver-side result transfer). Session uses AQE + broadcast thresholds the
way a production cluster would.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry  # noqa: E402

# headline subset: scan-heavy agg, multi-join, window, set-op, nested
# transform, dedup, text, vector search — one per operator family
HEADLINE = [
    "q01_pricing_summary",
    "q03_shipping_priority",
    "q05_region_revenue",
    "q06_forecast_revenue",
    "q07_nation_volume",
    "q_cube_lineitem",
    "q_pivot_events",
    "q_text_advanced",
    "q_window_topk_parts",
    "q_window_running_total",
    "q_semi_customers",
    "q_events_hourly",
    "q_sessionize_events",
    "q_asof_purchase_view",
    "q_range_join_price_bands",
    "q_nested_transform_events",
    "q_dedup_exact_docs",
    "q_text_stats",
    "q_ngram_dedup_pairs",
    "q_minhash_pairs",
    "q_knn_cosine",
    "q08_market_share",
    "q_repetition_stats",
    "q_chunk_documents",
    "q_line_dedup",
    "q_pack_sequences",
    # round 4: families previously unbenched
    "q_ivf_ann",
    "q_streaming_asof",
    "q_split_assign",
    "q_source_cap",
    # round 5: remaining unbenched families (VERDICT r4 #3). Totals are
    # NOT comparable across rounds when this set widens — compare
    # per-query (PLANS.md convention).
    "q_bm25_search",
    "q_jl_projection",
    "q_stream_dedup",
    "q_salted_join_orders",
    "q_csv_roundtrip",
    "q_sink_roundtrip",
    "q_ivf_index_ann",
    # round 6 additions (totals not comparable across rounds when the set
    # widens — compare per-query, PLANS.md convention)
    "q_multimodal_decode",
    "q_time_window_hourly",
    "q_bigram_perplexity",
    "q_pq_ann",
    "q_ivfpq_ann",
    "q_ivfpq_index_ann",
    "q_quantize_embeddings",
    # round 7 additions (same per-query comparison convention)
    "q_span_dedup",
    "q_span_strip",
    "q_hybrid_search",
    "q_incremental_dedup",
    "q_semantic_decon",
    "q_temperature_mixture",
    "q_audio_decode",
    "q_bpe_vocab",
    "q_ivf_index_append",
    "q_sq_index_ann",
    "q_corpus_profile",
    "q_stateful_running",
    # round 8 additions (same per-query comparison convention)
    "q_hybrid_index_search",
    "q_ivf_compact",
    "q_png_decode",
    "q_e2e_pretrain",
    "q_kmeans_clusters",
    "q_semdedup",
    "q_bq_ann",
    "q_matryoshka_ann",
    "q_shard_by_size",
    "q_quality_classify",
    "q_pii_scrub",
    "q_normalize_text",
    "q_url_features",
    "q_dsir_weights",
    "q_dsir_resample",
    "q_ann_recall",
    "q_e2e_web_curation",
    "q_pack_boundaries",
    "q_skew_report",
    "q_upsample",
    "q_corpus_diff",
    "q_minhash_incremental",
    "q_char_decon",
    "q_length_filter",
    "q_score_normalize",
    "q_ncm_classify",
    "q_perplexity_stored",
    "q_mad_outliers",
    # round 9 additions (same per-query comparison convention)
    "q_html_extract",
    "q_gopher_filter",
    "q_repetition_filter",
    "q_url_normalize",
    "q_ivf_delete",
    "q_source_overlap",
    "q_mmr_rerank",
    "q_boilerplate_strip",
    "q_bloom_decon",
    "q_image_ahash",
    "q_perplexity_buckets",
    "q_novelty_docs",
    "q_tokenizer_fertility",
    "q_tfidf_pairs",
    "q_embedding_covariance",
    "q_pca_project",
    "q_unigram_vocab",
    "q_unigram_encode",
    "q_wordpiece_vocab",
    "q_wordpiece_encode",
    "q_hash_embed",
    "q_export_manifest",
    "q_curriculum",
    "q_containment_pairs",
    "q_contrastive_triplets",
    "q_readability",
    "q_word_blocklist",
    "q_e2e_curriculum_export",
    "q_chunk_sentences",
    "q_manifest_drift",
    "q_hash_embed_knn",
    "q_kn_perplexity",
    "q_manifest_merge",
    "q_lang_margin",
    "q_wordpiece_fertility",
    "q_unigram_fertility",
    # round 10 additions (VERDICT r9 ask #4): one representative per
    # previously-unbenched family — UDF/UDAF/grouped-map/flat-map,
    # time-series gap-fill, unpivot, embedding near-dup, SRP ANN,
    # token-budget sampling, simhash (same per-query convention)
    "q_pandas_udf_affine",
    "q_udaf_median",
    "q_grouped_map_first_events",
    "q_flat_map_tokens",
    "q_events_gapfill",
    "q_unpivot_metrics",
    "q_embedding_dups",
    "q_srp_ann",
    "q_token_budget",
    "q_simhash_pairs",
    # round 10 late additions: table-maintenance family (MERGE/SCD2) and
    # the real video container+codec chain
    "q_merge_upsert",
    "q_video_frames",
    # round 11: partition-scoped MERGE (write-amplification fix) and the
    # full CDC composition chain (same per-query comparison convention)
    "q_merge_partitioned",
    "q_e2e_cdc",
    "q_table_compact",
    "q_scd2_asof",
    # round 12: conditional / column-level MERGE (UPDATE SET + condition),
    # sidecar-pruned probe over an ingest-bucketed layout, and the
    # full-sync not-matched-by-source clause
    "q_merge_conditional",
    "q_merge_sidecar",
    "q_merge_sync",
    "q_table_mutate",
    # round 12 (cont.): table versioning — VERSION AS OF + RESTORE —
    # and the CHECK-constraint expectations report
    "q_time_travel",
    "q_table_restore",
    "q_expectations",
    "q_table_changes",
    "q_table_alter",
    "q_e2e_governed",
    "q_table_analyze",
    "q_table_scan",
    # round 13: per-file data skipping, the streaming CDF pump, the
    # real GIF codec; the TIMESTAMP AS OF extension rides the existing
    # q_time_travel row
    "q_file_skipping",
    "q_stream_changes",
    "q_gif_decode",
    # round 14: deletion vectors (merge-on-read DELETE), MERGE schema
    # evolution, and the two telephony codecs; the sharded sidecar and
    # exactly-once sink ride q_file_skipping / q_stream_changes
    "q_delete_vectors",
    "q_merge_evolve",
    "q_merge_dv",
    "q_e2e_erasure",
    "q_mulaw_decode",
    "q_adpcm_decode",
    "q_flac_decode",
    # round 15: streaming merge-on-read ingestion + deletion-vector
    # coalesce; the harness lock hygiene and swap-time DV re-check ride
    # the existing table rows; stereo FLAC closes the most-hit audio gate
    "q_stream_dv",
    "q_flac_stereo",
    "q_flac_lpc",
    # round 15 (cont.): the interlaced/stereo format gates closed —
    # Adam7 PNG, four-pass GIF, word-interleaved stereo ADPCM
    "q_png_adam7",
    "q_gif_interlaced",
    "q_adpcm_stereo",
]


def main() -> None:
    from config_driven_pyspark_spark import build_session

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or "0.1")
    except ValueError:  # non-sf<N> dir name; sf is informational only
        sf = None

    # start from a clean slate: sweep cdp_* tmp debris no live harness
    # process can own (newest mtime older than the 900 s writer-lock
    # lease). A SIGKILLed prior run's orphaned lock entry crashed the
    # entire r14 bench record — this plus the per-row _fresh_tmp resets
    # makes the fixed /tmp/cdp_* paths safe across harness generations.
    try:
        sys.path.insert(
            0, os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "scripts"))
        from clean_tmp import sweep as _sweep_tmp

        _sweep_tmp(verbose=False)
    except Exception:
        pass  # the sweep is hygiene, never a reason to skip the bench

    spark = build_session(
        app_name="config-driven-pyspark-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        confs={
            "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g"),
            "spark.ui.enabled": "false",
            # bounded commit-retry on writer-lock conflicts: a stale-but-
            # unexpired lock entry (crashed sibling harness) must delay a
            # table row, not abort the whole record (r14 finding #1)
            "spark.cdp.lock.wait_seconds": os.environ.get(
                "SPARK_GRAFT_LOCK_WAIT", "120"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    # warm the JVM/JIT/codegen paths outside the timed region — including
    # the vectorized parquet reader and decimal-aggregate codegen the first
    # real query would otherwise pay ~3s of one-time compile for
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").limit(10_000).selectExpr(
        "sum(CAST(l_quantity AS DECIMAL(18,2)))", "count(DISTINCT l_returnflag)"
    ).collect()

    queries = entry.queries()

    # SPARK_GRAFT_ONLY=a,b,c: time just that headline subset (host-speed
    # probes / new-query spot checks). Subset runs never overwrite the
    # committed full-record bench_runs_latest.json.
    only = os.environ.get("SPARK_GRAFT_ONLY")
    headline = (
        [q for q in only.split(",") if q] if only else list(HEADLINE)
    )

    # fingerprints computed at RUN START, not at record-write time:
    # inspect.getsource reads the file on disk at the loaded code's
    # line offsets, so an edit landing mid-run (r12 incident: 77
    # fingerprints garbled, histories wrongly reset) would otherwise
    # stamp the record with sources the run never executed
    fingerprints = _query_fingerprints(queries, headline)

    # one untimed pass of every headline query at the smallest SF: identical
    # expression trees and schemas → the Janino codegen cache is hot for the
    # timed run, so timings measure data throughput (the quantity that
    # extrapolates to cluster scale), not one-time driver JIT compile.
    # Measured: doc-dedup queries drop ~4s of pure compile with data cost
    # unchanged. Skippable via SPARK_GRAFT_NO_WARMUP=1 to see cold numbers.
    warm_dir = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    errors: dict[str, str] = {}
    if not os.environ.get("SPARK_GRAFT_NO_WARMUP") and os.path.isdir(warm_dir):
        for name in headline:
            # one poisoned row must never abort the whole record (the
            # r14 crash: an orphaned writer lock killed the warmup pass
            # and the round shipped no bench number at all) — record the
            # error, keep warming the rest; the timed pass still gets a
            # chance (merely cold) and re-records any persistent failure
            try:
                queries[name](spark, warm_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
            except Exception as e:  # noqa: BLE001
                errors[name] = f"warmup: {e!r}"[:500]
        # drop the warmup pass's persisted intermediates so the timed run
        # starts with an empty block manager (no memory pressure carryover)
        spark.catalog.clearCache()
        spark._jvm.System.gc()
    # min of N timed passes per query: single-pass numbers swing up to 3×
    # under background machine load (PLANS.md: q_ivf_ann spans 1.1-3.7 s
    # on an IDLE container, identical code); the min is the reproducible
    # data-throughput cost (the quantity that extrapolates to cluster
    # scale). Queries whose first pass exceeds SLOW_CUTOFF get a third
    # run — min-of-2 on the high-variance family is exactly what produced
    # the r5 q_ivf_ann false regression (×1.98 flagged, A/B-measured ×1.09).
    # Per-run spreads are emitted so regressions can be judged against the
    # distribution, not a point estimate.
    # SPARK_GRAFT_REPEAT=1 restores single-pass timing.
    repeat = max(1, int(os.environ.get("SPARK_GRAFT_REPEAT", "2")))
    SLOW_CUTOFF = 1.0  # sec; above this, variance dominates min-of-2
    # Multi-job pipelines (q_e2e_pretrain: ~42 AQE jobs) warm over a
    # TRAJECTORY — sf0.1 AQE picks different physical plans than the
    # sf0.001 warmup compiled, so their first timed passes still pay
    # codegen/JIT (measured 63 → 20 → 9.8 s in one JVM, idle host,
    # identical code). Min-of-2 on such a row records the trajectory,
    # not the floor: keep re-running (cap 5) while the min is still
    # dropping >15% per pass.
    REPEAT_CAP = 5
    # INTERLEAVED passes (r13 — VERDICT r12 ask #7): consecutive
    # same-query runs (A,A,B,B) sample the same instant of background
    # machine load, so a load spike lands entirely on one query and its
    # committed median/mean swings ±20% at unchanged fingerprints (the
    # r12 finding). Round-robin passes (A,B,C,A,B,C) spread any spike
    # across the whole suite — each query's repeats sample DIFFERENT
    # load states, so spreads reflect true variance and per-query
    # statistics stabilize. Adaptive extra passes (slow queries get a
    # third run; multi-job pipelines re-run while still warming >15%
    # per pass, cap 5) keep their r8 semantics, just scheduled as later
    # passes.
    timings: dict[str, float] = {}
    spreads: dict[str, list[float]] = {name: [] for name in headline}
    budgets: dict[str, int] = {name: repeat for name in headline}
    while True:
        pending = [n for n in headline if len(spreads[n]) < budgets[n]]
        if not pending:
            break
        for name in pending:
            fn = queries[name]
            runs = spreads[name]
            start = time.perf_counter()
            try:
                fn(spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
            except Exception as e:  # noqa: BLE001
                # isolate the failure: record it, stop re-running this
                # row, keep timing the rest, still emit the summary —
                # a partial record beats the r14 outcome (rc=1, nothing)
                errors[name] = f"timed: {e!r}"[:500]
                budgets[name] = len(runs)  # drop from further passes
                if not os.environ.get("SPARK_GRAFT_NO_ISOLATE"):
                    spark.catalog.clearCache()
                    spark._jvm.System.gc()
                continue
            runs.append(round(time.perf_counter() - start, 3))
            if len(runs) == 1 and repeat > 1 and runs[0] > SLOW_CUTOFF:
                budgets[name] = max(budgets[name], 3)
            if (
                repeat > 1
                and budgets[name] < REPEAT_CAP
                and len(runs) >= 2
                and runs[0] > SLOW_CUTOFF
                and runs[-1] < 0.85 * min(runs[:-1])
            ):
                budgets[name] += 1
            # Each headline query models an independent production job (own
            # JVM there); here they share one block manager, and query-scoped
            # persisted intermediates (dedup/corpus `_materialize`) stay
            # pinned until py4j refs are GC'd — accumulated blocks were
            # measured to slow later queries up to 9× (knn 1.6s → 13.8s).
            # Release them outside the timed region.
            # SPARK_GRAFT_NO_ISOLATE=1 shows the shared numbers.
            if not os.environ.get("SPARK_GRAFT_NO_ISOLATE"):
                spark.catalog.clearCache()
                spark._jvm.System.gc()
    for name in headline:
        if spreads[name]:  # rows that errored on every pass have no runs
            timings[name] = min(spreads[name])

    total = round(sum(timings.values()), 3)
    # Per-run spreads persist ONLY to bench_runs_latest.json (committed, so
    # regressions can be judged against a distribution without re-running).
    # They must never hit stdout OR stderr: the driver's tail capture merges
    # both streams, and in r6 (stdout) and r7 (stderr) the ~3 kB detail line
    # displaced the summary line out of the capture window (parsed:null).
    detail = {
        "runs": {n: r for n, r in spreads.items() if r},
        "errors": errors,
        "min": timings,
        # trimmed means alongside minima (VERDICT r12 ask #7): the min
        # is the reproducible data-throughput floor, the trimmed mean
        # is the expected cost under load — judge regressions against
        # whichever question is being asked
        "tmean": {n: _tmean(r) for n, r in spreads.items() if r},
        "repeat_base": repeat,
        "sf": sf,
        "total": total,
        "fingerprint": fingerprints,
        "cpus": int(cpus),
        "commits": [c for c in [_git_head()] if c],
    }
    try:
        if only:
            # subset runs keep the committed full record and write their
            # detail to a side file instead (manual probes only — the
            # driver never sets SPARK_GRAFT_ONLY)
            runs_path = "/tmp/bench_subset_latest.json"
        else:
            runs_path = os.path.join(
                os.path.dirname(os.path.abspath(__file__)),
                "bench_runs_latest.json",
            )
            detail = merge_detail(_load_detail(runs_path), detail)
        with open(runs_path, "w") as fh:
            json.dump(detail, fh, indent=1)
        if not only:
            # r16 (VERDICT r15 #8): a FLAT name→seconds map at a fixed
            # path, so per-query data is one trivially parseable read
            # away for any harness. The stdout summary stays fixed-size
            # — at 164 queries the map alone (~4 kB) would displace the
            # summary out of the driver's 2,000-char tail capture, the
            # exact r6/r7/r8 failure (tests/test_bench_summary.py pins
            # this). THIS run's minima, not the merged floors: the
            # side file answers "what did the bench just measure".
            with open(os.path.join(
                os.path.dirname(os.path.abspath(__file__)),
                "bench_queries_latest.json",
            ), "w") as fh:
                json.dump({
                    "metric": "per_query_seconds", "unit": "sec",
                    "sf": sf, "queries": timings, "total": total,
                    "floors": detail.get("min") or {},
                }, fh, indent=1, sort_keys=True)
    except OSError:
        pass  # spreads are advisory; never fail the bench over them
    # Stop Spark BEFORE printing the summary so its shutdown logging (stderr)
    # cannot land after — the summary must be the FINAL line of the merged
    # stdout+stderr stream the driver captures. stop() failures (e.g. py4j
    # connection loss) must never suppress the summary.
    try:
        spark.stop()
    except Exception:
        pass
    print(summary_line(total, sf, len(timings)), flush=True)


def _tmean(xs: list[float]) -> float:
    """Trimmed mean: drop one min and one max when >= 4 runs exist
    (the capped history makes that the steady state), else the plain
    mean — a load spike in one run can't drag the statistic."""
    vals = sorted(xs)
    if len(vals) >= 4:
        vals = vals[1:-1]
    return round(sum(vals) / len(vals), 3)


def _engine_hash(root: str | None = None) -> str:
    """md5 over every file of the engine package (relative path + bytes,
    compiled caches skipped)."""
    import hashlib

    root = root or os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "config_driven_pyspark_spark"
    )
    paths = []
    for d, dirs, files in os.walk(root):
        dirs[:] = [x for x in dirs if x != "__pycache__"]
        paths += [os.path.join(d, f) for f in files]
    h = hashlib.md5()
    for path in sorted(paths):
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _query_fingerprints(
    queries: dict, names: list[str], engine: str | None = None
) -> dict[str, str]:
    """Per-query code fingerprint: md5 of the query function's own source
    plus the engine package's hash. merge_detail only carries a query's
    historical minimum forward while its fingerprint is unchanged, so an
    all-time floor recorded against OLD code — the query's or the
    engine's — can never mask a regression."""
    import hashlib
    import inspect

    engine = engine or _engine_hash()
    out = {}
    for name in names:
        try:
            src = inspect.getsource(queries[name])
        except (OSError, TypeError):
            src = name  # builtins/lambdas: fall back to a stable token
        out[name] = hashlib.md5((src + engine).encode()).hexdigest()[:12]
    return out


def _git_head() -> str | None:
    """Short HEAD sha for the committed record's audit trail (which
    commits contributed runs to each floor)."""
    import subprocess

    try:
        return subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"],
            cwd=os.path.dirname(os.path.abspath(__file__)),
            capture_output=True, text=True, timeout=10,
        ).stdout.strip() or None
    except Exception:
        return None


def _load_detail(path: str) -> dict | None:
    try:
        with open(path) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return None


def merge_detail(old: dict | None, new: dict) -> dict:
    """Merge a new full-run detail record into the committed one.

    A rerun can only LOWER minima (min over every run ever recorded for
    queries still in the headline set), never clobber a quieter
    session's floor — r9's quiet-host committed record (total 132.5 s)
    was silently replaced by the driver's contended rerun (192.8 s) for
    identical code. Run histories concatenate (capped to the last 10
    per query, so the committed file stays reviewable) and queries
    dropped from the headline set drop from the record. ``total`` is
    re-derived from the merged minima so it always equals
    ``sum(min.values())``.

    Floors only merge while the query's code FINGERPRINT matches
    (ADVICE r10: an all-time minimum recorded against old code would
    permanently mask a regression) — a query whose fingerprint changed
    starts a fresh history from this run. Records written before
    fingerprints existed merge as before (their floors predate any r11+
    query edit). A record taken on a different core count (``cpus``)
    carries nothing forward: its floors time other hardware."""
    if (
        not old
        or not isinstance(old.get("min"), dict)
        or old.get("cpus") != new.get("cpus")
    ):
        return new
    runs: dict[str, list[float]] = {}
    mins: dict[str, float] = {}
    old_runs = old.get("runs") or {}
    old_fp = old.get("fingerprint") or {}
    new_fp = new.get("fingerprint") or {}
    for name, new_runs in new["runs"].items():
        same_code = (
            name not in old_fp or name not in new_fp
            or old_fp[name] == new_fp[name]
        )
        if not same_code:
            runs[name] = list(new_runs)[-10:]
            mins[name] = new["min"][name]
            continue
        hist = list(old_runs.get(name) or []) + list(new_runs)
        runs[name] = hist[-10:]
        prior = old["min"].get(name)
        floor = new["min"][name]
        if prior is not None:
            floor = min(floor, prior)
        # the capped history may have dropped the run that set the
        # floor — the merged min still keeps it
        mins[name] = floor
    # rows that ERRORED this run (isolated failure, not dropped from
    # the headline set) keep their committed history untouched — a
    # transient harness failure must not erase a query's floor record
    for name in new.get("errors") or {}:
        if name in runs or name not in old["min"]:
            continue
        if (name in old_fp and name in new_fp
                and old_fp[name] != new_fp[name]):
            continue  # code changed AND errored: no floor to carry
        hist = list(old_runs.get(name) or [])
        if not hist:
            continue
        runs[name] = hist
        mins[name] = old["min"][name]
    commits = [c for c in (old.get("commits") or []) if c]
    for c in new.get("commits") or []:
        if c and c not in commits:
            commits.append(c)
    return {
        "runs": runs,
        "min": mins,
        # this run's per-query errors ride along (empty = clean run)
        "errors": dict(new.get("errors") or {}),
        # re-derived from the merged (capped) histories, so the
        # committed statistic always matches the runs it sits beside
        "tmean": {n: _tmean(r) for n, r in runs.items()},
        "repeat_base": new.get("repeat_base"),
        "sf": new.get("sf"),
        "total": round(sum(mins.values()), 3),
        "fingerprint": {**old_fp, **new_fp},
        "cpus": new.get("cpus"),
        "commits": commits[-20:],
    }


def summary_line(total: float, sf: float | None, n_queries: int) -> str:
    """The driver-parsed summary. MUST stay well under the driver's
    2,000-char tail-capture window: the per-query map alone was 2,330
    chars at 84 queries (r8 ``parsed: null``), so it lives ONLY in the
    committed ``bench_runs_latest.json``. Pinned < 1,900 chars by
    ``tests/test_bench_summary.py``."""
    return json.dumps({
        "metric": "total_query_seconds",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "n_queries": n_queries,
    })


if __name__ == "__main__":
    main()

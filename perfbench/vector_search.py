"""vector_search: SRP top-k, exact top-k, recall@k and near-duplicate
pairs over generated 32-dim unit embeddings.

One job runs ``srp_lsh_topk`` (multi-probe) and ``brute_force_topk`` for
a query set against the corpus, scores the SRP result with
``recall_at_k`` against the exact one, and finds near-duplicate pairs in
the corpus with ``embedding_pairs``. Every output is forced and checked
against exact cosines computed with numpy, without the library:
``brute_force_topk`` must return the exact top-k, the SRP rows and the
pairs must carry true cosines, and the library's recall must equal the
recall numpy computes from the same rows. ``recall_at_k`` (the mean over
queries of the SRP result against the numpy top-k) is reported, so a
faster but less accurate ANN shows.

Size is deliberate. This is the only workload that reaches
``operators/similarity``, ``operators/dedup`` and the unrolled
``functions/vectors.hyperplane_signature``. When this benchmark was
written, that unroll cost one py4j round trip per column-expression node
(about 22,000 for one ``srp_lsh_topk`` at 64 dimensions and 2 bits), so
the SRP family spent most of its time building plans in the Python
driver: at 64 dimensions and the library's default 8 bits one job took
about 20 s and had not settled after four warm-ups, and at 64 dimensions
and 2 bits it still took 8-10 s. ``DIM``, ``SRP_BITS`` and ``PAIR_BITS``
fit a job into a run's share of the time budget while every signature
and dot product is still unrolled, so a change there still moves this
workload.
"""

from __future__ import annotations

import os
import shutil

import numpy as np

from perfbench.harness import Tracer, force

DIM = 32
CORPUS = 2_000
QUERIES = 40
CLUSTERS = 16
#: planted near-duplicates: copies of corpus vectors with a little noise
DUPLICATES = 100
K = 10
SRP_BITS = 2
SRP_SEED = 7
PAIR_BITS = 2
PAIR_SEED = 42
THRESHOLD = 0.95
FILES = 4
QUERY_ID0 = 1_000_000
#: cosines are rounded to 6 places; allow one unit in the last place
COS_TOL = 1.5e-6

RECALL_SCHEMA = "query_id long, neighbor_id long"


# -- generated input ---------------------------------------------------------


def _unit(x: np.ndarray) -> np.ndarray:
    return x / np.linalg.norm(x, axis=1, keepdims=True)


def generate(seed: int, corpus_path: str, query_path: str) -> tuple[np.ndarray, np.ndarray]:
    """Write clustered unit embeddings (float32, as the engine stores
    them) and return (corpus, queries)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    centers = _unit(rng.standard_normal((CLUSTERS, DIM)))

    def around(n: int) -> np.ndarray:
        c = centers[rng.integers(0, CLUSTERS, n)]
        return _unit(c + 0.6 * rng.standard_normal((n, DIM)) / np.sqrt(DIM))

    base = around(CORPUS - DUPLICATES)
    src = rng.choice(len(base), DUPLICATES, replace=False)
    dups = _unit(base[src] + 0.02 * rng.standard_normal((DUPLICATES, DIM)) / np.sqrt(DIM))
    corpus = np.concatenate([base, dups]).astype(np.float32)
    queries = around(QUERIES).astype(np.float32)

    def write(path: str, ids: np.ndarray, vecs: np.ndarray, files: int) -> None:
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        emb = pa.FixedSizeListArray.from_arrays(pa.array(vecs.reshape(-1)), DIM).cast(pa.list_(pa.float32()))
        table = pa.table({"vec_id": ids.astype(np.int64), "embedding": emb})
        step = -(-len(ids) // files)
        for f in range(files):
            pq.write_table(table.slice(f * step, step), f"{path}/part-{f:05d}.parquet")

    write(corpus_path, np.arange(CORPUS), corpus, FILES)
    write(query_path, QUERY_ID0 + np.arange(QUERIES), queries, 1)
    return corpus, queries


# -- independent reference: numpy --------------------------------------------
#
# Sums run left to right over the components, the order the engine's
# dot products and norms use, so the doubles agree and so does the
# 6-place rounding of a cosine.


def _normalize(v: np.ndarray) -> np.ndarray:
    v = v.astype(np.float64)
    s = np.zeros(len(v))
    for i in range(v.shape[1]):
        s = s + v[:, i] * v[:, i]
    return v / np.sqrt(s)[:, None]


def _dots(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """|a| x |b| matrix of left-to-right dot products."""
    out = np.zeros((len(a), len(b)))
    for i in range(a.shape[1]):
        out = out + np.outer(a[:, i], b[:, i])
    return out


class Reference:
    """Exact cosines of every query-corpus and corpus-corpus pair,
    rounded to 6 places as the engine rounds them, and the exact top-k
    (cosine descending, neighbour id ascending)."""

    def __init__(self, corpus: np.ndarray, queries: np.ndarray) -> None:
        c, q = _normalize(corpus), _normalize(queries)
        self.query_cos = np.round(_dots(q, c), 6)
        self.pair_cos = np.round(_dots(c, c), 6)
        ids = np.arange(len(c))
        self.exact = {
            QUERY_ID0 + qi: [int(j) for j in np.lexsort((ids, -self.query_cos[qi]))[:K]]
            for qi in range(len(q))
        }

    def topk(self, rows, complete: bool) -> dict[int, list[int]] | None:
        """Per query the returned neighbours in rank order, or None when
        the rows are not a valid top-k: ranks 1..n with n <= K, distinct
        neighbours with their exact cosines, non-increasing. With
        ``complete`` they must also be the exact top-k, where a neighbour
        tied with the k-th cosine may stand in for another."""
        got: dict[int, list[tuple[int, int, float]]] = {}
        for r in rows:
            got.setdefault(int(r["query_id"]), []).append(
                (int(r["rank"]), int(r["neighbor_id"]), float(r["cosine"]))
            )
        if not set(got) <= set(self.exact) or (complete and set(got) != set(self.exact)):
            return None
        out = {}
        for qid, hits in got.items():
            hits.sort()
            cos = self.query_cos[qid - QUERY_ID0]
            ids = [n for _, n, _ in hits]
            valid = (
                [r for r, _, _ in hits] == list(range(1, len(hits) + 1))
                and len(hits) <= K
                and len(set(ids)) == len(ids)
                and all(0 <= n < len(cos) and abs(c - cos[n]) <= COS_TOL for _, n, c in hits)
                and all(a[2] >= b[2] for a, b in zip(hits, hits[1:]))
            )
            if valid and complete:
                kth = cos[self.exact[qid][-1]]
                clearly_in = {n for n in self.exact[qid] if cos[n] > kth + COS_TOL}
                valid = len(hits) == K and clearly_in <= set(ids) and min(cos[ids]) >= kth - COS_TOL
            if not valid:
                return None
            out[qid] = ids
        return out

    def recall(self, approx: dict[int, list[int]], exact: dict[int, list[int]]) -> dict[int, float]:
        """Per query recall@k of ``approx`` against ``exact``."""
        return {q: len(set(approx.get(q, [])) & set(e)) / len(e) for q, e in exact.items()}

    def pairs_ok(self, pairs: list[tuple[int, int, float]]) -> bool:
        """Distinct ordered pairs, each truly at or above the threshold
        and carrying its exact cosine."""
        n = len(self.pair_cos)
        return len({(a, b) for a, b, _ in pairs}) == len(pairs) and all(
            0 <= a < b < n and abs(self.pair_cos[a, b] - c) <= COS_TOL and self.pair_cos[a, b] >= THRESHOLD
            for a, b, c in pairs
        )


class VectorSearch:
    name = "vector_search"

    def __init__(self, spark, work_dir: str, seed: int, tracer: Tracer) -> None:
        self.spark = spark
        self.seed = seed
        self.tr = tracer
        self.corpus_path = f"{work_dir}/corpus"
        self.query_path = f"{work_dir}/queries"
        self.rows_per_job = CORPUS + QUERIES
        self.arrays = None
        self.ref: Reference | None = None
        #: per job, the mean recall@k of the SRP result against numpy's exact top-k
        self.recalls: list[float] = []

    def prepare(self) -> None:
        self.arrays = generate(self.seed, self.corpus_path, self.query_path)

    def reference(self) -> None:
        self.ref = Reference(*self.arrays)

    def install_traces(self) -> None:
        pass

    def reset(self) -> None:
        pass

    def job(self) -> dict[str, bool]:
        from config_driven_pyspark_spark.operators import dedup as D
        from config_driven_pyspark_spark.operators import similarity as S

        tr, spark, ref = self.tr, self.spark, self.ref
        corpus = spark.read.parquet(self.corpus_path)
        queries = spark.read.parquet(self.query_path)

        with tr.span("similarity.srp"):
            srp_rows = force(tr, S.srp_lsh_topk(corpus, queries, K, bits=SRP_BITS, seed=SRP_SEED, multiprobe=1))
        with tr.span("similarity.brute"):
            exact_rows = force(tr, S.brute_force_topk(corpus, queries, K))
        # recall is scored on the collected results, so this op times the
        # recall operator and not a second run of both searches
        approx_df = spark.createDataFrame([(r["query_id"], r["neighbor_id"]) for r in srp_rows], RECALL_SCHEMA)
        exact_df = spark.createDataFrame([(r["query_id"], r["neighbor_id"]) for r in exact_rows], RECALL_SCHEMA)
        with tr.span("similarity.recall"):
            recall_rows = force(tr, S.recall_at_k(approx_df, exact_df))
        with tr.span("dedup.pairs"):
            pairs = D.embedding_pairs(corpus, "vec_id", threshold=THRESHOLD, lsh_bits=PAIR_BITS, seed=PAIR_SEED)
            pair_rows = force(tr, pairs)

        srp = ref.topk(srp_rows, complete=False)
        exact = ref.topk(exact_rows, complete=True)
        ok = {"srp": srp is not None, "brute": exact is not None}
        got_recall = {int(r["query_id"]): float(r["recall"]) for r in recall_rows}
        if srp is not None and exact is not None:
            want = ref.recall(srp, exact)
            ok["recall"] = set(got_recall) == set(want) and all(
                abs(got_recall[q] - want[q]) < 1e-9 for q in want
            )
            self.recalls.append(float(np.mean(list(ref.recall(srp, ref.exact).values()))))
        else:
            ok["recall"] = False
        pairs = [(int(r["id_a"]), int(r["id_b"]), float(r["cosine"])) for r in pair_rows]
        ok["pairs"] = ref.pairs_ok(pairs)
        tr.note("dedup.pairs", len(pairs))
        return ok

    def after_job(self) -> dict[str, bool]:
        return {}

"""The benchmark's workloads, as passes of requests.

Every workload is a closed loop with one client: a pass is a seeded list
of requests run one after another, each waiting for the previous one.
A request is one call into the library that returns a DataFrame (the
"build"), whose result is then written through the ``noop`` sink (the
"execute"); a write request (index build, append, compaction) does all
its work inside the call and returns nothing to execute.

Before the timed loop, one verified pass (``verify_requests``) warms the
session up: each request's output is collected and checked against an
oracle (``oracle.py``) instead of being written to ``noop``.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable
from dataclasses import dataclass

import numpy as np

from datagen import EMB_DIM, VOCAB
from oracle import RECALL_FLOOR

LARA_ANALYTICS = [
    "lara_wordcount",
    "lara_matmul_event_gram",
    "sensor_covariance_events",
    "graph_brand_gram",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q7_nation_volume",
    "q8_market_share",
    "q10_returned_items",
    "running_customer_totals",
    "sessionize_events",
]
SEARCH_KINDS = ["search.bm25", "search.bm25_prf", "search.hybrid", "search.ivfpq_res"]

N_CENTROIDS = 16
PQ_M = 4
PQ_KSUB = 16
N_PROBE = 4
ANN_K = 5
ANN_QUERIES = 8
QUERY_NOISE = 0.05
BM25_K = 10
BM25_QUERIES = 4
HYBRID_K = 10
HYBRID_K_CAND = 20
# Requests per query in one timed lara_analytics pass. One round is about
# 12 s on a 4-core host in its slow periods, where host load swings
# single requests by 30% or more; two rounds put twice the samples into
# each run and still fit the benchmark's run budget next to
# index_lifecycle.
REGISTRY_ROUNDS = 2
MAINT_SHARDS = 4  # held-out shards: one for the verified pass, one per timed pass
# Search rounds per timed index_lifecycle pass. A search right after the
# verified pass still runs 30-50% slower than a few rounds later, while
# the JVM compiles its code paths, and a median of a round's four reads
# moves with every pause on the host; two rounds give eight.
SEARCH_ROUNDS = 2


@dataclass
class Request:
    kind: str
    op: str  # "read" or "write"
    build: Callable[[], object]
    check: "Callable[[object], str | None]" = lambda out: None


@dataclass
class Context:
    """What every workload needs: the session, the generated data, the
    oracle and a scratch root that the run owns."""

    spark: object
    data_dir: str
    root: str
    oracle: object


class RegistryWorkload:
    """A seeded order over registry queries, each checked by its DuckDB
    oracle."""

    store_dirs: list[str] = []
    max_passes = None

    def __init__(self, name: str, kinds: list[str]):
        self.name = name
        self.kinds = kinds

    def input_bytes(self) -> int:
        return 0

    def setup(self, ctx: Context, rng: np.random.Generator) -> None:
        pass

    def verify_requests(self, ctx: Context, rng: np.random.Generator) -> list[Request]:
        return self._requests(ctx, rng, 1)

    def requests(self, ctx: Context, rng: np.random.Generator) -> list[Request]:
        return self._requests(ctx, rng, REGISTRY_ROUNDS)

    def _requests(self, ctx: Context, rng: np.random.Generator, rounds: int) -> list[Request]:
        """``rounds`` requests of every query, in a seeded order."""
        import __spark_entry__ as entry

        fns, sqls = entry.queries(), entry.oracle_sql()
        kinds = self.kinds * rounds
        return [
            Request(
                name,
                "read",
                lambda fn=fns[name]: fn(ctx.spark, ctx.data_dir),
                lambda df, sql=sqls[name]: ctx.oracle.check_hash(df, sql),
            )
            for name in (kinds[i] for i in rng.permutation(len(kinds)))
        ]


# -- seeded query batches ----------------------------------------------------


def vector_batch(ctx: Context, rng: np.random.Generator, n: int) -> list[tuple[int, list[float]]]:
    """``n`` queries: corpus vectors drawn by the seed plus Gaussian noise,
    re-normalised (the nearest stored vector is usually the source)."""
    src = rng.choice(len(ctx.oracle.vecs), size=n, replace=False)
    q = ctx.oracle.vecs[src] + rng.normal(0.0, QUERY_NOISE, (n, EMB_DIM))
    q /= np.linalg.norm(q, axis=1, keepdims=True)
    return [(i, [float(x) for x in np.float32(v)]) for i, v in enumerate(q)]


def text_batch(rng: np.random.Generator, n: int) -> list[tuple[int, str]]:
    """``n`` queries of 2-3 distinct corpus-vocabulary words."""
    return [
        (i, " ".join(rng.choice(VOCAB, size=int(rng.integers(2, 4)), replace=False)))
        for i in range(1, n + 1)
    ]


def _vector_frame(spark, batch):
    from laradb_spark.util import literal_frame

    return literal_frame(spark, batch, "query_id long, embedding array<float>")


class IndexLifecycle:
    """Stored indexes under writes and reads, from an empty root every run.

    Set-up builds BM25 and residual IVF-PQ (Lloyd training included) on a
    seeded two-thirds of the corpus, and a flat IVF index over all
    embeddings for the dense side of hybrid search. The verified warm-up
    pass then runs the maintenance cycle once: append the first held-out
    shard (documents through the BM25 streaming ingest, vectors through
    ``ivfpq_res_append_index``), compact the IVF-PQ codes, and search.
    Each timed pass runs ``SEARCH_ROUNDS`` rounds of every search kind,
    each request with its own seeded query batch, then appends the next
    held-out shard, so a run has at most ``MAINT_SHARDS - 1`` timed
    passes. The searches of the first timed pass read the same stored
    state as the verified searches before them."""

    name = "index_lifecycle"
    max_passes = MAINT_SHARDS - 1

    def setup(self, ctx: Context, rng: np.random.Generator) -> None:
        import pyarrow.parquet as pq

        from laradb_spark.pipelines import retrieval as rt
        from laradb_spark.pipelines import similarity as sim

        spark = ctx.spark
        self.root = os.path.join(ctx.root, "idx")
        shutil.rmtree(self.root, ignore_errors=True)
        self.paths = {k: os.path.join(self.root, k) for k in ("bm25", "ivfpq_res", "ivf")}
        self.src = os.path.join(self.root, "stream_in")
        self.ck = os.path.join(self.root, "stream_ck")
        os.makedirs(self.src)
        self.store_dirs = list(self.paths.values())
        self.ivf_input = f"{ctx.data_dir}/embeddings.parquet"
        docs = pq.read_table(f"{ctx.data_dir}/documents.parquet", columns=["doc_id", "text"])
        vecs = pq.read_table(f"{ctx.data_dir}/embeddings.parquet", columns=["vec_id", "embedding"])
        self.docs = _Split(docs, rng, os.path.join(self.root, "inputs"), "docs")
        self.vecs = _Split(vecs, rng, os.path.join(self.root, "inputs"), "vecs")
        rt.bm25_build_index(spark.read.parquet(self.docs.base_path), self.paths["bm25"])
        sim.ivfpq_res_build_index(
            spark.read.parquet(self.vecs.base_path), self.paths["ivfpq_res"], dim=EMB_DIM,
            n_centroids=N_CENTROIDS, m=PQ_M, k_sub=PQ_KSUB,
        )
        sim.ivf_build_index(spark.read.parquet(self.ivf_input), self.paths["ivf"], n_centroids=N_CENTROIDS)

    def input_bytes(self) -> int:
        """Parquet bytes of every input the stored indexes were built or
        appended from."""
        return self.docs.bytes + self.vecs.bytes + os.path.getsize(self.ivf_input)

    # -- requests ----------------------------------------------------------------

    def _appends(self, ctx: Context) -> list[Request]:
        from laradb_spark.pipelines import similarity as sim
        from laradb_spark.streaming.ingest import bm25_index_stream

        spark, p = ctx.spark, self.paths
        doc_shard, vec_shard = self.docs.next_shard(), self.vecs.next_shard()

        def stream_append():
            os.rename(doc_shard, os.path.join(self.src, os.path.basename(doc_shard)))
            q = bm25_index_stream(
                spark.readStream.schema("doc_id long, text string").parquet(self.src),
                p["bm25"], self.ck,
            )
            q.awaitTermination()
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
            return [pr["durationMs"]["triggerExecution"] for pr in q.recentProgress]

        return [
            Request("append.bm25_stream", "write", stream_append, self._count_check(ctx, docs=True)),
            Request(
                "append.ivfpq_res",
                "write",
                lambda: sim.ivfpq_res_append_index(spark.read.parquet(vec_shard), p["ivfpq_res"], dim=EMB_DIM),
                self._count_check(ctx, vecs=True),
            ),
        ]

    def _compaction(self, ctx: Context) -> Request:
        """``ivf_compact_index`` over the appended IVF-PQ codes: the
        row-identity-verified compaction that ``bm25_compact_index`` also
        delegates to."""
        from laradb_spark.pipelines import similarity as sim

        spark, p = ctx.spark, self.paths
        return Request(
            "compact.ivfpq_res", "write",
            lambda: sim.ivf_compact_index(spark, p["ivfpq_res"], subdir="codes", min_files=2),
            self._count_check(ctx, vecs=True),
        )

    def _count_check(self, ctx: Context, docs: bool = False, vecs: bool = False) -> Callable:
        """Stored BM25 documents (stats and doclens) or IVF-PQ codes equal
        the rows written so far."""
        spark, p = ctx.spark, self.paths
        n_docs, n_vecs = len(self.docs.ids), len(self.vecs.ids)

        def check(_):
            if docs:
                got = (
                    spark.read.parquet(f"{p['bm25']}/stats").first()["n_docs"],
                    spark.read.parquet(f"{p['bm25']}/doclens").count(),
                )
                if got != (n_docs, n_docs):
                    return f"stored BM25 (n_docs, doclens rows) {got} != {n_docs} written"
            if vecs:
                got = spark.read.parquet(f"{p['ivfpq_res']}/codes").count()
                if got != n_vecs:
                    return f"stored IVF-PQ codes {got} != {n_vecs} written"
            return None

        return check

    def _searches(self, ctx: Context, rng: np.random.Generator) -> list[Request]:
        """One request of every search kind in a seeded order, each with its
        own seeded query batch."""
        from laradb_spark.pipelines import retrieval as rt
        from laradb_spark.pipelines import similarity as sim
        from laradb_spark.workloads.pipelines_q import (
            PRF_EXP_W_MILLI,
            PRF_FB_DOCS,
            PRF_FB_TERMS,
            _bm25_prf_sql,
            _bm25_sql,
        )

        spark, p = ctx.spark, self.paths
        doc_ids, vec_ids = self.docs.ids.copy(), self.vecs.ids.copy()
        out = []
        for i in rng.permutation(len(SEARCH_KINDS)):
            kind = SEARCH_KINDS[i]
            if kind == "search.bm25":
                texts = text_batch(rng, BM25_QUERIES)
                out.append(Request(
                    kind, "read",
                    lambda t=texts: rt.bm25_search_index(spark, p["bm25"], t, k=BM25_K),
                    lambda df, sql=_bm25_sql(texts, k=BM25_K): ctx.oracle.check_hash(df, sql, doc_ids),
                ))
            elif kind == "search.bm25_prf":
                texts = text_batch(rng, BM25_QUERIES)
                out.append(Request(
                    kind, "read",
                    lambda t=texts: rt.bm25_prf_search_index(
                        spark, p["bm25"], t, k=BM25_K, fb_docs=PRF_FB_DOCS,
                        fb_terms=PRF_FB_TERMS, expansion_weight_milli=PRF_EXP_W_MILLI,
                    ),
                    lambda df, sql=_bm25_prf_sql(texts, k=BM25_K): ctx.oracle.check_hash(
                        df, sql, doc_ids
                    ),
                ))
            elif kind == "search.hybrid":
                texts = text_batch(rng, BM25_QUERIES)
                vecs = [(q, v) for (q, _), (_, v) in zip(texts, vector_batch(ctx, rng, BM25_QUERIES))]
                out.append(Request(
                    kind, "read",
                    lambda t=texts, v=vecs: rt.hybrid_search_index(
                        spark, p["bm25"], p["ivf"], t, _vector_frame(spark, v),
                        k=HYBRID_K, k_cand=HYBRID_K_CAND, n_probe=N_PROBE,
                    ),
                    ctx.oracle.hybrid_check(texts, vecs, HYBRID_K, HYBRID_K_CAND, doc_ids),
                ))
            else:
                batch = vector_batch(ctx, rng, ANN_QUERIES)
                out.append(Request(
                    kind, "read",
                    lambda b=batch: sim.ivfpq_res_search_index(
                        spark, p["ivfpq_res"], _vector_frame(spark, b), dim=EMB_DIM,
                        n_probe=N_PROBE, k=ANN_K,
                    ),
                    ctx.oracle.ann_check(batch, ANN_K, RECALL_FLOOR["ivfpq_res"], vec_ids),
                ))
        return out

    def verify_requests(self, ctx: Context, rng: np.random.Generator) -> list[Request]:
        """The maintenance cycle: append, compact, then search."""
        return self._appends(ctx) + [self._compaction(ctx)] + self._searches(ctx, rng)

    def requests(self, ctx: Context, rng: np.random.Generator) -> list[Request]:
        """Search rounds, then the next shard's appends."""
        searches = [r for _ in range(SEARCH_ROUNDS) for r in self._searches(ctx, rng)]
        return searches + self._appends(ctx)


class _Split:
    """A table split by the seed into a two-thirds base and MAINT_SHARDS
    held-out shards. ``next_shard`` writes the next shard as one parquet
    file and adds its ids to ``ids``."""

    def __init__(self, table, rng: np.random.Generator, root: str, tag: str):
        import pyarrow.parquet as pq

        os.makedirs(root, exist_ok=True)
        self.table, self.root, self.tag = table, root, tag
        order = rng.permutation(table.num_rows)
        n_base = 2 * table.num_rows // 3
        self.shards = [np.sort(s) for s in np.array_split(order[n_base:], MAINT_SHARDS)]
        base = table.take(np.sort(order[:n_base]))
        self.base_path = os.path.join(root, f"{tag}_base.parquet")
        pq.write_table(base, self.base_path)
        self.bytes = os.path.getsize(self.base_path)
        self.ids = base.column(0).to_numpy()
        self.n = 0

    def next_shard(self) -> str:
        import pyarrow.parquet as pq

        part = self.table.take(self.shards[self.n])
        path = os.path.join(self.root, f"{self.tag}_shard{self.n}.parquet")
        pq.write_table(part, path)
        self.bytes += os.path.getsize(path)
        self.ids = np.concatenate([self.ids, part.column(0).to_numpy()])
        self.n += 1
        return path


def all_workloads() -> dict[str, object]:
    return {
        "lara_analytics": RegistryWorkload("lara_analytics", LARA_ANALYTICS),
        "index_lifecycle": IndexLifecycle(),
    }

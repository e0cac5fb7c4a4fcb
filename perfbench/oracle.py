"""Output checks the benchmark runs outside its timed loop.

- Registry kinds: row count, column names and the order-insensitive value
  hash of ``tools/check_correctness.py``, against the registry's DuckDB
  ``oracle_sql()`` over the same generated parquet.
- BM25 searches: exact ranks and scores from the registry's DuckDB BM25
  and BM25-PRF oracle SQL, with the request's own query batch.
- ANN searches: recall@k against a NumPy brute-force cosine top-k.
- Index maintenance: stored row counts against the rows written so far.

Every check returns an error string, or ``None`` when the output is right.
"""

from __future__ import annotations

import os
import sys
import tempfile

import numpy as np

# Lowest mean recall@k a search request may report. The lowest measured
# at the parent commit over 55 seeds were 0.125 (residual IVF-PQ, 4 of 16
# lists probed on unclustered vectors) and 0.70 (hybrid); a probe, code or
# layout bug drops recall far under these floors.
RECALL_FLOOR = {"ivfpq_res": 0.10, "hybrid": 0.50}

def _checker():
    """``tools/check_correctness.py``, imported without keeping the fixed
    directory it prepends to ``sys.path``: later imports must resolve
    inside the checkout that runs the benchmark."""
    saved = list(sys.path)
    try:
        import tools.check_correctness as checker
    finally:
        sys.path[:] = saved
    return checker


_DOC_SUBSET = "FROM (SELECT * FROM documents SEMI JOIN doc_subset USING (doc_id)) documents"


class Oracle:
    """DuckDB views over one generated data directory, plus the embedding
    matrix for brute-force neighbours."""

    def __init__(self, data_dir: str):
        import duckdb

        self.con = duckdb.connect()
        self.con.sql(f"SET threads TO {len(os.sched_getaffinity(0))}")
        self.con.sql(f"SET temp_directory = '{tempfile.gettempdir()}'")
        for t in _checker().TABLES:
            self.con.sql(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )
        ids, vecs = zip(
            *self.con.sql("SELECT vec_id, embedding FROM embeddings ORDER BY vec_id")
            .fetchall()
        )
        self.vec_ids = np.asarray(ids)
        self.vecs = np.asarray(vecs, dtype=np.float64)
        self._expected: dict[str, tuple] = {}
        self.last_rows: "int | None" = None
        self.recalls: list[float] = []

    def close(self) -> None:
        self.con.close()

    # -- registry kinds ------------------------------------------------------

    def rows(self, df) -> list:
        """Collect ``df``; remembers the row count as ``last_rows``."""
        rows = df.collect()
        self.last_rows = len(rows)
        return rows

    def answer(self, sql: str, doc_ids=None) -> tuple[list[str], list[tuple]]:
        """The oracle SQL's (columns, rows); with ``doc_ids`` the SQL reads
        only those documents (an index holding part of the corpus)."""
        if doc_ids is None:
            if sql not in self._expected:
                rel = self.con.sql(sql)
                self._expected[sql] = ([c.lower() for c in rel.columns], rel.fetchall())
            return self._expected[sql]
        # one statement: inserting the ids row by row costs 0.75 s a check
        self.con.execute(
            "CREATE OR REPLACE TEMP TABLE doc_subset AS SELECT unnest(?::BIGINT[]) AS doc_id",
            [[int(i) for i in doc_ids]],
        )
        rel = self.con.sql(sql.replace("FROM documents", _DOC_SUBSET))
        return [c.lower() for c in rel.columns], rel.fetchall()

    def check_hash(self, df, sql: str, doc_ids=None) -> "str | None":
        """Row count, column names and value hash of ``df`` against the
        oracle SQL's answer."""
        table_hash = _checker().table_hash

        cols = [c.lower() for c in df.columns]
        rows = [tuple(r) for r in self.rows(df)]
        ocols, orows = self.answer(sql, doc_ids)
        if sorted(cols) != sorted(ocols):
            return f"columns {sorted(cols)} != oracle {sorted(ocols)}"
        if len(rows) != len(orows):
            return f"{len(rows)} rows != oracle {len(orows)}"
        if table_hash(cols, rows) != table_hash(ocols, orows):
            return "value hash differs from oracle"
        return None

    # -- ANN -----------------------------------------------------------------

    def exact_topk(self, qvecs: np.ndarray, k: int, ids=None) -> np.ndarray:
        """Brute-force cosine top-k ids per query row over all stored
        vectors, or over ``ids`` only; ties go to the lower id."""
        keep = np.ones(len(self.vec_ids), bool) if ids is None else np.isin(self.vec_ids, ids)
        vids, c = self.vec_ids[keep], self.vecs[keep]
        q = qvecs / np.linalg.norm(qvecs, axis=1, keepdims=True)
        sims = q @ (c / np.linalg.norm(c, axis=1, keepdims=True)).T
        return vids[np.lexsort((np.broadcast_to(vids, sims.shape), -sims))[:, :k]]

    @staticmethod
    def recall(got: dict[int, list[int]], exact: dict[int, list[int]]) -> float:
        hits = sum(len(set(got.get(q, [])) & set(ids)) for q, ids in exact.items())
        return hits / sum(len(ids) for ids in exact.values())

    def ann_check(self, batch, k: int, floor: float, ids=None):
        """Check an ANN search by recall@k against brute force over all
        stored vectors, or over ``ids``."""
        exact_ids = self.exact_topk(np.array([v for _, v in batch]), k, ids)
        exact = {q: list(r) for (q, _), r in zip(batch, exact_ids)}
        return self._recall_check(exact, k, floor, "neighbor_id")

    def hybrid_check(self, texts, vecs, k: int, k_cand: int, doc_ids=None):
        """Check a hybrid search by recall@k against the exact hybrid: the
        exact BM25 top-``k_cand`` over ``doc_ids`` (oracle SQL) and the
        exact dense top-``k_cand`` fused by integer reciprocal-rank
        fusion."""
        from laradb_spark.pipelines.retrieval import RRF_K
        from laradb_spark.workloads.pipelines_q import _bm25_sql

        cols, rows = self.answer(_bm25_sql(texts, k=k_cand), doc_ids)
        lex = ranked_lists([dict(zip(cols, r)) for r in rows], "query_id", "doc_id")
        dense_ids = self.exact_topk(np.array([v for _, v in vecs]), k_cand)
        exact = {}
        for (q, _), dense in zip(vecs, dense_ids):
            score: dict[int, int] = {}
            for ranked in (lex.get(q, []), list(dense)):
                for rank, d in enumerate(ranked, start=1):
                    score[int(d)] = score.get(int(d), 0) + 1_000_000 // (RRF_K + rank)
            exact[q] = sorted(score, key=lambda d: (-score[d], d))[:k]
        return self._recall_check(exact, k, RECALL_FLOOR["hybrid"], "doc_id")

    def _recall_check(self, exact: dict[int, list[int]], k: int, floor: float, item: str):
        def check(df):
            got = ranked_lists(self.rows(df), "query_id", item)
            err = check_ranked_shape(got, exact, k)
            if err:
                return err
            r = self.recall(got, exact)
            self.recalls.append(r)
            return f"recall@{k} {r:.3f} below floor {floor}" if r < floor else None

        return check


def ranked_lists(rows, key: str, item: str) -> dict[int, list[int]]:
    """{query: [item, ...]} from rows carrying a ``rank`` column."""
    out: dict[int, list[tuple[int, int]]] = {}
    for r in rows:
        out.setdefault(int(r[key]), []).append((int(r["rank"]), int(r[item])))
    return {q: [i for _, i in sorted(v)] for q, v in out.items()}


def check_ranked_shape(lists: dict[int, list[int]], qids, k: int) -> "str | None":
    if set(lists) != set(qids):
        return f"answered queries {sorted(lists)} != asked {sorted(qids)}"
    for q, ids in lists.items():
        if len(ids) != k or len(set(ids)) != k:
            return f"query {q}: {len(ids)} results ({len(set(ids))} distinct), want {k}"
    return None

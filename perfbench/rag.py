"""The ``rag_serving`` workload: a closed-loop stream of seeded retrieval
requests against an IVF-PQ index that is built once during set-up and
then left warm, as a service keeps it.

One request is the engine's retrieval path:

1. a multi-query fan-out of seeded query vectors through
   ``operators.similarity.ivfpq_topk``;
2. the hit chunks joined to their document text;
3. ``plans.retrieval.xpilot_retrieval`` with ``bm25_rerank_scorer`` over
   seeded query terms and a seeded task, giving per-task top-k chunks
   rolled up into score-ordered document blocks.

The query vectors are the embeddings of seeded chunks, as in the
engine's own IVF-PQ tests: search by passage.

Checks, after the request's timer stops: the request's ANN hits are
materialised on their own and compared with numpy over the generated
embeddings (k hits per query vector, exact cosine scores, each query's
own chunk among its hits); every answered chunk must be one of those
hits; the answer keeps the retrieval invariants (at most k chunks per
task, no chunk under two tasks, blocks in score order, block counts
that match). Set-up serves the first request with every index and
model cache cleared, then once more warm: the two answers must have the
same digest. Set-up also probes the warm index, untimed, with a seeded batch of query
vectors: their recall against the exact top-k must reach the floor the
engine's IVF-PQ test asserts (one request's two vectors are too few to
hold a recall floor on their own).
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow.parquet as pq

from check import digest, plain
from gen import WORDS

FANOUT = 2  # query vectors per request
K = 10  # ANN hits per query vector
TOP_K = 4  # chunks per task
RECALL_QUERIES = 50  # query vectors in the set-up recall probe
RECALL_FLOOR = 0.3  # tests/test_similarity.py, IVF-PQ with a rerank shortlist


def request_passes(seed: int, vectors: np.ndarray):
    """The seeded request stream, one request per pass."""
    rng = np.random.default_rng([seed, 7])
    n = 0
    while True:
        yield [{
            "label": f"request{n}",
            "qv": vectors[rng.choice(len(vectors), FANOUT, replace=False)].tolist(),
            "terms": " ".join(rng.choice(WORDS, 3)),
            "task": f"task{int(rng.integers(1000))}",
        }]
        n += 1


class RagServing:
    def __init__(self, spark, data_dir: str, seed: int, tracer):
        self.data_dir, self.seed, self.tracer = data_dir, seed, tracer
        emb = pq.read_table(os.path.join(data_dir, "embeddings.parquet"))
        order = np.argsort(emb.column("vec_id").to_numpy())
        vecs = np.stack(emb.column("embedding").to_numpy(zero_copy_only=False))
        self.vectors = vecs[order].astype(np.float64)  # row i is vec_id i
        self.unit = self.vectors / np.linalg.norm(self.vectors, axis=1, keepdims=True)
        self.bind(spark)
        self.warm_results: list[tuple[str, str | None]] = []
        self.cold: dict[str, str] = {}  # label -> digest of the cold-cache answer

    def bind(self, spark) -> None:
        """(Re)create the request inputs on ``spark``."""
        import data_pipeline_childcare_spark as eng
        from pyspark.sql import functions as F

        self.spark = spark
        self.emb = eng.load_table(spark, "embeddings", self.data_dir).withColumn(
            "embedding", F.col("embedding").cast("array<double>")
        )
        docs = eng.load_table(spark, "documents", self.data_dir)
        # one chunk per embedding: chunk i is the head of document i,
        # four chunks per logical document, four databases
        self.chunks = docs.filter(F.col("doc_id") < F.lit(len(self.vectors))).select(
            F.col("doc_id").alias("chunk_id"),
            (F.expr("doc_id div 4") % 4).alias("database_id"),
            F.expr("doc_id div 4").alias("document_id"),
            (F.col("doc_id") % 4).alias("position"),
            F.substring("text", 1, 200).alias("content"),
        )

    def _queries(self, qv):
        return self.spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(qv)],
            "query_id long, query_vec array<double>",
        )

    def passes(self):
        """The timed stream: every request after the warm-up's."""
        stream = request_passes(self.seed, self.vectors)
        next(stream)
        return stream

    def warm_up(self) -> float:
        """Serve the first request with every index and model cache
        cleared, so it builds the index (coarse k-means, PQ codebooks,
        the persisted inverted lists) that later requests find warm;
        check it and the warm index's recall; then serve it again warm,
        which must give the same digest and lets the JIT settle before
        timing (without it the first timed request ran 10-30% slower
        than the next). Returns the seconds both servings took."""
        from data_pipeline_childcare_spark.operators.similarity import clear_session_caches

        spec = next(request_passes(self.seed, self.vectors))[0]
        clear_session_caches()
        t0 = time.perf_counter()
        out = self.run_op(spec, -1)
        took = time.perf_counter() - t0
        self.after_op(-1)
        self.warm_results = [
            (f"{spec['label']} cold-cache", self.check(spec, out)),
            (f"recall over {RECALL_QUERIES} query vectors", self._check_recall()),
        ]
        self.cold[spec["label"]] = digest(out)
        t0 = time.perf_counter()
        out = self.run_op(spec, -2)
        took += time.perf_counter() - t0
        # checked against the cold serving's hits: the same query
        # vectors, and an answer that must match the cold one anyway
        self.warm_results.append((f"{spec['label']} warm replay", self.check(spec, out)))
        return took

    def _check_recall(self) -> str | None:
        from data_pipeline_childcare_spark.operators.similarity import ivfpq_topk

        rng = np.random.default_rng([self.seed, 8])
        qv = self.vectors[rng.choice(len(self.vectors), RECALL_QUERIES, replace=False)]
        hits = ivfpq_topk(self.emb, self._queries(qv), k=K, rerank_shortlist=100)
        hits = hits.select("query_id", "vec_id").toPandas()
        sims = self._sims(qv)
        found = sum(
            len(set(np.argsort(-sims[q])[:K]) & set(hits["vec_id"][hits["query_id"] == q]))
            for q in range(len(qv))
        )
        recall = found / (K * len(qv))
        return None if recall >= RECALL_FLOOR else f"recall {recall:.3f} below {RECALL_FLOOR}"

    def _sims(self, qv) -> np.ndarray:
        """Exact cosines of each query vector to every chunk."""
        q = np.asarray(qv)
        return (q / np.linalg.norm(q, axis=1, keepdims=True)) @ self.unit.T

    def settle(self) -> None:
        """Rebuild the warm index on a fresh context, untimed."""
        self.run_op(next(request_passes(self.seed, self.vectors))[0], -3)

    def run_op(self, spec: dict, op_id: int):
        from data_pipeline_childcare_spark.operators.similarity import ivfpq_topk
        from data_pipeline_childcare_spark.plans.retrieval import (
            bm25_rerank_scorer,
            xpilot_retrieval,
        )
        from pyspark.sql import functions as F

        span = self.tracer.span
        with span("build", op=op_id, label=spec["label"]):
            with span("similarity.build", op=op_id):
                hits = ivfpq_topk(self.emb, self._queries(spec["qv"]), k=K,
                                  rerank_shortlist=100)
            retrieved = hits.join(
                self.chunks, hits["vec_id"] == self.chunks["chunk_id"]
            ).select(
                "query_id", "chunk_id", F.round("cosine_sim", 6).alias("score"),
                "database_id", "document_id", "position", "content",
            )
            tasks = self.spark.createDataFrame([(spec["task"],)], "task_id string")
            with span("retrieval.build", op=op_id):
                answer = xpilot_retrieval(
                    retrieved, tasks, rerank_scorer=bm25_rerank_scorer(spec["terms"]),
                    top_k=TOP_K,
                )
        with span("action", op=op_id, label=spec["label"]):
            out = answer.toPandas()
        self._hits = hits
        return out

    def after_op(self, op_id: int) -> None:
        """Materialise the ANN hits of the request just served on their
        own, outside the request's time, for its check (and, traced, as
        ``similarity.probe_s``)."""
        with self.tracer.span("similarity.probe", op=op_id):
            self._hit_rows = self._hits.select("query_id", "vec_id", "cosine_sim").toPandas()

    def check(self, spec: dict, out) -> str | None:
        why = _check_hits(self._hit_rows, self._sims(spec["qv"]))
        if why is None:
            why = _check_answer(out, spec["task"], set(self._hit_rows["vec_id"]))
        if why is None and spec["label"] in self.cold and digest(out) != self.cold[spec["label"]]:
            why = "warm answer differs from the cold-cache answer"
        return why


def _check_hits(hits, sims: np.ndarray) -> str | None:
    """The ANN hits against the exact cosines ``sims`` (query x chunk)."""
    for q in range(len(sims)):
        got = hits[hits["query_id"] == q]
        if len(got) != K:
            return f"query {q}: {len(got)} hits, want {K}"
        ids = got["vec_id"].to_numpy()
        if np.abs(got["cosine_sim"].to_numpy() - sims[q, ids]).max() > 1e-5:
            return f"query {q}: hit scores are not the exact cosines"
        nearest = int(np.argmax(sims[q]))
        if nearest not in ids:
            return f"query {q}: its nearest chunk {nearest} is not among the hits"
    return None


def _check_answer(df, task: str, hit_ids: set) -> str | None:
    if len(df) == 0:
        return "empty answer"
    seen: dict[int, str] = {}
    per_task: dict[str, int] = {}
    for row in df.itertuples(index=False):
        blocks = plain(row.content_blocks)
        if len(blocks) != row.n_blocks:
            return "n_blocks differs from the block count"
        keys = [(b["neg_score"], b["position"], b["content"], b["chunk_id"]) for b in blocks]
        if keys != sorted(keys):
            return "blocks not in score order"
        for b in blocks:
            if b["chunk_id"] not in hit_ids:
                return f"chunk {b['chunk_id']} is not one of the ANN hits"
            if seen.setdefault(b["chunk_id"], row.task_id) != row.task_id:
                return f"chunk {b['chunk_id']} assigned to two tasks"
        per_task[row.task_id] = per_task.get(row.task_id, 0) + len(blocks)
    if set(per_task) != {task}:
        return f"tasks {sorted(per_task)} != ['{task}']"
    if any(n > TOP_K for n in per_task.values()):
        return f"more than {TOP_K} chunks for one task"
    if len(seen) != sum(per_task.values()):
        return "a chunk appears twice"
    return None

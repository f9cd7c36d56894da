"""VectorSearchApi — the reference ``Api`` surface (SURVEY.md §3, Q9)
re-expressed over CollectionEngine + DataFrame operators.

Mirrors the observable behavior of ``vector_mcp/vector_api.py:195-566``:
boundary validation (§2.5), query-text sanitization before search
(``vector_api.py:548``), semantic/lexical legs, weighted-RRF hybrid fusion
(``vector_api.py:518-566``), finite-score result hygiene
(``vector_api.py:368-386``). The retriever facade of
``retriever/retriever.py:15-101`` (`query` = semantic top-k, `bm25_query` =
lexical) collapses into the same methods.

Where the reference's steps 5-9 are Python loops + network hops, here the
whole search is ONE lazy DataFrame DAG (two ranked subplans → union →
groupBy-sum → TakeOrderedAndProject) executed by a single action. A table
version within the driver bound is answered instead from its driver copy
(:meth:`CollectionEngine.scan_table`) by the operators' numpy twins, with
the same rows and no Spark job. Every document carries the vector the
engine embedded at insert, and queries embed through the same engine seam,
so no search plan embeds anything.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vector_mcp_spark.engine import CollectionEngine
from vector_mcp_spark.operators.hybrid import rrf_fuse, rrf_fuse_local
from vector_mcp_spark.operators.lexical import (
    lexical_tf_topk,
    lexical_tf_topk_local,
    lexical_tf_topk_multi,
)
from vector_mcp_spark.operators.semantic import (
    semantic_topk,
    semantic_topk_local,
    semantic_topk_multi,
)
from vector_mcp_spark.sanitize import sanitize_text_py
from vector_mcp_spark.validation import (
    EngineError,
    validate_metric,
    validate_number_results,
    validate_question,
    validate_rrf_k,
    validate_weights,
)


#: the result frames of the multi-question scans, as the Spark plans type them
SEMANTIC_COLUMNS = "query_id INT, rank INT, id STRING, content STRING, score DOUBLE"
LEXICAL_COLUMNS = "query_id INT, id STRING, content STRING, score DOUBLE"


class VectorSearchApi:
    def __init__(
        self,
        engine: CollectionEngine,
        rerank_model: Callable[[str, Sequence[str]], Sequence[float]] | None = None,
    ):
        """Queries embed through the engine's seam
        (:meth:`CollectionEngine.embed_texts`) — the same model that
        embedded the documents at insert, so every search reads stored
        vectors and never embeds the corpus. ``rerank_model`` is the
        cross-encoder seam; when omitted, the
        ``VECTOR_MCP_SPARK_RERANK_ENDPOINT`` env gate may supply one."""
        from vector_mcp_spark.functions.rerank_client import RemoteRerankClient

        self.engine = engine
        self._rerank_model = rerank_model if rerank_model is not None else RemoteRerankClient.from_env()

    def embed_query(self, collection: str, question: str) -> list[float]:
        """The query vector for ``collection`` — public so transports that
        need a raw vector (the veneer's indexed_search) share the exact
        representation every text search uses."""
        return self.engine.embed_texts(collection, [question])[0]

    # -- retrieval (base.py:189-231 protocol) -------------------------------

    def semantic_search(
        self,
        collection: str,
        questions: Sequence[str],
        number_results: int = 5,
        distance_threshold: float | None = None,
        metric: str | None = None,
    ) -> DataFrame:
        """Multi-query semantic search → (query_id, rank, id, content, score).

        ``metric`` ∈ {cosine, dot, l2} — the pgvector ``<=>``/``<#>``/``<->``
        conventions (l2 ranks ascending); refuses unknown values with the
        stable ``metric_invalid`` code. ``None`` (the default) scores under
        the collection's locked distance config, qdrant-style; passing a
        metric overrides per query like pgvector's per-operator choice."""
        number_results = validate_number_results(number_results)
        if metric is None:
            metric = self.engine.collection_distance(collection)
        metric = validate_metric(metric)
        if not questions:
            raise EngineError("question_invalid")  # vector_api.py:548 rejects empty
        cleaned = [sanitize_text_py(validate_question(q)) for q in questions]
        docs, local = self.engine.scan_table(collection)
        queries = list(enumerate(self.engine.embed_texts(collection, cleaned)))
        if local is not None:
            hits = semantic_topk_local(
                local, queries, number_results, distance_threshold=distance_threshold,
                metric=metric,
            )
            if hits is not None:
                return self.engine._local_hits(
                    [(q, rank, local.ids[r], local.content[r], sc) for q, rank, r, sc in hits],
                    SEMANTIC_COLUMNS,
                )
        return semantic_topk_multi(
            docs,
            queries,
            number_results,
            id_col="id",
            emb_col="embedding",
            payload_cols=("content",),
            distance_threshold=distance_threshold,
            metric=metric,
        )

    def lexical_search(
        self, collection: str, questions: Sequence[str], number_results: int = 5
    ) -> DataFrame:
        """Multi-query lexical (tf) search → (query_id, id, content, score),
        best-first per query: (query_id, score desc, id asc).

        On the driver copy no job; otherwise one job for N queries
        (lexical_tf_topk_multi scores every query map-side in a single
        pass), not N unioned single-query legs."""
        number_results = validate_number_results(number_results)
        if not questions:
            raise EngineError("question_invalid")
        cleaned = [(i, sanitize_text_py(validate_question(q))) for i, q in enumerate(questions)]
        docs, local = self.engine.scan_table(collection)
        if local is not None:
            return self.engine._local_hits(
                [
                    (q, local.ids[r], local.content[r], sc)
                    for q, _, r, sc in lexical_tf_topk_local(local, cleaned, number_results)
                ],
                LEXICAL_COLUMNS,
            )
        ranked = lexical_tf_topk_multi(
            docs, cleaned, number_results, id_col="id", content_col="content"
        )
        # ranked is ≤ N*k rows — broadcast it against the (big) docs payload.
        # Its rank already orders each query by (score desc, id asc). The
        # limit is exact (each query yields at most k rows) and makes the
        # sort a TakeOrderedAndProject: no range-sampling job on the serve path
        return (
            docs.select("id", "content")
            .join(F.broadcast(ranked), "id")
            .orderBy("query_id", "rank")
            .limit(len(cleaned) * number_results)
            .select("query_id", "id", "content", "score")
        )

    def search(
        self,
        collection: str,
        question: str,
        number_results: int = 5,
        semantic_weight: float = 0.5,
        lexical_weight: float = 0.5,
        rrf_k: int = 60,
    ) -> DataFrame:
        """Hybrid RRF search (vector_api.py:518-566) → (id, content, score)."""
        number_results = validate_number_results(number_results)
        rrf_k = validate_rrf_k(rrf_k)
        w_sem, w_lex = validate_weights([semantic_weight, lexical_weight])
        cleaned = sanitize_text_py(validate_question(question))
        docs, local = self.engine.scan_table(collection)
        leg_k = max(number_results * 2, 20)
        # the semantic leg ranks under the collection's locked distance
        # (create_collection's contract); RRF is rank-based, so an
        # ascending-better l2 leg just flips its ranking key before fusing
        metric = self.engine.collection_distance(collection)
        qvec = self.engine.embed_texts(collection, [cleaned])[0]
        sem_local = None if local is None else semantic_topk_local(
            local, [(0, qvec)], leg_k, metric=metric
        )
        if sem_local is not None:
            sign = -1.0 if metric == "l2" else 1.0
            legs = [
                ([(local.ids[r], None if sc is None else sign * sc)
                  for _, _, r, sc in sem_local], w_sem),
                ([(local.ids[r], sc)
                  for _, _, r, sc in lexical_tf_topk_local(local, [(0, cleaned)], leg_k)], w_lex),
            ]
            # every fused score is finite (the weights are), so the Spark
            # plan's result hygiene below would keep every row
            return self.engine._local_hits([
                (node, local.content[local.rows[node]], sc)
                for node, sc in rrf_fuse_local(legs, number_results, rrf_k=rrf_k)
            ])
        sem = semantic_topk(
            docs, qvec, leg_k, id_col="id", emb_col="embedding", metric=metric,
        )
        if metric == "l2":
            sem = sem.withColumn("score", -F.col("score"))
        lex = lexical_tf_topk(docs, cleaned, leg_k, id_col="id", content_col="content")
        fused = rrf_fuse([(sem, w_sem), (lex, w_lex)], number_results, rrf_k=rrf_k, id_col="id")
        payload = docs.select("id", "content")
        out = fused.join(payload, "id", "left")
        # result hygiene: drop non-finite scores (vector_api.py:368-375)
        return out.where(
            ~F.isnan("score") & (F.col("score") != float("inf")) & (F.col("score") != float("-inf"))
        ).select("id", "content", "score").orderBy(F.col("score").desc(), F.col("id").asc())

    def rerank_search(
        self,
        collection: str,
        question: str,
        number_results: int = 5,
        shortlist: int = 50,
    ) -> DataFrame:
        """Two-stage retrieval: bi-encoder semantic shortlist, cross-encoder
        rerank — (id, content, score). The rerank stage scores the BOUNDED
        shortlist (k ≤ shortlist ≤ 1000, the reference's fusion-loop
        contract): with a ``RemoteRerankClient`` configured the texts go to
        the model endpoint driver-side; otherwise the deterministic hash
        scorer keeps the pipeline oracle-checkable offline and stays fully
        distributed (a Column expression, no collect)."""
        from vector_mcp_spark.functions.rerank import rerank_score_col

        number_results = validate_number_results(number_results)
        shortlist = validate_number_results(shortlist)
        if shortlist < number_results:
            raise EngineError("number_results_invalid")
        cleaned = sanitize_text_py(validate_question(question))
        docs = self.engine.read(collection)
        short = (
            semantic_topk(
                docs, self.engine.embed_texts(collection, [cleaned])[0], shortlist,
                id_col="id", emb_col="embedding",
                metric=self.engine.collection_distance(collection),
            )
            .select("id")
            .join(docs.select("id", "content"), "id")
        )
        if self._rerank_model is not None:
            rows = short.select("id", "content").collect()  # bounded ≤1000
            scores = self._rerank_model(cleaned, [r.content for r in rows])
            scored = self.engine.spark.createDataFrame(
                [(r.id, float(sc)) for r, sc in zip(rows, scores)], "id string, score double"
            )
            out = docs.select("id", "content").join(F.broadcast(scored), "id")
        else:
            out = short.select("id", "content", rerank_score_col("content", cleaned).alias("score"))
        return out.orderBy(F.col("score").desc(), F.col("id").asc()).limit(number_results)

    def federated_search(
        self,
        collections: Sequence[str],
        question: str,
        number_results: int = 5,
        k_per_collection: int | None = None,
    ) -> DataFrame:
        """One query across MANY collections, fused to a global ranking —
        (collection, id, content, score, collection_rank, rank).

        The reference searches one collection per call (mcp_server.py:202-293);
        this unions the per-collection document frames into ONE distributed
        plan (a Spark union moves no data) and runs the federated operator:
        per-collection quota via a collection-partitioned window, global fuse
        over |collections|·k rows. Scores are raw cosine against the same
        query vector — DELIBERATELY ignoring per-collection distance
        configs: a cross-collection ranking needs one comparable score
        scale, and cosine-vs-l2 raw scores are not fusable (per-collection
        metric search stays available via semantic_search on each)."""
        from vector_mcp_spark.operators.federated import federated_topk

        number_results = validate_number_results(number_results)
        if not collections:
            raise EngineError("collection_not_found")
        k_per = validate_number_results(
            k_per_collection if k_per_collection is not None else number_results
        )
        cleaned = sanitize_text_py(validate_question(question))
        # one query vector scores every collection: the first collection's
        # seam embeds it (collections sharing a model share its space)
        qvec = self.engine.embed_texts(collections[0], [cleaned])[0]
        parts = []
        for name in dict.fromkeys(collections):  # dedup, preserve order
            parts.append(
                self.engine.read(name).select(
                    F.lit(name).alias("collection"), "id", "content", "embedding"
                )
            )
        docs = parts[0]
        for p in parts[1:]:
            docs = docs.unionByName(p)
        fused = federated_topk(
            docs, qvec, k_per_collection=k_per, n=number_results,
            collection_col="collection", id_col="id", emb_col="embedding",
        )
        # re-attach content by (collection, id) — the fused frame is n rows,
        # broadcast side of the join, so payloads never shuffle corpus-wide.
        # (score hygiene lives inside federated_topk, BEFORE ranking, so
        # NaN rows can never consume quota or top-n slots)
        return (
            docs.join(
                F.broadcast(fused), ["collection", "id"], "inner"
            )
            .select("collection", "id", "content", "score", "collection_rank", "rank")
            .orderBy("rank")
        )

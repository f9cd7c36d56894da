"""HNSW-style layered graph ANN — the last reference index family.

The reference's native backend advertises HNSW alongside IVF-PQ
(``vector_mcp/vectordb/epistemic_graph.py:5-9``) and its pgvector backend
builds ``USING hnsw`` indexes (``vector_mcp/vectordb/postgres.py:182-188``).
A literal HNSW insert loop is inherently sequential; the Spark-first
re-expression is the batch construction the distributed ANN literature uses
(NN-descent, Dong et al. 2011, WWW; layered entry points as in HNSW, Malkov
& Yashunin 2018):

* **Levels** are drawn deterministically from ``sha256(id)`` — geometric
  occupancy (P[level ≥ 1] = 1/8, P[level ≥ 2] = 1/64) with no RNG, so the
  index is bit-reproducible across sessions AND replayable by a SQL oracle.
* **Layer-0 kNN graph**: candidate pairs from two independent blocking
  families (the IVF coarse-cluster equi-join + a hash-bucket equi-join),
  top-M per node, then ``nn_descent_rounds`` rounds of NN-descent
  refinement (candidates = edges ∪ reversed ∪ neighbors-of-neighbors,
  re-ranked to top-M). Every stage is an equi-join on a bounded key or on
  the M-bounded edge list — pair volume is Σ|block|² + n·M², never n².
* **Upper layers** restrict to nodes of that level and coarser blocks
  (cluster%4, then one block for the tiny top layer), top-M, symmetrized.
* **Search** is greedy beam search replayed as a FIXED unrolled stage list
  (1 hop at layer 2, 2 at layer 1, 4 at layer 0): each hop expands the beam
  through the layer's edge list (equi-join bounded by ef·M per query),
  re-scores, and keeps the top-``ef`` per query — expressible as bounded
  CTEs for the DuckDB oracle. Two implementations: the Spark descent
  :func:`ann_hnsw_prepared_sql` (one SQL text; :func:`ann_hnsw_topk`
  adapts DataFrames to it) and :func:`ann_hnsw_driver_topk`, the same
  descent in numpy over a small serve set collected to the driver.

Recall on the suite's hash-random embeddings (the worst case — no cluster
structure): 1.00 / 1.00 / 0.98 @5 at sf0.001/0.01/0.1 with M=12, ef=48
(tools/recall_report.py gates ≥ 0.85).

At 100 TB: the edge table is written partitioned by (layer, src-bucket) so
each beam hop prunes to the frontier's partitions; build pair volume is
controlled by the blocking keys exactly like dedup.py's banded LSH join.
"""

from __future__ import annotations

import itertools
import math
from collections.abc import Callable, Sequence
from dataclasses import dataclass
from typing import TYPE_CHECKING
from decimal import ROUND_HALF_UP, Context, Decimal

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from vector_mcp_spark.functions.vector import dot
from vector_mcp_spark.operators.partition import fits_broadcast
from vector_mcp_spark.operators.similarity import SCORE_DECIMALS
from vector_mcp_spark.validation import EngineError, validate_query_vector

if TYPE_CHECKING:
    from vector_mcp_spark.operators.driver_table import DriverTable

#: beam hops per layer, top layer first — FIXED so the SQL oracle can unroll
HNSW_HOPS: tuple[tuple[int, int], ...] = ((2, 1), (1, 2), (0, 4))
#: the same schedule as one layer per hop
_HOP_LAYERS = tuple(layer for layer, n_hops in HNSW_HOPS for _ in range(n_hops))

# Build-geometry constants shared with the suite's SQL oracle
# (suite_pipeline._hnsw_oracle derives its literals from these and asserts
# the pinned values — changing any of them must fail that assert rather
# than silently diverging the Spark path from the oracle; ADVICE r9).
#: expected rows per blocking block — the hash-sliver cap keeps Σ|block|²
#: linear in n (10× probe: 31.5× → 5.0× after the cap)
HNSW_BLOCK_CAP = 128
#: geometric level fan-out: P[level ≥ L] = FANOUT^-L (hx%8, hx%64 draws)
HNSW_LEVEL_FANOUT = 8
#: layer-1 blocks coarsen the IVF clusters by this factor (cluster % 4)
HNSW_UPPER_COARSEN = 4
#: default hash-bucket count for the second layer-0 blocking family
HNSW_N_HASH_BUCKETS = 16


def _guarded_norm(col: F.Column) -> F.Column:
    # zero-norm → 1 (the IVF-oracle convention) so pair sims never go NULL
    n = F.sqrt(dot(col, col))
    return F.when(n == F.lit(0.0), F.lit(1.0)).otherwise(n)


#: metrics the graph family builds and serves under — pgvector's three
#: operator classes / qdrant's Distance enum (``postgres.py:316-348``,
#: ``qdrant.py:122-127``); True = higher score is better
GRAPH_METRICS = {"cosine": True, "dot": True, "l2": False}


def _node_norm(col: F.Column, metric: str) -> F.Column:
    """The per-node norm each metric's pair score consumes: cosine keeps
    the zero-guarded convention (sims never NULL); l2 uses the RAW norm so
    ``n² + q² − 2·d·q`` reproduces ``similarity.ann_ivf_topk(metric='l2')``
    bit-for-bit (sqrt-then-square order preserved); dot never reads it."""
    if metric == "cosine":
        return _guarded_norm(col)
    return F.sqrt(dot(col, col))


def _pair_score(metric: str, av: F.Column, an: F.Column, bv: F.Column, bn: F.Column) -> F.Column:
    if metric == "cosine":
        return dot(av, bv) / (an * bn)
    if metric == "dot":
        return dot(av, bv)
    # l2: same expansion + clamp as similarity.ann_ivf_topk(metric='l2').
    # NOT F.greatest(0, inner): greatest IGNORES nulls, so a NULL inner
    # product (mis-sized or missing vector) would score a PERFECT 0.0
    # distance instead of NULL — the same hole ADVICE r11 found in
    # l2_distance; the when-clamp propagates NULL and the asc_nulls_last
    # orderings then bury such rows
    inner = an * an + bn * bn - F.lit(2.0) * dot(av, bv)
    return F.sqrt(F.when(inner < F.lit(0.0), F.lit(0.0)).otherwise(inner))


def _score_order(metric: str, score: F.Column, tie: F.Column) -> list:
    # l2 NULLS LAST: matches DuckDB's ASC default, and a NULL score must
    # never outrank a real one (ADVICE r11)
    higher = GRAPH_METRICS[metric]
    return [score.desc() if higher else score.asc_nulls_last(), tie.asc()]


def hnsw_levels(df: DataFrame, id_col: str = "id") -> DataFrame:
    """Add ``hx`` (last-4-hex-chars of sha256(id) as int) and ``level``
    columns. Nested geometric levels: hx%8==0 → ≥1, hx%64==0 → ≥2."""
    hx = F.conv(F.substring(F.sha2(F.col(id_col).cast("string"), 256), 61, 4), 16, 10).cast(
        "long"
    )
    return df.withColumn("hx", hx).withColumn(
        "level",
        F.when(F.col("hx") % (HNSW_LEVEL_FANOUT**2) == 0, F.lit(2))
        .when(F.col("hx") % HNSW_LEVEL_FANOUT == 0, F.lit(1))
        .otherwise(F.lit(0)),
    )


def _top_m(cand: DataFrame, nodes: DataFrame, m: int, metric: str = "cosine") -> DataFrame:
    """(src, dst) candidate pairs → each src's top-``m`` nearest under
    ``metric`` (best-first: cosine/dot desc, l2 asc)."""
    a = nodes.select(F.col("node").alias("src"), F.col("v").alias("_av"), F.col("n").alias("_an"))
    b = nodes.select(F.col("node").alias("dst"), F.col("v").alias("_bv"), F.col("n").alias("_bn"))
    scored = (
        cand.join(a, "src")
        .join(b, "dst")
        .withColumn(
            "_sm",
            _pair_score(metric, F.col("_av"), F.col("_an"), F.col("_bv"), F.col("_bn")),
        )
    )
    w = Window.partitionBy("src").orderBy(*_score_order(metric, F.col("_sm"), F.col("dst")))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= m)
        .select("src", "dst")
    )


def _symmetrize(edges: DataFrame) -> DataFrame:
    return edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))).distinct()


def hnsw_build(
    assigned: DataFrame,
    m: int = 12,
    n_hash_buckets: int = HNSW_N_HASH_BUCKETS,
    nn_descent_rounds: int = 2,
    id_col: str = "id",
    emb_col: str = "embedding",
    cluster_col: str = "cluster",
    metric: str = "cosine",
) -> tuple[DataFrame, dict]:
    """Build the layered neighbor graph over an IVF-assigned corpus
    (``similarity.ivf_build`` output — the two indexes share the coarse
    quantizer; build the assignment under the SAME ``metric`` passed here,
    matching pgvector's per-opclass hnsw indexes). Returns (edges DataFrame
    (layer, src, dst), meta dict with ``entry`` node id and ``top_layer``)."""
    if metric not in GRAPH_METRICS:
        raise ValueError(f"unknown metric {metric!r}; one of {sorted(GRAPH_METRICS)}")
    nodes = hnsw_levels(
        assigned.select(
            F.col(id_col).alias("node"),
            F.col(emb_col).alias("v"),
            F.col(cluster_col).alias("cluster"),
        ),
        id_col="node",
    ).withColumn("n", _node_norm(F.col("v"), metric))
    # feeds every pair-gen and scoring join below — truncate lineage once
    nodes = nodes.localCheckpoint(eager=True)

    def pairs_on(df: DataFrame, *keys: F.Column) -> DataFrame:
        keyed = df.select(
            F.col("node"), *[k.alias(f"_blk{i}") for i, k in enumerate(keys)]
        )
        blk = [f"_blk{i}" for i in range(len(keys))]
        a = keyed.select(F.col("node").alias("src"), *blk)
        b = keyed.select(F.col("node").alias("dst"), *blk)
        return a.join(b, blk).where(F.col("src") != F.col("dst")).select("src", "dst")

    # Blocks must not grow with the corpus (Σ|block|² is the build cost —
    # the 10× scale probe read 31× before this cap): subdivide every block
    # by an independent hash sliver so expected block size stays ~128 rows
    # regardless of n. s = 1 at the suite SFs (≤ 2048 vectors), so the
    # subdivision only engages at scale. NN-descent then recovers edge
    # quality from the narrower seed candidates.
    n_rows = nodes.count()
    # slivers are derived from the DEFAULT bucket count (not the caller's
    # n_hash_buckets) so the suite oracle's literals stay a pure function
    # of the module constants: ceil(n / 2048)
    s = max(1, -(-n_rows // (HNSW_N_HASH_BUCKETS * HNSW_BLOCK_CAP)))

    # layer 0: two independent blocking families seed the kNN graph
    cand0 = pairs_on(nodes, F.col("cluster"), F.col("hx") % s).union(
        pairs_on(nodes, F.col("hx") % n_hash_buckets, (F.col("hx") / n_hash_buckets).cast("long") % s)
    ).distinct()
    e0 = _top_m(cand0, nodes, m, metric)
    for _ in range(nn_descent_rounds):
        e0 = e0.localCheckpoint(eager=True)  # iterative — truncate per round
        fwd = e0
        rev = e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        two_hop = (
            e0.select(F.col("src").alias("_a"), F.col("dst").alias("_m"))
            .join(e0.select(F.col("src").alias("_m"), F.col("dst").alias("_b")), "_m")
            .where(F.col("_a") != F.col("_b"))
            .select(F.col("_a").alias("src"), F.col("_b").alias("dst"))
        )
        e0 = _top_m(fwd.union(rev).union(two_hop).distinct(), nodes, m, metric)
    layers = [(_symmetrize(e0), 0)]

    # upper layers: level-filtered nodes, coarser blocks each level up —
    # with the same block-size cap (layer L holds ~n/8^L nodes)
    # ceil((n/8) / (4*128)) = ceil(n / 4096)
    s1 = max(1, -(-n_rows // (HNSW_LEVEL_FANOUT * HNSW_UPPER_COARSEN * HNSW_BLOCK_CAP)))
    up1 = nodes.where(F.col("level") >= 1)
    layers.append(
        (
            _symmetrize(
                _top_m(
                    pairs_on(up1, F.col("cluster") % HNSW_UPPER_COARSEN, F.col("hx") % s1),
                    nodes,
                    m,
                    metric,
                )
            ),
            1,
        )
    )
    # ceil((n/64) / 128) = ceil(n / 8192)
    s2 = max(1, -(-n_rows // (HNSW_LEVEL_FANOUT**2 * HNSW_BLOCK_CAP)))
    up2 = nodes.where(F.col("level") >= 2)
    layers.append((_symmetrize(_top_m(pairs_on(up2, F.col("hx") % s2), nodes, m, metric)), 2))

    edges = None
    for e, layer in layers:
        tagged = e.select(F.lit(layer).alias("layer"), "src", "dst")
        edges = tagged if edges is None else edges.union(tagged)

    # deterministic entry point: the smallest id on the highest occupied
    # level (sha-drawn levels make this stable across sessions and engines)
    top = nodes.agg(F.max("level").alias("l")).first().l
    entry = nodes.where(F.col("level") == top).agg(F.min("node").alias("e")).first().e
    return edges, {"entry": entry, "top_layer": int(top)}


def hnsw_serve_set(
    corpus: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    emb_col: str = "embedding",
    metric: str = "cosine",
) -> tuple[DataFrame, DataFrame]:
    """The query-INDEPENDENT beam-serve working set: ``(nodes, edges)``
    with nodes = (node, v, n) carrying the metric's per-node norm, both
    localCheckpointed — what a vector DB holds in RAM next to the graph.
    Callers serving many queries publish it once (:func:`publish_serve_set`)
    so each serve skips two eager checkpoint jobs (guide §1.2)."""
    nodes = corpus.select(
        F.col(id_col).alias("node"),
        F.col(emb_col).alias("v"),
        _node_norm(F.col(emb_col), metric).alias("n"),
    ).localCheckpoint(eager=True)
    return nodes, edges.localCheckpoint(eager=True)


#: one naming scheme for every view a descent reads — serve sets, query
#: frames, allowed sets: GLOBAL temp views, because serve sets are cached
#: across sessions and a session view registered by the frame's own
#: (parent) session would not resolve from a sibling that hits the cache
_VIEW_SEQ = itertools.count()


def _global_view(df: DataFrame, kind: str) -> str:
    """Register ``df`` under a fresh global temp view; its qualified name."""
    name = f"_hnsw_{kind}_{next(_VIEW_SEQ)}"
    df.createOrReplaceGlobalTempView(name)
    return f"{df.sparkSession.conf.get('spark.sql.globalTempDatabase')}.{name}"


def _drop_view(spark, qualified: str) -> None:
    spark.catalog.dropGlobalTempView(qualified.split(".", 1)[1])


@dataclass(frozen=True)
class ServeSet:
    """A :func:`hnsw_serve_set` working set published for the SQL descent:
    its frames, their global temp views, the sizes counted once, and the
    edge-broadcast gate :func:`ann_hnsw_prepared_sql` takes."""

    nodes: DataFrame
    edges: DataFrame
    nodes_view: str
    edges_view: str
    n_nodes: int
    n_edges: int
    #: total vector elements — sizes a driver-resident copy
    n_values: int
    bcast_edges: bool

    def drop(self) -> None:
        for view in (self.nodes_view, self.edges_view):
            _drop_view(self.nodes.sparkSession, view)


def publish_serve_set(
    corpus: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    emb_col: str = "embedding",
    metric: str = "cosine",
) -> ServeSet:
    """:func:`hnsw_serve_set`, registered as global temp views and
    measured once over the cached partitions: node, edge and vector-value
    counts, and the broadcast gate for the descent's per-hop edge-union
    side (two id columns, ~64 B a row) against the session's broadcast
    threshold. Scale-adaptive: once the union outgrows the threshold the
    gate never fires and the ef-bounded beam stays the join's build side.
    The caller owns the lifetime; :meth:`ServeSet.drop` unregisters."""
    nodes, edges = hnsw_serve_set(corpus, edges, id_col=id_col, emb_col=emb_col, metric=metric)
    n_nodes, n_values = nodes.agg(F.count(F.lit(1)), F.sum(F.size("v"))).first()
    n_edges = edges.count()
    return ServeSet(
        nodes, edges, _global_view(nodes, "nodes"), _global_view(edges, "edges"),
        n_nodes, n_edges, n_values or 0,
        fits_broadcast(nodes.sparkSession, (n_nodes + n_edges) * 64),
    )


# ---------------------------------------------------------------------------
# The Spark descent: one SQL renderer (optimization guide §1/§4)
#
# As ~60 DataFrame steps, each analyzed EAGERLY by PySpark, the descent cost
# ~1.5 s of driver time per serve (r13 §15); as ONE SQL text it is one parse
# and one analysis. Its folds are functions.vector.dot's HOF expression
# (sequential left fold over double-widened floats), so the driver descent
# below can replay it bit for bit.
# ---------------------------------------------------------------------------


def _id_sql(value: object, typed: bool = True) -> str:
    """SQL literal for an entry/query id: strings escaped and quoted,
    numbers ``typed`` like a BIGINT id column."""
    if isinstance(value, bool) or not isinstance(value, (int, float)):
        s = str(value).replace("\\", "\\\\").replace("'", "\\'")
        return f"'{s}'"
    return f"CAST({value!r} AS BIGINT)" if typed else repr(value)


def _vec_sql(vec: Sequence[float]) -> str:
    return "CAST(array({}) AS ARRAY<FLOAT>)".format(", ".join(f"{x!r}D" for x in vec))


def _dot_sql(a: str, b: str) -> str:
    """SQL text of functions.vector.dot: zip_with + aggregate sequential
    fold over double-widened elements — the exact expression the build's
    DataFrame scoring evaluates, so the fold order (and hence every float
    result) is identical."""
    da = f"transform({a}, x -> CAST(x AS DOUBLE))"
    db = f"transform({b}, x -> CAST(x AS DOUBLE))"
    return f"aggregate(zip_with({da}, {db}, (x, y) -> x * y), 0.0D, (acc, x) -> acc + x)"


def _norm_sql(col: str, metric: str) -> str:
    n = f"sqrt({_dot_sql(col, col)})"
    if metric == "cosine":
        # _guarded_norm: zero-norm -> 1 so pair sims never go NULL
        return f"(CASE WHEN {n} = 0.0D THEN 1.0D ELSE {n} END)"
    return n


def _pair_score_sql(metric: str, qv: str, qn: str, v: str, n: str) -> str:
    d = _dot_sql(qv, v)
    if metric == "cosine":
        return f"({d} / ({qn} * {n}))"
    if metric == "dot":
        return d
    inner = f"(({qn} * {qn}) + ({n} * {n})) - (2.0D * {d})"
    # when-clamp, not greatest: NULL inner must stay NULL (ADVICE r11)
    return f"sqrt(CASE WHEN ({inner}) < 0.0D THEN 0.0D ELSE ({inner}) END)"


def _order_sql(metric: str) -> str:
    # l2 ASC NULLS LAST matches asc_nulls_last; DESC defaults to NULLS LAST
    # in Spark exactly like Column.desc()
    return "_sm DESC, node ASC" if GRAPH_METRICS[metric] else "_sm ASC NULLS LAST, node ASC"


def ann_hnsw_prepared_sql(
    nodes_view: str,
    edges_view: str,
    entry: object,
    queries: str | Sequence[tuple[object, Sequence[float]]],
    k: int,
    ef: int = 48,
    metric: str = "cosine",
    broadcast_edges: bool = False,
    exclude_self: bool = False,
    allowed_view: str | None = None,
) -> str:
    """The fixed-schedule beam descent as ONE SQL text over the
    :func:`hnsw_serve_set` views ``nodes_view`` (node, v, n) and
    ``edges_view`` (layer, src, dst). ``queries`` is a view (query_id, qv)
    or a literal ``[(id, vector), ...]`` batch (inline ``VALUES``; empty
    batches and NaN/Inf refuse with ``collection_vector_schema_mismatch``).
    Returns (query_id, rank, neighbor_id, score), scores rounded.

    Beams start at ``entry``; hop 1 (entry's top-layer neighbors plus
    entry) is query-independent, computed once and broadcast-crossed to
    the queries. Each later hop is one equi-join of the beam against the
    layer's edges plus a self-loop per node (≡ beam ∪ neighbors(beam)),
    re-scored and cut to the top-``ef`` per query. ``exclude_self`` drops
    a query's own corpus row, then ``allowed_view`` (one ``node`` column)
    semi-joins the final beam — qdrant's plain-mode filtered search, so
    selective filters may return < ``k`` rows. ``broadcast_edges`` (the
    serve set's measured gate) lets every hop reuse one edge broadcast.

    A batch of one renders its vector and norm as literal expressions:
    no join against ``q`` per hop and no ``PARTITION BY`` (beam-bounded
    rows), same values, 17–26% faster per hybrid entry when measured."""
    if metric not in GRAPH_METRICS:
        raise ValueError(f"unknown metric {metric!r}; one of {sorted(GRAPH_METRICS)}")
    one = None
    source = queries
    if not isinstance(queries, str):
        if not queries:
            # VALUES with no rows is not SQL
            raise EngineError("collection_vector_schema_mismatch", detail="empty query batch")
        batch = [(qid, _vec_sql(validate_query_vector(v))) for qid, v in queries]
        one = batch[0] if len(batch) == 1 else None
        rows = ",\n    ".join(f"({_id_sql(qid)}, {v})" for qid, v in batch)
        source = f"(VALUES\n    {rows}) AS t(query_id, qv)"
    order, keep = _order_sql(metric), int(ef)
    ctes = []
    if one is not None:
        qid, ent, qv = _id_sql(one[0], False), _id_sql(entry, False), one[1]
        score = _pair_score_sql(metric, qv, _norm_sql(qv, metric), "nd.v", "nd.n")
        cols, head, not_self = "node", f"{qid} AS query_id", f"node != {qid}"

        def rescore(cand: str, out: str) -> str:
            return (
                f"{out} AS (\n"
                f"  SELECT node, _sm, row_number() OVER (ORDER BY {order}) AS _rn\n"
                f"  FROM (SELECT nd.node, {score} AS _sm\n"
                f"        FROM {cand} c JOIN {nodes_view} nd ON c.node = nd.node)\n"
                f")"
            )

    else:
        ent = _id_sql(entry)
        score = _pair_score_sql(metric, "q.qv", "q.qn", "nd.v", "nd.n")
        cols, head, not_self = "query_id, node", "query_id", "query_id != node"
        qn = _norm_sql("qv", metric)
        ctes.append(f"q AS (\n  SELECT query_id, qv, {qn} AS qn\n  FROM {source}\n)")

        def rescore(cand: str, out: str) -> str:
            return (
                f"{out} AS (\n"
                f"  SELECT query_id, node, _sm,\n"
                f"         row_number() OVER (PARTITION BY query_id ORDER BY {order}) AS _rn\n"
                f"  FROM (SELECT c.query_id, c.node, {score} AS _sm\n"
                f"        FROM {cand} c JOIN q ON c.query_id = q.query_id\n"
                f"        JOIN {nodes_view} nd ON c.node = nd.node)\n"
                f")"
            )

    ctes.append(
        f"{'cand_1' if one else 'seed'} AS (\n"
        "  SELECT DISTINCT node FROM (\n"
        f"    SELECT dst AS node FROM {edges_view}"
        f" WHERE layer = {_HOP_LAYERS[0]} AND src = {ent}\n"
        f"    UNION ALL SELECT {ent} AS node\n"
        "  )\n"
        ")"
    )
    if one is None:
        ctes.append(
            "cand_1 AS (SELECT /*+ BROADCAST(s) */ b.query_id, s.node\n"
            "           FROM (SELECT DISTINCT query_id FROM q) b CROSS JOIN seed s)"
        )
    ctes += [rescore("cand_1", "sc_1"), f"beam_1 AS (SELECT {cols} FROM sc_1 WHERE _rn <= {keep})"]
    hint = "/*+ BROADCAST(e) */ " if broadcast_edges else ""
    for i, layer in enumerate(_HOP_LAYERS[1:], 2):
        ctes += [
            (
                f"cand_{i} AS (\n"
                f"  SELECT {hint}DISTINCT {'' if one else 'b.query_id, '}e.dst AS node\n"
                f"  FROM beam_{i - 1} b JOIN (\n"
                f"    SELECT src, dst FROM {edges_view} WHERE layer = {layer}\n"
                f"    UNION ALL SELECT node AS src, node AS dst FROM {nodes_view}\n"
                "  ) e ON b.node = e.src\n"
                ")"
            ),
            rescore(f"cand_{i}", f"sc_{i}"),
            f"beam_{i} AS (SELECT {cols} FROM sc_{i} WHERE _rn <= {keep})",
        ]
    last = f"beam_{len(_HOP_LAYERS)}"
    if exclude_self:
        ctes.append(f"beam_f AS (SELECT {cols} FROM {last} WHERE {not_self})")
        last = "beam_f"
    if allowed_view is not None:
        # unhinted: the allowed set is filter-sized (up to the corpus), not
        # batch-sized; AQE broadcasts it when it is actually small
        ctes.append(
            f"beam_a AS (SELECT {cols} FROM {last} b\n"
            f"           LEFT SEMI JOIN {allowed_view} a ON b.node = a.node)"
        )
        last = "beam_a"
    ctes.append(rescore(last, "final"))
    body = ",\n".join(ctes)
    return (
        f"WITH {body}\n"
        f"SELECT {head}, CAST(_rn AS INT) AS rank, node AS neighbor_id,\n"
        f"       ROUND(_sm, {SCORE_DECIMALS}) AS score\n"
        f"FROM final WHERE _rn <= {int(k)}"
    )


def ann_hnsw_topk(
    queries: DataFrame,
    corpus: DataFrame | None,
    edges: DataFrame | None,
    entry: object,
    k: int,
    ef: int = 48,
    id_col: str = "id",
    emb_col: str = "embedding",
    exclude_self: bool = True,
    allowed: DataFrame | None = None,
    metric: str = "cosine",
    serve_set: ServeSet | None = None,
) -> DataFrame:
    """:func:`ann_hnsw_prepared_sql` for a DataFrame of queries (``id_col``,
    ``emb_col``): (query_id, rank, neighbor_id, score). The query frame is
    checkpointed (every hop rescores against it; a leaf keeps its lineage
    from re-running per hop, r13) and registered, with ``allowed`` (a
    one-column id frame), as views. The serve set is ``serve_set``,
    published once and reused across calls, or else materialized per call
    from ``corpus`` and ``edges``. No edge-broadcast hint: fed from a query
    view, the hinted descent measured ~5% slower (sf0.1 filtered entry).
    Per-call views are dropped once the text is analyzed."""
    frames = {
        "queries": queries.select(
            F.col(id_col).alias("query_id"), F.col(emb_col).alias("qv")
        ).localCheckpoint(eager=True)
    }
    if serve_set is None:
        frames["nodes"], frames["edges"] = hnsw_serve_set(
            corpus, edges, id_col=id_col, emb_col=emb_col, metric=metric
        )
    if allowed is not None:
        frames["allowed"] = allowed.select(F.col(allowed.columns[0]).alias("node"))
    views = {kind: _global_view(df, kind) for kind, df in frames.items()}
    spark = queries.sparkSession
    try:
        return spark.sql(
            ann_hnsw_prepared_sql(
                views.get("nodes") or serve_set.nodes_view,
                views.get("edges") or serve_set.edges_view,
                entry, views["queries"], k=k, ef=ef, metric=metric,
                exclude_self=exclude_self, allowed_view=views.get("allowed"),
            )
        )
    finally:
        for view in views.values():
            _drop_view(spark, view)


# ---------------------------------------------------------------------------
# The driver descent (engine serve path over a small serve set)
#
# Spark builds the graph; walking it per query does not need Spark. When a
# serve set fits the session's broadcast bound (a broadcast is already a
# driver-side collect of that size), the engine adds the collected adjacency
# to the table's driver copy once and answers warm queries in-process with
# 0 Spark jobs. The descent replays the
# one-query SQL operation for operation — float32 query widened to double,
# sequential left-fold dots from 0.0, the norm guard / l2 clamp, the
# candidate sets, (score, node) ranking and Spark's ROUND — so its rows
# equal the SQL's in every form (pinned by tests/test_similarity.py::
# test_driver_descent_matches_sql_and_dataframe).
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class DriverServeSet:
    """A serve set in driver memory: node id → row, the vectors as the
    doubles the SQL folds read (both shared with the table's
    :class:`~vector_mcp_spark.operators.driver_table.DriverTable`), the
    per-node norms, per-layer adjacency, an optional per-node payload,
    estimated bytes."""

    rows: dict
    vecs: np.ndarray
    norms: np.ndarray
    adj: dict
    payload: list | None
    nbytes: int


def driver_serve_set(
    table: DriverTable, edges: DataFrame, metric: str, nbytes: int
) -> DriverServeSet:
    """A :class:`DriverServeSet` over ``table``'s rows, vectors and content
    (the same arrays, not a copy) plus the collected ``edges`` adjacency.
    The per-node norms are derived here exactly as :func:`_node_norm`
    computes the serve set's ``n`` column: the sequential fold, a
    correctly rounded sqrt, and cosine's zero-norm guard."""
    norms = np.sqrt(_fold_rows(table.vecs * table.vecs))
    if metric == "cosine":
        norms[norms == 0.0] = 1.0
    adj: dict = {}
    for e in edges.select("layer", "src", "dst").collect():
        adj.setdefault(e.layer, {}).setdefault(e.src, []).append(e.dst)
    return DriverServeSet(table.rows, table.vecs, norms, adj, table.content, int(nbytes))


def _fold_rows(prods: np.ndarray) -> np.ndarray:
    """Per-row sequential left fold from 0.0 — the ``aggregate(..., 0.0D,
    (acc, x) -> acc + x)`` order exactly (a BLAS dot reassociates)."""
    acc = np.zeros(prods.shape[0])
    for col in prods.T:
        acc += col
    return acc


_ROUND_CONTEXT = Context(prec=400)  # any double's digits + SCORE_DECIMALS
_SCORE_QUANTUM = Decimal(1).scaleb(-SCORE_DECIMALS)


def spark_round_score(x: float) -> float:
    """Spark's ``ROUND(x, SCORE_DECIMALS)`` on a double: HALF_UP on the
    JVM's decimal rendering of ``x`` (``BigDecimal.valueOf``), not Python's
    ``round()`` (half-even on the binary value). ``+ 0.0`` because a
    BigDecimal has no negative zero."""
    d = Decimal(repr(x)).quantize(_SCORE_QUANTUM, rounding=ROUND_HALF_UP, context=_ROUND_CONTEXT)
    return float(d) + 0.0


def ann_hnsw_driver_topk(
    serve: DriverServeSet,
    entry: object,
    question_vec: Sequence[float],
    k: int,
    ef: int = 48,
    metric: str = "cosine",
) -> list[tuple[int, object, float]] | None:
    """The one-query :func:`ann_hnsw_prepared_sql` descent (no
    ``exclude_self``, no ``allowed_view``) run in-process over a
    :class:`DriverServeSet`: ``(rank, node, score)`` rows equal to the
    SQL's ``(rank, neighbor_id, score)``. ``None`` when the query has no
    in-process twin — its float32 cast overflows, or its width differs
    from the vectors' (the SQL pads those with NULLs) — so the caller
    serves it with the SQL descent."""
    if metric not in GRAPH_METRICS:
        raise ValueError(f"unknown metric {metric!r}; one of {sorted(GRAPH_METRICS)}")
    with np.errstate(over="ignore"):
        q = np.array(validate_query_vector(question_vec), dtype=np.float32).astype(np.float64)
    if not np.isfinite(q).all() or (serve.rows and q.size != serve.vecs.shape[1]):
        return None
    qn = math.sqrt(_fold_rows((q * q)[None, :])[0])
    if metric == "cosine" and qn == 0.0:
        qn = 1.0
    higher = GRAPH_METRICS[metric]

    def ranked(cand: set) -> list[tuple[float, object]]:
        # the scoring join drops candidates missing from the node set
        present = [c for c in cand if c in serve.rows]
        if not present:
            return []
        idx = np.fromiter((serve.rows[c] for c in present), dtype=np.intp, count=len(present))
        d = _fold_rows(serve.vecs[idx] * q)
        n = serve.norms[idx]
        if metric == "cosine":
            s = d / (qn * n)
        elif metric == "dot":
            s = d
        else:
            inner = (qn * qn + n * n) - 2.0 * d
            s = np.sqrt(np.where(inner < 0.0, 0.0, inner))
        scored = list(zip(s.tolist(), present))
        scored.sort(key=(lambda p: (-p[0], p[1])) if higher else None)
        return scored

    keep = max(int(ef), 0)
    top = serve.adj.get(_HOP_LAYERS[0], {})
    beam = [node for _, node in ranked(set(top.get(entry, ())) | {entry})[:keep]]
    for layer in _HOP_LAYERS[1:]:
        adj = serve.adj.get(layer, {})
        cand = set(beam)
        for node in beam:
            cand.update(adj.get(node, ()))
        beam = [node for _, node in ranked(cand)[:keep]]
    final = ranked(set(beam))[: max(int(k), 0)]
    return [(rank, node, spark_round_score(s)) for rank, (s, node) in enumerate(final, 1)]


def hnsw_repair(
    new_vecs: DataFrame,
    old_vecs: DataFrame,
    edges: DataFrame,
    entry: object,
    top_layer: int,
    m: int = 12,
    ef: int = 48,
    id_col: str = "id",
    emb_col: str = "embedding",
    metric: str = "cosine",
) -> tuple[DataFrame, dict]:
    """Incremental graph repair for an append-only grown corpus — the batch
    form of the HNSW insert, so a mutated collection serves again without
    a rebuild:

    * **Search phase**: every new node beam-descends the FROZEN graph for
      its ``ef`` nearest old nodes (:func:`ann_hnsw_topk`; batch × hops).
    * **Batch-internal candidates**: hash-block pairs among the new nodes
      (block ≈ :data:`HNSW_BLOCK_CAP`), so near new vectors interconnect.
    * **Connect phase**: a new node at level ``L`` (the build's sha draw)
      links at every layer ``l ≤ L`` to its top-``m`` candidates living at
      layer ``≥ l``, symmetrized — the reverse old→new links make it
      reachable. Old neighbor lists are NOT re-pruned (degree can exceed
      ``2m`` by one batch's reverse links; a rebuild restores it).

    Returns ``(new_edges, meta)``: edges to APPEND (each touches a new
    node) and the possibly updated ``{"entry", "top_layer"}`` (levels are
    capped at 2, matching the build)."""
    new_nodes = (
        hnsw_levels(
            new_vecs.select(F.col(id_col).alias("node"), F.col(emb_col).alias("v")),
            id_col="node",
        )
        .withColumn("n", _node_norm(F.col("v"), metric))
        .localCheckpoint(eager=True)
    )
    old_nodes = hnsw_levels(
        old_vecs.select(F.col(id_col).alias("node"), F.col(emb_col).alias("v")),
        id_col="node",
    ).withColumn("n", _node_norm(F.col("v"), metric))
    # feeds the connect-phase scoring joins (levels of OLD candidates are
    # re-derived from the same sha draw — no persisted level state needed)
    all_nodes = old_nodes.unionByName(new_nodes).localCheckpoint(eager=True)

    beam = ann_hnsw_topk(
        new_vecs, old_vecs, edges, entry, k=ef, ef=ef,
        id_col=id_col, emb_col=emb_col, exclude_self=False, metric=metric,
    ).select(F.col("query_id").alias("src"), F.col("neighbor_id").alias("dst"))

    n_new = new_nodes.count()
    # ceil, matching the build's sliver math: floor would leave any batch
    # under 2*CAP rows in ONE all-pairs block (~4x the intended pair budget)
    buckets = max(1, -(-n_new // HNSW_BLOCK_CAP))
    keyed = new_nodes.select("node", (F.col("hx") % buckets).alias("_blk"))
    batch_pairs = (
        keyed.select(F.col("node").alias("src"), "_blk")
        .join(keyed.select(F.col("node").alias("dst"), "_blk"), "_blk")
        .where(F.col("src") != F.col("dst"))
        .select("src", "dst")
    )

    cand = beam.union(batch_pairs).distinct()
    scored = (
        cand.join(
            all_nodes.select(
                F.col("node").alias("src"), F.col("v").alias("_av"),
                F.col("n").alias("_an"), F.col("level").alias("_sl"),
            ),
            "src",
        )
        .join(
            all_nodes.select(
                F.col("node").alias("dst"), F.col("v").alias("_bv"),
                F.col("n").alias("_bn"), F.col("level").alias("_dl"),
            ),
            "dst",
        )
        .withColumn(
            "_sm",
            _pair_score(metric, F.col("_av"), F.col("_an"), F.col("_bv"), F.col("_bn")),
        )
        .localCheckpoint(eager=True)  # feeds the three per-layer windows
    )
    out = None
    for layer in range(3):
        el = scored.where((F.col("_sl") >= layer) & (F.col("_dl") >= layer))
        w = Window.partitionBy("src").orderBy(*_score_order(metric, F.col("_sm"), F.col("dst")))
        top = (
            el.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= m)
            .select("src", "dst")
        )
        tagged = _symmetrize(top).select(F.lit(layer).alias("layer"), "src", "dst")
        out = tagged if out is None else out.union(tagged)

    new_top = new_nodes.agg(F.max("level").alias("l")).first().l
    if new_top is not None and int(new_top) > int(top_layer):
        # the old corpus has no node at this level (its top was lower), so
        # the build's "smallest id on the highest occupied level" rule
        # resolves within the batch
        entry = new_nodes.where(F.col("level") == new_top).agg(
            F.min("node").alias("e")
        ).first().e
        top_layer = int(new_top)
    return out, {"entry": entry, "top_layer": int(top_layer)}


def ann_filtered_topk_routed(
    queries: DataFrame,
    corpus: DataFrame | None,
    edges: DataFrame | None,
    entry: object,
    allowed: DataFrame,
    k: int,
    ef: int = 48,
    id_col: str = "id",
    emb_col: str = "embedding",
    exclude_self: bool = True,
    selectivity_threshold: float = 0.25,
    n_total: int | None = None,
    metric: str = "cosine",
    serve_set: ServeSet | Callable[[], ServeSet] | None = None,
) -> tuple[DataFrame, str]:
    """Selectivity-routed filtered ANN — the composition qdrant's query
    planner performs for filter+vector queries (its cardinality estimator
    picks a filtered exact scan or the HNSW traversal;
    ``vector_mcp/vectordb/qdrant.py`` delegates to it): a SELECTIVE
    predicate (|allowed| / |corpus| below the threshold) pre-filters and
    exact-ranks, so the true top-k of the allowed set comes back; a BROAD
    one beam-searches the graph and post-filters the final beam, at a
    traversal cost independent of the filter.

    Returns ``(result, regime)``, regime ``"exact"`` or ``"graph"``; both
    emit :func:`ann_hnsw_topk`'s shape. The estimate costs one count of
    the ``allowed`` side; callers that know the corpus cardinality (the
    engine's index manifest) pass ``n_total`` instead of paying
    ``corpus.count()`` per query. A zero-argument ``serve_set`` is called
    only when the graph regime is chosen. At 100 TB the exact branch
    broadcasts the bounded query batch against the FILTERED corpus scan,
    and the graph branch touches only beam-frontier edge partitions."""
    n_total = corpus.count() if n_total is None else int(n_total)
    n_allowed = allowed.count()
    sel = (n_allowed / n_total) if n_total else 0.0
    if sel >= selectivity_threshold:
        return (
            ann_hnsw_topk(
                queries, corpus, edges, entry, k=k, ef=ef, id_col=id_col,
                emb_col=emb_col, exclude_self=exclude_self, allowed=allowed,
                metric=metric, serve_set=serve_set() if callable(serve_set) else serve_set,
            ),
            "graph",
        )
    # no broadcast hint (same reasoning as the graph branch): even the
    # selective regime's allowed set scales with the corpus, only its
    # FRACTION is bounded; AQE broadcasts it when it is actually small
    allowed_ids = allowed.select(F.col(allowed.columns[0]).alias("node")).distinct()
    # the serve set's nodes frame carries exactly the (node, v, n) this
    # branch would project — reuse it so the exact regime also skips the
    # corpus re-projection (identical values by construction)
    base_nodes = (
        serve_set.nodes
        if isinstance(serve_set, ServeSet)
        else corpus.select(
            F.col(id_col).alias("node"),
            F.col(emb_col).alias("v"),
            _node_norm(F.col(emb_col), metric).alias("n"),
        )
    )
    nodes = base_nodes.join(allowed_ids, "node", "left_semi")
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(emb_col).alias("qv"),
        _node_norm(F.col(emb_col), metric).alias("qn"),
    )
    # bounded broadcast cross join: |queries| ≤ the caller's batch, never
    # corpus-sized — the same shape as semantic_topk_multi's scorer
    scored = nodes.join(F.broadcast(q)).withColumn(
        "_sm", _pair_score(metric, F.col("qv"), F.col("qn"), F.col("v"), F.col("n"))
    )
    if exclude_self:
        scored = scored.where(F.col("query_id") != F.col("node"))
    w = Window.partitionBy("query_id").orderBy(*_score_order(metric, F.col("_sm"), F.col("node")))
    out = (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .select(
            "query_id",
            F.col("_rn").cast("int").alias("rank"),
            F.col("node").alias("neighbor_id"),
            F.round("_sm", SCORE_DECIMALS).alias("score"),
        )
    )
    return out, "exact"

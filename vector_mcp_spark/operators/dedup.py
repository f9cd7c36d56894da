"""Deduplication operators for LLM-training-data pipelines.

Beyond the reference's exact content-hash dedup
(``vector_mcp/vector_api.py:303-317,363-366``), this module adds the
near-dup family a 100 TB corpus pipeline needs: normalized-key dedup,
blocked n-gram Jaccard, MinHash+LSH banding, SimHash. All hash choices are
cross-engine deterministic (sha256 hex, lexicographic ``min`` as the MinHash
permutation) so every variant stays DuckDB-oracle-checkable.

Scale design:

- exact / normalized dedup: one hash-partitioned groupBy — the canonical
  map-side-combine aggregation; no row data moves, only (key, id).
- n-gram Jaccard: *blocked* self-join (block on cheap invariants such as
  language + length bucket) so candidate pairs are O(Σ block²), not O(N²).
- MinHash LSH: signatures are a single explode+groupBy; candidate
  generation is an equi-join on (band, signature) — a shuffle join on a
  *small* key space instead of a cross join. Verification (exact Jaccard)
  touches only candidate pairs.
- SimHash: one aggregation per doc; near-dup = equality on band keys
  (hamming-adjacent lookups via band rotation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vector_mcp_spark.functions.expr import bind_once
from vector_mcp_spark.functions.text import tokens

JACCARD_DECIMALS = 6


def exact_dedup_groups(df: DataFrame, id_col: str = "id", content_col: str = "content") -> DataFrame:
    """Group identical content: (content_id, n_docs, kept_id) — kept_id is
    the minimum id (deterministic winner; the reference keeps the *last*
    writer within a batch, order-insensitive here)."""
    return (
        df.select(F.sha2(F.col(content_col), 256).alias("content_id"), F.col(id_col))
        .groupBy("content_id")
        .agg(F.count("*").alias("n_docs"), F.min(id_col).alias("kept_id"))
    )


def normalized_key_dedup(
    df: DataFrame, id_col: str = "id", content_col: str = "content", n_prefix_tokens: int = 2
) -> DataFrame:
    """Dedup on a normalized key (first N casefolded tokens) — the cheap
    'title/prefix' dedup pass. Returns (dedup_key, n_docs, kept_id)."""
    key = F.array_join(F.slice(tokens(F.col(content_col)), 1, n_prefix_tokens), " ")
    return (
        df.select(key.alias("dedup_key"), F.col(id_col))
        .groupBy("dedup_key")
        .agg(F.count("*").alias("n_docs"), F.min(id_col).alias("kept_id"))
    )


def _distinct_tokens(content_col: str) -> F.Column:
    return F.array_distinct(tokens(F.col(content_col)))


def _hash64(col) -> F.Column:
    """Reproducible 60-bit token hash (sha256 hex prefix → long). Jaccard
    over hashed distinct tokens equals Jaccard over the tokens themselves
    (collisions vanish at 2^-60), while long-array intersection is several
    times cheaper than string-array intersection in the verify hot loop."""
    return F.conv(F.substring(F.sha2(col, 256), 1, 15), 16, 10).cast("long")


def _hashed_token_sets(
    df: DataFrame, id_col: str, toks_expr: F.Column, out_id: str, out_toks: str, out_n: str
) -> DataFrame:
    hashed = F.transform(toks_expr, _hash64)
    return df.select(
        F.col(id_col).alias(out_id), hashed.alias(out_toks), F.size(hashed).alias(out_n)
    )


def _jaccard_verify(pairs: DataFrame, threshold: float) -> DataFrame:
    """(…, toks_a, na, toks_b, nb) → (id_a, id_b, jaccard ≥ threshold).
    The size-ratio prefilter min/max ≥ t is implied by J ≥ t, so it never
    changes results — it just skips the intersection for hopeless pairs."""
    sized = pairs.where(
        F.try_divide(F.least("na", "nb").cast("double"), F.greatest("na", "nb"))
        >= F.lit(threshold) - 1e-6
    )
    inter = F.size(F.array_intersect(F.col("toks_a"), F.col("toks_b")))
    union = F.col("na") + F.col("nb") - inter
    # try_divide: two empty token sets give union 0 → NULL jaccard → dropped
    # by the threshold predicate (DuckDB division by zero is NULL too)
    return (
        sized.withColumn("jaccard", F.round(F.try_divide(inter.cast("double"), union), JACCARD_DECIMALS))
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# canonical definition in operators.partition; re-exported here because the
# dedup family established the pattern and callers/tests import it from here
from vector_mcp_spark.operators.partition import spread as _spread  # noqa: E402


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "id",
    content_col: str = "content",
    block_cols: tuple[str, ...] = (),
    ngram: int = 1,
) -> DataFrame:
    """Blocked exact Jaccard near-dup pairs: (id_a, id_b, jaccard).

    Jaccard over distinct token n-grams. ``block_cols`` restrict the
    self-join to same-block pairs (candidate blocking), making the operator
    O(Σ block²) instead of O(N²) — at 100 TB, blocking on cheap invariants
    is what keeps this runnable.

    Considered and measured: AllPairs/PPJoin prefix filtering (equi-join on
    the |s|−⌈t·|s|⌉+1 rarest tokens) is lossless and improves the *scaling
    exponent* (10×-corpus probe: 11.2× → 5.1× wall-clock ratio) but ran
    ~4× slower in absolute terms at both probe sizes on this corpus — its
    ~40-word vocabulary means no prefix token is rare, so candidate fan-out
    exceeds the block-pair count that the exact-dup collapse already
    bounds. For Zipfian real-corpus vocabularies, a frequency-ascending
    prefix index on top of ``_ngram_set_graph`` is the extension point.
    """
    groups, ver = _ngram_set_graph(
        df, _gram_sets(content_col, ngram), threshold, id_col, block_cols
    )
    cross = (
        ver.select(F.explode("id_a").alias("a"), "id_b", "jaccard")
        .select("a", F.explode("id_b").alias("b"), "jaccard")
        .select(F.least("a", "b").alias("id_a"), F.greatest("a", "b").alias("id_b"), "jaccard")
    )
    within = (
        groups.where((F.size("_ids") >= 2) & (F.col("_n") > 0))
        .select(F.explode("_ids").alias("id_a"), "_ids")
        .select("id_a", F.explode("_ids").alias("id_b"))
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("jaccard", F.lit(1.0))
    )
    return cross.unionByName(within.select("id_a", "id_b", "jaccard"))


def _gram_sets(content_col: str, ngram: int) -> F.Column:
    """Distinct token n-gram set of a text column (ngram=1 → token set)."""
    if ngram <= 1:
        return _distinct_tokens(content_col)

    # guard: a doc with < ngram tokens yields an EMPTY gram set — an
    # unguarded sequence(0, -1) = [0, -1] makes slice() raise and one
    # short doc would abort the whole job
    def _build(joined: F.Column) -> F.Column:
        grams = F.when(
            F.size(joined) >= ngram,
            F.transform(
                F.sequence(F.lit(0), F.size(joined) - ngram),
                lambda i: F.array_join(F.slice(joined, i + 1, ngram), " "),
            ),
        ).otherwise(F.array().cast("array<string>"))
        return F.array_distinct(grams)

    # bind_once: an inline tokens() here would re-run the tokenizer regexp
    # for EVERY gram inside the transform lambda (measured 10× slower)
    return bind_once(tokens(F.col(content_col)), _build)


def _ngram_set_graph(
    df: DataFrame,
    toks: F.Column,
    threshold: float,
    id_col: str,
    block_cols: tuple[str, ...],
) -> tuple[DataFrame, DataFrame]:
    """The set-level near-dup graph behind the blocked Jaccard operators.

    Exact-dup collapse (same move as minhash_lsh_pairs): docs sharing a
    (block, gram-set) are jaccard-interchangeable — verify once per unique
    set pair. A cluster of m exact copies costs O(m) instead of m²/2 verify
    intersections. Returns:

    * ``groups``: one row per unique (block, set) — (``_node`` globally
      unique group id, ``_ids`` member doc ids, ``_n`` set size)
    * ``ver``: verified set pairs ≥ threshold — (``node_a``, ``node_b``,
      ``id_a``/``id_b`` member arrays, ``jaccard``). Empty sets never pair
      (the oracle's 0/0 division is NULL and drops them).
    """
    hashed = F.transform(F.array_sort(toks), _hash64)
    # _spread: the gram/tokenize/hash map stage must not be pinned to one
    # scan partition (single parquet file locally)
    base = _spread(df).select(
        F.col(id_col).alias("_id"), *block_cols, hashed.alias("_toks"), F.size(hashed).alias("_n")
    )
    # the grouping key spans block AND set: the same token set in two blocks
    # must be two distinct graph nodes (the oracle never pairs across
    # blocks). The NODE id is the group's min member doc id — numeric
    # (narrow CC shuffles, vs 64-char sha keys) and unique (each doc belongs
    # to exactly one group), and a component's min node = the component's
    # min doc id, so CC labels come out directly in cluster_id space.
    key = F.sha2(
        F.concat_ws(
            "\x1f", *[F.col(c).cast("string") for c in block_cols],
            F.lit("\x1e"), F.concat_ws("\x1f", F.col("_toks").cast("array<string>")),
        ),
        256,
    )
    groups = (
        base.withColumn("_key", key)
        .groupBy(*block_cols, "_key")
        .agg(F.collect_list("_id").alias("_ids"), F.first("_toks").alias("_toks"), F.first("_n").alias("_n"))
        .withColumn("_node", F.array_min("_ids"))
        # referenced by BOTH self-join sides plus the membership expansion —
        # broadcast builds re-ran the whole tokenize+groupBy per reference
        # without a leaf here (r13; see minhash_lsh_pairs)
        .localCheckpoint(eager=True)
    )
    a = groups.select(
        F.col("_node").alias("node_a"), F.col("_ids").alias("id_a"),
        F.col("_toks").alias("toks_a"), F.col("_n").alias("na"),
        *[F.col(c).alias(f"_ba_{c}") for c in block_cols],
    )
    b = groups.select(
        F.col("_node").alias("node_b"), F.col("_ids").alias("id_b"),
        F.col("_toks").alias("toks_b"), F.col("_n").alias("nb"),
        *[F.col(c).alias(f"_bb_{c}") for c in block_cols],
    )
    cond = F.col("node_a") < F.col("node_b")
    for c in block_cols:
        cond = cond & (F.col(f"_ba_{c}") == F.col(f"_bb_{c}"))
    joined = a.join(b, cond)
    sized = joined.where(
        F.try_divide(F.least("na", "nb").cast("double"), F.greatest("na", "nb"))
        >= F.lit(threshold) - 1e-6
    )
    inter = F.size(F.array_intersect(F.col("toks_a"), F.col("toks_b")))
    union = F.col("na") + F.col("nb") - inter
    ver = (
        sized.withColumn(
            "jaccard", F.round(F.try_divide(inter.cast("double"), union), JACCARD_DECIMALS)
        )
        .where(F.col("jaccard") >= threshold)
        .select("node_a", "node_b", "id_a", "id_b", "jaccard")
    )
    return groups, ver


def minhash_signature_array(
    df: DataFrame,
    id_col: str = "id",
    content_col: str = "content",
    num_hashes: int = 16,
) -> DataFrame:
    """MinHash signature per document as one array column: (id, sigs) with
    ``sigs[p]`` = min over tokens of the p-th 8-hex-char chunk of
    ``sha256(tok || '|0') || sha256(tok || '|1') || …``.

    The 'permutation' family is hash-chunking: ONE wide digest per token
    (⌈P/8⌉ sha256 calls, each yielding eight independent 32-bit chunks)
    instead of P per-permutation hashes — 8× less hashing for the same
    uniform-chunk statistics, with the *lexicographic minimum* over hex as
    the min-hash so ANSI SQL replays it exactly (min over substrings),
    unlike murmur-based MLlib MinHashLSH.

    Shape chosen for codegen: tokens explode narrowly (no shuffle), the
    chunk substrings are plain columns under min() aggregates —
    whole-stage-codegen'd with map-side partial min, so only (id, P chunks)
    per group ever crosses the one shuffle. (A nested higher-order-function
    formulation avoids the explode but runs interpreted — measured ~2×
    slower.) Docs with no tokens yield no row.
    """
    n_digests = -(-num_hashes // 8)  # 8 chunks of 8 hex chars per digest
    wide = F.concat(
        *[F.sha2(F.concat(F.col("tok"), F.lit(f"|{d}")), 256) for d in range(n_digests)]
    )
    toks = (
        _spread(df.select(F.col(id_col).alias("id"), F.col(content_col)))
        .select("id", F.explode(_distinct_tokens(content_col)).alias("tok"))
        .select("id", wide.alias("_wide"))
    )
    mins = [
        F.min(F.substring(F.col("_wide"), 8 * p + 1, 8)).alias(f"_h{p}")
        for p in range(num_hashes)
    ]
    aggd = toks.groupBy("id").agg(*mins)
    return aggd.select(
        "id", F.array(*[F.col(f"_h{p}") for p in range(num_hashes)]).alias("sigs")
    )


def _band_sigs(sigs_col, bands: int, rows_per_band: int):
    """Per-band signature strings from the signature array (array of
    '|'-joined row slices — identical to string_agg ordered by p)."""
    return F.array(
        *[
            F.array_join(F.slice(sigs_col, b * rows_per_band + 1, rows_per_band), "|")
            for b in range(bands)
        ]
    )


def minhash_lsh_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "id",
    content_col: str = "content",
    num_hashes: int = 16,
    bands: int = 2,
) -> DataFrame:
    """MinHash-LSH near-dup: candidates from band collisions, verified by
    exact Jaccard ≥ threshold. Returns (id_a, id_b, jaccard).

    Exact-dup collapse first: docs sharing a distinct-token SET are
    jaccard-interchangeable, so the LSH (signature → band join → verify)
    runs over UNIQUE sets only and verified set-pairs expand back to doc
    pairs at the end; within-set pairs are jaccard = 1 by construction, no
    intersection computed. Web-scale corpora are dominated by exact-dup
    clusters — a cluster of m copies would otherwise inject m²/2 candidate
    pairs into the verify stage (measured 2.1M → 0.6M candidates at sf0.1).
    Identical sets have identical signatures, hence identical band keys, so
    the expanded output is EXACTLY the per-doc banding result the SQL
    oracle computes.
    """
    rows_per_band = num_hashes // bands
    # group by canonical token set (sorted, \x1f-joined, hashed); _spread so
    # the tokenize+sort+sha map stage isn't pinned to one scan partition
    base = _spread(df.select(F.col(id_col).alias("_id"), F.col(content_col))).select(
        "_id", F.array_sort(_distinct_tokens(content_col)).alias("_toks")
    ).where(F.size("_toks") > 0)
    groups = (
        base.withColumn("_key", F.sha2(F.concat_ws("\x1f", F.col("_toks")), 256))
        .groupBy("_key")
        .agg(F.collect_list("_id").alias("_ids"), F.first("_toks").alias("_toks"))
        # six downstream branches re-derive this chain; ReuseExchange does
        # NOT cover them because the small self-join sides plan as BROADCAST
        # builds (no shuffle exchange node to reuse) — without a leaf here
        # the tokenize+groupBy ran once per branch (r13: measured 2× on the
        # band self-join alone; the checkpoint is the standard working-set
        # materialization the CC/graph operators already use)
        .localCheckpoint(eager=True)
    )
    # signatures over unique sets (chunked wide digests, same family as
    # minhash_signature_array — the oracle replays this per doc)
    n_digests = -(-num_hashes // 8)
    wide = F.concat(
        *[F.sha2(F.concat(F.col("tok"), F.lit(f"|{d}")), 256) for d in range(n_digests)]
    )
    ex = groups.select("_key", F.explode("_toks").alias("tok")).select(
        "_key", wide.alias("_wide")
    )
    mins = [
        F.min(F.substring(F.col("_wide"), 8 * p + 1, 8)).alias(f"_h{p}")
        for p in range(num_hashes)
    ]
    sigs = ex.groupBy("_key").agg(*mins).select(
        "_key", F.array(*[F.col(f"_h{p}") for p in range(num_hashes)]).alias("sigs")
    )
    banded = sigs.select(
        "_key", F.posexplode(_band_sigs(F.col("sigs"), bands, rows_per_band)).alias("band", "sig")
    ).localCheckpoint(eager=True)  # both self-join sides read it (see groups)
    cands = (
        banded.select(F.col("_key").alias("ka"), "band", "sig")
        .join(banded.select(F.col("_key").alias("kb"), "band", "sig"), ["band", "sig"])
        .where(F.col("ka") < F.col("kb"))
        .select("ka", "kb")
        .distinct()
    )
    hashed = groups.select(
        "_key",
        F.transform(F.col("_toks"), _hash64).alias("_htoks"),
        F.size("_toks").alias("_n"),
        "_ids",
    )
    ver = _jaccard_verify(
        cands.join(
            hashed.select(
                F.col("_key").alias("ka"), F.col("_htoks").alias("toks_a"),
                F.col("_n").alias("na"), F.col("_ids").alias("_ids_a"),
            ),
            "ka",
        )
        .join(
            hashed.select(
                F.col("_key").alias("kb"), F.col("_htoks").alias("toks_b"),
                F.col("_n").alias("nb"), F.col("_ids").alias("_ids_b"),
            ),
            "kb",
        )
        .withColumn("id_a", F.col("_ids_a"))
        .withColumn("id_b", F.col("_ids_b")),
        threshold,
    )
    # expand verified set-pairs to doc pairs (cost ∝ output size)
    cross = (
        ver.select(F.explode("id_a").alias("a"), "id_b", "jaccard")
        .select("a", F.explode("id_b").alias("b"), "jaccard")
        .select(
            F.least("a", "b").alias("id_a"), F.greatest("a", "b").alias("id_b"), "jaccard"
        )
    )
    within = (
        groups.where(F.size("_ids") >= 2)
        .select(F.explode("_ids").alias("id_a"), "_ids")
        .select("id_a", F.explode("_ids").alias("id_b"))
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("jaccard", F.lit(1.0))
    )
    return cross.unionByName(within.select("id_a", "id_b", "jaccard"))


def incremental_near_dup(
    incoming: DataFrame,
    corpus: DataFrame,
    threshold: float,
    id_col: str = "id",
    content_col: str = "content",
    num_hashes: int = 16,
    bands: int = 2,
) -> DataFrame:
    """Near-dup screen of an incoming batch AGAINST an existing corpus —
    the steady-state ingest path. Candidates come from CROSS-TABLE band
    collisions (incoming band signatures equi-join corpus band signatures),
    so the corpus is never self-joined: a daily drop dedups against a
    100 TB collection at O(|batch| signatures + collisions). Returns
    (in_id, corpus_id, jaccard ≥ threshold), exact-verified.

    At scale the corpus side of this join is a precomputed signature table
    partitioned by (band, sig) — build it once with
    ``minhash_signature_array`` at ingest and this screen touches only the
    colliding partitions; here both sides derive inline.

    Like ``minhash_lsh_pairs``, candidates run at SET level: each side
    collapses to unique token sets first, band/verify work is per
    set-PAIR, and doc pairs expand only at the end. Web corpora are
    dominated by exact-dup clusters — without the collapse, m incoming
    copies × n corpus copies of one page inject m·n of everything
    (measured 93× wall at a 10× duplicated corpus; ~6× with it).
    """
    rows_per_band = num_hashes // bands
    n_digests = -(-num_hashes // 8)

    def _set_groups(df: DataFrame) -> DataFrame:
        base = _spread(df.select("_side", F.col(id_col).alias("_id"), F.col(content_col))).select(
            "_side", "_id", F.array_sort(_distinct_tokens(content_col)).alias("_toks")
        ).where(F.size("_toks") > 0)
        return (
            base.withColumn("_key", F.sha2(F.concat_ws("\x1f", F.col("_toks")), 256))
            # side rides in the group key, so each side's collapse is
            # exactly what two separate passes produced — but tokenize/
            # shuffle/checkpoint run ONCE over the union instead of once
            # per side (r13: one spread + one eager materialization job
            # instead of two; the sides are disjoint filters of one scan
            # in the steady-state caller)
            .groupBy("_side", "_key")
            .agg(F.collect_list("_id").alias("_ids"), F.first("_toks").alias("_toks"))
            # three references each (banding, verify toks, expansion) —
            # broadcast builds re-ran the chain per reference (r13; see
            # minhash_lsh_pairs)
            .localCheckpoint(eager=True)
        )

    def _set_banded(groups: DataFrame) -> DataFrame:
        wide = F.concat(
            *[F.sha2(F.concat(F.col("tok"), F.lit(f"|{d}")), 256) for d in range(n_digests)]
        )
        ex = groups.select("_key", F.explode("_toks").alias("tok")).select(
            "_key", wide.alias("_wide")
        )
        mins = [
            F.min(F.substring(F.col("_wide"), 8 * p + 1, 8)).alias(f"_h{p}")
            for p in range(num_hashes)
        ]
        sigs = ex.groupBy("_key").agg(*mins).select(
            "_key",
            F.array(*[F.col(f"_h{p}") for p in range(num_hashes)]).alias("sigs"),
        )
        return sigs.select(
            "_key",
            F.posexplode(_band_sigs(F.col("sigs"), bands, rows_per_band)).alias(
                "band", "sig"
            ),
        )

    tagged = incoming.select(
        F.lit("a").alias("_side"), F.col(id_col), F.col(content_col)
    ).unionByName(
        corpus.select(F.lit("b").alias("_side"), F.col(id_col), F.col(content_col))
    )
    groups = _set_groups(tagged)
    ga = groups.where(F.col("_side") == "a").drop("_side")
    gb = groups.where(F.col("_side") == "b").drop("_side")
    cands = (
        _set_banded(ga).select(F.col("_key").alias("id_a"), "band", "sig")
        .join(_set_banded(gb).select(F.col("_key").alias("id_b"), "band", "sig"), ["band", "sig"])
        .select("id_a", "id_b")
        .distinct()
    )
    hash_toks = F.transform(F.col("_toks"), _hash64)
    ta = ga.select(
        F.col("_key").alias("id_a"), hash_toks.alias("toks_a"), F.size("_toks").alias("na")
    )
    tb = gb.select(
        F.col("_key").alias("id_b"), hash_toks.alias("toks_b"), F.size("_toks").alias("nb")
    )
    verified = _jaccard_verify(cands.join(ta, "id_a").join(tb, "id_b"), threshold)
    return (
        verified.join(ga.select(F.col("_key").alias("id_a"), F.col("_ids").alias("_ids_a")), "id_a")
        .join(gb.select(F.col("_key").alias("id_b"), F.col("_ids").alias("_ids_b")), "id_b")
        .select(
            F.explode("_ids_a").alias("in_id"),
            F.col("_ids_b").alias("_ids_b"),
            "jaccard",
        )
        .select(F.col("in_id"), F.explode("_ids_b").alias("corpus_id"), "jaccard")
    )


def simhash(df: DataFrame, id_col: str = "id", content_col: str = "content", bits: int = 32) -> DataFrame:
    """SimHash fingerprint per doc: (id, simhash long).

    Token hash = first 8 hex chars of sha256 (32 bits, cross-engine
    reproducible); bit b of the fingerprint is 1 iff the tf-weighted sum of
    (bit_b ? +1 : −1) over tokens is positive (iterating the full token
    list weights each distinct token by its tf).

    Map-side only: per row, token list → 32-bit hash array (sha256 once per
    token occurrence) → per-bit signed sums via ``aggregate`` — a pure
    projection, no explode/shuffle, so at scale the pass is scan-bound.
    (An explode + 32-conditional-sum groupBy formulation is codegen'd but
    its shuffles measured slower end-to-end.)
    """
    hashes = F.transform(
        tokens(F.col(content_col)),
        lambda t: F.conv(F.substring(F.sha2(t, 256), 1, 8), 16, 10).cast("long"),
    )
    hashed = _spread(df.select(F.col(id_col).alias("id"), F.col(content_col))).select(
        "id", hashes.alias("_h")
    )

    def _signed_sum(b: int):
        def merge(a, h):
            return a + F.when(
                F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, F.lit(1)
            ).otherwise(F.lit(-1))

        return F.aggregate(F.col("_h"), F.lit(0), merge)

    terms = [
        F.when(_signed_sum(b) > 0, F.lit(2**b).cast("long")).otherwise(F.lit(0).cast("long"))
        for b in range(bits)
    ]
    fingerprint = terms[0]
    for t in terms[1:]:
        fingerprint = fingerprint + t
    return hashed.select("id", fingerprint.alias("simhash"))


def near_dup_clusters(
    pairs: DataFrame,
    nodes: DataFrame,
    id_col: str = "id",
    max_rounds: int = 15,
    stats: dict | None = None,
    pairs_unique: bool = False,
    nodes_unique: bool = False,
) -> DataFrame:
    """Connected components over near-dup ``pairs`` → (id, cluster_id,
    is_canonical). ``cluster_id`` is the minimum id in the component —
    the canonical representative a curation pipeline keeps
    (``docs.join(clusters).where("is_canonical")``); every node in
    ``nodes`` appears (singletons cluster with themselves).

    The missing last step of the dedup family: minhash/jaccard emit PAIRS,
    but keep-one-per-group needs transitive closure. Algorithm: iterative
    min-label propagation WITH graph contraction — each round every node
    adopts the min label among itself and its neighbors, then edges are
    re-expressed over current labels (path compression), so chains collapse
    in O(log diameter) rounds, not O(diameter). Each round is two
    pairs-sized shuffles; round frames are pinned (persist + materialize)
    so planning stays flat and join strategies come from REAL sizes. At
    100 TB the pair graph is the small output of blocked/banded candidate
    generation — components are tiny (dup groups), so rounds stay low and
    the fixpoint check exits early.
    """

    # A checkpoint leaf (LogicalRDD) advertises NO size statistics, so
    # every per-round join planned sort-merge first and AQE materialized
    # shuffle stages for BOTH sides before flipping to broadcast at
    # runtime — ~8 sunk stage-jobs per round shuffling frames the final
    # plan never reshuffles. pin_counted() therefore counts each
    # checkpointed frame (one trivial job over the already-cached
    # partitions; for edges it doubles as the fixpoint probe) and the
    # round hints broadcast ONLY when the MEASURED size fits the session's
    # own autoBroadcastJoinThreshold — at real scale, where labels/edges
    # outgrow it, no hint fires and the sort-merge shuffles are real work,
    # not waste. (A persist()-based variant that exposes stats to the
    # planner directly was measured 6x WORSE here: unpersisting a round's
    # parents invalidates and recomputes dependent cache entries.)
    from vector_mcp_spark.operators.partition import bcast_if_fits, pin_counted

    _pin = pin_counted
    _maybe_bcast = bcast_if_fits

    e = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    edges = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    # min-propagation is duplicate-tolerant; the dedup exchange only pays for
    # itself when the caller's pair source can emit repeats. pairs_unique=True
    # (the blocked set-graph: one row per unique node pair by construction)
    # skips it (r13).
    if not pairs_unique:
        edges = edges.distinct()
    labels = nodes.select(F.col(id_col).alias("node"))
    # nodes_unique=True (the blocked set-graph: one group node per doc) skips
    # a full exchange+agg the caller proved redundant (r14)
    if not nodes_unique:
        labels = labels.distinct()
    labels = labels.withColumn("label", F.col("node"))
    edges, n_edges = _pin(edges)
    labels, n_labels = _pin(labels)
    rounds = 0
    for _ in range(max_rounds):
        # Propagation fixpoint = no inter-component edges left after
        # contraction: every remaining edge joins two distinct labels, so an
        # empty edge frame means no label can decrease further. The count
        # _pin() already took doubles as the probe — no extra job, and NOT
        # an N-sized join of old vs new labels. Label CHAINS may still be
        # un-compressed at that point (a node can point at a now-relabeled
        # intermediate); the compression loop below finishes those off.
        if n_edges == 0:
            break
        rounds += 1
        # Joins below are rename-free condition joins (r14): a
        # withColumnRenamed on a join input puts an aliasing Project above
        # the build side, so every reference broadcast the SAME frame under
        # a DIFFERENT canonical plan and the exchange-reuse cache never hit
        # — each tiny CC round paid 4-5 separate broadcast-build jobs.
        # Joining on qualified columns keeps every reference's plan
        # byte-canonical-equal, so one broadcast build serves them all
        # (and identical shuffle subtrees reuse likewise at cluster scale).
        lbl_b = _maybe_bcast(labels, n_labels)
        nbr_min = (
            edges.join(lbl_b, edges["dst"] == labels["node"])
            .groupBy("src")
            .agg(F.min("label").alias("nbr_min"))
        )
        new_labels = labels.join(
            _maybe_bcast(nbr_min, n_labels), labels["node"] == nbr_min["src"], "left"
        ).select(
            "node", F.least(F.col("label"), F.coalesce("nbr_min", "label")).alias("label")
        )
        # pointer jump (label ← label(label)): after contraction only
        # component representatives see edges, so non-reps must chase their
        # rep's newest label or they'd freeze one round behind
        m = new_labels
        new_labels = (
            m.alias("a")
            .join(_maybe_bcast(m.alias("b"), n_labels), F.col("a.label") == F.col("b.node"))
            .select(F.col("a.node").alias("node"), F.col("b.label").alias("label"))
        )
        new_labels, n_labels = _pin(new_labels)
        # contract: re-express edges over the labels found so far — the next
        # round propagates between components, not individual nodes.
        # no .distinct() on the contracted edges (r13): min-aggregation is
        # duplicate-tolerant, the multiset never GROWS (each edge maps 1:1,
        # self-loops drop), and the set-level collapse upstream already
        # bounds parallel-edge multiplicity — dropping the dedup removes a
        # full exchange per round for identical labels
        # (dataset aliases disambiguate the two references; SubqueryAlias
        # is stripped before plan canonicalization, so both references
        # still hash to ONE reusable broadcast build)
        relabeled = (
            edges.join(
                _maybe_bcast(new_labels.alias("_l1"), n_labels),
                edges["src"] == F.col("_l1.node"),
            )
            .select(F.col("_l1.label").alias("src"), edges["dst"])
        )
        edges, n_edges = _pin(
            relabeled.join(
                _maybe_bcast(new_labels.alias("_l2"), n_labels),
                relabeled["dst"] == F.col("_l2.node"),
            )
            .select(relabeled["src"], F.col("_l2.label").alias("dst"))
            .where(F.col("src") != F.col("dst"))
        )
        labels = new_labels
    # Final path compression: chase remaining label chains to their roots
    # (label values only ever decrease, so every chain ends at a self-labeled
    # component min; each jump halves chain depth → a couple of iterations).
    # The moved flag rides along in the same join, so the convergence check
    # is a trivial exchange-free take(1) over the pinned frame, not an
    # extra join.
    compress_rounds = 0
    for _ in range(max_rounds):
        compress_rounds += 1
        jumped, _n = _pin(
            labels.alias("a")
            .join(
                _maybe_bcast(labels.alias("b"), n_labels),
                F.col("a.label") == F.col("b.node"),
            )
            .select(
                F.col("a.node").alias("node"),
                F.col("b.label").alias("label"),
                (F.col("a.label") != F.col("b.label")).alias("__moved"),
            )
        )
        labels = jumped.select("node", "label")
        if jumped.where("__moved").isEmpty():
            break
    if stats is not None:
        # driver-side probe counters (tools/scale_probe.py deep): how many
        # propagation/compression rounds the fixpoint actually ran
        stats["rounds"] = rounds
        stats["compress_rounds"] = compress_rounds
    return labels.select(
        F.col("node").alias(id_col),
        F.col("label").alias("cluster_id"),
        (F.col("label") == F.col("node")).alias("is_canonical"),
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "id",
    content_col: str = "content",
    k: int = 3,
    w: int = 4,
) -> DataFrame:
    """Winnowed rolling k-gram fingerprints → one (id, fp) row per selected
    fingerprint (Schleimer/Wilkerson/Aiken, SIGMOD'03 winnowing — the MOSS
    algorithm; no counterpart in the reference, which stops at exact
    content-hash dedup, ``vector_mcp/vector_api.py:303-317``).

    Token k-grams are hashed with md5 (equal grams hash equal — the property
    rolling hashes exist to provide; md5 hex compares lexicographically the
    same in any engine, the MinHash-oracle trick) and every w-window keeps
    its MINIMUM hash, guaranteeing any match of length ≥ k + w − 1 tokens
    shares a fingerprint. Classic winnowing records (hash, position); for
    distributed near-dup the distinct hash SET per doc is what joins, so
    positions are dropped and tie-direction is moot.

    Scale shape: everything up to the final explode is per-row array math
    inside whole-stage codegen — zero shuffle, zero Python. The explode emits
    ≈ n_tokens/w rows per doc (the winnowing density guarantee 2/(w+1)),
    i.e. a ~w× reduction over shipping every shingle.
    """
    toks = tokens(F.col(content_col))
    base = (
        df.select(F.col(id_col), toks.alias("__toks"))
        # sequence(0, negative) would flip descending — too-short docs have
        # no full window and winnow to nothing, same as the oracle's WHERE
        .where(F.size("__toks") >= k + w - 1)
    )
    grams = F.transform(
        F.sequence(F.lit(0), F.size(F.col("__toks")) - k),
        lambda i: F.md5(F.concat_ws(" ", F.slice(F.col("__toks"), i + 1, k))),
    )
    with_g = base.select(id_col, grams.alias("__grams"))
    fps = F.transform(
        F.sequence(F.lit(0), F.size(F.col("__grams")) - w),
        lambda j: F.array_min(F.slice(F.col("__grams"), j + 1, w)),
    )
    return with_g.select(
        id_col, F.explode(F.array_distinct(fps)).alias("fp")
    )


def winnow_near_dup_pairs(
    df: DataFrame,
    id_col: str = "id",
    content_col: str = "content",
    k: int = 3,
    w: int = 4,
    min_shared: int = 2,
    max_df: int | None = None,
) -> DataFrame:
    """Near-dup candidate pairs by shared winnowed fingerprints:
    (id_a, id_b, n_shared) with id_a < id_b and n_shared ≥ ``min_shared``.

    ``max_df`` drops fingerprints occurring in more than that many docs
    (boilerplate/stop-shingles) BEFORE the self-join — the frequency cut
    that keeps the join ladder O(Σ df²) over rare fingerprints instead of
    exploding on corpus-wide templates. Both the cut and the join are
    equi-operations on the fp hash — never a cross join.
    """
    # _spread: the md5-per-gram + per-window-min map stage must not be pinned
    # to one scan partition; localCheckpoint: fps feeds THREE plan references
    # (the max_df cut and both self-join sides) and the fingerprint chain is
    # the expensive part — materialize it once (the standing multi-branch rule)
    fps = winnow_fingerprints(
        _spread(df), id_col=id_col, content_col=content_col, k=k, w=w
    ).localCheckpoint(eager=True)
    if max_df is not None:
        keep = fps.groupBy("fp").count().where(F.col("count") <= max_df).select("fp")
        fps = fps.join(keep, "fp")
    a = fps.select(F.col(id_col).alias("id_a"), "fp")
    b = fps.select(F.col(id_col).alias("id_b"), "fp")
    return (
        a.join(b, "fp")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def near_dup_clusters_blocked(
    df: DataFrame,
    threshold: float,
    id_col: str = "id",
    content_col: str = "content",
    block_cols: tuple[str, ...] = (),
    ngram: int = 1,
    max_rounds: int = 15,
) -> DataFrame:
    """End-to-end blocked-Jaccard near-dup clustering with the connected
    components computed at SET level: CC runs over unique (block, gram-set)
    nodes — never over expanded doc pairs — and group membership expands
    only at the end. Output is identical to
    ``near_dup_clusters(ngram_jaccard_pairs(df, …), df)`` (the m members of
    an exact-dup group hang off ONE graph node instead of contributing
    m²/2 edges to every CC round). Empty-set docs are singleton clusters
    (they never pair — the oracle's 0/0 jaccard is NULL).
    """
    groups, ver = _ngram_set_graph(
        df, _gram_sets(content_col, ngram), threshold, id_col, tuple(block_cols)
    )
    nonempty = groups.where(F.col("_n") > 0)
    # node ids are group-min doc ids, so the propagated min label IS the
    # component's min doc id — membership expansion is one join, no rep
    # re-derivation needed
    set_labels = near_dup_clusters(
        ver.select(F.col("node_a").alias("id_a"), F.col("node_b").alias("id_b")),
        nonempty.select("_node"),
        id_col="_node",
        max_rounds=max_rounds,
        # ver joins two unique-_node frames under node_a < node_b — each
        # unordered pair appears exactly once, so the CC entry dedup is waste
        pairs_unique=True,
        # _node = array_min over a partition of doc ids: one node per group
        # row, already unique — the CC-side distinct is a wasted exchange
        nodes_unique=True,
    )
    clustered = (
        set_labels.select("_node", "cluster_id")
        .join(nonempty.select("_node", "_ids"), "_node")
        .select(F.explode("_ids").alias(id_col), "cluster_id")
        .select(
            F.col(id_col),
            "cluster_id",
            (F.col(id_col) == F.col("cluster_id")).alias("is_canonical"),
        )
    )
    singletons = (
        groups.where(F.col("_n") == 0)
        .select(F.explode("_ids").alias(id_col))
        .select(
            F.col(id_col),
            F.col(id_col).alias("cluster_id"),
            F.lit(True).alias("is_canonical"),
        )
    )
    return clustered.unionByName(singletons)


def _prefix_sort_key(content_col: str, prefix_len: int = 12):
    """Order-preserving numeric key for the normalized text prefix:
    base-36 encoding of the first ``prefix_len`` [a-z0-9] chars ('0'-padded,
    36^12 < 2^63). Numeric so the distributed global_rank's
    percentile-approx split points work; both engines compute the same
    unrolled expression, so ranks agree exactly."""
    norm = F.rpad(
        F.regexp_replace(F.lower(F.coalesce(F.col(content_col), F.lit(""))), "[^a-z0-9]", ""),
        prefix_len,
        "0",
    )  # NULL content ranks as the empty string: a NULL key would surface as
    # a None bucket inside global_rank's offset dict and crash the driver
    acc = F.lit(0).cast("long")
    for i in range(prefix_len):
        ch = F.substring(norm, i + 1, 1)
        code = F.when(ch.between("0", "9"), F.ascii(ch) - 48).otherwise(F.ascii(ch) - 87)
        acc = acc * 36 + code
    return acc


def sorted_neighborhood_pairs(
    df: DataFrame,
    window: int = 10,
    threshold: float = 0.5,
    id_col: str = "id",
    content_col: str = "content",
    prefix_len: int = 12,
) -> DataFrame:
    """Sorted-neighborhood near-dup candidates (Hernández & Stolfo 1995,
    public): rank the corpus by a normalized-prefix sort key, compare each
    row only against the next ``window`` ranks, verify candidates by token
    Jaccard ≥ ``threshold``. Output (id_a, id_b, jaccard), ids canonical.

    The third blocking family next to hash blocks (ngram_jaccard) and LSH
    bands (minhash): candidates are O(N·window) by construction, and the
    global ordering comes from operators/rank.py global_rank — coarse
    percentile buckets + partitioned windows, never a single-task sort.
    The rank-adjacency self-join blocks on ``floor(rank/window)`` so each
    row joins at most two rank buckets."""
    if window < 1:
        raise ValueError(f"sorted_neighborhood_pairs: window must be >= 1, got {window}")
    from vector_mcp_spark.functions.text import tokens
    from vector_mcp_spark.operators.rank import global_rank

    base = df.select(
        F.col(id_col).alias("id"),
        _prefix_sort_key(content_col, prefix_len).alias("k"),
        F.array_distinct(tokens(content_col)).alias("toks"),
    )
    # ranked feeds BOTH sides of the self-join; checkpoint so the bucket +
    # window rank stage runs once, not twice (global_rank materializes its
    # input, not its output)
    ranked = (
        global_rank(base, "k", ["id"])
        .withColumn("bkt", F.floor((F.col("rank") - 1) / window))
        .localCheckpoint(eager=True)
    )
    # EQUI-join on the bucket key: the left side explodes into its own and
    # the next bucket, so every within-window pair meets on one key. An
    # `(b2 = b1) OR (b2 = b1 + 1)` condition would plan as a nested-loop
    # join — quadratic, the exact failure the 10× probe caught.
    r1 = ranked.select(
        F.col("id").alias("id1"), F.col("rank").alias("rk1"),
        F.col("toks").alias("t1"),
        F.explode(F.array(F.col("bkt"), F.col("bkt") + 1)).alias("jb"),
    )
    r2 = ranked.select(
        F.col("id").alias("id2"), F.col("rank").alias("rk2"),
        F.col("toks").alias("t2"), F.col("bkt").alias("jb"),
    )
    cand = r1.join(r2, "jb").where(
        (F.col("rk2") > F.col("rk1")) & (F.col("rk2") - F.col("rk1") <= window)
    )
    # verify on raw token arrays (not the _hashed_token_sets fast path) so
    # the oracle replays the identical lists; try_divide matches its x/0→NULL
    inter = F.size(F.array_intersect(F.col("t1"), F.col("t2")))
    union = F.size("t1") + F.size("t2") - inter
    jac = F.try_divide(inter.cast("double"), union)
    return (
        cand.select(
            F.least("id1", "id2").alias("id_a"),
            F.greatest("id1", "id2").alias("id_b"),
            F.round(jac, 6).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )

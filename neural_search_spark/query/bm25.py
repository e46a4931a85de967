"""BM25 top-k over the relational postings tables.

Scoring matches Lucene/OpenSearch BM25Similarity defaults, which score the
reference's lexical (term/match) sub-queries (exercised by
src/test/.../query/HybridQueryIT.java:138-145):

    idf(t)     = ln(1 + (N - df + 0.5) / (df + 0.5))
    score(d,q) = Σ_{t ∈ q ∩ d} w_q(t) · idf(t) · tf / (tf + k1·(1 - b + b·dl/avgdl))

with k1 = 1.2, b = 0.75.  Lucene ≥ 8 drops the classic (k1+1) numerator
constant (rank-preserving); we follow Lucene.  Divergence (documented):
Lucene quantizes dl to a 1-byte SmallFloat norm; our default mode keeps the
exact dl (see query/lucene_norms.py for the parity mode).

Tie-break: score desc, docID asc — reference
processor/combination/ScoreCombiner.java:37-50.

Every relational lexical path — single queries (bm25_score_all), batches
(batch.py), fused hybrid/dis_max sub-queries (hybrid.py) and fused bools
(boolquery.py) — scores through ONE primitive, `bm25_parts`: a term
relation (*keys, term, weight, *carry) joined with `term_stats` for
w_idf, one IN-list-pushed postings scan, per-posting `part` rows. Callers
keep only their aggregation, match filters and fusion; `per_key_topk` is
the shared two-level per-query/per-sub-query bound.

Plan shape (checked with .explain): exactly one postings scan carrying
PushedFilters: In(term, …); for a single query the term relation is a
literal-backed local relation broadcast into the postings join (never a
shuffle); final top-k compiles to TakeOrderedAndProject (bounded
per-partition heaps + driver merge — no global sort materialization).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from neural_search_spark import B, K1
from neural_search_spark.session import local_frame

# below this many distinct query terms, a DataFrame batch's term list is
# collected to the driver and pushed into the parquet scan as an IN-list
# (row-group skipping); above it the scan is a full pass — correct for huge
# query batches, where the batch's vocabulary approaches the corpus
# vocabulary anyway
MAX_INLIST_TERMS = 10_000


def idf_col(df_col, n_col) -> F.Column:
    return F.log(F.lit(1.0) + (n_col - df_col + F.lit(0.5)) / (df_col + F.lit(0.5)))


def bm25_score_col(tf, dl, avgdl) -> F.Column:
    """Per-(term, doc) score component excluding idf/weight."""
    return tf / (tf + F.lit(K1) * (F.lit(1.0) - F.lit(B) + F.lit(B) * dl / avgdl))


def query_terms_df(
    spark: SparkSession,
    terms: dict[str, float] | list[str],
    clause_counts: dict[str, int] | None = None,
) -> DataFrame:
    """Literal query terms → 1-row-per-term (term, weight, q_clauses)
    DataFrame (broadcastable).

    `clause_counts` records how many SHOULD clauses each distinct term
    stands for (a duplicated query term is multiple Lucene clauses); used
    by minimum_should_match accounting. Defaults to 1 per term.
    """
    counts = clause_counts or {}
    if isinstance(terms, dict):
        rows = [(t, float(terms[t]), int(counts.get(t, 1))) for t in sorted(terms)]
    else:
        rows = [(t, 1.0, int(counts.get(t, 1))) for t in sorted(set(terms))]
    return local_frame(spark, rows, "term string, weight double, q_clauses int")


def _inlist_pruned(table: DataFrame, queries: DataFrame, term_col: str = "term") -> DataFrame:
    """Push the batch's distinct terms into the scan as a literal IN-list
    when the vocabulary is small enough for row-group skipping (a broadcast
    join does not push build-side keys into the probe scan); above
    MAX_INLIST_TERMS the scan stays full — correct for huge batches whose
    vocabulary approaches the corpus vocabulary anyway."""
    distinct_terms = [
        r[term_col]
        for r in queries.select(term_col).distinct().limit(MAX_INLIST_TERMS + 1).collect()
    ]
    if len(distinct_terms) <= MAX_INLIST_TERMS:
        return table.where(F.col(term_col).isin(sorted(distinct_terms)))
    return table


def bm25_parts(
    postings: DataFrame,
    doclens: DataFrame,
    term_stats: DataFrame,
    meta: DataFrame,
    queries: DataFrame,
    keys: tuple[str, ...] = (),
    carry: tuple[str, ...] = (),
    inlist: list[str] | None = None,
    prefilter: DataFrame | None = None,
    lucene_norms: bool = False,
) -> DataFrame:
    """The one relational BM25 term-scoring scan under every lexical
    caller: per-posting (*keys, docID, part, *carry) rows BEFORE any
    aggregation, with part = w_q(t)·idf(t)·tf/(tf + k1·(1−b+b·dl/avgdl)).

    `queries` is the term relation (*keys, term, weight, *carry). `keys`
    name the query a term belongs to: none for one query, query_id and/or
    subquery_idx for batches and fused sub-queries. `carry` columns ride
    along per term (clause counts, clause bitmasks). Callers keep what is
    theirs: the groupBy/sum, msm and bitmask filters, pivots.

    `inlist` is the distinct query terms when the driver already holds
    them (a single query, however many sub-queries or clauses): they go
    into the postings scan as a literal IN-list and the term relation is
    broadcast into the join — a BroadcastHashJoin does not push its
    build-side keys into the probe-side scan, so without the IN-list the
    full postings table is read per query; with it the parquet scan
    carries PushedFilters: In(term, […]) and skips non-matching row
    groups. Left None (a DataFrame batch), the batch's distinct terms are
    collected once (_inlist_pruned) and the join strategy is AQE's:
    broadcast for eval-set-sized batches, shuffle-hash on `term` for huge
    ones.

    `prefilter`, if given, is a (docID) DataFrame; candidates are
    restricted *before* scoring via left-semi join, but collection
    statistics stay global — matching the reference, where FILTER clauses
    restrict matches but BM25 stats come from the whole index
    (query/HybridQuery.java:43-60).

    `lucene_norms=True` quantizes dl with Lucene's SmallFloat int4 scheme
    (1-byte norms) for rank-identity with a real Lucene BM25; the default
    keeps exact dl (documented divergence, see analysis/lucene_norms.py).
    avgdl stays the exact average, as Lucene's avgFieldLength is also
    computed from sumTotalTermFreq, not from decoded norms.
    """
    m = meta.first()
    n_docs, avgdl = m["N"], float(m["avgdl"])
    scored_terms = queries.join(term_stats.select("term", "df"), "term").select(
        *keys,
        "term",
        *carry,
        (F.col("weight").cast("double") * idf_col(F.col("df"), F.lit(n_docs))).alias("w_idf"),
    )
    if inlist is None:
        cand = _inlist_pruned(postings, queries).join(scored_terms, "term")
    else:
        cand = postings.where(F.col("term").isin(inlist)).join(
            F.broadcast(scored_terms), "term"
        )
    if prefilter is not None:
        cand = cand.join(prefilter.select("docID"), "docID", "left_semi")
    if "dl" not in cand.columns:
        # legacy (term, docID, tf) postings: fetch dl with a shuffle join;
        # build_postings now carries dl inline so the matched-postings
        # stream normally never exchanges on docID at all
        cand = cand.join(doclens, "docID")
    dl_col = F.col("dl")
    if lucene_norms:
        from neural_search_spark.analysis.lucene_norms import int4_quantize_col

        dl_col = int4_quantize_col(dl_col)
    part = F.col("w_idf") * bm25_score_col(F.col("tf"), dl_col, F.lit(avgdl))
    return cand.select(*keys, "docID", part.alias("part"), *carry)


def bm25_score_all(
    postings: DataFrame,
    doclens: DataFrame,
    term_stats: DataFrame,
    meta: DataFrame,
    terms: dict[str, float] | list[str],
    prefilter: DataFrame | None = None,
    lucene_norms: bool = False,
    min_should_match: int = 0,
    clause_counts: dict[str, int] | None = None,
    min_match_per_doc: DataFrame | None = None,
) -> DataFrame:
    """All matching docs with exact BM25 scores: (docID, score).

    `prefilter` and `lucene_norms` are bm25_parts'. Deleted docs are the
    caller's to drop from `postings` (IndexStore anti-joins its tombstones
    there, Lucene liveDocs semantics: df/avgdl stay whole-index).

    `min_should_match` > 1 keeps only docs matching at least that many
    SHOULD clauses (Lucene BooleanQuery minimumNumberShouldMatch); a
    duplicated query term counts as multiple clauses via `clause_counts`
    (term → clause multiplicity, default 1). The threshold is enforced in
    the same map-side-combinable aggregation that sums the score — no
    extra pass or shuffle.

    `min_match_per_doc` is a (docID, min_match) frame giving a PER-DOC
    should-clause threshold — Lucene CoveringQuery's LongValuesSource
    (the terms_set query): a doc survives iff its matched-clause count ≥
    greatest(its min_match, 1). NULL/absent min_match behaves as 1. One
    docID-keyed join against the (query-bounded) matched-docs frame; the
    threshold check rides the same aggregation output, no extra pass.
    """
    q = query_terms_df(postings.sparkSession, terms, clause_counts=clause_counts)
    parts = bm25_parts(
        postings, doclens, term_stats, meta, q, carry=("q_clauses",),
        inlist=sorted(set(terms)), prefilter=prefilter, lucene_norms=lucene_norms,
    )
    scores = parts.groupBy("docID").agg(
        F.sum("part").alias("score"), F.sum("q_clauses").alias("_matched_clauses")
    )
    if min_should_match > 1:
        scores = scores.where(F.col("_matched_clauses") >= F.lit(min_should_match))
    if min_match_per_doc is not None:
        thresholds = min_match_per_doc.select(
            "docID", F.col("min_match").cast("long").alias("_min_match")
        )
        scores = (
            scores.join(thresholds, "docID", "left")
            .where(
                F.col("_matched_clauses")
                >= F.greatest(F.coalesce(F.col("_min_match"), F.lit(1)), F.lit(1))
            )
            .drop("_min_match")
        )
    return scores.drop("_matched_clauses")


def explain_terms(
    postings: DataFrame,
    doclens: DataFrame,
    term_stats: DataFrame,
    meta: DataFrame,
    terms: dict[str, float] | list[str],
    doc_id: int,
) -> DataFrame:
    """Per-term score breakdown for one document — the Lucene Explanation
    analog (searcher.explain()): one row per matching query term with every
    factor of the BM25 product, so Σ contribution == bm25_score_all's score
    for that doc. Plan: docID + term IN-list both push into the postings
    scan, so this reads a handful of rows regardless of corpus size."""
    if not isinstance(terms, dict):
        terms = {t: 1.0 for t in terms}
    spark = postings.sparkSession
    q = query_terms_df(spark, terms)
    m = meta.first()
    n_docs, avgdl = m["N"], float(m["avgdl"])
    cand = postings.where(
        (F.col("docID") == F.lit(doc_id)) & F.col("term").isin(sorted(terms))
    ).join(F.broadcast(q), "term")
    if "dl" not in postings.columns:
        cand = cand.join(doclens, "docID")
    cand = cand.join(F.broadcast(term_stats.where(F.col("term").isin(sorted(terms)))), "term")
    idf = idf_col(F.col("df"), F.lit(n_docs))
    tf_norm = bm25_score_col(F.col("tf"), F.col("dl"), F.lit(avgdl))
    return cand.select(
        "term",
        F.col("weight").alias("q_weight"),
        F.col("df").cast("long").alias("df"),
        idf.alias("idf"),
        F.col("tf").cast("long").alias("tf"),
        F.col("dl").cast("long").alias("dl"),
        F.lit(avgdl).alias("avgdl"),
        tf_norm.alias("tf_norm"),
        (F.col("weight") * idf * tf_norm).alias("contribution"),
    ).orderBy("term")


def topk(scores: DataFrame, k: int, score_col: str = "score") -> DataFrame:
    """score desc, docID asc, limit k; adds 1-based rank.

    orderBy().limit(k) compiles to TakeOrderedAndProject — per-partition
    bounded heaps, only k rows cross to the driver-side merge; this is the
    Spark analog of the reference's per-shard HitQueue + coordinator merge
    (search/collector/HybridTopScoreDocCollector.java:126-133).
    """
    out = scores.orderBy(F.col(score_col).desc(), F.col("docID").asc()).limit(k)
    # rank assignment over k rows only (k is small; this is post-limit)
    w = Window.orderBy(F.col(score_col).desc(), F.col("docID").asc())
    return out.withColumn("rank", F.row_number().over(w)).select("rank", "docID", score_col)


def per_key_topk(
    scores: DataFrame, k: int, key: str | list[str], order: list | None = None
) -> DataFrame:
    """Bound each key's result list to its own top-k and add its 1-based
    `rank`. `key` is a column name or a list of them: query_id for batch
    retrieval, subquery_idx for hybrid sub-queries, both for batch hybrid.
    `order` ranks within a key (default score desc, docID asc); a custom
    order (sort-field columns) is the HybridTopFieldDocSortCollector
    analog: with a search sort, each sub-query's bounded heap competes on
    the SORT criteria, not the score (FieldValueHitQueue,
    search/collector/HybridTopFieldDocSortCollector.java:198-242).

    Two-level top-k — the bounded-heap analog of the reference's per-shard
    HitQueue + coordinator merge (search/collector/HybridTopScoreDocCollector
    .java:126-133). Level 1 ranks within each (key, spark partition) and
    keeps ≤ k rows per partition; level 2 ranks the ≤ n_partitions·k
    survivors per key. No per-key global sort: a head query or a common
    term over 10¹² docs never funnels its full match set through one
    reducer.

    Callers that hold the per-key frames separately should prefer
    `orderBy().limit(k)` per frame before the union (TakeOrderedAndProject,
    hybrid.bounded_subquery_union); this function covers the
    already-unioned shape.
    """
    keys = [key] if isinstance(key, str) else list(key)
    order = order or [F.col("score").desc(), F.col("docID").asc()]
    w_local = Window.partitionBy(*keys, "_pid").orderBy(*order)
    local = (
        scores.withColumn("_pid", F.spark_partition_id())
        .withColumn("rank", F.row_number().over(w_local))
        .where(F.col("rank") <= k)
        .drop("_pid")
    )
    w_global = Window.partitionBy(*keys).orderBy(*order)
    return local.withColumn("rank", F.row_number().over(w_global)).where(F.col("rank") <= k)


def bm25_topk(
    postings: DataFrame,
    doclens: DataFrame,
    term_stats: DataFrame,
    meta: DataFrame,
    terms: dict[str, float] | list[str],
    k: int = 10,
    prefilter: DataFrame | None = None,
) -> DataFrame:
    """(rank, docID, score) — top-k BM25."""
    return topk(
        bm25_score_all(postings, doclens, term_stats, meta, terms, prefilter=prefilter), k
    )

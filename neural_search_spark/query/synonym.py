"""Blended synonym-group scoring — Lucene SynonymQuery semantics.

When an analyzer expands a query token into synonyms, Lucene does NOT score
each synonym independently (that would overweight concepts with many
surface forms); it wraps them in a SynonymQuery that scores the group as a
single pseudo-term with BLENDED statistics:

    df(group)    = max over member terms' df      (SynonymQuery.SynonymWeight
                                                   collectTermStates: docFreq
                                                   = max, totalTermFreq = sum)
    tf(group, d) = Σ member tf in d               (SynonymScorer freq())
    score(d)     = Σ_groups w_g · idf(df_group) · tf_norm(tf_group, dl)

The reference plugin's match queries inherit this via OpenSearch's text
analysis chain; here synonym groups are explicit query input (the engine is
analyzer-light by design) and the blending runs as relational algebra:
one IN-list-pushed postings scan for all member terms, a broadcast
term→group map, a (group, docID) partial-aggregated tf sum, then the same
BM25 tf-normalization every other query path uses.

Scale: identical plan class to bm25_score_all — the scan reads only member
terms' posting lists (PushedFilters: In(term, …)), the group map is a
literal broadcast, and both aggregations are map-side combinable. The only
addition over a plain match query is the (group, docID) pre-aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from neural_search_spark.query.bm25 import bm25_score_col, idf_col, topk


def synonym_score_all(
    postings: DataFrame,
    doclens: DataFrame,
    term_stats: DataFrame,
    meta: DataFrame,
    groups: list[list[str]],
    boosts: list[float] | None = None,
    prefilter: DataFrame | None = None,
) -> DataFrame:
    """(docID, score): BM25 where each synonym group scores as one
    pseudo-term with df = max(member df), tf = Σ member tf.

    A term may appear in only one group (Lucene's graph analyzer emits
    disjoint synonym sets per position); duplicates raise.
    """
    if not groups or any(not g for g in groups):
        raise ValueError("synonym groups must be non-empty")
    flat = [t for g in groups for t in g]
    if len(set(flat)) != len(flat):
        raise ValueError("a term may appear in only one synonym group")
    if boosts is None:
        boosts = [1.0] * len(groups)
    if len(boosts) != len(groups):
        raise ValueError("boosts must align with groups")
    spark = postings.sparkSession
    m = meta.first()
    n_docs, avgdl = m["N"], float(m["avgdl"])

    # blended df per group: bounded q-row collect of member stats (Lucene
    # resolves the same TermStates up front); groups whose members are all
    # unindexed contribute nothing
    dfs = {
        r["term"]: r["df"]
        for r in term_stats.where(F.col("term").isin(sorted(set(flat))))
        .select("term", "df")
        .collect()
    }
    rows = []
    for gi, (g, w) in enumerate(zip(groups, boosts)):
        member_dfs = [dfs[t] for t in g if t in dfs]
        if not member_dfs:
            continue
        blended = max(member_dfs)
        for t in g:
            if t in dfs:
                rows.append((t, gi, float(w), int(blended)))
    if not rows:
        return spark.createDataFrame([], "docID long, score double")
    gmap = spark.createDataFrame(rows, "term string, g int, w double, gdf long")

    cand = postings.where(F.col("term").isin(sorted({r[0] for r in rows}))).join(
        F.broadcast(gmap), "term"
    )
    if prefilter is not None:
        cand = cand.join(prefilter.select("docID"), "docID", "left_semi")
    if "dl" not in cand.columns:
        cand = cand.join(doclens, "docID")
    # blended tf per (group, doc); dl/w/gdf are group-constant so first()
    per_group = cand.groupBy("g", "docID").agg(
        F.sum("tf").alias("gtf"),
        F.first("dl").alias("dl"),
        F.first("w").alias("w"),
        F.first("gdf").alias("gdf"),
    )
    scored = per_group.select(
        "docID",
        (
            F.col("w")
            * idf_col(F.col("gdf"), F.lit(n_docs))
            * bm25_score_col(F.col("gtf").cast("double"), F.col("dl"), F.lit(avgdl))
        ).alias("part"),
    )
    return scored.groupBy("docID").agg(F.sum("part").alias("score"))


def synonym_topk(
    postings: DataFrame,
    doclens: DataFrame,
    term_stats: DataFrame,
    meta: DataFrame,
    groups: list[list[str]],
    k: int = 10,
    **kwargs,
) -> DataFrame:
    """(rank, docID, score) — top-k blended synonym-group BM25."""
    return topk(
        synonym_score_all(postings, doclens, term_stats, meta, groups, **kwargs), k
    )

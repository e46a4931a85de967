"""Positional postings + exact phrase matching and scoring.

The reference plugin's lexical queries delegate phrase handling to Lucene's
PhraseQuery (positions live in Lucene's .pos files and are walked by
PhraseScorer). This module is the Spark-first equivalent — positions are a
first-class column, and phrase matching is relational algebra instead of a
doc-at-a-time scorer:

    positional postings : (term, docID, positions array<int>, tf, dl)
    phrase occurrence   : doc d matches "t0 t1 … t_{q-1}" at base p iff
                          p + i ∈ positions(t_i, d) for every i
                        ⇔ group (docID, pos - offset) reaches q DISTINCT
                          phrase offsets — one groupBy, no per-doc loop.

Scoring matches Lucene's PhraseQuery under BM25Similarity: the phrase is
scored like a single pseudo-term whose tf is the exact phrase frequency and
whose idf is the SUM of the member terms' idfs, one addend per phrase
position (PhraseWeight passes every position's TermStatistics, so repeated
terms contribute twice; Lucene ≥ 8 drops the (k1+1) numerator — we follow).

Sloppy proximity matching is provided as `span_near_*` (Lucene's
SpanNearQuery shape: terms within a window, ordered or unordered) with
clean SET semantics rather than Lucene's doc-at-a-time sloppy-freq:
a doc matches iff one position per term exists whose total span fits the
slop budget, and the proximity frequency counts DISTINCT anchor positions
of the first term that can complete a valid span (Lucene instead weights
each match 1/(1+slop_used) via SloppyPhraseMatcher — an explicitly
documented divergence; our count is order-independent, deterministic, and
relational). Scoring then reuses the phrase pseudo-term formula with
tf = that proximity frequency.

Scale notes (100 TB / 10^12 turns):
- the Arrow fast path builds position lists batch-locally (a doc lives in
  one input row ⇒ one Arrow batch), so the build is SHUFFLE-FREE — same
  design as index/build.py's tf kernel; the declarative fallback shuffles
  one (term, docID, pos) row per token, which is the cost class to avoid.
- query-time work is proportional to the matched terms' postings only:
  the IN-list reaches the parquet scan, the base-alignment groupBy shuffles
  Σ positions of the q query terms — the same rows Lucene's PhraseScorer
  walks, just set-at-a-time.
- the per-query stats lookup collects q rows (one per distinct term);
  nothing else reaches the driver before the final top-k.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from neural_search_spark.analysis.tokenizer import tokenize_col
from neural_search_spark.query.bm25 import bm25_score_col


def build_positional_postings(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "docID",
    tokenizer: str = "standard",
    one_row_per_doc: bool = True,
) -> DataFrame:
    """(term, docID, positions array<int> sorted asc, tf, dl).

    Positions are 0-based token indexes. Same PRECONDITION contract as
    index/build.py build_postings: the default fast path requires each
    docID to occupy exactly one input row (positions are doc-local); pass
    one_row_per_doc=False for multi-row docIDs (declarative posexplode →
    groupBy, one token-level shuffle, correct for any multiplicity).
    """
    if not one_row_per_doc:
        toks = df.select(
            F.col(id_col).cast("long").alias("docID"),
            tokenize_col(text_col, tokenizer).alias("_toks"),
        ).select(
            "docID",
            F.size("_toks").cast("int").alias("dl"),
            F.posexplode("_toks").alias("pos", "term"),
        )
        return toks.groupBy("term", "docID").agg(
            F.sort_array(F.collect_list(F.col("pos").cast("int"))).alias("positions"),
            F.count("*").cast("int").alias("tf"),
            F.first("dl").alias("dl"),
        )

    import numpy as np
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("term", T.StringType(), False),
            T.StructField("docID", T.LongType(), False),
            T.StructField("positions", T.ArrayType(T.IntegerType(), False), False),
            T.StructField("tf", T.IntegerType(), False),
            T.StructField("dl", T.IntegerType(), False),
        ]
    )

    def pos_batches(batches):
        # Batch-local positional kernel (mapInArrow): like build_postings'
        # tf kernel, token strings never become CPython objects. Grouping
        # is a stable argsort on the int64 (term-code, row) key; because
        # the sort is stable and tokens are emitted in document order, each
        # group's positions come out already ascending — the ListArray is
        # assembled from group offsets with zero per-group Python.
        import pyarrow as pa
        import pyarrow.compute as pc

        for rb in batches:
            nrows = rb.num_rows
            if nrows == 0:
                continue
            toks = rb.column(rb.schema.get_field_index("toks"))
            docid = rb.column(rb.schema.get_field_index("docID"))
            lens = pc.list_value_length(toks).to_numpy(zero_copy_only=False).astype(np.int64)
            flat = pc.list_flatten(toks)
            total = len(flat)
            if total == 0:
                continue
            denc = pc.dictionary_encode(flat)
            tcodes = denc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
            docidx = np.repeat(np.arange(nrows, dtype=np.int64), lens)
            starts = np.repeat(np.cumsum(lens) - lens, lens)
            pos = (np.arange(total, dtype=np.int64) - starts).astype(np.int32)
            key = tcodes * nrows + docidx  # < vocab_batch × batch_rows ≪ 2⁶³
            order = np.argsort(key, kind="stable")
            skey = key[order]
            bounds = np.flatnonzero(np.diff(skey)) + 1
            offsets = np.concatenate(([0], bounds, [total])).astype(np.int32)
            guniq = skey[offsets[:-1]]
            g_t = guniq // nrows
            g_d = guniq % nrows
            docs_arr = docid.to_numpy(zero_copy_only=False)
            positions = pa.ListArray.from_arrays(
                pa.array(offsets), pa.array(pos[order], type=pa.int32())
            )
            tf = np.diff(offsets).astype(np.int32)
            yield pa.record_batch(
                [
                    pc.take(denc.dictionary, pa.array(g_t)).cast(pa.string()),
                    pa.array(docs_arr[g_d], type=pa.int64()),
                    positions,
                    pa.array(tf, type=pa.int32()),
                    pa.array(lens[g_d].astype(np.int32), type=pa.int32()),
                ],
                names=["term", "docID", "positions", "tf", "dl"],
            )

    base = df.select(
        F.col(id_col).cast("long").alias("docID"),
        tokenize_col(text_col, tokenizer).alias("toks"),
    )
    return base.mapInArrow(pos_batches, schema=schema)


def phrase_match(
    positional: DataFrame,
    terms: list[str],
    prefilter: DataFrame | None = None,
) -> DataFrame:
    """(docID, ptf, dl): docs containing the exact phrase `terms` (ordered,
    duplicates meaningful) with the phrase frequency.

    A phrase occurrence at base position p needs every phrase offset i to
    find term_i at p + i, so rows are rebased to (docID, pos − offset) and
    a group matches iff it covers all q DISTINCT offsets (repeated terms
    join to each of their offsets, so "a b a" still requires 3 distinct
    offsets). Overlapping occurrences count separately — Lucene's
    ExactPhraseMatcher semantics.
    """
    if not terms:
        raise ValueError("phrase needs at least one term")
    spark = positional.sparkSession
    q = len(terms)
    offsets = spark.createDataFrame(
        [(t, i) for i, t in enumerate(terms)], "term string, offset int"
    )
    matched = positional.where(F.col("term").isin(sorted(set(terms)))).join(
        F.broadcast(offsets), "term"
    )
    if prefilter is not None:
        matched = matched.join(prefilter, "docID", "left_semi")
    bases = (
        matched.select("docID", "dl", "offset", F.explode("positions").alias("pos"))
        .select("docID", "dl", "offset", (F.col("pos") - F.col("offset")).alias("base"))
        .where(F.col("base") >= 0)
    )
    occ = (
        bases.groupBy("docID", "base")
        .agg(F.count_distinct("offset").alias("nmatched"), F.first("dl").alias("dl"))
        .where(F.col("nmatched") == q)
    )
    return occ.groupBy("docID").agg(
        F.count("*").cast("int").alias("ptf"), F.first("dl").alias("dl")
    )


def phrase_scores(
    positional: DataFrame,
    term_stats: DataFrame,
    meta: DataFrame,
    terms: list[str],
    boost: float = 1.0,
    prefilter: DataFrame | None = None,
) -> DataFrame:
    """(docID, score) for every doc containing the exact phrase.

    score = boost · Σ_{i<q} idf(term_i) · ptf / (ptf + k1·(1−b+b·dl/avgdl))
    — Lucene PhraseQuery under BM25Similarity (idf summed per phrase
    position, tf = exact phrase frequency, no (k1+1) numerator).
    """
    m = meta.first()
    n_docs, avgdl = m["N"], float(m["avgdl"])
    uniq = sorted(set(terms))
    # q-row bounded collect: the per-term dfs that seed the driver-side idf
    # sum (Lucene resolves the same TermStatistics up front).
    dfs = {
        r["term"]: r["df"]
        for r in term_stats.where(F.col("term").isin(uniq)).select("term", "df").collect()
    }
    if any(t not in dfs for t in terms):
        # a phrase containing an unindexed term matches nothing
        return positional.sparkSession.createDataFrame([], "docID long, score double")
    # driver-side float math matches idf_col exactly (same ln formula over
    # the same float64s); one addend per phrase POSITION, so repeats count
    sum_idf = sum(
        math.log(1.0 + (n_docs - dfs[t] + 0.5) / (dfs[t] + 0.5)) for t in terms
    )
    match = phrase_match(positional, terms, prefilter=prefilter)
    return match.select(
        "docID",
        (
            F.lit(float(boost) * sum_idf)
            * bm25_score_col(F.col("ptf").cast("double"), F.col("dl"), F.lit(avgdl))
        ).alias("score"),
    )


# expansion pseudo-term for match_phrase_prefix: \x00 cannot appear in any
# analyzed token, so the substituted rows can never collide with a real term
_PREFIX_PSEUDO = "\x00prefix"

MAX_EXPANSIONS = 50  # OpenSearch match_phrase_prefix default


def phrase_prefix_scores(
    positional: DataFrame,
    term_stats: DataFrame,
    meta: DataFrame,
    terms: list[str],
    max_expansions: int = MAX_EXPANSIONS,
    boost: float = 1.0,
    prefilter: DataFrame | None = None,
) -> DataFrame:
    """match_phrase_prefix (Lucene MultiPhraseQuery after the prefix
    rewrite): the LAST term is a prefix, expanded over the term dictionary
    to the first `max_expansions` matching terms in term-asc order (Lucene
    collects expansions in TermsEnum order and stops); the phrase matches
    where the fixed terms are followed by ANY expansion at the last slot.

    Relationally: expansion-term position rows are re-labeled to one
    pseudo-term and unioned with the fixed terms' rows, then the ordinary
    rebased-offset phrase match runs unchanged — no per-expansion pass.
    Scoring follows MultiPhraseQuery under BM25: tf = phrase frequency,
    idf = Σ idf over every involved term — one addend per FIXED position
    plus one per EXPANSION (MultiPhraseWeight feeds all TermStatistics to
    the similarity), no (k1+1) numerator.

    Scale shape: the dictionary expansion is a prefix-pushed scan +
    limit(max_expansions) collect (bounded ≤ max_expansions rows); the
    postings scan carries an IN-list of fixed ∪ expansions (≤ q + 50
    terms); everything else is the exact-phrase plan.
    """
    if not terms:
        raise ValueError("match_phrase_prefix needs at least one term")
    if max_expansions < 1:
        raise ValueError("max_expansions must be >= 1")
    spark = positional.sparkSession
    empty = spark.createDataFrame([], "docID long, score double")
    fixed, last = terms[:-1], terms[-1]
    exp_rows = (
        term_stats.where(F.col("term").startswith(last))
        .select("term", "df")
        .orderBy("term")
        .limit(max_expansions)
        .collect()
    )
    if not exp_rows:
        return empty
    expansions = [r["term"] for r in exp_rows]
    m = meta.first()
    n_docs, avgdl = m["N"], float(m["avgdl"])
    uniq_fixed = sorted(set(fixed))
    dfs = {
        r["term"]: r["df"]
        for r in term_stats.where(F.col("term").isin(uniq_fixed))
        .select("term", "df")
        .collect()
    }
    if any(t not in dfs for t in fixed):
        return empty

    def _idf(df_: int) -> float:
        return math.log(1.0 + (n_docs - df_ + 0.5) / (df_ + 0.5))

    sum_idf = sum(_idf(dfs[t]) for t in fixed) + sum(_idf(r["df"]) for r in exp_rows)

    exp_pos = positional.where(F.col("term").isin(expansions)).withColumn(
        "term", F.lit(_PREFIX_PSEUDO)
    )
    if fixed:
        pos_union = positional.where(F.col("term").isin(uniq_fixed)).unionByName(
            exp_pos
        )
    else:
        pos_union = exp_pos
    match = phrase_match(pos_union, fixed + [_PREFIX_PSEUDO], prefilter=prefilter)
    return match.select(
        "docID",
        (
            F.lit(float(boost) * sum_idf)
            * bm25_score_col(F.col("ptf").cast("double"), F.col("dl"), F.lit(avgdl))
        ).alias("score"),
    )


def span_near_match(
    positional: DataFrame,
    terms: list[str],
    slop: int = 0,
    in_order: bool = True,
    prefilter: DataFrame | None = None,
) -> DataFrame:
    """(docID, sntf, dl): docs where `terms` occur within a slop-bounded
    window (Lucene SpanNearQuery shape), with the proximity frequency.

    Semantics (set-based; see module docstring for the documented
    divergence from Lucene's sloppy-freq weighting):

    - ``in_order=True``: doc matches at anchor p₀ ∈ positions(t₀) iff
      strictly increasing p₀ < p₁ < … < p_{q−1} exist with
      pᵢ ∈ positions(tᵢ) and total span p_{q−1} − p₀ − (q−1) ≤ slop.
      slop=0 therefore equals the exact phrase match.
    - ``in_order=False``: one position per term (terms must be distinct —
      a token stream gives different terms disjoint positions, so no
      overlap check is needed) with max − min − (q−1) ≤ slop; the anchor
      is the window's min position.

    sntf = COUNT(DISTINCT anchors) per doc.

    Scale: the chain of q−1 joins touches only the q query terms' postings
    (IN-list reaches the scan), and every intermediate join carries the
    span bound pᵢ ≤ p₀ + slop + i (in-order) / window-width ≤ slop+q−1
    (unordered) IN the join condition, so per-doc blow-up is pruned before
    it materializes — the surviving rows are exactly the position tuples a
    Lucene SpansTreeQuery would walk, set-at-a-time.
    """
    if not terms:
        raise ValueError("span_near needs at least one term")
    if slop < 0:
        raise ValueError("slop must be >= 0")
    if not in_order and len(set(terms)) != len(terms):
        raise ValueError("unordered span_near requires distinct terms")
    q = len(terms)
    base = positional.where(F.col("term").isin(sorted(set(terms))))
    if prefilter is not None:
        base = base.join(prefilter, "docID", "left_semi")
    # docs lacking any member term can never match: semi-join the chain's
    # start down to full-coverage docs first (q-way conjunction is rare)
    cover = (
        base.groupBy("docID")
        .agg(F.count_distinct("term").alias("_nt"), F.first("dl").alias("dl"))
        .where(F.col("_nt") == len(set(terms)))
        .select("docID", "dl")
    )
    pos = base.select(
        "term", "docID", F.explode("positions").alias("pos")
    ).join(cover.select("docID"), "docID", "left_semi")

    def pterm(t: str, alias: str) -> DataFrame:
        return pos.where(F.col("term") == t).select("docID", F.col("pos").alias(alias))

    if in_order:
        # Greedy-minimal continuation: if ANY completion exists from some
        # continuation position, one exists from the SMALLEST (positions
        # are strictly increasing and the window bound only references p0),
        # so each step keeps min(cur) per anchor — a map-side-combinable
        # agg that bounds intermediate rows to ≤ #anchors instead of the
        # product of the terms' position lists.
        cur = pterm(terms[0], "p0").withColumn("cur", F.col("p0"))
        for i in range(1, q):
            nxt = pterm(terms[i], "_pi")
            cur = (
                cur.join(nxt, "docID")
                .where(
                    (F.col("_pi") > F.col("cur"))
                    & (F.col("_pi") <= F.col("p0") + F.lit(slop + i))
                )
                .groupBy("docID", "p0")
                .agg(F.min("_pi").alias("cur"))
            )
        anchors = cur.select("docID", "p0")
    else:
        width = slop + q - 1
        cur = pterm(terms[0], "_p").select(
            "docID", F.col("_p").alias("wmin"), F.col("_p").alias("wmax")
        )
        for i in range(1, q):
            nxt = pterm(terms[i], "_pi")
            cur = (
                cur.join(nxt, "docID")
                .where(
                    F.greatest("wmax", "_pi") - F.least("wmin", "_pi") <= F.lit(width)
                )
                .select(
                    "docID",
                    F.least("wmin", "_pi").alias("wmin"),
                    F.greatest("wmax", "_pi").alias("wmax"),
                )
            )
        anchors = cur.select("docID", F.col("wmin").alias("p0")).distinct()
    return (
        anchors.groupBy("docID")
        .agg(F.count("*").cast("int").alias("sntf"))
        .join(cover, "docID")
    )


def span_near_scores(
    positional: DataFrame,
    term_stats: DataFrame,
    meta: DataFrame,
    terms: list[str],
    slop: int = 0,
    in_order: bool = True,
    boost: float = 1.0,
    prefilter: DataFrame | None = None,
) -> DataFrame:
    """(docID, score) for every doc matching the span-near window; scored
    like phrase_scores (pseudo-term: idf summed per query position,
    tf = proximity frequency sntf)."""
    m = meta.first()
    n_docs, avgdl = m["N"], float(m["avgdl"])
    uniq = sorted(set(terms))
    dfs = {
        r["term"]: r["df"]
        for r in term_stats.where(F.col("term").isin(uniq)).select("term", "df").collect()
    }
    if any(t not in dfs for t in terms):
        return positional.sparkSession.createDataFrame([], "docID long, score double")
    sum_idf = sum(
        math.log(1.0 + (n_docs - dfs[t] + 0.5) / (dfs[t] + 0.5)) for t in terms
    )
    match = span_near_match(positional, terms, slop=slop, in_order=in_order, prefilter=prefilter)
    return match.select(
        "docID",
        (
            F.lit(float(boost) * sum_idf)
            * bm25_score_col(F.col("sntf").cast("double"), F.col("dl"), F.lit(avgdl))
        ).alias("score"),
    )


def span_near_topk(
    positional: DataFrame,
    term_stats: DataFrame,
    meta: DataFrame,
    terms: list[str],
    k: int = 10,
    **kwargs,
) -> DataFrame:
    """Top-k (docID, score) for a span-near query; score desc, docID asc."""
    scored = span_near_scores(positional, term_stats, meta, terms, **kwargs)
    return scored.orderBy(F.col("score").desc(), F.col("docID").asc()).limit(k)


def phrase_topk(
    positional: DataFrame,
    term_stats: DataFrame,
    meta: DataFrame,
    terms: list[str],
    k: int = 10,
    **kwargs,
) -> DataFrame:
    """Top-k (docID, score), score desc / docID asc tie-break — compiles to
    TakeOrderedAndProject like every other top-k in the engine."""
    scored = phrase_scores(positional, term_stats, meta, terms, **kwargs)
    return scored.orderBy(F.col("score").desc(), F.col("docID").asc()).limit(k)

"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry is an implemented operator from SURVEY.md §2 (plus
the training-data-pipeline ops), run through the `neural_search_spark`
engine; ``oracle_sql()`` holds the DuckDB-equivalent ANSI SQL. Parity rules
used throughout so value-hashes match across engines:

- hashing is md5-based ``hash60`` (identical in Spark/DuckDB/Python);
- every float is computed in double precision and ``round(x, 6)`` BEFORE
  ranking, with ties broken by id asc — so ranks are engine-independent;
- every integer output is cast to bigint on both sides (Spark ``size``/
  ``row_number`` are int32, DuckDB ``sum`` is int128 — both normalized);
- timestamps are formatted to 'yyyy-MM-dd HH:mm:ss' strings on both sides.
"""

from __future__ import annotations

import math
import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from neural_search_spark import ops  # noqa: E402
from neural_search_spark.analysis.tokenizer import tokenize_col  # noqa: E402
from neural_search_spark.index.build import build_index_tables  # noqa: E402
from neural_search_spark.query import bm25, boolquery, hybrid, multiterm, sparse, suggest  # noqa: E402

# ---------------------------------------------------------------------------
# shared fixtures: fixed query-term sets (vocabulary of the synthetic docs)
# ---------------------------------------------------------------------------

Q_BM25 = {"spark": 1.0, "join": 1.0, "window": 1.0}
Q_BM25_W = {"scan": 2.0, "merge": 1.0, "vector": 3.0, "zzzmissing": 5.0}
Q_SPARSE = {"spark": 1.5, "filter": 0.4, "customer": 1.0, "batch": 0.2, "stream": 0.9}
Q_HY_A = {"spark": 1.0, "stream": 1.0}
Q_HY_B = {"customer": 1.0, "vector": 1.0, "batch": 1.0}
Q_MSM = {"data": 1.0, "vector": 1.0, "window": 1.0}  # minimum_should_match=2
BOOL_MUST = [{"data": 1.0, "window": 1.0}]  # one clause: data OR window
BOOL_SHOULD = [{"vector": 1.0}, {"spark": 1.0}]
BOOL_NOT = [{"dup": 1.0}]
PREFIX_VALUE = "s"  # scoring_boolean expansion: scan slow small sort spark stream
WILDCARD_VALUE, WILDCARD_BOOST = "s*a*", 1.5  # LIKE 's%a%'
FUZZY_VALUE, FUZZY_MAXD = "port", 1  # Levenshtein ≤1: part, sort
REGEXP_VALUE, REGEXP_BOOST = "s(o|pa)r[tk]", 1.25  # anchored: sort, spark
# top-level alternation: literal-prefix pushdown must be disabled (round-4
# ADVICE high fix — the old code pushed 'sort' and dropped the other branch)
REGEXP_ALT_VALUE = "sort|spark|shuffl.*"
TS_TERMS = ["merge", "sort", "spark", "vector"]  # terms_set candidates
TS_MSM_MOD = 3  # per-doc required matches = doc_id % 3 + 1
SUGGEST_VALUE = "sart"  # → sort(d1), then d2 ties {scan, spark} ranked by df
K = 10
CHUNK_LIMIT, CHUNK_OVERLAP = 20, 0.25  # step 15
CHUNK_MAXN = 3  # max_chunk_limit for the *_limited chunk queries
DELIM = " the "
WS_PATTERN = "[^ \\t\\n\\r\\f]+"  # whitespace word tokenizer (same regex in DuckDB)
JACCARD_N, JACCARD_THRESHOLD = 3, 0.05
MINHASH_K, MINHASH_BANDS = 8, 4
SIMHASH_BITS = 32
SIMHASH_BANDS, SIMHASH_MAX_HAMMING = 4, 3
EMB_DIM, LSH_PLANES, LSH_PROBE = 64, 8, 2
NEURAL_MIN_SCORE = 0.15
RESCORE_OVERSAMPLE, RESCORE_PROBE = 4, 3
EMB_DUP_THRESHOLD, EMB_DUP_BANDS, EMB_DUP_MAXH = 0.4, 4, 3
EMB_DUP_MAX_BUCKET = 1024  # star-guard bound, mirrored in the oracle
# dup-pair codes are FINER than the top-k probe index (16 planes vs 8):
# band width scales with code bits (16/4 = 4 bits -> 16 bucket values per
# band), keeping candidate buckets ~N/16 instead of ~N/4 — the knob that
# keeps the hamming-ball candidate stage sub-quadratic as N grows
EMB_DUP_PLANES = 16
IVF_CLUSTERS, IVF_NPROBE = 16, 4
EVENT_CURSOR_TS = "2024-01-01 12:00:00"
PHRASE_TERMS = ["table", "part"]  # exact-adjacency phrase, ~30 docs at sf0.01
# match_phrase_prefix: "table s…" — prefix 's' expands term-asc, truncated
# at PP_MAXEXP (scan slow small sort; spark/stream cut by the limit)
PP_FIXED, PP_PREFIX, PP_MAXEXP = ["table"], "s", 4
# span-near proximity: same pair with slop=2 in-order (~70 docs) + an
# unordered pair (~129 docs) — supersets of the exact phrase's match set
SPAN_TERMS, SPAN_SLOP = ["table", "part"], 2
SPAN_U_TERMS, SPAN_U_SLOP = ["merge", "sort"], 2
# SynonymQuery blending: df = max member df, tf = Σ member tf per group
SYN_GROUPS, SYN_BOOSTS = [["table", "window"], ["merge"]], [1.0, 2.0]
# more_like_this: doc 0's interesting terms (tf≥2, df≥5, top 5 by tf·idf)
MLT_LIKE, MLT_MTF, MLT_MDF, MLT_MQT = [0], 2, 5, 5
COLLAPSE_FIELD = "source"  # 20 distinct sources at any SF
HL_FRAG, HL_LEAD = 10, 2  # highlight window tokens / context lead
DELETE_MOD = 13  # tombstoned docs: doc_id % DELETE_MOD == 0
# decontamination: docs with doc_id % DECON_MOD == 0 act as the "benchmark"
# set; n=3 grams (production default is 13 — the synthetic fixture's texts
# are too short/random for 13-gram overlaps)
DECON_N, DECON_MOD = 3, 97

# ---------------------------------------------------------------------------
# DuckDB SQL fragments
# ---------------------------------------------------------------------------

SQL_TOKARR = "select doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') as toks from documents"
SQL_TOKS = "select doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) as term from documents"

# analyzer-chain oracle expression (stop + minimal plural stem) — built by
# the SAME generator the engine tests parity against (duckdb_analyze)
from neural_search_spark.analysis.tokenizer import ENGLISH_STOPWORDS as _SW  # noqa: E402
from neural_search_spark.analysis.tokenizer import duckdb_analyze as _dda  # noqa: E402

_duckdb_analyze_expr = _dda("text", stopwords=_SW, stem=True)


def _sql_hash60(expr: str) -> str:
    return f"('0x' || substr(md5({expr}), 1, 15))::BIGINT"


SQL_INDEX_CTES = f"""
  toks as ({SQL_TOKS}),
  postings as (select term, doc_id, count(*)::BIGINT as tf from toks group by 1, 2),
  doclens as (select doc_id, len(regexp_extract_all(lower(text), '[a-z0-9]+'))::BIGINT as dl from documents),
  meta as (select count(*)::BIGINT as n, avg(dl)::DOUBLE as avgdl from doclens),
  stats as (select term, count(*)::BIGINT as df from postings group by 1)
"""


def _sql_values(tokens: dict[str, float]) -> str:
    rows = ", ".join(f"('{t}', {float(w)!r}::DOUBLE)" for t, w in sorted(tokens.items()))
    return f"(select * from (values {rows}) as t(term, w))"


def _sql_bm25_scored(tokens: dict[str, float], alias: str = "scored") -> str:
    """CTE body: (doc_id, score rounded to 6dp) for a BM25 query."""
    return f"""
  q_{alias} as {_sql_values(tokens)},
  {alias} as (
    select p.doc_id,
           round(sum(q.w * ln(1 + (m.n - s.df + 0.5) / (s.df + 0.5))
                     * p.tf / (p.tf + 1.2 * (1 - 0.75 + 0.75 * d.dl / m.avgdl))), 6) as score
    from postings p
    join q_{alias} q on p.term = q.term
    join stats s on p.term = s.term
    join doclens d on p.doc_id = d.doc_id
    cross join meta m
    group by 1
  )"""


def _sql_bm25_raw(tokens: dict[str, float], alias: str) -> str:
    """CTE body: (doc_id, UNROUNDED score) — for entries that combine
    sub-query scores before the single final round(…, 6)."""
    return f"""
  q_{alias} as {_sql_values(tokens)},
  {alias} as (
    select p.doc_id,
           sum(q.w * ln(1 + (m.n - s.df + 0.5) / (s.df + 0.5))
               * p.tf / (p.tf + 1.2 * (1 - 0.75 + 0.75 * d.dl / m.avgdl))) as score
    from postings p
    join q_{alias} q on p.term = q.term
    join stats s on p.term = s.term
    join doclens d on p.doc_id = d.doc_id
    cross join meta m
    group by 1
  )"""


SQL_SHINGLES = f"""
  tokarr as ({SQL_TOKARR}),
  shingles as (
    select distinct doc_id as id,
           case when len(toks) >= {JACCARD_N}
                then array_to_string(toks[i:i+{JACCARD_N - 1}], ' ')
                else array_to_string(toks, ' ') end as shingle
    from tokarr, unnest(generate_series(1, greatest(len(toks) - {JACCARD_N - 1}, 1))) as t(i)
  )
"""


def _sql_minhash_sig() -> str:
    # mirror of ops/dedup.py minhash_signature: ONE md5 per shingle, two
    # 60-bit digest words, Kirsch-Mitzenmacher family (h1 + j*h2') mod 2^60
    parts = [
        f"min((h1 + {j} * h2) % {1 << 60}) as mh_{j}" for j in range(MINHASH_K)
    ]
    return (
        "hashed as (select id, "
        f"('0x' || substr(md5(shingle), 1, 15))::BIGINT as h1, "
        f"('0x' || substr(md5(shingle), 17, 15))::BIGINT % {1 << 58} as h2 "
        "from shingles), "
        f"sig as (select id, {', '.join(parts)} from hashed group by id)"
    )


# ---------------------------------------------------------------------------
# Spark helpers
# ---------------------------------------------------------------------------


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the sf* fixtures are single small parquet files → one input split; fan
    # out so token/hash-heavy downstream work uses every core (at real scale
    # the scan itself yields thousands of splits and this is a no-op cost)
    return spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(
        spark.sparkContext.defaultParallelism
    )


_INDEX_CACHE: dict[str, object] = {}


def _index(spark: SparkSession, sf_dir: str):
    """Index tables for the documents fixture, built once per process and
    persisted — the contract runs ~30 queries against the same corpus."""
    key = sf_dir
    if key not in _INDEX_CACHE:
        t = build_index_tables(_docs(spark, sf_dir), text_col="text", id_col="doc_id")
        t.postings = t.postings.persist()
        t.doclens = t.doclens.persist()
        t.term_stats = t.term_stats.persist()
        _INDEX_CACHE[key] = t
    return _INDEX_CACHE[key]


def _ranked(df: DataFrame, score_col: str, id_col: str, k: int) -> DataFrame:
    """round(score,6) → rank on (rounded desc, id asc) → limit k."""
    r = df.withColumn(score_col, F.round(F.col(score_col), 6))
    top = r.orderBy(F.col(score_col).desc(), F.col(id_col).asc()).limit(k)
    w = Window.orderBy(F.col(score_col).desc(), F.col(id_col).asc())
    return top.withColumn("rank", F.row_number().over(w).cast("long")).select(
        "rank", id_col, score_col
    )


def _sql_rank(from_clause: str, score_col: str, id_col: str, k: int) -> str:
    return f"""
    select row_number() over (order by {score_col} desc, {id_col} asc)::BIGINT as rank,
           {id_col}, {score_col}
    from {from_clause}
    order by {score_col} desc, {id_col} asc
    limit {k}"""


def _bm25_scores_rounded(index, tokens) -> DataFrame:
    s = bm25.bm25_score_all(index.postings, index.doclens, index.term_stats, index.meta, tokens)
    return s.withColumnRenamed("docID", "doc_id")


# ---------------------------------------------------------------------------
# query implementations (Spark side)
# ---------------------------------------------------------------------------


def q_token_term_counts(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    return (
        docs.select(F.explode(tokenize_col("text")).alias("term"))
        .groupBy("term")
        .agg(F.count("*").cast("long").alias("cnt"))
    )


def q_analyzed_term_counts(spark, sf_dir):
    """Analyzer-chain term counts: standard tokenizer → English stopword
    filter → minimal plural stemmer (analysis/tokenizer.py analyze_col)."""
    from neural_search_spark.analysis.tokenizer import ENGLISH_STOPWORDS, analyze_col

    docs = _docs(spark, sf_dir)
    return (
        docs.select(
            F.explode(
                analyze_col("text", stopwords=ENGLISH_STOPWORDS, stem=True)
            ).alias("term")
        )
        .groupBy("term")
        .agg(F.count("*").cast("long").alias("cnt"))
    )


def q_term_doc_freq(spark, sf_dir):
    t = _index(spark, sf_dir)
    return t.term_stats.select("term", F.col("df").cast("long").alias("df"))


def q_doclens(spark, sf_dir):
    t = _index(spark, sf_dir)
    return t.doclens.select(F.col("docID").alias("doc_id"), F.col("dl").cast("long").alias("dl"))


def q_collection_meta(spark, sf_dir):
    t = _index(spark, sf_dir)
    return t.meta.select(F.col("N").cast("long").alias("n"), F.round("avgdl", 6).alias("avgdl"))


def q_bm25_top10(spark, sf_dir):
    return _ranked(_bm25_scores_rounded(_index(spark, sf_dir), Q_BM25), "score", "doc_id", K)


def q_bm25_weighted_top10(spark, sf_dir):
    return _ranked(_bm25_scores_rounded(_index(spark, sf_dir), Q_BM25_W), "score", "doc_id", K)


# batch multi-query BM25: one postings pass scores the whole query set
# (offline eval / hard-negative-mining shape; query/batch.py)
Q_BATCH: dict[int, dict[str, float]] = {
    1: Q_BM25,
    2: {"scan": 2.0, "merge": 1.0, "vector": 3.0},
    3: {"the": 1.0, "data": 2.0},
}


def q_bm25_batch_top5(spark, sf_dir):
    """Per-query top-5 for a batch of queries in ONE postings scan +
    one (query_id, docID) exchange (query/batch.py bm25_topk_batch); the
    reference would run these as separate requests. Ranks on the rounded
    score like every other ranked entry (fp-tie robustness vs DuckDB)."""
    from neural_search_spark.query.batch import bm25_score_batch

    t = _index(spark, sf_dir)
    rows = [
        (qid, term, w)
        for qid, terms in Q_BATCH.items()
        for term, w in sorted(terms.items())
    ]
    queries = spark.createDataFrame(rows, "query_id long, term string, weight double")
    scores = bm25_score_batch(t.postings, t.doclens, t.term_stats, t.meta, queries)
    scores = scores.withColumnRenamed("docID", "doc_id").withColumn(
        "score", F.round("score", 6)
    )
    ranked = bm25.per_key_topk(scores.withColumnRenamed("doc_id", "docID"), 5, "query_id")
    return ranked.select(
        "query_id",
        F.col("rank").cast("long").alias("rank"),
        F.col("docID").alias("doc_id"),
        "score",
    )


Q_SPARSE_BATCH: dict[int, dict[str, float]] = {
    1: Q_SPARSE,
    2: {"spark": 1.0, "data": 0.5, "merge": 2.0},
    3: {"window": 1.2, "stream": 0.8, "the": 0.1},
}

Q_HY_BATCH: dict[int, list[dict[str, float]]] = {
    1: [Q_HY_A, Q_HY_B],
    2: [{"scan": 1.0, "merge": 2.0}, {"the": 1.0, "data": 1.0}],
    3: [{"vector": 1.0}, {"filter": 1.0, "join": 1.0}],
}


def q_sparse_batch_top5(spark, sf_dir):
    """Per-query sparse top-5 for a batch of neural_sparse queries in ONE
    doc-weight pass (query/batch.py sparse_score_batch) — the offline
    eval / bulk-re-scoring shape for sparse retrieval."""
    from neural_search_spark.query.batch import sparse_score_batch

    t = _index(spark, sf_dir)
    weights = t.postings.select("term", "docID", F.col("tf").cast("double").alias("weight"))
    rows = [
        (qid, term, w)
        for qid, terms in Q_SPARSE_BATCH.items()
        for term, w in sorted(terms.items())
    ]
    queries = spark.createDataFrame(rows, "query_id long, term string, weight double")
    scores = sparse_score_batch(weights, queries, quantize=False).withColumn(
        "score", F.round("score", 6)
    )
    return bm25.per_key_topk(scores, 5, "query_id").select(
        "query_id",
        F.col("rank").cast("long").alias("rank"),
        F.col("docID").alias("doc_id"),
        "score",
    )


def q_hybrid_batch_top5(spark, sf_dir):
    """Per-query hybrid top-5 (min_max + arithmetic mean) for a batch of
    2-sub-query hybrid queries: ONE postings scan scores every sub-query of
    every query (query/batch.py fused_subquery_scores_batch), then the
    normalize/combine pipeline runs keyed by (query_id, subquery_idx).
    Sub-scores rounded to 6dp pre-top-k so both engines bound and
    normalize identical inputs (same parity rule as the single hybrids)."""
    from neural_search_spark.query.batch import fused_subquery_scores_batch

    t = _index(spark, sf_dir)
    rows = [
        (qid, si, term, w)
        for qid, subs in Q_HY_BATCH.items()
        for si, sub in enumerate(subs)
        for term, w in sorted(sub.items())
    ]
    queries = spark.createDataFrame(
        rows, "query_id long, subquery_idx int, term string, weight double"
    )
    fused = fused_subquery_scores_batch(t.postings, t.doclens, t.term_stats, t.meta, queries)
    rounded = fused.withColumn("score", F.round("score", 6))
    bounded = bm25.per_key_topk(rounded, K, ["query_id", "subquery_idx"]).drop("rank")
    normalized = hybrid.normalize_scores(
        bounded, "min_max", partition_cols=("query_id", "subquery_idx")
    )
    combined = hybrid.combine_scores(
        normalized, 2, "arithmetic_mean", group_cols=("query_id", "docID")
    ).withColumn("score", F.round("score", 6))
    return bm25.per_key_topk(combined, 5, "query_id").select(
        "query_id",
        F.col("rank").cast("long").alias("rank"),
        F.col("docID").alias("doc_id"),
        "score",
    )


def q_hybrid_rrf_batch_top5(spark, sf_dir):
    """Per-query RRF fusion for the same hybrid batch: ranks computed over
    each sub-query's rounded bounded list, Σ 1/(60+rank) per doc — one
    postings scan for the whole batch."""
    from neural_search_spark.query.batch import fused_subquery_scores_batch

    t = _index(spark, sf_dir)
    rows = [
        (qid, si, term, w)
        for qid, subs in Q_HY_BATCH.items()
        for si, sub in enumerate(subs)
        for term, w in sorted(sub.items())
    ]
    queries = spark.createDataFrame(
        rows, "query_id long, subquery_idx int, term string, weight double"
    )
    fused = fused_subquery_scores_batch(t.postings, t.doclens, t.term_stats, t.meta, queries)
    rounded = fused.withColumn("score", F.round("score", 6))
    bounded = bm25.per_key_topk(rounded, K, ["query_id", "subquery_idx"]).drop("rank")
    combined = hybrid.rrf_combine(
        bounded, 2, group_cols=("query_id", "docID"),
        partition_cols=("query_id", "subquery_idx"),
    ).withColumn("score", F.round("score", 6))
    return bm25.per_key_topk(combined, 5, "query_id").select(
        "query_id",
        F.col("rank").cast("long").alias("rank"),
        F.col("docID").alias("doc_id"),
        "score",
    )


QREL_MOD, QREL_GRADE2_MOD = 5, 3  # judged: doc_id%5==0; grade 2 if also %3==0


def q_rank_eval_batch(spark, sf_dir):
    """Offline eval pipeline end-to-end: ONE-scan batch retrieval
    (query/batch.py) → precision/recall/MRR/NDCG@5 per query against
    deterministic synthetic judgments (ops/rank_eval.py). qrels are tiny
    and broadcast; metrics are one groupBy on query_id — the corpus is
    touched only by the retrieval scan."""
    from neural_search_spark.ops.rank_eval import rank_eval
    from neural_search_spark.query.batch import bm25_score_batch

    t = _index(spark, sf_dir)
    rows = [
        (qid, term, w)
        for qid, terms in Q_BATCH.items()
        for term, w in sorted(terms.items())
    ]
    queries = spark.createDataFrame(rows, "query_id long, term string, weight double")
    scores = bm25_score_batch(t.postings, t.doclens, t.term_stats, t.meta, queries)
    run = bm25.per_key_topk(scores.withColumn("score", F.round("score", 6)), 5, "query_id")
    judged = (
        _docs(spark, sf_dir)
        .where(F.col("doc_id") % QREL_MOD == 0)
        .select(
            F.col("doc_id").alias("docID"),
            (
                F.lit(1)
                + F.when(F.col("doc_id") % QREL_GRADE2_MOD == 0, 1).otherwise(0)
            ).alias("grade"),
        )
    )
    qrels = queries.select("query_id").distinct().crossJoin(judged)
    out = rank_eval(run.select("query_id", "docID", "rank"), qrels, k=5)
    return out.select(
        "query_id",
        F.round("precision", 6).alias("precision"),
        F.round("recall", 6).alias("recall"),
        F.round("mrr", 6).alias("mrr"),
        F.round("ndcg", 6).alias("ndcg"),
    )


def q_bm25_wand_top10(spark, sf_dir):
    """Same BM25 query, but executed over the compressed block segments with
    block-max WAND pruning (query/segment_search.py) — proves the segment
    path is rank/score-identical to the relational oracle."""
    from neural_search_spark.index.segments import build_segments
    from neural_search_spark.query.segment_search import wand_topk

    t = _index(spark, sf_dir)
    key = f"segs:{sf_dir}"
    if key not in _INDEX_CACHE:
        m = t.meta.first()
        pdl = t.postings  # dl rides on posting rows
        max_id = t.doclens.agg(F.max("docID")).first()[0]
        segs = build_segments(
            pdl, avgdl=float(m["avgdl"]), max_doc_id=int(max_id),
            block_size=32, term_stats=t.term_stats,
        ).persist()
        segs.count()
        _INDEX_CACHE[key] = (segs, int(m["N"]), float(m["avgdl"]))
    segs, n_docs, avgdl = _INDEX_CACHE[key]
    res = wand_topk(segs, t.term_stats, n_docs, avgdl, Q_BM25, k=K)
    return _ranked(res.withColumnRenamed("docID", "doc_id").select("doc_id", "score"),
                   "score", "doc_id", K)


def q_bm25_prefilter_top10(spark, sf_dir):
    """Filter pushdown semantics: candidates restricted to lang='en' BEFORE
    scoring, but collection stats stay global (HybridQuery.java:43-60)."""
    docs = _docs(spark, sf_dir)
    t = _index(spark, sf_dir)
    pre = docs.where(F.col("lang") == "en").select(F.col("doc_id").alias("docID"))
    s = bm25.bm25_score_all(t.postings, t.doclens, t.term_stats, t.meta, Q_BM25, prefilter=pre)
    return _ranked(s.withColumnRenamed("docID", "doc_id"), "score", "doc_id", K)


def q_bm25_post_filter_top10(spark, sf_dir):
    """Post-filter with FilteredCollector semantics (HybridCollectorManager
    .java:121-127): scores/stats are global, but non-passing docs are never
    collected — the filter restricts candidates BEFORE top-k selection, so
    the caller gets k passing hits whose scores match an unfiltered run."""
    docs = _docs(spark, sf_dir)
    scored = _bm25_scores_rounded(_index(spark, sf_dir), Q_BM25)
    keep = docs.where(F.col("source").isin(*[f"src{i}" for i in range(10)])).select("doc_id")
    return _ranked(scored.join(keep, "doc_id", "left_semi"), "score", "doc_id", K)


def q_match_msm_top10(spark, sf_dir):
    """match with minimum_should_match=2 (Lucene BooleanQuery
    minimumNumberShouldMatch): docs matching <2 of the 3 query terms are
    dropped, surviving scores identical to the plain match run. The clause
    threshold is enforced inside the same map-side-combinable aggregation
    that sums the score (query/bm25.py)."""
    t = _index(spark, sf_dir)
    s = bm25.bm25_score_all(
        t.postings, t.doclens, t.term_stats, t.meta, Q_MSM, min_should_match=2
    )
    return _ranked(s.withColumnRenamed("docID", "doc_id"), "score", "doc_id", K)


def q_prefix_scoring_top10(spark, sf_dir):
    """prefix query, scoring_boolean rewrite: term-dictionary expansion →
    BM25 disjunction over the matched terms (query/multiterm.py; Lucene
    MultiTermQuery SCORING_BOOLEAN_REWRITE, TooManyClauses above 1024)."""
    t = _index(spark, sf_dir)
    s = multiterm.multiterm_score_all(
        t.postings, t.doclens, t.term_stats, t.meta,
        "prefix", PREFIX_VALUE, rewrite="scoring_boolean",
    )
    return _ranked(s.withColumnRenamed("docID", "doc_id"), "score", "doc_id", K)


def q_wildcard_top10(spark, sf_dir):
    """wildcard query, constant_score rewrite (Lucene default for
    multi-term queries): every doc containing ≥1 matching term scores
    boost; ties rank by doc_id asc."""
    t = _index(spark, sf_dir)
    s = multiterm.multiterm_score_all(
        t.postings, t.doclens, t.term_stats, t.meta,
        "wildcard", WILDCARD_VALUE, boost=WILDCARD_BOOST,
    )
    return _ranked(s.withColumnRenamed("docID", "doc_id"), "score", "doc_id", K)


def q_fuzzy_top10(spark, sf_dir):
    """fuzzy query (classic Levenshtein = fuzzy_transpositions:false),
    constant_score: dictionary terms within edit distance FUZZY_MAXD of a
    value that is itself NOT a corpus term."""
    t = _index(spark, sf_dir)
    s = multiterm.multiterm_score_all(
        t.postings, t.doclens, t.term_stats, t.meta,
        "fuzzy", FUZZY_VALUE, fuzziness=FUZZY_MAXD,
    )
    return _ranked(s.withColumnRenamed("docID", "doc_id"), "score", "doc_id", K)


def q_terms_set_top10(spark, sf_dir):
    """terms_set query (Lucene CoveringQuery): per-doc minimum_should_match
    from a field (derived here: doc_id % 3 + 1); a doc survives iff it
    contains ≥ that many of the query terms, scored Σ BM25 of the matched
    terms. The threshold rides the same map-side-combinable aggregation
    that sums the score (query/bm25.py min_match_per_doc)."""
    from neural_search_spark.query.dsl import QueryEngine

    docs = _docs(spark, sf_dir).withColumn(
        "req_m", (F.col("doc_id") % TS_MSM_MOD + 1).cast("int")
    )
    eng = QueryEngine(tables=_index(spark, sf_dir), docs=docs, id_col="doc_id")
    s = eng._score(
        {"terms_set": {"text": {"terms": TS_TERMS,
                                "minimum_should_match_field": "req_m"}}},
        None,
    )
    return _ranked(s.withColumnRenamed("docID", "doc_id"), "score", "doc_id", K)


def q_regexp_top10(spark, sf_dir):
    """regexp query (Lucene RegexpQuery), constant_score rewrite: the
    anchored pattern expands over the term DICTIONARY (with its literal
    prefix pushed into the dictionary scan), matched docs score boost."""
    t = _index(spark, sf_dir)
    s = multiterm.multiterm_score_all(
        t.postings, t.doclens, t.term_stats, t.meta,
        "regexp", REGEXP_VALUE, boost=REGEXP_BOOST,
    )
    return _ranked(s.withColumnRenamed("docID", "doc_id"), "score", "doc_id", K)


def q_regexp_alternation_top10(spark, sf_dir):
    """regexp with a TOP-LEVEL alternation ('sort|spark|shuffl.*'): no
    literal prefix is shared by all branches, so dictionary pushdown is
    disabled entirely and the anchored pattern alone selects terms
    (guards the round-4 ADVICE regression: prefix 'sort' silently dropped
    the other branches)."""
    t = _index(spark, sf_dir)
    s = multiterm.multiterm_score_all(
        t.postings, t.doclens, t.term_stats, t.meta,
        "regexp", REGEXP_ALT_VALUE, boost=REGEXP_BOOST,
    )
    return _ranked(s.withColumnRenamed("docID", "doc_id"), "score", "doc_id", K)


def q_bool_should_top10(spark, sf_dir):
    """Full Lucene BooleanQuery (must + 2 should + must_not) executed as
    ONE fused postings scan: per-term clause bitmasks, coverage /
    min_should_match / exclusion decided inside the same aggregation that
    sums the BM25 score (query/boolquery.py)."""
    t = _index(spark, sf_dir)
    s = boolquery.fused_bool_scores(
        t.postings, t.doclens, t.term_stats, t.meta,
        BOOL_MUST, BOOL_SHOULD, BOOL_NOT, min_should_match=0,
    )
    return _ranked(s.withColumnRenamed("docID", "doc_id"), "score", "doc_id", K)


def q_term_suggest(spark, sf_dir):
    """Term suggester (did-you-mean): dictionary terms within 2 classic
    Levenshtein edits sharing the first letter, ranked distance asc /
    df desc / term asc (query/suggest.py) — one filter + bounded top-k
    over the vocabulary-sized dictionary."""
    t = _index(spark, sf_dir)
    return suggest.term_suggest(t.term_stats, SUGGEST_VALUE, size=5)


def q_completion_suggest(spark, sf_dir):
    """Completion suggester (search-as-you-type): dictionary terms with the
    prefix, df desc / term asc — pushed prefix scan + bounded top-k."""
    t = _index(spark, sf_dir)
    return suggest.completion_suggest(t.term_stats, PREFIX_VALUE, size=5)


def q_sparse_linear_top10(spark, sf_dir):
    t = _index(spark, sf_dir)
    weights = t.postings.select("term", F.col("docID"), F.col("tf").cast("double").alias("weight"))
    s = sparse.sparse_scores(weights, Q_SPARSE, quantize=False)
    return _ranked(s.withColumnRenamed("docID", "doc_id"), "score", "doc_id", K)


def q_two_phase_sparse_top10(spark, sf_dir):
    t = _index(spark, sf_dir)
    weights = t.postings.select("term", F.col("docID"), F.col("tf").cast("double").alias("weight"))
    s = sparse.two_phase_sparse_topk(weights, Q_SPARSE, k=K, quantize=False)
    return (
        s.withColumnRenamed("docID", "doc_id")
        .withColumn("score", F.round("score", 6))
        .withColumn("rank", F.col("rank").cast("long"))
        .select("rank", "doc_id", "score")
    )


def _hybrid(spark, sf_dir, normalization, combination):
    """Both lexical sub-queries scored in ONE postings scan + one
    (subquery_idx, docID) shuffle (hybrid.fused_bm25_subquery_scores) —
    never one scan per sub-query. Sub-scores rounded to 6dp pre-top-k so
    both engines bound and normalize identical inputs."""
    t = _index(spark, sf_dir)
    fused = hybrid.fused_bm25_subquery_scores(t, [Q_HY_A, Q_HY_B])
    rounded = fused.withColumn("score", F.round("score", 6))
    bounded = bm25.per_key_topk(rounded, K, "subquery_idx")
    normalized = hybrid.normalize_scores(bounded, normalization)
    combined = hybrid.combine_scores(normalized, 2, combination)
    return _ranked(combined.withColumnRenamed("docID", "doc_id"), "score", "doc_id", K)


def q_hybrid_minmax_arithmetic(spark, sf_dir):
    return _hybrid(spark, sf_dir, "min_max", "arithmetic_mean")


def q_hybrid_l2_geometric(spark, sf_dir):
    return _hybrid(spark, sf_dir, "l2", "geometric_mean")


def q_hybrid_minmax_harmonic(spark, sf_dir):
    return _hybrid(spark, sf_dir, "min_max", "harmonic_mean")


def q_hybrid_rrf_top10(spark, sf_dir):
    """Reciprocal rank fusion over the same two lexical sub-queries —
    rank-based fusion (scale-free, the standard alternative to score
    normalization; query/hybrid.py rrf_combine). Same ONE-postings-scan
    sub-query scoring as the other hybrids."""
    t = _index(spark, sf_dir)
    fused = hybrid.fused_bm25_subquery_scores(t, [Q_HY_A, Q_HY_B])
    rounded = fused.withColumn("score", F.round("score", 6))
    bounded = bm25.per_key_topk(rounded, K, "subquery_idx")
    combined = hybrid.rrf_combine(bounded, 2, rank_constant=60)
    return _ranked(
        combined.withColumn("score", F.round("score", 6)).withColumnRenamed(
            "docID", "doc_id"
        ),
        "score",
        "doc_id",
        K,
    )


def q_hybrid_sorted_top10(spark, sf_dir):
    """Sorted hybrid (HybridTopFieldDocSortCollector semantics): each
    sub-query's bounded window competes on the SORT criteria — n_chars
    desc, doc_id asc — not the score (FieldValueHitQueue,
    search/collector/HybridTopFieldDocSortCollector.java:198-242;
    ScoreCombiner.java:100-103 merges TopFieldDocs by the sort). Scores
    are still min-max normalized over each field-bounded window and
    arithmetic-mean combined; the final ranking is by the sort. Same
    one-postings-scan fused sub-query scoring as the other hybrids."""
    t = _index(spark, sf_dir)
    docs = _docs(spark, sf_dir)
    fused = hybrid.fused_bm25_subquery_scores(t, [Q_HY_A, Q_HY_B])
    rounded = fused.withColumn("score", F.round("score", 6))
    meta = docs.select(F.col("doc_id").alias("docID"), "n_chars")
    order = [F.col("n_chars").desc(), F.col("docID").asc()]
    bounded = bm25.per_key_topk(rounded.join(meta, "docID"), K, "subquery_idx", order=order)
    normalized = hybrid.normalize_scores(
        bounded.select("subquery_idx", "docID", "score"), "min_max"
    )
    combined = hybrid.combine_scores(normalized, 2, "arithmetic_mean")
    final = (
        combined.join(meta, "docID")
        .orderBy(*order)
        .limit(K)
        .withColumn("rank", F.row_number().over(Window.orderBy(*order)).cast("long"))
    )
    return final.select(
        "rank",
        F.col("docID").alias("doc_id"),
        F.round("score", 6).alias("score"),
        F.col("n_chars").cast("long").alias("n_chars"),
    )


def q_ml_rerank_top10(spark, sf_dir):
    """Cross-encoder rerank of the BM25 top-k (MLOpenSearchRerankProcessor
    / RescoringRerankProcessor dataflow): one relevance call re-scores the
    k (query, doc) pairs and the hits re-sort by the new score. The model
    stand-in is token Jaccard overlap, computed JVM-side on the k
    broadcast-joined rows — exactly where the cross-encoder RPC drops in;
    the oracle mirrors it in SQL."""
    from neural_search_spark.query.pipeline import CrossEncoderRerank

    hits = _ranked(
        _bm25_scores_rounded(_index(spark, sf_dir), Q_BM25), "score", "doc_id", K
    )
    ce = CrossEncoderRerank(
        _docs(spark, sf_dir), "spark join window", id_col="doc_id"
    )
    out = ce(hits.select(F.col("doc_id").alias("docID")))
    return out.select(
        F.col("rank").cast("long").alias("rank"),
        F.col("docID").alias("doc_id"),
        F.round("score", 6).alias("score"),
    )


def q_rerank_by_field(spark, sf_dir):
    """By-field rerank of the BM25 top-k (processor/rerank/
    ByFieldRerankProcessor.java): re-order the k hits by documents.n_chars
    desc, doc_id asc; previous score is kept as previous_score."""
    docs = _docs(spark, sf_dir)
    topk = _ranked(_bm25_scores_rounded(_index(spark, sf_dir), Q_BM25), "score", "doc_id", K)
    j = topk.join(docs.select("doc_id", "n_chars"), "doc_id")
    w = Window.orderBy(F.col("n_chars").desc(), F.col("doc_id").asc())
    return j.select(
        F.row_number().over(w).cast("long").alias("rank"),
        "doc_id",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.col("score").alias("previous_score"),
    )


def q_dedup_exact(spark, sf_dir):
    return ops.dedup_exact(_docs(spark, sf_dir))


def q_minhash_signatures(spark, sf_dir):
    from neural_search_spark.ops.dedup import minhash_signature

    return minhash_signature(_docs(spark, sf_dir), num_hashes=MINHASH_K, n=JACCARD_N)


def q_minhash_lsh_pairs(spark, sf_dir):
    return ops.minhash_lsh_pairs(
        _docs(spark, sf_dir), n=JACCARD_N, num_hashes=MINHASH_K, bands=MINHASH_BANDS
    )


def q_ngram_jaccard_pairs(spark, sf_dir):
    return ops.ngram_jaccard_pairs(_docs(spark, sf_dir), n=JACCARD_N, threshold=JACCARD_THRESHOLD)


def q_lsh_jaccard_verified(spark, sf_dir):
    """The full near-dup scale pipeline: MinHash-LSH candidate pairs →
    candidate-first n-gram Jaccard verification (doc scan pruned to
    candidate ids; no quadratic shingle self-join anywhere). The corpus is
    tokenized/shingled ONCE — the persisted shingle frame feeds both the
    MinHash signatures and the Jaccard verify."""
    docs = _docs(spark, sf_dir)
    sh = ops.doc_shingles(docs, n=JACCARD_N).persist()
    cand = ops.minhash_lsh_pairs(
        docs, n=JACCARD_N, num_hashes=MINHASH_K, bands=MINHASH_BANDS, shingles=sh
    )
    return ops.ngram_jaccard_pairs(
        docs, n=JACCARD_N, threshold=JACCARD_THRESHOLD, candidates=cand, shingles=sh
    )


def q_dedup_clusters(spark, sf_dir):
    """The dedup END-PRODUCT: near-dup cluster labels + survivor flags for
    EVERY doc — MinHash-LSH candidate pairs → distributed connected
    components (iterative min-label propagation, rounds = graph diameter)
    → singleton completion. Filtering is_survivor yields the deduplicated
    corpus; pairs are just the intermediate."""
    docs = _docs(spark, sf_dir)
    pairs = ops.minhash_lsh_pairs(docs, n=JACCARD_N, num_hashes=MINHASH_K, bands=MINHASH_BANDS)
    from neural_search_spark.ops.dedup import dedup_near

    return dedup_near(docs, pairs)


def q_embedding_dup_pairs(spark, sf_dir):
    """Embedding-cosine near-dup pairs: sign-LSH code hamming ball
    (band-bucketed, pigeonhole-complete over the codes for hamming ≤ 3)
    → exact cosine verify ≥ threshold."""
    from neural_search_spark.ops.similarity import embedding_dup_pairs, lsh_index

    emb = _emb(spark, sf_dir)
    return embedding_dup_pairs(
        emb, dim=EMB_DIM, threshold=EMB_DUP_THRESHOLD, n_planes=EMB_DUP_PLANES,
        bands=EMB_DUP_BANDS, max_hamming=EMB_DUP_MAXH,
        max_bucket=EMB_DUP_MAX_BUCKET,
    ).withColumn("cosine", F.round("cosine", 6))


def q_simhash(spark, sf_dir):
    return ops.simhash(_docs(spark, sf_dir), n=JACCARD_N, bits=SIMHASH_BITS)


def q_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pair search: band-bucketed hamming-ball lookup
    (complete for hamming ≤ max_hamming by pigeonhole), exact
    bit_count(xor) verify — never an all-pairs join."""
    return ops.simhash_pairs(
        _docs(spark, sf_dir),
        n=JACCARD_N,
        bits=SIMHASH_BITS,
        bands=SIMHASH_BANDS,
        max_hamming=SIMHASH_MAX_HAMMING,
    )


SAMPLE_RATE, SAMPLE_SEED = 0.25, "0"
STRAT_N = 20  # per-lang quota
MIX_WEIGHTS = {"en": 0.5, "de": 0.3, "fr": 0.2}  # target domain mixture
PACK_BUDGET = 5000  # n_chars per training pack


def q_hash_sample(spark, sf_dir):
    """Deterministic corpus sampling: survive iff hash60(id#seed) <
    rate·2^60 (ops/sampling.py) — a stateless filter, same bytes on every
    run and in every engine."""
    out = ops.hash_sample(_docs(spark, sf_dir), SAMPLE_RATE, "doc_id", SAMPLE_SEED)
    return out.select("doc_id", "lang")


def q_repetition_features(spark, sf_dir):
    """Gopher-style repetition signals (dup-line fraction, top-token share,
    dup-2gram fraction) — pure codegen columns, zero shuffle."""
    return ops.repetition_features(_docs(spark, sf_dir))


def q_mixture_sample(spark, sf_dir):
    """Domain-mixture resampling (ops/sampling.py mixture_sample): the
    largest deterministic subsample whose lang distribution matches
    MIX_WEIGHTS exactly (λ = min_g n_g/p_g, per-group quota ⌊λ·p_g⌋ in
    hash order)."""
    out = ops.mixture_sample(
        _docs(spark, sf_dir), "lang", MIX_WEIGHTS, key_col="doc_id", seed=SAMPLE_SEED
    )
    return out.select("doc_id", "lang")


def q_stratified_sample(spark, sf_dir):
    """Per-language quota sampling: ≤ STRAT_N docs per lang by hash order
    (the deterministic uniform-without-replacement analog)."""
    out = ops.stratified_sample(
        _docs(spark, sf_dir), "lang", STRAT_N, key_col="doc_id", seed=SAMPLE_SEED
    )
    return out.select("doc_id", "lang")


def q_pack_sequences(spark, sf_dir):
    """Contiguous-fill sequence packing for fixed-budget training batches:
    pack_id = floor(prefix_sum(n_chars)/budget) under doc_id order —
    computed with the keys-first distributed prefix-sum, never a global
    single-partition window."""
    docs = _docs(spark, sf_dir).select("doc_id", F.col("n_chars").cast("long").alias("n_tok"))
    out = ops.pack_sequences(docs, "n_tok", PACK_BUDGET, order_col="doc_id")
    return out.select("doc_id", "pack_id", "pack_offset")


def q_quality_features(spark, sf_dir):
    return ops.quality_features(_docs(spark, sf_dir)).withColumn(
        "n_tokens", F.col("n_tokens").cast("long")
    ).withColumn("len_chars", F.col("len_chars").cast("long"))


def q_lang_id(spark, sf_dir):
    return ops.lang_id(_docs(spark, sf_dir)).withColumn(
        "profile_hits", F.col("profile_hits").cast("long")
    )


def q_content_fingerprint(spark, sf_dir):
    return ops.content_fingerprint(_docs(spark, sf_dir))


def q_chunk_fixed(spark, sf_dir):
    return ops.chunk_fixed_token_length(
        _docs(spark, sf_dir), token_limit=CHUNK_LIMIT, overlap_rate=CHUNK_OVERLAP
    ).select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        "chunk_text",
        F.col("n_chunk_tokens").cast("long").alias("n_chunk_tokens"),
    )


def q_chunk_delimiter(spark, sf_dir):
    return ops.chunk_delimiter(_docs(spark, sf_dir), delimiter=DELIM).select(
        "doc_id", F.col("chunk_idx").cast("long").alias("chunk_idx"), "chunk_text"
    )


def q_chunk_delimiter_limited(spark, sf_dir):
    """Delimiter chunking with max_chunk_limit: tail past the limit merges
    into one final unsplit chunk (Chunker.java:43-48 + DelimiterChunker
    .java:63-74)."""
    return ops.chunk_delimiter(
        _docs(spark, sf_dir), delimiter=DELIM, max_chunk_limit=CHUNK_MAXN
    ).select("doc_id", F.col("chunk_idx").cast("long").alias("chunk_idx"), "chunk_text")


def q_chunk_fixed_whitespace_limited(spark, sf_dir):
    """Fixed-token-length chunking with the whitespace word tokenizer and a
    max_chunk_limit (FixedTokenLengthChunker.java:44-52 tokenizer choice;
    :138-142 limit overflow merges the tail into the final chunk)."""
    return ops.chunk_fixed_token_length(
        _docs(spark, sf_dir),
        token_limit=CHUNK_LIMIT,
        tokenizer="whitespace",
        max_chunk_limit=CHUNK_MAXN,
    ).select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        "chunk_text",
        F.col("n_chunk_tokens").cast("long").alias("n_chunk_tokens"),
    )


def q_cosine_top10(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").repartition(
        spark.sparkContext.defaultParallelism
    )
    qvec = emb.where(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    return ops.cosine_topk(emb, [float(x) for x in qvec], k=K).select(
        F.col("rank").cast("long").alias("rank"),
        "vec_id",
        F.round("cosine", 6).alias("cosine"),
    )


def q_int8_cosine_top10(spark, sf_dir):
    """Exact cosine top-10 over INT8-QUANTIZED vectors (per-vector
    symmetric ⌊v/scale+0.5⌋, scale = max|v|/127): cosine is scale-
    invariant per vector, so the 4×-smaller codes need no dequantize —
    the vector-compression path for 100 TB embedding tables."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").repartition(
        spark.sparkContext.defaultParallelism
    )
    qvec = emb.where(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    qz = ops.quantize_embeddings_int8(emb)
    return ops.cosine_int8_topk(qz, [float(x) for x in qvec], k=K).select(
        F.col("rank").cast("long").alias("rank"),
        "vec_id",
        F.round("cosine", 6).alias("cosine"),
    )


def q_lsh_cosine_top10(spark, sf_dir):
    """ANN scale path: bucket computed at INDEX time (lsh_index; at scale a
    partition/cluster key of the stored table), query probes only the
    buckets within the multi-probe hamming ball via an IN-list filter —
    partition pruning, no per-row work per query."""
    from neural_search_spark.ops.similarity import lsh_index

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").repartition(
        spark.sparkContext.defaultParallelism
    )
    qvec = emb.where(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    indexed = lsh_index(emb, dim=EMB_DIM, n_planes=LSH_PLANES)
    return ops.lsh_cosine_topk(
        indexed, [float(x) for x in qvec], k=K, n_planes=LSH_PLANES, probe_hamming=LSH_PROBE
    ).select(
        F.col("rank").cast("long").alias("rank"),
        "vec_id",
        F.round("cosine", 6).alias("cosine"),
    )


def _emb(spark, sf_dir) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").repartition(
        spark.sparkContext.defaultParallelism
    )


def _qvec(spark, sf_dir, vec_id: int = 1) -> list[float]:
    emb = _emb(spark, sf_dir)
    row = emb.where(F.col("vec_id") == vec_id).select("embedding").first()
    return [float(x) for x in row["embedding"]]


def _neural_engine(spark, sf_dir):
    """QueryEngine over documents + embeddings (doc_id ↔ vec_id aligned)."""
    from neural_search_spark.query.dsl import QueryEngine

    return QueryEngine(
        tables=_index(spark, sf_dir),
        docs=_docs(spark, sf_dir),
        id_col="doc_id",
        embeddings=_emb(spark, sf_dir),
        emb_id_col="vec_id",
    )


def q_range_query_hits(spark, sf_dir):
    """Top-level range query kind (RangeQueryBuilder): filter context,
    constant score × boost, k hits in (score desc, doc_id asc) order."""
    eng = _neural_engine(spark, sf_dir)
    res = eng.search(
        {"range": {"n_chars": {"gte": 200, "lt": 260, "boost": 2.0}}}, k=25
    )
    return res.select(
        F.col("rank").cast("long").alias("rank"),
        F.col("docID").alias("doc_id"),
        F.round("score", 6).alias("score"),
    )


def q_terms_query_hits(spark, sf_dir):
    """Top-level terms query kind (TermsQueryBuilder): field → value set
    membership, constant score."""
    eng = _neural_engine(spark, sf_dir)
    res = eng.search({"terms": {"lang": ["de", "fr"]}}, k=25)
    return res.select(
        F.col("rank").cast("long").alias("rank"),
        F.col("docID").alias("doc_id"),
        F.round("score", 6).alias("score"),
    )


def q_neural_top10(spark, sf_dir):
    """Dense `neural` DSL query, k-mode with an attached filter — the
    filtered-kNN analog (query/NeuralQueryBuilder.java:86,300-354): the
    filter restricts candidates DURING the vector search, k defaults 10."""
    eng = _neural_engine(spark, sf_dir)
    res = eng.search(
        {"neural": {"embedding": {
            "query_vector": _qvec(spark, sf_dir), "k": K,
            "filter": {"eq": ["lang", "en"]},
        }}},
        k=K,
    )
    return res.select(
        F.col("rank").cast("long").alias("rank"),
        F.col("docID").alias("doc_id"),
        F.round("score", 6).alias("score"),
    )


def q_neural_radial(spark, sf_dir):
    """Radial neural query: min_score mode returns EVERY doc whose cosine
    similarity ≥ the threshold, unranked and unbounded
    (NeuralQueryBuilder.java:300-354 radial search params)."""
    eng = _neural_engine(spark, sf_dir)
    scored = eng.score(
        {"neural": {"embedding": {"query_vector": _qvec(spark, sf_dir), "min_score": NEURAL_MIN_SCORE}}}
    )
    return scored.select(F.col("docID").alias("doc_id"), F.round("score", 6).alias("score"))


def q_hybrid_neural_match(spark, sf_dir):
    """The reference's headline hybrid: lexical (BM25 match) + dense
    (neural kNN) sub-queries fused with min_max + arithmetic mean
    (src/test/.../query/HybridQueryIT.java). Sub-scores rounded to 6dp so
    both engines normalize identical inputs."""
    from neural_search_spark.ops.similarity import _dot, _norm

    t = _index(spark, sf_dir)
    qv = _qvec(spark, sf_dir)
    s_lex = bm25.bm25_score_all(t.postings, t.doclens, t.term_stats, t.meta, Q_HY_A)
    per0 = s_lex.select(
        F.lit(0).alias("subquery_idx"), "docID", F.round("score", 6).alias("score")
    )
    emb = _emb(spark, sf_dir)
    q = F.array(*[F.lit(float(x)) for x in qv])
    cos = _dot(F.col("embedding"), q) / (_norm(F.col("embedding")) * _norm(q))
    per1 = emb.select(
        F.lit(1).alias("subquery_idx"),
        F.col("vec_id").alias("docID"),
        F.round(cos, 6).alias("score"),
    )
    bounded = hybrid.bounded_subquery_union([per0, per1], K)
    normalized = hybrid.normalize_scores(bounded, "min_max")
    combined = hybrid.combine_scores(normalized, 2, "arithmetic_mean")
    return _ranked(combined.withColumnRenamed("docID", "doc_id"), "score", "doc_id", K)


Q_MATCH_TEXT = "spark join window"  # analyzes to the Q_BM25 term set


def q_total_hits_relation(spark, sf_dir):
    """Total-hit counting with threshold relation (HitsThresholdChecker
    .java:17-40): exact (n, eq) below the threshold, (threshold, gte) once
    crossed — deterministic analog of Lucene's early-terminated count."""
    eng = _neural_engine(spark, sf_dir)
    q = {"match": {"text": {"query": Q_MATCH_TEXT}}}
    lo_v, lo_r = eng.count_hits(q, track_total_hits=50)
    hi_v, hi_r = eng.count_hits(q, track_total_hits=100_000)
    return spark.createDataFrame(
        [("low", lo_v, lo_r), ("high", hi_v, hi_r)],
        "thresh_case string, value long, relation string",
    )


def q_query_with_aggs(spark, sf_dir):
    """Aggregations alongside a search query (HybridAggregationProcessor
    .java:31-65): a terms agg computed over the query's FULL match set,
    not the top-k hit list."""
    eng = _neural_engine(spark, sf_dir)
    _, aggs = eng.search_with_aggs(
        {"match": {"text": {"query": Q_MATCH_TEXT}}},
        {"by_lang": {"terms": {"field": "lang"}}},
        k=K,
    )
    return aggs["by_lang"]


def q_query_histogram_agg(spark, sf_dir):
    """Numeric histogram agg over the match set (interval 50, gap-filled
    min_doc_count=0 buckets between the observed bounds — a generated
    bucket-index sequence, no driver loop)."""
    eng = _neural_engine(spark, sf_dir)
    _, aggs = eng.search_with_aggs(
        {"match": {"text": {"query": Q_MATCH_TEXT}}},
        {"h": {"histogram": {"field": "n_chars", "interval": 50,
                             "min_doc_count": 0}}},
        k=K,
    )
    return aggs["h"].select(F.col("key").cast("double").alias("key"), "doc_count")


def q_query_filters_agg(spark, sf_dir):
    """Named filter buckets in ONE conditional-count pass over the match
    set (stack() unpivot, no per-bucket scan)."""
    eng = _neural_engine(spark, sf_dir)
    _, aggs = eng.search_with_aggs(
        {"match": {"text": {"query": Q_MATCH_TEXT}}},
        {"kinds": {"filters": {"filters": {
            "short": {"range": {"column": "n_chars", "lt": 150}},
            "en": {"eq": ["lang", "en"]},
            "long_de": {"range": {"column": "n_chars", "gte": 250}},
        }}}},
        k=K,
    )
    return aggs["kinds"]


def q_query_top_hits_agg(spark, sf_dir):
    """top_hits under a terms grouping: per source, the 2 best hits by
    query score (bounded per-group window, no global sort). Ties rank at
    6dp granularity (score_decimals) so replica-heavy corpora with exact
    score ties are ULP-stable against the oracle at any scale."""
    eng = _neural_engine(spark, sf_dir)
    _, aggs = eng.search_with_aggs(
        {"match": {"text": {"query": Q_MATCH_TEXT}}},
        {"best": {"top_hits": {"group_by": "source", "size": 2,
                               "score_decimals": 6}}},
        k=K,
    )
    return aggs["best"].select(
        "key", "rank", F.col("docID").alias("doc_id"), F.round("score", 6).alias("score")
    )


def q_query_composite_agg(spark, sf_dir):
    """Composite agg page: (source, lang) buckets after the cursor
    ('src2', 'de'), strict tuple order, size 8 — bucket paging that stays
    bounded at ANY key cardinality."""
    eng = _neural_engine(spark, sf_dir)
    _, aggs = eng.search_with_aggs(
        {"match": {"text": {"query": Q_MATCH_TEXT}}},
        {"page": {"composite": {
            "sources": [{"src": {"terms": {"field": "source"}}},
                        {"lg": {"terms": {"field": "lang"}}}],
            "size": 8, "after": {"src": "src2", "lg": "de"}}}},
        k=K,
    )
    return aggs["page"]


PR_VALUES = [120.0, 200.0, 300.0]  # percentile_ranks probe points


def q_query_global_agg(spark, sf_dir):
    """global agg: the corpus-wide average n_chars alongside the query's
    matched average — the compare-to-corpus denominator in one request."""
    eng = _neural_engine(spark, sf_dir)
    _, aggs = eng.search_with_aggs(
        {"match": {"text": {"query": Q_MATCH_TEXT}}},
        {"all_avg": {"global": {"agg": {"avg": {"field": "n_chars"}}}},
         "match_avg": {"avg": {"field": "n_chars"}}},
        k=K,
    )
    a = aggs["all_avg"].select(F.round("value", 6).alias("all_avg"))
    b = aggs["match_avg"].select(F.round("value", 6).alias("match_avg"))
    return a.crossJoin(b)


def q_query_percentile_ranks_agg(spark, sf_dir):
    """percentile_ranks agg (inverse CDF probes): % of matched docs with
    n_chars <= each value — one conditional-sum pass, no sort."""
    eng = _neural_engine(spark, sf_dir)
    _, aggs = eng.search_with_aggs(
        {"match": {"text": {"query": Q_MATCH_TEXT}}},
        {"pr": {"percentile_ranks": {"field": "n_chars", "values": PR_VALUES}}},
        k=K,
    )
    return aggs["pr"].select("value", F.round("percent", 6).alias("percent"))


def q_query_adjacency_agg(spark, sf_dir):
    """adjacency_matrix agg: per-filter buckets + pair intersections in one
    conditional-count pass; zero-doc buckets omitted."""
    eng = _neural_engine(spark, sf_dir)
    _, aggs = eng.search_with_aggs(
        {"match": {"text": {"query": Q_MATCH_TEXT}}},
        {"adj": {"adjacency_matrix": {"filters": {
            "short": {"range": {"column": "n_chars", "lt": 150}},
            "en": {"eq": ["lang", "en"]},
        }}}},
        k=K,
    )
    return aggs["adj"]


def q_query_weighted_avg_agg(spark, sf_dir):
    """weighted_avg agg over the match set: n_chars weighted by a derived
    per-doc weight (doc_id % 5 + 1), missing weights counting 1."""
    from neural_search_spark.query.dsl import QueryEngine

    docs = _docs(spark, sf_dir).withColumn(
        "w", (F.col("doc_id") % 5 + 1).cast("double")
    )
    eng = QueryEngine(tables=_index(spark, sf_dir), docs=docs, id_col="doc_id")
    _, aggs = eng.search_with_aggs(
        {"match": {"text": {"query": Q_MATCH_TEXT}}},
        {"wa": {"weighted_avg": {"value": {"field": "n_chars"},
                                 "weight": {"field": "w"}}}},
        k=K,
    )
    return aggs["wa"].select(F.round("value", 6).alias("value"))


def q_query_percentiles_agg(spark, sf_dir):
    """Exact continuous percentiles agg over the match set (OpenSearch uses
    t-digest approximation — documented divergence; this is quantile_cont
    semantics, checkable against the oracle)."""
    eng = _neural_engine(spark, sf_dir)
    _, aggs = eng.search_with_aggs(
        {"match": {"text": {"query": Q_MATCH_TEXT}}},
        {"pct": {"percentiles": {"field": "n_chars", "percents": [25, 50, 95]}}},
        k=K,
    )
    return aggs["pct"].select("percent", F.round("value", 6).alias("value"))


RESCORE_WINDOW, RESCORE_RQW = 30, 2.0  # lexical rescore window + weight
PERC_QDEFS = {  # percolate rules (keep in sync with the oracle VALUES)
    1: {"terms": ["table", "part"]},
    2: {"terms": ["merge", "sort"], "min_match": 1},
    3: {"terms": ["spark"]},
}
FS_ORIGIN, FS_SCALE, FS_DECAY = 150.0, 100.0, 0.5  # gauss decay on n_chars
FS_SIGMA2 = -(FS_SCALE * FS_SCALE) / (2.0 * math.log(FS_DECAY))
DM_TIE = 0.3  # dis_max tie_breaker: best sub-score + 0.3 × the rest
BOOSTING_NEG, BOOSTING_NB = "stream", 0.4  # demote docs containing 'stream'
CS_BOOST, CS_K = 2.5, 25  # constant_score flat score / hit count


def q_dis_max_top10(spark, sf_dir):
    """dis_max (Lucene DisjunctionMaxQuery): per doc the BEST of two match
    sub-queries wins, + tie_breaker × the other. All-lexical → the engine
    fuses both sub-queries into ONE postings scan (query/dsl.py)."""
    eng = _neural_engine(spark, sf_dir)
    s = eng._score(
        {"dis_max": {"queries": [
            {"match": {"text": {"query": "spark stream"}}},
            {"match": {"text": {"query": "customer vector batch"}}},
        ], "tie_breaker": DM_TIE}},
        None,
    )
    return _ranked(s.withColumnRenamed("docID", "doc_id"), "score", "doc_id", K)


def q_boosting_top10(spark, sf_dir):
    """boosting query (BoostingQueryBuilder): positive BM25 matches keep
    their score, docs ALSO containing BOOSTING_NEG are demoted
    × negative_boost — filter-context negative, score-context positive."""
    eng = _neural_engine(spark, sf_dir)
    s = eng._score(
        {"boosting": {
            "positive": {"match": {"text": {"query": Q_MATCH_TEXT}}},
            "negative": {"term": {"text": {"value": BOOSTING_NEG}}},
            "negative_boost": BOOSTING_NB,
        }},
        None,
    )
    return _ranked(s.withColumnRenamed("docID", "doc_id"), "score", "doc_id", K)


RF_PIVOT = 200.0  # rank_feature saturation pivot on n_chars
SQS_QUERY = "+the data -dup s*"  # must(the) should(data, s-prefix) not(dup)


def q_source_groups_top5(spark, sf_dir):
    """Group-level retrieval (query/grouping.py — the conversation-ranking
    shape, ToParentBlockJoinQuery ScoreMode semantics): rank SOURCES by the
    SUM of their member docs' BM25 scores; one map-side-combinable groupBy
    over the scored match set."""
    from neural_search_spark.query.grouping import group_topk

    eng = _neural_engine(spark, sf_dir)
    s = eng._score({"match": {"text": {"query": Q_MATCH_TEXT}}}, None)
    s = s.withColumn("score", F.round("score", 6))
    g = group_topk(
        s, _docs(spark, sf_dir), "source", k=5, score_mode="sum", id_col="doc_id",
    )
    return g.select("rank", "source", F.round("score", 6).alias("score"), "n_hits")


def q_simple_query_string_top10(spark, sf_dir):
    """simple_query_string mini language: '+the data -dup s*' parses to
    must(match the) + should(match data, prefix s) + must_not(match dup)
    and runs as the fused single-scan bool (query/querystring.py)."""
    eng = _neural_engine(spark, sf_dir)
    s = eng._score({"simple_query_string": {"query": SQS_QUERY}}, None)
    return _ranked(s.withColumnRenamed("docID", "doc_id"), "score", "doc_id", K)


def q_rank_feature_top10(spark, sf_dir):
    """rank_feature (Lucene FeatureField saturation): score =
    n_chars/(n_chars + pivot) — the popularity/recency signal shape; docs
    without a positive feature don't match."""
    eng = _neural_engine(spark, sf_dir)
    s = eng._score(
        {"rank_feature": {"field": "n_chars",
                          "saturation": {"pivot": RF_PIVOT}}},
        None,
    )
    return _ranked(s.withColumnRenamed("docID", "doc_id"), "score", "doc_id", K)


def q_constant_score_hits(spark, sf_dir):
    """constant_score (ConstantScoreQuery): a match query in filter
    context — every matching doc scores exactly `boost`; ties rank by
    doc_id asc, so the hit list is the first CS_K matching ids."""
    eng = _neural_engine(spark, sf_dir)
    s = eng._score(
        {"constant_score": {"filter": {"match": {"text": {"query": "merge sort"}}},
                            "boost": CS_BOOST}},
        None,
    )
    return _ranked(s.withColumnRenamed("docID", "doc_id"), "score", "doc_id", CS_K)


def q_percolate_matches(spark, sf_dir):
    """Percolate reverse search: every (document, registered rule) match
    pair for PERC_QDEFS (bulk rule-tagging shape)."""
    from neural_search_spark.query.percolate import percolate, register_queries

    q = register_queries(spark, PERC_QDEFS)
    out = percolate(_docs(spark, sf_dir), q, id_col="doc_id")
    return out.select(F.col("id").alias("doc_id"), "query_id")


def q_percolate_stream_matches(spark, sf_dir):
    """Streaming-shaped percolation (streaming/percolate.py): the SAME rule
    set evaluated as a stateless per-row codegen'd projection — no shuffle,
    no state, append-mode safe, identical plan on batch and streaming
    frames (the alerting path; pytest runs it through an actual
    availableNow file-source stream). Same oracle semantics as
    percolate_matches, different physical strategy."""
    from neural_search_spark.streaming.percolate import percolate_stream

    out = percolate_stream(_docs(spark, sf_dir), PERC_QDEFS, id_col="doc_id")
    return out.select(
        F.col("id").alias("doc_id"), F.col("query_id").cast("long").alias("query_id")
    )


def q_function_score_top10(spark, sf_dir):
    """function_score: BM25 base × gauss length-decay on n_chars (the
    recency/popularity-boost shape, numeric variant)."""
    eng = _neural_engine(spark, sf_dir)
    res = eng.search(
        {"function_score": {
            "query": {"match": {"text": {"query": Q_MATCH_TEXT}}},
            "gauss": {"n_chars": {"origin": FS_ORIGIN, "scale": FS_SCALE,
                                  "decay": FS_DECAY}},
            "boost_mode": "multiply",
        }}, k=K,
    )
    return res.select(
        F.col("rank").cast("long").alias("rank"),
        F.col("docID").alias("doc_id"),
        F.round("score", 6).alias("score"),
    )


def q_bm25_rescore_top10(spark, sf_dir):
    """Lexical rescore window (Lucene QueryRescorer): Q_BM25's top-30 docs
    re-ranked by primary + 2·score(term 'merge'); non-matching window docs
    keep the primary score."""
    eng = _neural_engine(spark, sf_dir)
    res = eng.search(
        {"match": {"text": {"query": Q_MATCH_TEXT}}}, k=K,
        rescore={"window_size": RESCORE_WINDOW,
                 "query": {"term": {"text": "merge"}},
                 "rescore_query_weight": RESCORE_RQW, "score_mode": "total"},
    )
    return res.select(
        F.col("rank").cast("long").alias("rank"),
        F.col("docID").alias("doc_id"),
        F.round("score", 6).alias("score"),
    )


def q_significant_terms_agg(spark, sf_dir):
    """significant_terms (JLH): terms over-represented in the match set vs
    the whole index; ranked by unrounded score, value rounded for the
    hash."""
    eng = _neural_engine(spark, sf_dir)
    _, aggs = eng.search_with_aggs(
        {"match": {"text": {"query": Q_MATCH_TEXT}}},
        {"sig": {"significant_terms": {"field": "text", "size": K}}},
        k=K,
    )
    return aggs["sig"].select(
        "key", "doc_count", "bg_count", F.round("score", 6).alias("score")
    )


def q_query_stats_agg(spark, sf_dir):
    """stats + exact-cardinality aggs over the match set in one row."""
    eng = _neural_engine(spark, sf_dir)
    _, aggs = eng.search_with_aggs(
        {"match": {"text": {"query": Q_MATCH_TEXT}}},
        {"st": {"stats": {"field": "n_chars"}},
         "card": {"cardinality": {"field": "source"}}},
        k=K,
    )
    st = aggs["st"].select(
        "count",
        F.col("min").cast("long").alias("min"),
        F.col("max").cast("long").alias("max"),
        F.round("avg", 6).alias("avg"),
        F.col("sum").cast("long").alias("sum"),
    )
    return st.crossJoin(aggs["card"].select(F.col("value").alias("n_sources")))


def q_hybrid_with_aggs(spark, sf_dir):
    """Aggregations composed with a HYBRID query — the
    HybridAggregationProcessor case (search/query/HybridAggregationProcessor
    .java:31-65): the terms agg runs over the UNION of the sub-queries'
    match sets (ONE fused postings scan for the lexical sub-queries, see
    QueryEngine._match_set), NOT over the hybrid top-k hit list."""
    eng = _neural_engine(spark, sf_dir)
    _, aggs = eng.search_with_aggs(
        {"hybrid": {"queries": [
            {"match": {"text": {"query": "spark stream"}}},
            {"match": {"text": {"query": "customer vector batch"}}},
        ]}},
        {"by_lang": {"terms": {"field": "lang"}}},
        k=K,
    )
    return aggs["by_lang"]


def q_neural_rescore_top10(spark, sf_dir):
    """`neural` query with the rescore/oversampling knob (rescoreContext,
    query/NeuralQueryBuilder.java:106-107): sign-LSH probe → coarse window
    of k × oversample_factor candidates (bucket-hamming ranked) → exact
    cosine re-rank to k. pytest asserts the rescored result equals the
    exact full-scan top-k at a recall-sufficient window; the driver oracle
    mirrors the probe/window deterministically at any sf."""
    eng = _neural_engine(spark, sf_dir)
    res = eng.search(
        {"neural": {"embedding": {
            "query_vector": _qvec(spark, sf_dir), "k": K,
            "rescore": {
                "oversample_factor": RESCORE_OVERSAMPLE,
                "n_planes": LSH_PLANES,
                "probe_hamming": RESCORE_PROBE,
            },
        }}},
        k=K,
    )
    return res.select(
        F.col("rank").cast("long").alias("rank"),
        F.col("docID").alias("doc_id"),
        F.round("score", 6).alias("score"),
    )


QTEXT = "table part supplier order"  # fixed query text for the model stand-in


def _qvec_from_text() -> list[float]:
    """Deterministic query vector: the registry's dense stand-in encoder
    over QTEXT at the testdata embedding dim (driver-side, one call)."""
    from neural_search_spark.query.models import hash_dense_encoder

    return hash_dense_encoder(EMB_DIM)(QTEXT)


def _model_engine(spark, sf_dir):
    from neural_search_spark.query.models import default_registry

    eng = _neural_engine(spark, sf_dir)
    eng.models = default_registry(dim=EMB_DIM)
    return eng


def q_neural_query_text_top10(spark, sf_dir):
    """Query-time inference path: the request carries (query_text, k) with
    NO model_id; a search-pipeline `neural_query_enricher` request
    processor injects the default model id
    (processor/NeuralQueryEnricherProcessor.java:29-75 via
    query/visitor/NeuralSearchQueryVisitor.java:38-54), the registry's
    deterministic dense stand-in encodes the text driver-side
    (query/NeuralQueryBuilder.java:311-325 rewrite analog), and the dense
    search runs as usual. Oracle uses the same literal vector."""
    from neural_search_spark.query.enricher import NeuralQueryEnricher
    from neural_search_spark.query.pipeline import SearchPipeline

    pipe = SearchPipeline(
        _model_engine(spark, sf_dir),
        request_processors=[NeuralQueryEnricher(default_model_id="standin-dense")],
    )
    res = pipe.search(
        {"neural": {"embedding": {"query_text": QTEXT, "k": K}}}, k=K
    )
    return res.select(
        F.col("rank").cast("long").alias("rank"),
        F.col("docID").alias("doc_id"),
        F.round("score", 6).alias("score"),
    )


def q_pipeline_rerank_top10(spark, sf_dir):
    """Full search-pipeline chain: neural_query_enricher (request) →
    dense search → by_field rerank (response processor,
    processor/rerank/ByFieldRerankProcessor.java): the k hits re-rank by
    the docs column n_chars desc, new score = the field value, previous
    score kept."""
    from neural_search_spark.query.enricher import NeuralQueryEnricher
    from neural_search_spark.query.pipeline import ByFieldRerank, SearchPipeline

    pipe = SearchPipeline(
        _model_engine(spark, sf_dir),
        request_processors=[NeuralQueryEnricher(default_model_id="standin-dense")],
        response_processors=[
            ByFieldRerank(_docs(spark, sf_dir), "n_chars", id_col="doc_id")
        ],
    )
    res = pipe.search({"neural": {"embedding": {"query_text": QTEXT, "k": K}}}, k=K)
    return res.select(
        F.col("rank").cast("long").alias("rank"),
        F.col("docID").alias("doc_id"),
        F.round("score", 6).alias("score"),
        F.round("previous_score", 6).alias("previous_score"),
    )


def q_doc_embeddings(spark, sf_dir):
    """Ingest-time dense inference (TextEmbeddingProcessor.java:25-58 via
    InferenceProcessor.java:154-242 batchExecute): one Arrow-batched pandas
    UDF call per column batch == one model call per inferenceList. The
    deterministic md5-token-hash stand-in is mirrored EXACTLY in the DuckDB
    oracle (same tokenize, same byte math, same L2 normalize), so the
    value hash proves the whole ingest inference path bit-for-bit. Output
    sampled to dims 0-7 per doc (the normalization uses all 64)."""
    from neural_search_spark.ops.embed import embed_text
    from neural_search_spark.query.models import default_registry

    emb = embed_text(
        _docs(spark, sf_dir), default_registry(dim=EMB_DIM), "standin-dense"
    )
    return (
        emb.select("doc_id", F.posexplode("embedding").alias("dim", "val"))
        .where(F.col("dim") < 8)
        .select(
            "doc_id",
            F.col("dim").cast("long").alias("dim"),
            F.round("val", 6).alias("val"),
        )
    )


def q_doc_text_image_embeddings(spark, sf_dir):
    """Ingest-time MULTIMODAL inference (TextImageEmbeddingProcessor.java:
    43-44,111-140): one {inputText, inputImage} pair per doc, one model
    call, ONE embedding column. The image payload is derived
    deterministically from the row (utf-8 of "source:doc_id") so the
    DuckDB oracle can mirror the md5 byte math exactly; text contributes
    its token accumulation, the image one signed-md5 vector, int64 sum →
    L2 normalize. Output sampled to dims 0-7 (normalization over all 64)."""
    from neural_search_spark.ops.embed import embed_text_image
    from neural_search_spark.query.models import default_registry

    docs = _docs(spark, sf_dir).withColumn(
        "image", F.encode(F.concat_ws(":", "source", "doc_id"), "utf-8")
    )
    emb = embed_text_image(
        docs, default_registry(dim=EMB_DIM), "standin-multimodal"
    )
    return (
        emb.select("doc_id", F.posexplode("embedding").alias("dim", "val"))
        .where(F.col("dim") < 8)
        .select(
            "doc_id",
            F.col("dim").cast("long").alias("dim"),
            F.round("val", 6).alias("val"),
        )
    )


def q_doc_sparse_embedding(spark, sf_dir):
    """Ingest-time sparse inference (SparseEncodingProcessor analog): text →
    rank_features-shaped map<token,weight> column, exploded to rows for the
    oracle compare."""
    from neural_search_spark.ops.embed import embed_sparse
    from neural_search_spark.query.models import default_registry

    emb = embed_sparse(
        _docs(spark, sf_dir), default_registry(dim=EMB_DIM), "standin-sparse"
    )
    return emb.select(
        "doc_id", F.explode("sparse_embedding").alias("token", "weight")
    )


def q_nested_roundtrip_tokens(spark, sf_dir):
    """Nested-document processing (ProcessorDocumentUtils.java nested
    map/list walking; InferenceProcessor.java:317-347 buildNestedMap):
    flat docs → ArrayType(StructType) children per source → dotted-path
    projection + explode back → per-child token counts. Proves the nested
    round-trip preserves every child and `a.b` access works."""
    from neural_search_spark.ops import nested

    docs = _docs(spark, sf_dir).select("source", "doc_id", "text")
    convs = nested.group_conversations(
        docs, conv_col="source", order_col="doc_id", turns_col="children"
    )
    # dotted-path projection over the nested array-of-structs column
    first_child = nested.get_path(convs, "children")[0]["doc_id"]
    convs = convs.withColumn("first_doc_id", first_child)
    flat = nested.explode_conversations(convs.drop("first_doc_id"), conv_col="source", turns_col="children")
    return flat.select(
        "source",
        "doc_id",
        F.size(tokenize_col("text")).cast("long").alias("n_tokens"),
    )


def _ivf_hash_centroids():
    """Deterministic, dataset-independent coarse quantizer: md5-derived
    integer coordinates in [-1000, 1000], L2-normalized in Python and
    embedded as full-precision literals on both engines. (The trained
    spherical-k-means quantizer, ops/similarity.ivf_train_centroids, is
    data-dependent and validated in pytest instead — a SQL re-derivation of
    5 Lloyd iterations would compound float ulps across engines.)"""
    import hashlib

    import numpy as np

    c = np.array(
        [
            [
                int(hashlib.md5(f"ivf{j}|{d}".encode()).hexdigest()[:15], 16) % 2001 - 1000
                for d in range(EMB_DIM)
            ]
            for j in range(IVF_CLUSTERS)
        ],
        dtype=np.float64,
    )
    return c / np.linalg.norm(c, axis=1, keepdims=True)


def q_ivf_cosine_top10(spark, sf_dir):
    """IVF ANN scale path: cluster assigned at INDEX time (ivf_index; at
    scale a partitionBy key), query probes the nprobe nearest clusters via
    an IN-list filter, exact cosine rerank inside them."""
    from neural_search_spark.ops.similarity import ivf_cosine_topk, ivf_index

    emb = _emb(spark, sf_dir)
    qvec = _qvec(spark, sf_dir)
    cents = _ivf_hash_centroids()
    indexed = ivf_index(emb, cents)
    return ivf_cosine_topk(
        indexed, qvec, cents, k=K, nprobe=IVF_NPROBE
    ).select(
        F.col("rank").cast("long").alias("rank"),
        "vec_id",
        F.round("cosine", 6).alias("cosine"),
    )


def q_events_hourly_agg(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ev.groupBy(
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
        "event_type",
    ).agg(
        F.count("*").cast("long").alias("n_events"),
        F.round(F.sum("value"), 6).alias("sum_value"),
    )


def q_events_search_after(spark, sf_dir):
    """search_after paging (search/collector/PagingFieldCollector.java:88-95):
    skip rows ≤ cursor in (ts, event_id) order, take next 20."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    cur = F.to_timestamp(F.lit(EVENT_CURSOR_TS))
    after = ev.where((F.col("ts") > cur) | ((F.col("ts") == cur) & (F.col("event_id") > 0)))
    page = after.orderBy(F.col("ts").asc(), F.col("event_id").asc()).limit(20)
    return page.select(
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts"),
        F.col("event_id").cast("long").alias("event_id"),
        "event_type",
    )


def q_lineitem_agg(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 6).alias("sum_qty"),
        # money sums reach ~5e10 at soak scale: 2dp rounding absorbs the
        # engine-vs-oracle double-accumulation-order ULP drift (~1e-4 abs)
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        F.round(F.avg("l_discount"), 6).alias("avg_disc"),
        F.count("*").cast("long").alias("cnt"),
    )


def q_orders_join_agg(spark, sf_dir):
    """Broadcast-join parity check: orders (small dim at this SF) joined to
    lineitem, revenue per order priority."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    j = li.join(F.broadcast(o), li.l_orderkey == o.o_orderkey)
    return j.groupBy("o_orderpriority").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
        F.count("*").cast("long").alias("cnt"),
    )


# ---------------------------------------------------------------------------
# oracle SQL (DuckDB)
# ---------------------------------------------------------------------------


def _oracle_phrase(terms: list[str], k: int = K) -> str:
    """Exact-phrase BM25 (mirror of query/phrase.py): rebase every query-term
    position to pos − offset; a (doc, base) covering all distinct offsets is
    one phrase occurrence; idf sums one addend per phrase POSITION."""
    offs = ", ".join(f"('{t}', {i})" for i, t in enumerate(terms))
    pos_terms = ", ".join(f"'{t}'" for t in terms)
    noff = len(terms)  # offsets 0..q-1 are distinct by construction
    return f"""
    with {SQL_INDEX_CTES},
    tokarr as ({SQL_TOKARR}),
    tokpos as (select doc_id, unnest(toks) as term, unnest(range(len(toks))) as pos
               from tokarr),
    offs as (select * from (values {offs}) as t(term, os)),
    bases as (select tp.doc_id, tp.pos - o.os as base, o.os
              from tokpos tp join offs o using(term)
              where tp.pos - o.os >= 0),
    occ as (select doc_id, base from bases group by doc_id, base
            having count(distinct os) = {noff}),
    ptf as (select doc_id, count(*)::BIGINT as ptf from occ group by doc_id),
    sidf as (select sum(ln(1 + (m.n - s.df + 0.5) / (s.df + 0.5))) as sidf
             from (select unnest([{pos_terms}]) as term) q
             join stats s using(term) cross join meta m),
    scored as (select p.doc_id,
                      round(sidf.sidf * p.ptf
                            / (p.ptf + 1.2 * (1 - 0.75 + 0.75 * d.dl / m.avgdl)), 6) as score
               from ptf p join doclens d using(doc_id)
               cross join meta m cross join sidf)
    {_sql_rank("scored", "score", "doc_id", k)}"""


def _oracle_phrase_prefix(fixed: list[str], prefix: str, max_exp: int, k: int = K) -> str:
    """match_phrase_prefix mirror: last slot = any of the first max_exp
    dictionary terms with the prefix (term asc); idf = Σ over fixed
    positions + Σ over expansions (MultiPhraseQuery)."""
    q = len(fixed) + 1
    fixed_offs = ", ".join(f"('{t}', {i})" for i, t in enumerate(fixed))
    fixed_vals = ", ".join(f"('{t}')" for t in fixed)
    return f"""
    with {SQL_INDEX_CTES},
    tokarr as ({SQL_TOKARR}),
    tokpos as (select doc_id, unnest(toks) as term, unnest(range(len(toks))) as pos
               from tokarr),
    exp as (select term from stats where term like '{prefix}%'
            order by term limit {max_exp}),
    offs as (select * from (values {fixed_offs}) as t(term, os)),
    bases as (
      select tp.doc_id, tp.pos - o.os as base, o.os
      from tokpos tp join offs o using(term)
      where tp.pos - o.os >= 0
      union all
      select tp.doc_id, tp.pos - {q - 1} as base, {q - 1} as os
      from tokpos tp join exp e using(term)
      where tp.pos - {q - 1} >= 0
    ),
    occ as (select doc_id, base from bases group by doc_id, base
            having count(distinct os) = {q}),
    ptf as (select doc_id, count(*)::BIGINT as ptf from occ group by doc_id),
    sidf as (select sum(ln(1 + (m.n - s.df + 0.5) / (s.df + 0.5))) as sidf
             from (select term from (values {fixed_vals}) t(term)
                   union all select term from exp) qq
             join stats s using(term) cross join meta m),
    scored as (select p.doc_id,
                      round(sidf.sidf * p.ptf
                            / (p.ptf + 1.2 * (1 - 0.75 + 0.75 * d.dl / m.avgdl)), 6) as score
               from ptf p join doclens d using(doc_id)
               cross join meta m cross join sidf)
    {_sql_rank("scored", "score", "doc_id", k)}"""


def _oracle_span_near(terms: list[str], slop: int, in_order: bool, k: int = K) -> str:
    """Two-term span-near BM25 (mirror of query/phrase.py span_near_*):
    anchors are distinct first-term positions (in-order) / window-min
    positions (unordered) with a slop-budget partner; scored as a phrase
    pseudo-term with tf = COUNT(DISTINCT anchors)."""
    assert len(terms) == 2, "SQL oracle covers the 2-term driver entries"
    t0, t1 = terms
    if in_order:
        pair_cond = f"b.pos > a.pos and b.pos <= a.pos + {slop + 1}"
        anchor = "a.pos"
    else:
        pair_cond = f"abs(b.pos - a.pos) <= {slop + 1} and b.pos <> a.pos"
        anchor = "least(a.pos, b.pos)"
    return f"""
    with {SQL_INDEX_CTES},
    tokarr as ({SQL_TOKARR}),
    tokpos as (select doc_id, unnest(toks) as term, unnest(range(len(toks))) as pos
               from tokarr),
    anchors as (select distinct a.doc_id, {anchor} as p0
                from tokpos a join tokpos b using(doc_id)
                where a.term = '{t0}' and b.term = '{t1}' and {pair_cond}),
    sntf as (select doc_id, count(*)::BIGINT as sntf from anchors group by doc_id),
    sidf as (select sum(ln(1 + (m.n - s.df + 0.5) / (s.df + 0.5))) as sidf
             from (select unnest(['{t0}', '{t1}']) as term) q
             join stats s using(term) cross join meta m),
    scored as (select p.doc_id,
                      round(sidf.sidf * p.sntf
                            / (p.sntf + 1.2 * (1 - 0.75 + 0.75 * d.dl / m.avgdl)), 6) as score
               from sntf p join doclens d using(doc_id)
               cross join meta m cross join sidf)
    {_sql_rank("scored", "score", "doc_id", k)}"""


def _oracle_synonym(groups: list[list[str]], boosts: list[float], k: int = K) -> str:
    """Blended synonym-group BM25 (mirror of query/synonym.py): per group
    df = max member df, tf = Σ member tf, one idf per group."""
    vals = ", ".join(
        f"('{t}', {gi}, {float(w)!r}::DOUBLE)"
        for gi, (g, w) in enumerate(zip(groups, boosts))
        for t in g
    )
    return f"""
    with {SQL_INDEX_CTES},
    groups as (select * from (values {vals}) as t(term, g, w)),
    gdf as (select g, max(df) as gdf, max(w) as w
            from stats join groups using(term) group by g),
    gtf as (select g, doc_id, sum(tf)::BIGINT as gtf
            from postings join groups using(term) group by 1, 2),
    scored as (select t.doc_id,
                      round(sum(gd.w * ln(1 + (m.n - gd.gdf + 0.5) / (gd.gdf + 0.5))
                                * t.gtf / (t.gtf + 1.2 * (1 - 0.75 + 0.75 * d.dl / m.avgdl))), 6) as score
               from gtf t join gdf gd using(g) join doclens d using(doc_id)
               cross join meta m group by t.doc_id)
    {_sql_rank("scored", "score", "doc_id", k)}"""


def _oracle_mlt(like: list[int], mtf: int, mdf: int, mqt: int, k: int = K) -> str:
    """more_like_this (mirror of query/mlt.py): interesting-term selection
    (tf·idf, gates, term-asc ties) then an unboosted BM25 OR excluding the
    example docs."""
    ids = ", ".join(str(int(d)) for d in like)
    return f"""
    with {SQL_INDEX_CTES},
    src as (select term, sum(tf)::BIGINT as stf from postings
            where doc_id in ({ids}) group by term having sum(tf) >= {mtf}),
    sel as (select s.term
            from src s join stats st using(term) cross join meta m
            where st.df >= {mdf}
            order by s.stf * ln(1 + (m.n - st.df + 0.5) / (st.df + 0.5)) desc, s.term asc
            limit {mqt}),
    scored as (select p.doc_id,
                      round(sum(ln(1 + (m.n - st.df + 0.5) / (st.df + 0.5))
                                * p.tf / (p.tf + 1.2 * (1 - 0.75 + 0.75 * d.dl / m.avgdl))), 6) as score
               from postings p join sel using(term) join stats st using(term)
               join doclens d using(doc_id) cross join meta m
               where p.doc_id not in ({ids}) group by 1)
    {_sql_rank("scored", "score", "doc_id", k)}"""


def _oracle_collapse(tokens: dict[str, float], field: str, k: int = K) -> str:
    """Field collapsing (mirror of query/collapse.py): best hit per field
    value, groups ranked by their winner."""
    return f"""
    with {SQL_INDEX_CTES}, {_sql_bm25_scored(tokens)},
    joined as (select s.doc_id, s.score, d.{field}
               from scored s join documents d using(doc_id)),
    win as (select *, row_number() over (partition by {field}
                                         order by score desc, doc_id asc) as grn
            from joined),
    winners as (select doc_id, score, {field} from win where grn = 1)
    select row_number() over (order by score desc, doc_id asc)::BIGINT as rank,
           doc_id, score, {field}
    from winners order by score desc, doc_id asc limit {k}"""


def _oracle_bm25(tokens: dict[str, float], k: int = K) -> str:
    return f"with {SQL_INDEX_CTES}, {_sql_bm25_scored(tokens)} " + _sql_rank(
        "scored", "score", "doc_id", k
    )


def _oracle_bm25_batch(qdefs: dict[int, dict[str, float]], k: int) -> str:
    vals = ", ".join(
        f"({qid}, '{t}', {float(w)!r}::DOUBLE)"
        for qid, terms in sorted(qdefs.items())
        for t, w in sorted(terms.items())
    )
    return f"""with {SQL_INDEX_CTES},
  qb as (select * from (values {vals}) as t(query_id, term, w)),
  scored as (
    select q.query_id::BIGINT as query_id, p.doc_id,
           round(sum(q.w * ln(1 + (m.n - s.df + 0.5) / (s.df + 0.5))
                     * p.tf / (p.tf + 1.2 * (1 - 0.75 + 0.75 * d.dl / m.avgdl))), 6) as score
    from postings p
    join qb q on p.term = q.term
    join stats s on p.term = s.term
    join doclens d on p.doc_id = d.doc_id
    cross join meta m
    group by 1, 2
  ),
  ranked as (
    select query_id,
           row_number() over (partition by query_id
                              order by score desc, doc_id asc)::BIGINT as rank,
           doc_id, score
    from scored
  )
  select query_id, rank, doc_id, score from ranked where rank <= {k}"""


def _oracle_rank_eval(qdefs: dict[int, dict[str, float]], k: int) -> str:
    vals = ", ".join(
        f"({qid}, '{t}', {float(w)!r}::DOUBLE)"
        for qid, terms in sorted(qdefs.items())
        for t, w in sorted(terms.items())
    )
    return f"""with {SQL_INDEX_CTES},
  qb as (select * from (values {vals}) as t(query_id, term, w)),
  scored as (
    select q.query_id::BIGINT as query_id, p.doc_id,
           round(sum(q.w * ln(1 + (m.n - s.df + 0.5) / (s.df + 0.5))
                     * p.tf / (p.tf + 1.2 * (1 - 0.75 + 0.75 * d.dl / m.avgdl))), 6) as score
    from postings p
    join qb q on p.term = q.term
    join stats s on p.term = s.term
    join doclens d on p.doc_id = d.doc_id
    cross join meta m
    group by 1, 2
  ),
  ranked as (
    select query_id,
           row_number() over (partition by query_id
                              order by score desc, doc_id asc)::BIGINT as rank,
           doc_id
    from scored
  ),
  topk as (select query_id, rank, doc_id from ranked where rank <= {k}),
  qrels as (
    select q.query_id, d.doc_id,
           (1 + case when d.doc_id % {QREL_GRADE2_MOD} = 0 then 1 else 0 end)::DOUBLE as grade
    from (select distinct query_id from qb) q
    cross join (select doc_id from documents where doc_id % {QREL_MOD} = 0) d
  ),
  hits as (
    select t.query_id, t.rank, coalesce(r.grade, 0) as grade
    from topk t left join qrels r on t.query_id = r.query_id and t.doc_id = r.doc_id
  ),
  aggq as (
    select query_id,
           sum(case when grade > 0 then 1 else 0 end)::DOUBLE as n_rel_ret,
           max(case when grade > 0 then 1.0 / rank else 0 end) as mrr,
           sum((pow(2, grade) - 1) / log2(rank + 1)) as dcg
    from hits group by 1
  ),
  nrel as (select query_id, count(*)::DOUBLE as n_rel from qrels where grade > 0 group by 1),
  ideal as (
    select query_id, sum((pow(2, grade) - 1) / log2(irank + 1)) as idcg
    from (select query_id, grade,
                 row_number() over (partition by query_id
                                    order by grade desc, doc_id asc) as irank
          from qrels where grade > 0)
    where irank <= {k} group by 1
  )
  select a.query_id,
         round(a.n_rel_ret / {k}, 6) as precision,
         round(coalesce(a.n_rel_ret / nullif(n.n_rel, 0), 0), 6) as recall,
         round(a.mrr, 6) as mrr,
         round(coalesce(a.dcg / nullif(i.idcg, 0), 0), 6) as ndcg
  from aggq a left join nrel n on a.query_id = n.query_id
  left join ideal i on a.query_id = i.query_id"""


def _oracle_sparse_batch(qdefs: dict[int, dict[str, float]], k: int) -> str:
    vals = ", ".join(
        f"({qid}, '{t}', {float(w)!r}::DOUBLE)"
        for qid, terms in sorted(qdefs.items())
        for t, w in sorted(terms.items())
    )
    return f"""with {SQL_INDEX_CTES},
  qb as (select * from (values {vals}) as t(query_id, term, w)),
  scored as (
    select q.query_id::BIGINT as query_id, p.doc_id, round(sum(q.w * p.tf), 6) as score
    from postings p join qb q on p.term = q.term
    group by 1, 2
  ),
  ranked as (
    select query_id,
           row_number() over (partition by query_id
                              order by score desc, doc_id asc)::BIGINT as rank,
           doc_id, score
    from scored
  )
  select query_id, rank, doc_id, score from ranked where rank <= {k}"""


def _oracle_hybrid_rrf_batch(
    qdefs: dict[int, list[dict[str, float]]], k: int, rank_constant: int = 60
) -> str:
    """Per-query replication of the single-RRF oracle, union-tagged by
    query_id (ranks over each sub-query's top-K bounded list)."""
    blocks, finals = [], []
    for qid, (qa, qb) in sorted(qdefs.items()):
        blocks.append(_sql_bm25_scored(qa, f"sa{qid}").lstrip().rstrip())
        blocks.append(_sql_bm25_scored(qb, f"sb{qid}").lstrip().rstrip())
        blocks.append(
            f"ra{qid} as (select doc_id, row_number() over (order by score desc, "
            f"doc_id asc) as r from sa{qid} order by score desc, doc_id asc limit {K})"
        )
        blocks.append(
            f"rb{qid} as (select doc_id, row_number() over (order by score desc, "
            f"doc_id asc) as r from sb{qid} order by score desc, doc_id asc limit {K})"
        )
        blocks.append(
            f"""combined{qid} as (
    select {qid}::BIGINT as query_id, doc_id,
           round(sum(1.0 / ({rank_constant} + r)), 6) as score
    from (select * from ra{qid} union all select * from rb{qid})
    group by 1, 2
  )"""
        )
        finals.append(f"select * from combined{qid}")
    union = " union all ".join(finals)
    return f"""with {SQL_INDEX_CTES},
  {", ".join(blocks)},
  allq as ({union}),
  ranked as (
    select query_id,
           row_number() over (partition by query_id
                              order by score desc, doc_id asc)::BIGINT as rank,
           doc_id, score
    from allq
  )
  select query_id, rank, doc_id, score from ranked where rank <= {k}"""


def _oracle_hybrid_batch(qdefs: dict[int, list[dict[str, float]]], k: int) -> str:
    """Per-query replication of the single-hybrid oracle (min_max +
    arithmetic mean over two sub-queries), union-tagged by query_id."""
    blocks, finals = [], []
    for qid, (qa, qb) in sorted(qdefs.items()):
        blocks.append(_sql_bm25_scored(qa, f"sa{qid}").lstrip().rstrip())
        blocks.append(_sql_bm25_scored(qb, f"sb{qid}").lstrip().rstrip())
        blocks.append(
            f"ta{qid} as (select doc_id, score from sa{qid} "
            f"order by score desc, doc_id asc limit {K})"
        )
        blocks.append(
            f"tb{qid} as (select doc_id, score from sb{qid} "
            f"order by score desc, doc_id asc limit {K})"
        )
        blocks.append(f"na{qid} as {_sql_norm(f'ta{qid}', 'min_max')}")
        blocks.append(f"nb{qid} as {_sql_norm(f'tb{qid}', 'min_max')}")
        blocks.append(
            f"""combined{qid} as (
    select {qid}::BIGINT as query_id, coalesce(na.doc_id, nb.doc_id) as doc_id,
           round((coalesce(na.nscore, 0.0) + coalesce(nb.nscore, 0.0)) / 2, 6) as score
    from na{qid} na full outer join nb{qid} nb on na.doc_id = nb.doc_id
  )"""
        )
        finals.append(f"select * from combined{qid}")
    union = " union all ".join(finals)
    return f"""with {SQL_INDEX_CTES},
  {", ".join(blocks)},
  allq as ({union}),
  ranked as (
    select query_id,
           row_number() over (partition by query_id
                              order by score desc, doc_id asc)::BIGINT as rank,
           doc_id, score
    from allq
  )
  select query_id, rank, doc_id, score from ranked where rank <= {k}"""


def _sql_norm(cte: str, normalization: str) -> str:
    if normalization == "min_max":
        return f"""(
      select t.doc_id,
             case when st.mx = st.mn and st.mx = t.score then 1.0
                  when (t.score - st.mn) / (st.mx - st.mn) = 0.0 then 0.001
                  else (t.score - st.mn) / (st.mx - st.mn) end as nscore
      from {cte} t, (select min(score) as mn, max(score) as mx from {cte}) st)"""
    return f"""(
      select t.doc_id,
             case when st.l2 = 0 then 0.0 else t.score / st.l2 end as nscore
      from {cte} t, (select sqrt(sum(score * score)) as l2 from {cte}) st)"""


def _oracle_hybrid(normalization: str, combination: str) -> str:
    def norm(cte: str) -> str:
        return _sql_norm(cte, normalization)

    if combination == "arithmetic_mean":
        comb = "(coalesce(na.nscore, 0.0) + coalesce(nb.nscore, 0.0)) / 2"
    elif combination == "geometric_mean":
        comb = """case
          when coalesce(na.nscore, 0.0) > 0 and coalesce(nb.nscore, 0.0) > 0
            then exp((ln(na.nscore) + ln(nb.nscore)) / 2)
          when coalesce(na.nscore, 0.0) > 0 then na.nscore
          when coalesce(nb.nscore, 0.0) > 0 then nb.nscore
          else 0.0 end"""
    else:  # harmonic_mean
        comb = """case
          when coalesce(na.nscore, 0.0) > 0 and coalesce(nb.nscore, 0.0) > 0
            then 2 / (1 / na.nscore + 1 / nb.nscore)
          when coalesce(na.nscore, 0.0) > 0 then na.nscore
          when coalesce(nb.nscore, 0.0) > 0 then nb.nscore
          else 0.0 end"""

    return f"""with {SQL_INDEX_CTES},
  {_sql_bm25_scored(Q_HY_A, "sa")},
  {_sql_bm25_scored(Q_HY_B, "sb")},
  ta as (select doc_id, score from sa order by score desc, doc_id asc limit {K}),
  tb as (select doc_id, score from sb order by score desc, doc_id asc limit {K}),
  na as {norm("ta")},
  nb as {norm("tb")},
  combined as (
    select coalesce(na.doc_id, nb.doc_id) as doc_id, round({comb}, 6) as score
    from na full outer join nb on na.doc_id = nb.doc_id
  )
  {_sql_rank("combined", "score", "doc_id", K)}"""


def _oracle_ml_rerank() -> str:
    """Mirror of CrossEncoderRerank's Jaccard stand-in over the BM25
    top-K: score = |q∩d| / (|d| + |q| − |q∩d|) on distinct standard
    tokens, q = {spark, join, window}."""
    return f"""with {SQL_INDEX_CTES},
  {_sql_bm25_scored(Q_BM25, "s")},
  topk as (select doc_id from s order by score desc, doc_id asc limit {K}),
  dtoks as (select doc_id, count(distinct term) as nd
            from ({SQL_TOKS}) group by 1),
  inter as (select tk.doc_id, count(distinct tk.term) as ni
            from ({SQL_TOKS}) tk join topk using (doc_id)
            where tk.term in ('spark', 'join', 'window') group by 1),
  jac as (
    select t.doc_id,
           coalesce(i.ni, 0)::DOUBLE / (d.nd + 3 - coalesce(i.ni, 0)) as score
    from topk t join dtoks d using (doc_id)
    left join inter i on i.doc_id = t.doc_id
  )
  select row_number() over (order by score desc, doc_id asc)::BIGINT as rank,
         doc_id, round(score, 6) as score
  from jac order by rank"""


def _oracle_hybrid_sorted() -> str:
    """Sorted-hybrid mirror: per-subquery top-K by (n_chars desc, doc_id
    asc), min-max normalize each field-bounded window, arithmetic mean,
    final ranking by the sort criteria."""
    return f"""with {SQL_INDEX_CTES},
  {_sql_bm25_scored(Q_HY_A, "sa")},
  {_sql_bm25_scored(Q_HY_B, "sb")},
  ta as (select s.doc_id, s.score from sa s join documents d using (doc_id)
         order by d.n_chars desc, s.doc_id asc limit {K}),
  tb as (select s.doc_id, s.score from sb s join documents d using (doc_id)
         order by d.n_chars desc, s.doc_id asc limit {K}),
  na as {_sql_norm("ta", "min_max")},
  nb as {_sql_norm("tb", "min_max")},
  combined as (
    select coalesce(na.doc_id, nb.doc_id) as doc_id,
           round((coalesce(na.nscore, 0.0) + coalesce(nb.nscore, 0.0)) / 2, 6) as score
    from na full outer join nb on na.doc_id = nb.doc_id
  )
  select row_number() over (order by d.n_chars desc, c.doc_id asc)::BIGINT as rank,
         c.doc_id, c.score, d.n_chars::BIGINT as n_chars
  from combined c join documents d using (doc_id)
  order by rank
  limit {K}"""


def _oracle_hybrid_rrf(rank_constant: int = 60) -> str:
    return f"""with {SQL_INDEX_CTES},
  {_sql_bm25_scored(Q_HY_A, "sa")},
  {_sql_bm25_scored(Q_HY_B, "sb")},
  ra as (select doc_id, row_number() over (order by score desc, doc_id asc) as r
         from sa order by score desc, doc_id asc limit {K}),
  rb as (select doc_id, row_number() over (order by score desc, doc_id asc) as r
         from sb order by score desc, doc_id asc limit {K}),
  combined as (
    select doc_id, round(sum(1.0 / ({rank_constant} + r)), 6) as score
    from (select * from ra union all select * from rb)
    group by 1
  )
  {_sql_rank("combined", "score", "doc_id", K)}"""


def _oracle_two_phase() -> str:
    high, low = sparse.split_query_tokens(Q_SPARSE)
    window = min(int(K * sparse.EXPANSION_RATE), sparse.MAX_WINDOW_SIZE)
    return f"""with {SQL_INDEX_CTES},
  q_high as {_sql_values(high)},
  q_low as {_sql_values(low)},
  p1 as (
    select p.doc_id, sum(q.w * p.tf) as score
    from postings p join q_high q on p.term = q.term group by 1
  ),
  win as (select doc_id, score from p1 order by score desc, doc_id asc limit {window}),
  p2 as (
    select p.doc_id, sum(q.w * p.tf) as score
    from postings p join q_low q on p.term = q.term
    where p.doc_id in (select doc_id from win) group by 1
  ),
  rescored as (
    select w.doc_id, round(w.score + coalesce(p2.score, 0.0), 6) as score
    from win w left join p2 on w.doc_id = p2.doc_id
  )
  {_sql_rank("rescored", "score", "doc_id", K)}"""


def _sql_simhash_ctes() -> str:
    """CTE chain ending in `sims(id, simhash)`."""
    bit_aggs = ", ".join(f"sum((h >> {j}) & 1)::BIGINT as b{j}" for j in range(SIMHASH_BITS))
    val = " + ".join(
        f"(case when 2 * b{j} >= n_sh then 1::BIGINT else 0::BIGINT end << {j})"
        for j in range(SIMHASH_BITS)
    )
    return f"""{SQL_SHINGLES},
  h as (select id, {_sql_hash60('shingle')} % {1 << SIMHASH_BITS} as h from shingles),
  counted as (select id, count(*)::BIGINT as n_sh, {bit_aggs} from h group by id),
  sims as (select id, ({val})::BIGINT as simhash from counted)"""


def _oracle_simhash() -> str:
    return f"with {_sql_simhash_ctes()} select id, simhash from sims"


def _oracle_simhash_pairs() -> str:
    # quadratic in the oracle only (DuckDB at sf0.01); the Spark plan is the
    # band-bucketed hamming-ball search, complete by pigeonhole
    return f"""with {_sql_simhash_ctes()}
  select a.id as id_a, b.id as id_b,
         bit_count(xor(a.simhash, b.simhash))::BIGINT as hamming
  from sims a join sims b on a.id < b.id
  where bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_MAX_HAMMING}"""


def _sql_lsh_cand_ctes() -> str:
    """CTE chain ending in `cand(id_a, id_b)` = the LSH candidate pairs."""
    r = MINHASH_K // MINHASH_BANDS
    bands = []
    for b in range(MINHASH_BANDS):
        key = " || ',' || ".join(f"mh_{b * r + i}::VARCHAR" for i in range(r))
        bands.append(f"select id, {b} as band, md5({key}) as band_key from sig")
    banded = " union all ".join(bands)
    return f"""{SQL_SHINGLES},
  {_sql_minhash_sig()},
  banded as ({banded}),
  cand as (
    select distinct a.id as id_a, b.id as id_b
    from banded a join banded b on a.band = b.band and a.band_key = b.band_key
    where a.id < b.id
  )"""


def _oracle_lsh_pairs() -> str:
    return f"with {_sql_lsh_cand_ctes()} select id_a, id_b from cand"


def _oracle_lsh_jaccard() -> str:
    return f"""with {_sql_lsh_cand_ctes()},
  sizes as (select id, count(*)::BIGINT as n_sh from shingles group by id),
  common as (
    select c.id_a, c.id_b, count(*)::BIGINT as n_common
    from cand c
    join shingles a on a.id = c.id_a
    join shingles b on b.id = c.id_b and b.shingle = a.shingle
    group by 1, 2
  ),
  j as (
    select c.id_a, c.id_b,
           round(c.n_common / (sa.n_sh + sb.n_sh - c.n_common), 6) as jaccard
    from common c join sizes sa on c.id_a = sa.id join sizes sb on c.id_b = sb.id
  )
  select * from j where jaccard >= {JACCARD_THRESHOLD}"""


_SQL_COS = (
    "list_dot_product(e.embedding::DOUBLE[], qe) "
    "/ (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) "
    "* sqrt(list_dot_product(qe, qe)))"
)
_SQL_QVEC = "(select embedding::DOUBLE[] as qe from embeddings where vec_id = 1)"


def _oracle_neural_top10() -> str:
    return f"""
  with q as {_SQL_QVEC},
  scored as (
    select e.vec_id as doc_id, round({_SQL_COS}, 6) as score
    from embeddings e join documents d on e.vec_id = d.doc_id, q
    where d.lang = 'en'
  )
  {_sql_rank("scored", "score", "doc_id", K)}"""


def _oracle_neural_radial() -> str:
    return f"""
  with q as {_SQL_QVEC},
  raw as (select e.vec_id as doc_id, {_SQL_COS} as c from embeddings e, q)
  select doc_id, round(c, 6) as score from raw where c >= {NEURAL_MIN_SCORE}"""


def _sql_qvec_text() -> str:
    """Literal-vector CTE body: the SAME deterministic stand-in encoding of
    QTEXT the Spark side resolves through the model registry."""
    vec = ",".join(repr(float(x)) for x in _qvec_from_text())
    return f"(select [{vec}]::DOUBLE[] as qe)"


def _oracle_neural_query_text() -> str:
    return f"""
  with q as {_sql_qvec_text()},
  scored as (
    select e.vec_id as doc_id, round({_SQL_COS}, 6) as score
    from embeddings e, q
  )
  {_sql_rank("scored", "score", "doc_id", K)}"""


def _oracle_pipeline_rerank() -> str:
    return f"""
  with q as {_sql_qvec_text()},
  scored as (
    select e.vec_id as doc_id, round({_SQL_COS}, 6) as score
    from embeddings e, q
  ),
  topk as (select doc_id, score from scored order by score desc, doc_id asc limit {K})
  select row_number() over (order by d.n_chars desc, t.doc_id asc)::BIGINT as rank,
         t.doc_id, round(d.n_chars::DOUBLE, 6) as score,
         t.score as previous_score
  from topk t join documents d using (doc_id)
  order by rank"""


def _oracle_doc_embeddings() -> str:
    """DuckDB mirror of query/models.py hash_dense_encoder: tokenize \\w+
    on lower(text); per dim d, sum over tokens of (md5-byte[d % 16] − 128);
    L2-normalize over all 64 dims; zero-token docs are the zero vector."""
    return f"""
  with dims as (select unnest(generate_series(0, {EMB_DIM - 1}))::BIGINT as dim),
  toks as (
    select doc_id, unnest(regexp_extract_all(lower(text), '\\w+')) as tok
    from documents
  ),
  acc as (
    select t.doc_id, d.dim,
           sum((('0x' || substr(md5(t.tok), ((d.dim % 16) * 2 + 1)::INT, 2))::INT - 128))::DOUBLE as v
    from toks t cross join dims d
    group by t.doc_id, d.dim
  ),
  norms as (select doc_id, sqrt(sum(v * v)) as nrm from acc group by doc_id),
  emb as (
    select dd.doc_id, d.dim,
           coalesce(a.v / nullif(n.nrm, 0.0), 0.0) as val
    from documents dd cross join dims d
    left join acc a on a.doc_id = dd.doc_id and a.dim = d.dim
    left join norms n on n.doc_id = dd.doc_id
  )
  select doc_id, dim, round(val, 6) as val from emb where dim < 8"""


def _oracle_doc_text_image() -> str:
    """Mirror of hash_multimodal_encoder over (text, utf8(source:doc_id)):
    token accumulation + one signed-md5 image vector, L2-normalized."""
    return f"""
  with dims as (select unnest(generate_series(0, {EMB_DIM - 1}))::BIGINT as dim),
  toks as (
    select doc_id, unnest(regexp_extract_all(lower(text), '\\w+')) as tok
    from documents
  ),
  tacc as (
    select t.doc_id, d.dim,
           sum((('0x' || substr(md5(t.tok), ((d.dim % 16) * 2 + 1)::INT, 2))::INT - 128))::DOUBLE as v
    from toks t cross join dims d
    group by t.doc_id, d.dim
  ),
  iv as (
    select dd.doc_id, d.dim,
           (('0x' || substr(md5(dd.source || ':' || dd.doc_id::VARCHAR),
                            ((d.dim % 16) * 2 + 1)::INT, 2))::INT - 128)::DOUBLE as v
    from documents dd cross join dims d
  ),
  acc as (
    select i.doc_id, i.dim, i.v + coalesce(t.v, 0.0) as v
    from iv i left join tacc t on t.doc_id = i.doc_id and t.dim = i.dim
  ),
  norms as (select doc_id, sqrt(sum(v * v)) as nrm from acc group by doc_id),
  emb as (
    select a.doc_id, a.dim, coalesce(a.v / nullif(n.nrm, 0.0), 0.0) as val
    from acc a join norms n using (doc_id)
  )
  select doc_id, dim, round(val, 6) as val from emb where dim < 8"""


def _oracle_doc_sparse_embedding() -> str:
    return """
  select doc_id, tok as token, count(*)::DOUBLE as weight
  from (
    select doc_id, unnest(regexp_extract_all(lower(text), '\\w+')) as tok
    from documents
  )
  group by doc_id, tok"""


def _oracle_hybrid_neural() -> str:
    return f"""with {SQL_INDEX_CTES},
  {_sql_bm25_scored(Q_HY_A, "sa")},
  ta as (select doc_id, score from sa order by score desc, doc_id asc limit {K}),
  q as {_SQL_QVEC},
  sb as (select e.vec_id as doc_id, round({_SQL_COS}, 6) as score from embeddings e, q),
  tb as (select doc_id, score from sb order by score desc, doc_id asc limit {K}),
  na as {_sql_norm("ta", "min_max")},
  nb as {_sql_norm("tb", "min_max")},
  combined as (
    select coalesce(na.doc_id, nb.doc_id) as doc_id,
           round((coalesce(na.nscore, 0.0) + coalesce(nb.nscore, 0.0)) / 2, 6) as score
    from na full outer join nb on na.doc_id = nb.doc_id
  )
  {_sql_rank("combined", "score", "doc_id", K)}"""


def _oracle_ivf_cosine() -> str:
    cents = _ivf_hash_centroids()
    vals = ", ".join(
        "({}, [{}]::DOUBLE[])".format(j, ", ".join(repr(float(x)) for x in cents[j]))
        for j in range(IVF_CLUSTERS)
    )
    return f"""
  with q as {_SQL_QVEC},
  cent as (select * from (values {vals}) as t(j, cv)),
  emb as (select vec_id, embedding::DOUBLE[] as e from embeddings),
  assign as (
    select vec_id, e, j,
           row_number() over (partition by vec_id
                              order by list_dot_product(e, cv) desc, j asc) as rn
    from emb cross join cent
  ),
  best as (select vec_id, e, j as cluster from assign where rn = 1),
  probes as (
    select j from cent, q order by list_dot_product(qe, cv) desc, j asc limit {IVF_NPROBE}
  ),
  cand as (select vec_id, e from best where cluster in (select j from probes)),
  scored as (
    select vec_id,
           round(list_dot_product(e, qe)
                 / (sqrt(list_dot_product(e, e)) * sqrt(list_dot_product(qe, qe))), 6) as cosine
    from cand, q
  )
  {_sql_rank("scored", "cosine", "vec_id", K)}"""


def _oracle_dedup_clusters() -> str:
    """Min-reachable-id per node via a recursive CTE over the symmetric LSH
    candidate edge list — the exact fixpoint the Spark min-label
    propagation converges to; singletons complete to rep = own id."""
    return f"""with recursive {_sql_lsh_cand_ctes()},
  e as (select id_a as a, id_b as b from cand union select id_b as a, id_a as b from cand),
  walk(id, r) as (
      select a, a from e
    union
      select w.id, e.b from walk w join e on e.a = w.r
  ),
  comp as (select id, min(r) as rep from walk group by id)
  select d.doc_id as id, coalesce(c.rep, d.doc_id) as rep,
         (coalesce(c.rep, d.doc_id) = d.doc_id) as is_survivor
  from documents d left join comp c on d.doc_id = c.id"""


def _oracle_embedding_dup_pairs() -> str:
    from neural_search_spark.ops.similarity import _plane_matrix

    mat = _plane_matrix(EMB_DIM, EMB_DUP_PLANES)

    def bucket_expr(vec: str) -> str:
        parts = []
        for p in range(EMB_DUP_PLANES):
            arr = "[" + ",".join(str(int(v)) for v in mat[p]) + "]::DOUBLE[]"
            parts.append(
                f"(case when list_dot_product({vec}, {arr}) >= 0 then 1::BIGINT else 0::BIGINT end << {p})"
            )
        return "(" + " + ".join(parts) + ")"

    # full mirror of the engine's banding + star guard: buckets larger
    # than max_bucket contribute star edges against their min-id member
    # only (single-linkage preserved, linear rows) — without this the
    # oracle over-counts pairs exactly when a corpus carries a mega
    # duplicate cluster (flushed by the 10x soak: identical replica
    # vectors put every code bucket past the guard)
    width = EMB_DUP_PLANES // EMB_DUP_BANDS
    mask = (1 << width) - 1
    return f"""
  with bucketed as (
    select vec_id, embedding::DOUBLE[] as e, {bucket_expr('embedding::DOUBLE[]')} as b
    from embeddings
  ),
  banded as (
    select vec_id, b, band, (b >> (band * {width})) & {mask} as bv
    from bucketed cross join (select unnest(range({EMB_DUP_BANDS})) as band) bands
  ),
  bstats as (
    select band, bv, count(*) as cnt, min(vec_id) as rep
    from banded group by 1, 2
  ),
  marked as (select n.*, s.cnt, s.rep from banded n join bstats s using (band, bv)),
  small_pairs as (
    select a.vec_id as id_a, b.vec_id as id_b
    from marked a join marked b
      on a.band = b.band and a.bv = b.bv and a.vec_id < b.vec_id
    where a.cnt <= {EMB_DUP_MAX_BUCKET}
  ),
  star_pairs as (
    select rep as id_a, vec_id as id_b from marked
    where cnt > {EMB_DUP_MAX_BUCKET} and vec_id <> rep
  ),
  cand as (
    select distinct id_a, id_b
    from (select * from small_pairs union all select * from star_pairs)
  ),
  pairs as (
    select c.id_a, c.id_b, a.e as ea, b.e as eb, a.b as ba, b.b as bb
    from cand c
    join bucketed a on c.id_a = a.vec_id
    join bucketed b on c.id_b = b.vec_id
  )
  select id_a, id_b,
         round(list_dot_product(ea, eb)
               / (sqrt(list_dot_product(ea, ea)) * sqrt(list_dot_product(eb, eb))), 6) as cosine
  from pairs
  where bit_count(xor(ba, bb)) <= {EMB_DUP_MAXH}
    and list_dot_product(ea, eb)
        / (sqrt(list_dot_product(ea, ea)) * sqrt(list_dot_product(eb, eb)))
        >= {EMB_DUP_THRESHOLD}"""


def _oracle_hybrid_aggs() -> str:
    terms = sorted(set(Q_HY_A) | set(Q_HY_B))
    in_list = ", ".join(f"'{t}'" for t in terms)
    return f"""with toks as ({SQL_TOKS})
  select d.lang as key, count(*)::BIGINT as doc_count
  from documents d
  where d.doc_id in (select doc_id from toks where term in ({in_list}))
  group by 1"""


def _oracle_neural_rescore() -> str:
    """Mirror of the LSH-probe → hamming-ranked window → exact-cosine
    re-rank pipeline (deterministic at any sf; exactness at sufficient
    window is asserted separately in pytest against the full scan)."""
    from neural_search_spark.ops.similarity import _plane_matrix

    mat = _plane_matrix(EMB_DIM, LSH_PLANES)

    def bucket_expr(vec: str) -> str:
        parts = []
        for p in range(LSH_PLANES):
            arr = "[" + ",".join(str(int(v)) for v in mat[p]) + "]::DOUBLE[]"
            parts.append(
                f"(case when list_dot_product({vec}, {arr}) >= 0 then 1::BIGINT else 0::BIGINT end << {p})"
            )
        return "(" + " + ".join(parts) + ")"

    window = K * RESCORE_OVERSAMPLE
    return f"""
  with q as (select embedding::DOUBLE[] as qe, {bucket_expr('embedding::DOUBLE[]')} as qb
             from embeddings where vec_id = 1),
  bucketed as (
    select vec_id, embedding::DOUBLE[] as e, {bucket_expr('embedding::DOUBLE[]')} as b
    from embeddings
  ),
  cand as (
    select vec_id, e, bit_count(xor(b, qb))::BIGINT as ham
    from bucketed, q where bit_count(xor(b, qb)) <= {RESCORE_PROBE}
  ),
  win as (select vec_id, e from cand order by ham asc, vec_id asc limit {window}),
  scored as (
    select vec_id as doc_id,
           round(list_dot_product(e, qe)
                 / (sqrt(list_dot_product(e, e)) * sqrt(list_dot_product(qe, qe))), 6) as score
    from win, q
  )
  {_sql_rank("scored", "score", "doc_id", K)}"""


def _oracle_lsh_cosine() -> str:
    """DuckDB mirror of the sign-LSH probe + exact cosine rerank. The ±1
    plane coefficients are md5-derived and deterministic, so they are
    embedded as literal arrays — the oracle re-derives the bucket of every
    vector and of the query exactly as the engine does."""
    from neural_search_spark.ops.similarity import _plane_matrix

    mat = _plane_matrix(EMB_DIM, LSH_PLANES)  # (planes, dim) of ±1

    def bucket_expr(vec: str) -> str:
        parts = []
        for p in range(LSH_PLANES):
            arr = "[" + ",".join(str(int(v)) for v in mat[p]) + "]::DOUBLE[]"
            parts.append(
                f"(case when list_dot_product({vec}, {arr}) >= 0 then 1::BIGINT else 0::BIGINT end << {p})"
            )
        return "(" + " + ".join(parts) + ")"

    return f"""
  with q as (select embedding::DOUBLE[] as qe, {bucket_expr('embedding::DOUBLE[]')} as qb
             from embeddings where vec_id = 0),
  bucketed as (
    select vec_id, embedding::DOUBLE[] as e, {bucket_expr('embedding::DOUBLE[]')} as b
    from embeddings
  ),
  cand as (
    select vec_id, e from bucketed, q where bit_count(xor(b, qb)) <= {LSH_PROBE}
  ),
  scored as (
    select vec_id,
           round(list_dot_product(e, qe)
                 / (sqrt(list_dot_product(e, e)) * sqrt(list_dot_product(qe, qe))), 6) as cosine
    from cand, q
  )
  {_sql_rank("scored", "cosine", "vec_id", K)}"""


# ---------------------------------------------------------------------------
# positional postings / phrase query / decontamination
# ---------------------------------------------------------------------------

_POSITIONAL_CACHE: dict[str, DataFrame] = {}


def _positional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional postings over the documents fixture, built once per
    process (shared by positional_postings + phrase_top10)."""
    if sf_dir not in _POSITIONAL_CACHE:
        from neural_search_spark.query.phrase import build_positional_postings

        _POSITIONAL_CACHE[sf_dir] = build_positional_postings(
            _docs(spark, sf_dir), text_col="text", id_col="doc_id"
        ).persist()
    return _POSITIONAL_CACHE[sf_dir]


def q_positional_postings(spark, sf_dir):
    """Positional postings (Arrow batch-local kernel), exploded back to one
    row per token occurrence so the value-hash covers every position."""
    pos = _positional(spark, sf_dir)
    return pos.select(
        "term", F.col("docID").alias("doc_id"), F.explode("positions").alias("pos")
    ).withColumn("pos", F.col("pos").cast("long"))


def q_phrase_top10(spark, sf_dir):
    """Exact-phrase top-10, Lucene PhraseQuery×BM25 semantics (idf summed
    over phrase positions, tf = exact phrase frequency)."""
    from neural_search_spark.query.phrase import phrase_scores

    idx = _index(spark, sf_dir)
    scored = phrase_scores(_positional(spark, sf_dir), idx.term_stats, idx.meta, PHRASE_TERMS)
    return _ranked(scored.withColumnRenamed("docID", "doc_id"), "score", "doc_id", K)


def q_phrase_prefix_top10(spark, sf_dir):
    """match_phrase_prefix top-10 (Lucene MultiPhraseQuery after the prefix
    rewrite): fixed terms followed by any of the first PP_MAXEXP dictionary
    terms matching the prefix (term-asc, Lucene's TermsEnum order); idf
    sums one addend per fixed position + one per expansion."""
    from neural_search_spark.query.phrase import phrase_prefix_scores

    idx = _index(spark, sf_dir)
    scored = phrase_prefix_scores(
        _positional(spark, sf_dir), idx.term_stats, idx.meta,
        PP_FIXED + [PP_PREFIX], max_expansions=PP_MAXEXP,
    )
    return _ranked(scored.withColumnRenamed("docID", "doc_id"), "score", "doc_id", K)


def q_span_near_top10(spark, sf_dir):
    """In-order span-near top-10 (SpanNearQuery shape): SPAN_TERMS within
    SPAN_SLOP, scored as a phrase pseudo-term with tf = proximity freq."""
    from neural_search_spark.query.phrase import span_near_scores

    idx = _index(spark, sf_dir)
    scored = span_near_scores(
        _positional(spark, sf_dir), idx.term_stats, idx.meta,
        SPAN_TERMS, slop=SPAN_SLOP, in_order=True,
    )
    return _ranked(scored.withColumnRenamed("docID", "doc_id"), "score", "doc_id", K)


def q_span_unordered_top10(spark, sf_dir):
    """Unordered span-near top-10: SPAN_U_TERMS within SPAN_U_SLOP either
    direction; anchor = window min position."""
    from neural_search_spark.query.phrase import span_near_scores

    idx = _index(spark, sf_dir)
    scored = span_near_scores(
        _positional(spark, sf_dir), idx.term_stats, idx.meta,
        SPAN_U_TERMS, slop=SPAN_U_SLOP, in_order=False,
    )
    return _ranked(scored.withColumnRenamed("docID", "doc_id"), "score", "doc_id", K)


def q_synonym_top10(spark, sf_dir):
    """Blended synonym-group BM25 (SynonymQuery semantics: df = max member
    df, tf = Σ member tf within a group)."""
    from neural_search_spark.query.synonym import synonym_score_all

    idx = _index(spark, sf_dir)
    scored = synonym_score_all(
        idx.postings, idx.doclens, idx.term_stats, idx.meta, SYN_GROUPS, boosts=SYN_BOOSTS
    )
    return _ranked(scored.withColumnRenamed("docID", "doc_id"), "score", "doc_id", K)


def q_mlt_top10(spark, sf_dir):
    """more_like_this: doc MLT_LIKE's interesting terms (tf·idf gated by
    min_term_freq/min_doc_freq, top max_query_terms) run as a BM25 OR,
    example doc excluded."""
    from neural_search_spark.query.mlt import mlt_score_all

    idx = _index(spark, sf_dir)
    scored = mlt_score_all(
        idx.postings, idx.doclens, idx.term_stats, idx.meta, MLT_LIKE,
        max_query_terms=MLT_MQT, min_term_freq=MLT_MTF, min_doc_freq=MLT_MDF,
    )
    return _ranked(scored.withColumnRenamed("docID", "doc_id"), "score", "doc_id", K)


def q_collapse_top10(spark, sf_dir):
    """Field collapsing: Q_BM25 scores, one best hit per COLLAPSE_FIELD
    value, top-10 group winners (CollapsingTopDocsCollector analog)."""
    from neural_search_spark.query.collapse import collapse_topk

    idx = _index(spark, sf_dir)
    scored = bm25.bm25_score_all(
        idx.postings, idx.doclens, idx.term_stats, idx.meta, Q_BM25
    ).withColumn("score", F.round("score", 6))
    out = collapse_topk(scored, _docs(spark, sf_dir), COLLAPSE_FIELD, k=K, id_col="doc_id")
    return out.select(
        F.col("rank").cast("long").alias("rank"),
        F.col("docID").alias("doc_id"),
        "score",
        COLLAPSE_FIELD,
    )


def q_bm25_deleted_top10(spark, sf_dir):
    """Tombstone-delete semantics (Lucene liveDocs / IndexStore.delete_docs):
    docs with doc_id % DELETE_MOD == 0 are deleted — excluded from results
    via anti-join while df/avgdl stay whole-index (stats change only at
    compact)."""
    idx = _index(spark, sf_dir)
    tombs = _docs(spark, sf_dir).where(
        F.col("doc_id") % DELETE_MOD == 0
    ).select(F.col("doc_id").alias("docID"))
    live = idx.postings.join(tombs, "docID", "left_anti")
    scored = bm25.bm25_score_all(live, idx.doclens, idx.term_stats, idx.meta, Q_BM25)
    return _ranked(scored.withColumnRenamed("docID", "doc_id"), "score", "doc_id", K)


def q_highlight(spark, sf_dir):
    """Best-window fragment highlighting for Q_BM25's terms: the token
    window with the most hits, matched tokens wrapped in <em> tags."""
    from neural_search_spark.ops.highlight import highlight

    out = highlight(
        _docs(spark, sf_dir), sorted(Q_BM25), id_col="doc_id",
        frag_size=HL_FRAG, lead=HL_LEAD,
    )
    return out.select(F.col("id").alias("doc_id"), F.col("n_hits").cast("long"), "fragment")


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination: corpus docs sharing ≥1 token n-gram with
    the held-out 'benchmark' subset (doc_id % DECON_MOD == 0)."""
    docs = _docs(spark, sf_dir)
    bench = docs.where(F.col("doc_id") % DECON_MOD == 0)
    hits = ops.ngram_contamination(
        docs.where(F.col("doc_id") % DECON_MOD != 0), bench, n=DECON_N, id_col="doc_id"
    )
    return hits.select(F.col("id").cast("long").alias("doc_id"), "matched_ngrams")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: BM25 top-10 over sf0.001 documents."""
    return q_bm25_top10(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ORDERING IS DELIBERATE (round-5 task 1): the driver's per-round
    # correctness capture is width-limited to roughly the first 50 keys, so
    # the 30 entries that had never appeared in any driver capture through
    # round 4 (third/fourth-wave aggs, compound queries, percolate,
    # sampling, int8, ML-embedding surfaces) come FIRST, followed by a
    # representative core (bm25/wand/hybrid/sparse/neural/dedup) so the
    # flagship paths keep a fresh driver-green row too. Earlier rounds'
    # green rows (CORRECTNESS_r0{2,3,4}.json) cover the tail.
    return {
        # -- never-driver-verified through r4: rotate into the window ------
        "query_percentiles_agg": q_query_percentiles_agg,
        "query_histogram_agg": q_query_histogram_agg,
        "query_filters_agg": q_query_filters_agg,
        "query_top_hits_agg": q_query_top_hits_agg,
        "query_composite_agg": q_query_composite_agg,
        "query_weighted_avg_agg": q_query_weighted_avg_agg,
        "query_adjacency_agg": q_query_adjacency_agg,
        "query_percentile_ranks_agg": q_query_percentile_ranks_agg,
        "query_global_agg": q_query_global_agg,
        "query_stats_agg": q_query_stats_agg,
        "significant_terms_agg": q_significant_terms_agg,
        "bm25_rescore_top10": q_bm25_rescore_top10,
        "function_score_top10": q_function_score_top10,
        "dis_max_top10": q_dis_max_top10,
        "boosting_top10": q_boosting_top10,
        "constant_score_hits": q_constant_score_hits,
        "rank_feature_top10": q_rank_feature_top10,
        "simple_query_string_top10": q_simple_query_string_top10,
        "source_groups_top5": q_source_groups_top5,
        "percolate_matches": q_percolate_matches,
        "percolate_stream_matches": q_percolate_stream_matches,
        "hash_sample": q_hash_sample,
        "stratified_sample": q_stratified_sample,
        "mixture_sample": q_mixture_sample,
        "repetition_features": q_repetition_features,
        "pack_sequences": q_pack_sequences,
        "int8_cosine_top10": q_int8_cosine_top10,
        "doc_sparse_embedding": q_doc_sparse_embedding,
        "doc_text_image_embeddings": q_doc_text_image_embeddings,
        "ml_rerank_top10": q_ml_rerank_top10,
        # -- new this round (guards the r4 ADVICE regexp-alternation fix) --
        "regexp_alternation_top10": q_regexp_alternation_top10,
        # -- representative core kept inside the capture window ------------
        "bm25_top10": q_bm25_top10,
        "bm25_wand_top10": q_bm25_wand_top10,
        "bm25_weighted_top10": q_bm25_weighted_top10,
        "bm25_prefilter_top10": q_bm25_prefilter_top10,
        "hybrid_minmax_arithmetic": q_hybrid_minmax_arithmetic,
        "hybrid_rrf_top10": q_hybrid_rrf_top10,
        "hybrid_batch_top5": q_hybrid_batch_top5,
        "sparse_linear_top10": q_sparse_linear_top10,
        "two_phase_sparse_top10": q_two_phase_sparse_top10,
        "neural_top10": q_neural_top10,
        "regexp_top10": q_regexp_top10,
        "dedup_exact": q_dedup_exact,
        "minhash_lsh_pairs": q_minhash_lsh_pairs,
        "lsh_jaccard_verified": q_lsh_jaccard_verified,
        "dedup_clusters": q_dedup_clusters,
        "simhash_pairs": q_simhash_pairs,
        "cosine_top10": q_cosine_top10,
        "decontaminate": q_decontaminate,
        "token_term_counts": q_token_term_counts,
        "term_doc_freq": q_term_doc_freq,
        "phrase_top10": q_phrase_top10,
        # -- tail: driver-green in earlier rounds (r2/r3/r4 captures) -------
        "analyzed_term_counts": q_analyzed_term_counts,
        "doclens": q_doclens,
        "collection_meta": q_collection_meta,
        "positional_postings": q_positional_postings,
        "phrase_prefix_top10": q_phrase_prefix_top10,
        "span_near_top10": q_span_near_top10,
        "span_unordered_top10": q_span_unordered_top10,
        "synonym_top10": q_synonym_top10,
        "mlt_top10": q_mlt_top10,
        "collapse_top10": q_collapse_top10,
        "highlight": q_highlight,
        "bm25_deleted_top10": q_bm25_deleted_top10,
        "bm25_batch_top5": q_bm25_batch_top5,
        "rank_eval_batch": q_rank_eval_batch,
        "sparse_batch_top5": q_sparse_batch_top5,
        "hybrid_rrf_batch_top5": q_hybrid_rrf_batch_top5,
        "bm25_post_filter_top10": q_bm25_post_filter_top10,
        "match_msm_top10": q_match_msm_top10,
        "bool_should_top10": q_bool_should_top10,
        "prefix_scoring_top10": q_prefix_scoring_top10,
        "wildcard_top10": q_wildcard_top10,
        "fuzzy_top10": q_fuzzy_top10,
        "terms_set_top10": q_terms_set_top10,
        "term_suggest": q_term_suggest,
        "completion_suggest": q_completion_suggest,
        "hybrid_sorted_top10": q_hybrid_sorted_top10,
        "hybrid_l2_geometric": q_hybrid_l2_geometric,
        "hybrid_minmax_harmonic": q_hybrid_minmax_harmonic,
        "range_query_hits": q_range_query_hits,
        "terms_query_hits": q_terms_query_hits,
        "neural_radial": q_neural_radial,
        "neural_rescore_top10": q_neural_rescore_top10,
        "neural_query_text_top10": q_neural_query_text_top10,
        "pipeline_rerank_top10": q_pipeline_rerank_top10,
        "doc_embeddings": q_doc_embeddings,
        "hybrid_neural_match": q_hybrid_neural_match,
        "hybrid_with_aggs": q_hybrid_with_aggs,
        "rerank_by_field": q_rerank_by_field,
        "minhash_signatures": q_minhash_signatures,
        "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
        "simhash": q_simhash,
        "embedding_dup_pairs": q_embedding_dup_pairs,
        "quality_features": q_quality_features,
        "lang_id": q_lang_id,
        "content_fingerprint": q_content_fingerprint,
        "chunk_fixed_token_length": q_chunk_fixed,
        "chunk_delimiter": q_chunk_delimiter,
        "chunk_delimiter_limited": q_chunk_delimiter_limited,
        "chunk_fixed_whitespace_limited": q_chunk_fixed_whitespace_limited,
        "lsh_cosine_top10": q_lsh_cosine_top10,
        "ivf_cosine_top10": q_ivf_cosine_top10,
        "total_hits_relation": q_total_hits_relation,
        "query_with_aggs": q_query_with_aggs,
        "nested_roundtrip_tokens": q_nested_roundtrip_tokens,
        "events_hourly_agg": q_events_hourly_agg,
        "events_search_after": q_events_search_after,
        "lineitem_agg": q_lineitem_agg,
        "orders_join_agg": q_orders_join_agg,
    }


def oracle_sql() -> dict[str, str]:
    from neural_search_spark.ops.text import LANG_PROFILES, STOPWORDS_EN

    sw = ", ".join(f"'{w}'" for w in STOPWORDS_EN)
    step = CHUNK_LIMIT - int(CHUNK_LIMIT * CHUNK_OVERLAP)
    langs = sorted(LANG_PROFILES)
    lang_cases = []
    for lang in langs:
        words = ", ".join(f"'{w}'" for w in LANG_PROFILES[lang])
        lang_cases.append(
            f"len(list_filter(toks, t -> list_contains([{words}], t)))::BIGINT as hits_{lang}"
        )
    lang_hit_cols = ", ".join(lang_cases)
    lang_best_hits = "greatest(" + ", ".join(f"hits_{lang}" for lang in langs) + ")"
    # CASE checked in lang-asc order → tie-break = lang asc, matching the
    # Spark array_min over (−hits, lang) structs
    lang_pred = "case when best_hits = 0 then 'und' " + " ".join(
        f"when hits_{lang} = best_hits then '{lang}'" for lang in langs
    ) + " end"

    return {
        "token_term_counts": f"select term, count(*)::BIGINT as cnt from ({SQL_TOKS}) group by term",
        "analyzed_term_counts": (
            "select term, count(*)::BIGINT as cnt from (select unnest("
            + _duckdb_analyze_expr
            + ") as term from documents) group by term"
        ),
        "term_doc_freq": f"with {SQL_INDEX_CTES} select term, df from stats",
        "doclens": f"with {SQL_INDEX_CTES} select doc_id, dl from doclens",
        "collection_meta": f"with {SQL_INDEX_CTES} select n, round(avgdl, 6) as avgdl from meta",
        "positional_postings": f"""
    select term, doc_id, pos
    from (select doc_id, unnest(toks) as term, unnest(range(len(toks))) as pos
          from ({SQL_TOKARR}))""",
        "phrase_top10": _oracle_phrase(PHRASE_TERMS, K),
        "phrase_prefix_top10": _oracle_phrase_prefix(PP_FIXED, PP_PREFIX, PP_MAXEXP, K),
        "span_near_top10": _oracle_span_near(SPAN_TERMS, SPAN_SLOP, True, K),
        "span_unordered_top10": _oracle_span_near(SPAN_U_TERMS, SPAN_U_SLOP, False, K),
        "synonym_top10": _oracle_synonym(SYN_GROUPS, SYN_BOOSTS, K),
        "mlt_top10": _oracle_mlt(MLT_LIKE, MLT_MTF, MLT_MDF, MLT_MQT, K),
        "collapse_top10": _oracle_collapse(Q_BM25, COLLAPSE_FIELD, K),
        "bm25_deleted_top10": f"""
    with {SQL_INDEX_CTES}, {_sql_bm25_scored(Q_BM25)},
    live as (select * from scored where doc_id % {DELETE_MOD} <> 0)
    {_sql_rank("live", "score", "doc_id", K)}""",
        "highlight": f"""
    with tokarr as ({SQL_TOKARR}),
    hitdocs as (select doc_id, toks,
                       [i for i in range(len(toks))
                        if list_contains(['join','spark','window'], toks[i+1])] as hits
                from tokarr),
    m as (select doc_id, toks, hits, len(hits)::BIGINT as n_hits,
                 list_transform(hits, h -> len(list_filter(hits,
                     q -> q >= h and q < h + {HL_FRAG}))) as counts
          from hitdocs where len(hits) > 0),
    b as (select doc_id, toks, n_hits,
                 hits[list_position(counts, list_max(counts))] as best_h
          from m),
    s as (select doc_id, toks, n_hits,
                 greatest(best_h - {HL_LEAD}, 0) as start from b)
    select doc_id, n_hits,
           array_to_string(list_transform(toks[start+1 : start+{HL_FRAG}],
             t -> case when list_contains(['join','spark','window'], t)
                  then '<em>'||t||'</em>' else t end), ' ') as fragment
    from s""",
        "decontaminate": f"""
    with {SQL_SHINGLES},
    bench as (select distinct shingle from shingles where id % {DECON_MOD} = 0)
    select s.id::BIGINT as doc_id, count(*)::BIGINT as matched_ngrams
    from shingles s join bench b using(shingle)
    where s.id % {DECON_MOD} <> 0
    group by 1""",
        "bm25_top10": _oracle_bm25(Q_BM25),
        "bm25_weighted_top10": _oracle_bm25(Q_BM25_W),
        "bm25_batch_top5": _oracle_bm25_batch(Q_BATCH, k=5),
        "rank_eval_batch": _oracle_rank_eval(Q_BATCH, k=5),
        "sparse_batch_top5": _oracle_sparse_batch(Q_SPARSE_BATCH, k=5),
        "hybrid_batch_top5": _oracle_hybrid_batch(Q_HY_BATCH, k=5),
        "hybrid_rrf_batch_top5": _oracle_hybrid_rrf_batch(Q_HY_BATCH, k=5),
        "bm25_wand_top10": _oracle_bm25(Q_BM25),
        "bm25_prefilter_top10": f"""with {SQL_INDEX_CTES},
  {_sql_bm25_scored(Q_BM25, "s_all")},
  scored as (select s.* from s_all s join documents d on s.doc_id = d.doc_id where d.lang = 'en')
  {_sql_rank("scored", "score", "doc_id", K)}""",
        "bm25_post_filter_top10": f"""with {SQL_INDEX_CTES}, {_sql_bm25_scored(Q_BM25, "s_all")},
  scored as (select s.* from s_all s join documents d on s.doc_id = d.doc_id
             where d.source in ({", ".join(f"'src{i}'" for i in range(10))}))
  {_sql_rank("scored", "score", "doc_id", K)}""",
        "bool_should_top10": f"""with {SQL_INDEX_CTES},
  {_sql_bm25_scored({"data": 1.0, "window": 1.0, "vector": 1.0, "spark": 1.0}, "s_all")},
  scored as (
    select s.doc_id, s.score from s_all s
    where s.doc_id in (select doc_id from postings where term in ('data', 'window'))
      and s.doc_id not in (select doc_id from postings where term = 'dup')
  )
  {_sql_rank("scored", "score", "doc_id", K)}""",
        "match_msm_top10": f"""with {SQL_INDEX_CTES},
  q as {_sql_values(Q_MSM)},
  scored as (
    select p.doc_id,
           round(sum(q.w * ln(1 + (m.n - s.df + 0.5) / (s.df + 0.5))
                     * p.tf / (p.tf + 1.2 * (1 - 0.75 + 0.75 * d.dl / m.avgdl))), 6) as score
    from postings p
    join q on p.term = q.term
    join stats s on p.term = s.term
    join doclens d on p.doc_id = d.doc_id
    cross join meta m
    group by 1
    having count(*) >= 2
  )
  {_sql_rank("scored", "score", "doc_id", K)}""",
        "prefix_scoring_top10": f"""with {SQL_INDEX_CTES},
  scored as (
    select p.doc_id,
           round(sum(ln(1 + (m.n - s.df + 0.5) / (s.df + 0.5))
                     * p.tf / (p.tf + 1.2 * (1 - 0.75 + 0.75 * d.dl / m.avgdl))), 6) as score
    from postings p
    join stats s on p.term = s.term
    join doclens d on p.doc_id = d.doc_id
    cross join meta m
    where p.term like '{PREFIX_VALUE}%'
    group by 1
  )
  {_sql_rank("scored", "score", "doc_id", K)}""",
        "wildcard_top10": f"""with {SQL_INDEX_CTES},
  matched as (select distinct doc_id from postings
              where term like '{WILDCARD_VALUE.replace("*", "%").replace("?", "_")}'),
  scored as (select doc_id, {WILDCARD_BOOST}::DOUBLE as score from matched)
  {_sql_rank("scored", "score", "doc_id", K)}""",
        "fuzzy_top10": f"""with {SQL_INDEX_CTES},
  mt as (select term from stats where levenshtein(term, '{FUZZY_VALUE}') <= {FUZZY_MAXD}),
  matched as (select distinct p.doc_id from postings p join mt on p.term = mt.term),
  scored as (select doc_id, 1.0::DOUBLE as score from matched)
  {_sql_rank("scored", "score", "doc_id", K)}""",
        "terms_set_top10": f"""with {SQL_INDEX_CTES},
  q as (select * from (values {", ".join(f"('{t}')" for t in sorted(set(TS_TERMS)))}) as t(term)),
  matched as (
    select p.doc_id, count(*) as n_matched,
           sum(ln(1 + (m.n - s.df + 0.5) / (s.df + 0.5))
               * p.tf / (p.tf + 1.2 * (1 - 0.75 + 0.75 * d.dl / m.avgdl))) as raw
    from postings p
    join q on p.term = q.term
    join stats s on p.term = s.term
    join doclens d on p.doc_id = d.doc_id
    cross join meta m
    group by 1
  ),
  scored as (select doc_id, round(raw, 6) as score from matched
             where n_matched >= greatest((doc_id % {TS_MSM_MOD}) + 1, 1))
  {_sql_rank("scored", "score", "doc_id", K)}""",
        "regexp_top10": f"""with {SQL_INDEX_CTES},
  mt as (select term from stats where regexp_full_match(term, '{REGEXP_VALUE}')),
  matched as (select distinct p.doc_id from postings p join mt on p.term = mt.term),
  scored as (select doc_id, {REGEXP_BOOST}::DOUBLE as score from matched)
  {_sql_rank("scored", "score", "doc_id", K)}""",
        "regexp_alternation_top10": f"""with {SQL_INDEX_CTES},
  mt as (select term from stats where regexp_full_match(term, '{REGEXP_ALT_VALUE}')),
  matched as (select distinct p.doc_id from postings p join mt on p.term = mt.term),
  scored as (select doc_id, {REGEXP_BOOST}::DOUBLE as score from matched)
  {_sql_rank("scored", "score", "doc_id", K)}""",
        "term_suggest": f"""with {SQL_INDEX_CTES},
  cand as (
    select term, levenshtein(term, '{SUGGEST_VALUE}')::BIGINT as distance, df
    from stats
    where term <> '{SUGGEST_VALUE}' and term like '{SUGGEST_VALUE[0]}%'
      and levenshtein(term, '{SUGGEST_VALUE}') <= 2
  )
  select row_number() over (order by distance asc, df desc, term asc)::BIGINT as rank,
         term as suggestion, distance, df
  from cand order by distance asc, df desc, term asc limit 5""",
        "completion_suggest": f"""with {SQL_INDEX_CTES}
  select row_number() over (order by df desc, term asc)::BIGINT as rank,
         term as suggestion, df
  from stats where term like '{PREFIX_VALUE}%'
  order by df desc, term asc limit 5""",
        "sparse_linear_top10": f"""with {SQL_INDEX_CTES},
  q as {_sql_values(Q_SPARSE)},
  scored as (
    select p.doc_id, round(sum(q.w * p.tf), 6) as score
    from postings p join q on p.term = q.term group by 1
  )
  {_sql_rank("scored", "score", "doc_id", K)}""",
        "two_phase_sparse_top10": _oracle_two_phase(),
        "hybrid_minmax_arithmetic": _oracle_hybrid("min_max", "arithmetic_mean"),
        "hybrid_sorted_top10": _oracle_hybrid_sorted(),
        "hybrid_l2_geometric": _oracle_hybrid("l2", "geometric_mean"),
        "hybrid_minmax_harmonic": _oracle_hybrid("min_max", "harmonic_mean"),
        "hybrid_rrf_top10": _oracle_hybrid_rrf(),
        "range_query_hits": """
  with m as (select doc_id from documents where n_chars >= 200 and n_chars < 260)
  select row_number() over (order by doc_id asc)::BIGINT as rank,
         doc_id, 2.0 as score
  from m order by doc_id asc limit 25""",
        "terms_query_hits": """
  with m as (select doc_id from documents where lang in ('de', 'fr'))
  select row_number() over (order by doc_id asc)::BIGINT as rank,
         doc_id, 1.0 as score
  from m order by doc_id asc limit 25""",
        "neural_top10": _oracle_neural_top10(),
        "neural_radial": _oracle_neural_radial(),
        "neural_rescore_top10": _oracle_neural_rescore(),
        "neural_query_text_top10": _oracle_neural_query_text(),
        "pipeline_rerank_top10": _oracle_pipeline_rerank(),
        "doc_embeddings": _oracle_doc_embeddings(),
        "doc_sparse_embedding": _oracle_doc_sparse_embedding(),
        "doc_text_image_embeddings": _oracle_doc_text_image(),
        "hybrid_neural_match": _oracle_hybrid_neural(),
        "hybrid_with_aggs": _oracle_hybrid_aggs(),
        "ml_rerank_top10": _oracle_ml_rerank(),
        "rerank_by_field": f"""with {SQL_INDEX_CTES}, {_sql_bm25_scored(Q_BM25)},
  topk as ({_sql_rank("scored", "score", "doc_id", K)})
  select row_number() over (order by d.n_chars desc, t.doc_id asc)::BIGINT as rank,
         t.doc_id, d.n_chars::BIGINT as n_chars, t.score as previous_score
  from topk t join documents d on t.doc_id = d.doc_id""",
        "hash_sample": f"""
    select doc_id, lang from documents
    where ('0x' || substr(md5(doc_id::VARCHAR || '#{SAMPLE_SEED}'), 1, 15))::BIGINT
          < {int(SAMPLE_RATE * (1 << 60))}""",
        "repetition_features": """
    with t as (select doc_id, text,
                      regexp_extract_all(lower(text), '[a-z0-9]+') as toks,
                      string_split(text, chr(10)) as lines
               from documents)
    select doc_id,
           case when len(lines) > 0
                then round(1.0 - len(list_distinct(lines))::DOUBLE / len(lines), 6)
                else 0.0 end as dup_line_frac,
           case when len(toks) > 0
                then round(list_max(list_transform(list_distinct(toks),
                       d -> len(list_filter(toks, x -> x = d))))::DOUBLE / len(toks), 6)
                else 0.0 end as top_token_share,
           case when len(toks) >= 2
                then round(1.0 - len(list_distinct(list_transform(
                       generate_series(1, len(toks) - 1),
                       i -> toks[i] || ' ' || toks[i + 1])))::DOUBLE / (len(toks) - 1), 6)
                else 0.0 end as dup_2gram_frac
    from t""",
        "mixture_sample": f"""
    with w as (select * from (values {", ".join(f"('{g}', {p!r}::DOUBLE)" for g, p in sorted(MIX_WEIGHTS.items()))}) as t(lang, p)),
    c as (select lang, count(*)::DOUBLE as n from documents
          where lang in ({", ".join(f"'{g}'" for g in sorted(MIX_WEIGHTS))}) group by 1),
    lam as (select min(c.n / w.p) as lam from c join w using(lang)),
    q as (select w.lang, floor((select lam from lam) * w.p)::BIGINT as quota from w),
    r as (select d.doc_id, d.lang,
                 row_number() over (partition by d.lang order by
                   ('0x' || substr(md5(d.doc_id::VARCHAR || '#{SAMPLE_SEED}'), 1, 15))::BIGINT asc,
                   d.doc_id asc) as rn
          from documents d
          where d.lang in ({", ".join(f"'{g}'" for g in sorted(MIX_WEIGHTS))}))
    select r.doc_id, r.lang from r join q using(lang) where r.rn <= q.quota""",
        "stratified_sample": f"""
    with ranked as (
      select doc_id, lang,
             row_number() over (partition by lang order by
               ('0x' || substr(md5(doc_id::VARCHAR || '#{SAMPLE_SEED}'), 1, 15))::BIGINT asc,
               doc_id asc) as rn
      from documents
    )
    select doc_id, lang from ranked where rn <= {STRAT_N}""",
        "pack_sequences": f"""
    with cum as (
      select doc_id,
             coalesce(sum(n_chars) over (order by doc_id asc
               rows between unbounded preceding and 1 preceding), 0)::BIGINT as before
      from documents
    )
    select doc_id, (before // {PACK_BUDGET})::BIGINT as pack_id,
           (before % {PACK_BUDGET})::BIGINT as pack_offset
    from cum""",
        "dedup_exact": """select md5(text) as text_md5, min(doc_id) as keep_id,
  count(*)::BIGINT as n_dupes from documents group by 1""",
        "minhash_signatures": f"with {SQL_SHINGLES}, {_sql_minhash_sig()} select * from sig",
        "minhash_lsh_pairs": _oracle_lsh_pairs(),
        "lsh_jaccard_verified": _oracle_lsh_jaccard(),
        "ngram_jaccard_pairs": f"""with {SQL_SHINGLES},
  sizes as (select id, count(*)::BIGINT as n_sh from shingles group by id),
  common as (
    select a.id as id_a, b.id as id_b, count(*)::BIGINT as n_common
    from shingles a join shingles b on a.shingle = b.shingle
    where a.id < b.id group by 1, 2
  ),
  j as (
    select c.id_a, c.id_b,
           round(c.n_common / (sa.n_sh + sb.n_sh - c.n_common), 6) as jaccard
    from common c join sizes sa on c.id_a = sa.id join sizes sb on c.id_b = sb.id
  )
  select * from j where jaccard >= {JACCARD_THRESHOLD}""",
        "simhash": _oracle_simhash(),
        "simhash_pairs": _oracle_simhash_pairs(),
        "dedup_clusters": _oracle_dedup_clusters(),
        "embedding_dup_pairs": _oracle_embedding_dup_pairs(),
        "quality_features": f"""
  select doc_id,
         len(toks)::BIGINT as n_tokens,
         length(text)::BIGINT as len_chars,
         round(case when length(text) > 0
               then length(regexp_replace(text, '[^A-Za-z]', '', 'g')) / length(text)
               else 0.0 end, 6) as alpha_ratio,
         round(case when len(toks) > 0
               then len(list_filter(toks, t -> list_contains([{sw}], t))) / len(toks)
               else 0.0 end, 6) as stopword_ratio,
         round(case when len(toks) > 0
               then len(list_distinct(toks)) / len(toks) else 0.0 end, 6) as distinct_ratio,
         round(0.4 * least(len(toks) / 100.0, 1.0)
             + 0.3 * (case when length(text) > 0
                      then length(regexp_replace(text, '[^A-Za-z]', '', 'g')) / length(text)
                      else 0.0 end)
             + 0.2 * (case when len(toks) > 0
                      then len(list_distinct(toks)) / len(toks) else 0.0 end)
             + 0.1 * least((case when len(toks) > 0
                      then len(list_filter(toks, t -> list_contains([{sw}], t))) / len(toks)
                      else 0.0 end) * 5.0, 1.0), 6) as quality_score
  from (select *, regexp_extract_all(lower(text), '[a-z0-9]+') as toks from documents)""",
        "lang_id": f"""
  with hits as (
    select doc_id, {lang_hit_cols}
    from (select doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') as toks from documents)
  ),
  best as (select *, {lang_best_hits} as best_hits from hits)
  select doc_id, {lang_pred} as pred_lang, best_hits::BIGINT as profile_hits
  from best""",
        "content_fingerprint": """
  select doc_id,
         md5(array_to_string(list_sort(list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+'))), ' ')) as fingerprint
  from documents""",
        # window count stops at the first window reaching the end of the
        # tokens (FixedTokenLengthChunker.java:146-151) — a short tail is
        # never emitted as an extra overlapped chunk
        "chunk_fixed_token_length": f"""
  with ta as ({SQL_TOKARR}),
  base as (
    select doc_id, toks, len(toks) as nt,
           case when len(toks) <= {CHUNK_LIMIT} then 1
                else ((len(toks) - {CHUNK_LIMIT} + {step} - 1) // {step}) + 1 end as c
    from ta where len(toks) > 0
  )
  select doc_id, (i - 1)::BIGINT as chunk_idx,
         array_to_string(toks[((i - 1) * {step} + 1):least((i - 1) * {step} + {CHUNK_LIMIT}, nt)], ' ') as chunk_text,
         (least((i - 1) * {step} + {CHUNK_LIMIT}, nt) - (i - 1) * {step})::BIGINT as n_chunk_tokens
  from base, unnest(generate_series(1, c)) as t(i)""",
        # reference DelimiterChunker parity: every chunk before the last
        # keeps its trailing delimiter; the remainder is kept only if
        # non-empty (delimiter-only chunks from consecutive delims survive)
        "chunk_delimiter": f"""
  select doc_id, (i - 1)::BIGINT as chunk_idx,
         case when i < len(parts) then parts[i] || '{DELIM}' else parts[i] end as chunk_text
  from (select doc_id, string_split(text, '{DELIM}') as parts from documents),
       unnest(generate_series(1, len(parts))) as t(i)
  where i < len(parts) or length(parts[i]) > 0""",
        "chunk_delimiter_limited": f"""
  with nat as (
    select doc_id, parts, len(parts) as np,
           (len(parts) - 1
            + case when length(parts[len(parts)]) > 0 then 1 else 0 end) as c
    from (select doc_id, string_split(text, '{DELIM}') as parts from documents)
  )
  select doc_id, (i - 1)::BIGINT as chunk_idx,
         case when c > {CHUNK_MAXN} and i = {CHUNK_MAXN}
                then array_to_string(parts[{CHUNK_MAXN}:np], '{DELIM}')
              when i < np then parts[i] || '{DELIM}'
              else parts[i] end as chunk_text
  from nat, unnest(generate_series(1, case when c > {CHUNK_MAXN} then {CHUNK_MAXN} else np end)) as t(i)
  where c > {CHUNK_MAXN} or i < np or length(parts[np]) > 0""",
        "chunk_fixed_whitespace_limited": f"""
  with ta as (
    select doc_id, regexp_extract_all(text, '{WS_PATTERN}') as toks from documents
  ),
  base as (
    select doc_id, toks, len(toks) as nt,
           case when len(toks) = 0 then 0
                else ((len(toks) - 1) // {CHUNK_LIMIT}) + 1 end as c
    from ta
  )
  select doc_id, (i - 1)::BIGINT as chunk_idx,
         case when c > {CHUNK_MAXN} and i = {CHUNK_MAXN}
                then array_to_string(toks[((i - 1) * {CHUNK_LIMIT} + 1):nt], ' ')
              else array_to_string(
                toks[((i - 1) * {CHUNK_LIMIT} + 1):least((i - 1) * {CHUNK_LIMIT} + {CHUNK_LIMIT}, nt)], ' ')
              end as chunk_text,
         (case when c > {CHUNK_MAXN} and i = {CHUNK_MAXN}
                then nt - (i - 1) * {CHUNK_LIMIT}
              else least((i - 1) * {CHUNK_LIMIT} + {CHUNK_LIMIT}, nt) - (i - 1) * {CHUNK_LIMIT}
              end)::BIGINT as n_chunk_tokens
  from base, unnest(generate_series(1, case when c > {CHUNK_MAXN} then {CHUNK_MAXN} else c end)) as t(i)
  where nt > 0""",
        "cosine_top10": f"""
  with q as (select embedding::DOUBLE[] as qe from embeddings where vec_id = 0),
  scored as (
    select vec_id,
           round(list_dot_product(embedding::DOUBLE[], qe)
                 / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                    * sqrt(list_dot_product(qe, qe))), 6) as cosine
    from embeddings, q
  )
  {_sql_rank("scored", "cosine", "vec_id", K)}""",
        "int8_cosine_top10": f"""
  with q as (select embedding::DOUBLE[] as qe from embeddings where vec_id = 0),
  qz as (select vec_id, embedding::DOUBLE[] as e,
                case when list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) > 0
                     then list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) / 127.0
                     else 1.0 end as scale
         from embeddings),
  codes as (select vec_id, list_transform(e, x -> floor(x / scale + 0.5)) as c from qz),
  scored as (
    select vec_id,
           round(list_dot_product(c, qe)
                 / (sqrt(list_dot_product(c, c)) * sqrt(list_dot_product(qe, qe))), 6) as cosine
    from codes, q
  )
  {_sql_rank("scored", "cosine", "vec_id", K)}""",
        "lsh_cosine_top10": _oracle_lsh_cosine(),
        "ivf_cosine_top10": _oracle_ivf_cosine(),
        "total_hits_relation": f"""
  with {SQL_INDEX_CTES},
  n as (
    select count(distinct doc_id)::BIGINT as n from postings
    where term in ('spark', 'join', 'window')
  )
  select 'low' as thresh_case,
         case when n > 50 then 50 else n end::BIGINT as value,
         case when n > 50 then 'gte' else 'eq' end as relation from n
  union all
  select 'high',
         case when n > 100000 then 100000 else n end::BIGINT,
         case when n > 100000 then 'gte' else 'eq' end from n""",
        "query_percentiles_agg": f"""
  with {SQL_INDEX_CTES},
  matching as (
    select distinct doc_id from postings where term in ('join', 'spark', 'window')
  ),
  vals as (select d.n_chars from documents d join matching using(doc_id))
  select unnest([25.0, 50.0, 95.0]) as percent,
         unnest([round(quantile_cont(n_chars, 0.25), 6),
                 round(quantile_cont(n_chars, 0.50), 6),
                 round(quantile_cont(n_chars, 0.95), 6)]) as value
  from vals""",
        "bm25_rescore_top10": f"""
  with {SQL_INDEX_CTES},
  qv as (select * from (values {", ".join(f"('{t}', {w!r}::DOUBLE)" for t, w in sorted(Q_BM25.items()))}) t(term, w)),
  prim as (select p.doc_id,
                  sum(q.w * ln(1 + (m.n - s.df + 0.5) / (s.df + 0.5))
                      * p.tf / (p.tf + 1.2 * (1 - 0.75 + 0.75 * d.dl / m.avgdl))) as pscore
           from postings p join qv q using(term) join stats s on p.term = s.term
           join doclens d using(doc_id) cross join meta m group by 1),
  win as (select doc_id, pscore from prim
          order by pscore desc, doc_id asc limit {RESCORE_WINDOW}),
  sec as (select p.doc_id,
                 ln(1 + (m.n - s.df + 0.5) / (s.df + 0.5))
                 * p.tf / (p.tf + 1.2 * (1 - 0.75 + 0.75 * d.dl / m.avgdl)) as sscore
          from postings p join stats s on p.term = s.term
          join doclens d using(doc_id) cross join meta m
          where p.term = 'merge'),
  res as (select w.doc_id,
                 case when s.sscore is null then w.pscore
                      else w.pscore + {RESCORE_RQW} * s.sscore end as raw
          from win w left join sec s using(doc_id))
  select row_number() over (order by raw desc, doc_id asc)::BIGINT as rank,
         doc_id, round(raw, 6) as score
  from res order by raw desc, doc_id asc limit {K}""",
        "function_score_top10": f"""
  with {SQL_INDEX_CTES},
  qv as (select * from (values {", ".join(f"('{t}', {w!r}::DOUBLE)" for t, w in sorted(Q_BM25.items()))}) t(term, w)),
  prim as (select p.doc_id,
                  sum(q.w * ln(1 + (m.n - s.df + 0.5) / (s.df + 0.5))
                      * p.tf / (p.tf + 1.2 * (1 - 0.75 + 0.75 * d.dl / m.avgdl))) as pscore
           from postings p join qv q using(term) join stats s on p.term = s.term
           join doclens d using(doc_id) cross join meta m group by 1),
  fs as (select pr.doc_id,
                pr.pscore * exp(-(greatest(abs(dd.n_chars - {FS_ORIGIN}), 0.0) ^ 2)
                                / (2 * {FS_SIGMA2!r})) as raw
         from prim pr join documents dd using(doc_id))
  select row_number() over (order by raw desc, doc_id asc)::BIGINT as rank,
         doc_id, round(raw, 6) as score
  from fs order by raw desc, doc_id asc limit {K}""",
        "dis_max_top10": f"""
  with {SQL_INDEX_CTES},
  {_sql_bm25_raw(Q_HY_A, "dm_a")},
  {_sql_bm25_raw(Q_HY_B, "dm_b")},
  u as (select * from dm_a union all select * from dm_b),
  agg as (select doc_id, max(score) as mx, sum(score) as sm from u group by 1),
  scored as (select doc_id, round(mx + {DM_TIE} * (sm - mx), 6) as score from agg)
  {_sql_rank("scored", "score", "doc_id", K)}""",
        "boosting_top10": f"""
  with {SQL_INDEX_CTES},
  {_sql_bm25_raw(Q_BM25, "pos")},
  neg as (select distinct doc_id from postings where term = '{BOOSTING_NEG}'),
  scored as (
    select p.doc_id,
           round(case when n.doc_id is not null then p.score * {BOOSTING_NB}
                      else p.score end, 6) as score
    from pos p left join neg n on p.doc_id = n.doc_id)
  {_sql_rank("scored", "score", "doc_id", K)}""",
        "source_groups_top5": f"""
  with {SQL_INDEX_CTES},
  {_sql_bm25_raw(Q_BM25, "pos")},
  rs as (select doc_id, round(score, 6) as score from pos),
  g as (select d.source, round(sum(rs.score), 6) as score, count(*)::BIGINT as n_hits
        from rs join documents d on rs.doc_id = d.doc_id
        group by 1)
  select row_number() over (order by score desc, source asc)::BIGINT as rank,
         source, score, n_hits
  from g order by score desc, source asc limit 5""",
        "simple_query_string_top10": f"""
  with {SQL_INDEX_CTES},
  {_sql_bm25_raw({"the": 1.0}, "s_the")},
  {_sql_bm25_raw({"data": 1.0}, "s_data")},
  pfx as (select distinct doc_id, 1.0::DOUBLE as score from postings where term like 's%'),
  u as (select * from s_the union all select * from s_data union all select * from pfx),
  scored as (
    select doc_id, round(sum(score), 6) as score from u
    where doc_id in (select doc_id from postings where term = 'the')
      and doc_id not in (select doc_id from postings where term = 'dup')
    group by 1)
  {_sql_rank("scored", "score", "doc_id", K)}""",
        "rank_feature_top10": f"""
  with scored as (
    select doc_id,
           round(n_chars / (n_chars + {RF_PIVOT}), 6) as score
    from documents where n_chars > 0)
  {_sql_rank("scored", "score", "doc_id", K)}""",
        "constant_score_hits": f"""
  with {SQL_INDEX_CTES},
  matched as (select distinct doc_id from postings where term in ('merge', 'sort')),
  scored as (select doc_id, {CS_BOOST}::DOUBLE as score from matched)
  {_sql_rank("scored", "score", "doc_id", CS_K)}""",
        "percolate_matches": f"""
  with toks as (select distinct doc_id, term from ({SQL_TOKS})),
  rules as (select * from (values
      (1, 'table', 2), (1, 'part', 2),
      (2, 'merge', 1), (2, 'sort', 1),
      (3, 'spark', 1)) as t(query_id, term, min_match))
  select t.doc_id, r.query_id::BIGINT as query_id
  from toks t join rules r using(term)
  group by t.doc_id, r.query_id, r.min_match
  having count(*) >= r.min_match""",
        "percolate_stream_matches": f"""
  with toks as (select distinct doc_id, term from ({SQL_TOKS})),
  rules as (select * from (values
      (1, 'table', 2), (1, 'part', 2),
      (2, 'merge', 1), (2, 'sort', 1),
      (3, 'spark', 1)) as t(query_id, term, min_match))
  select t.doc_id, r.query_id::BIGINT as query_id
  from toks t join rules r using(term)
  group by t.doc_id, r.query_id, r.min_match
  having count(*) >= r.min_match""",
        "significant_terms_agg": f"""
  with {SQL_INDEX_CTES},
  matching as (
    select distinct doc_id from postings where term in ('join', 'spark', 'window')
  ),
  fgn as (select count(*)::DOUBLE as fgn from matching),
  fg as (select term as key, count(*)::BIGINT as doc_count
         from postings join matching using(doc_id) group by 1),
  sig as (select f.key, f.doc_count, s.df::BIGINT as bg_count,
                 ((f.doc_count / g.fgn) - (s.df::DOUBLE / m.n))
                 * ((f.doc_count / g.fgn) / (s.df::DOUBLE / m.n)) as raw
          from fg f join stats s on f.key = s.term
          cross join fgn g cross join meta m
          where f.doc_count / g.fgn > s.df::DOUBLE / m.n)
  select key, doc_count, bg_count, round(raw, 6) as score
  from sig order by raw desc, key asc limit {K}""",
        "query_stats_agg": f"""
  with {SQL_INDEX_CTES},
  matching as (
    select distinct doc_id from postings where term in ('join', 'spark', 'window')
  )
  select count(d.n_chars)::BIGINT as count, min(d.n_chars)::BIGINT as min,
         max(d.n_chars)::BIGINT as max, round(avg(d.n_chars), 6) as avg,
         sum(d.n_chars)::BIGINT as sum,
         count(distinct d.source)::BIGINT as n_sources
  from documents d join matching using(doc_id)""",
        "query_with_aggs": f"""
  with {SQL_INDEX_CTES},
  matching as (
    select distinct doc_id from postings where term in ('spark', 'join', 'window')
  )
  select d.lang as key, count(*)::BIGINT as doc_count
  from documents d join matching m on d.doc_id = m.doc_id
  group by 1""",
        "query_global_agg": f"""
  with {SQL_INDEX_CTES},
  matching as (
    select distinct doc_id from postings where term in ('spark', 'join', 'window')
  )
  select (select round(avg(n_chars), 6) from documents) as all_avg,
         (select round(avg(d.n_chars), 6)
          from documents d join matching m on d.doc_id = m.doc_id) as match_avg""",
        "query_percentile_ranks_agg": f"""
  with {SQL_INDEX_CTES},
  matching as (
    select distinct doc_id from postings where term in ('spark', 'join', 'window')
  ),
  md as (select d.n_chars from documents d join matching m on d.doc_id = m.doc_id),
  cells as ({" union all ".join(
      f"select {v!r}::DOUBLE as value, round(sum(case when n_chars <= {v!r} then 1 else 0 end) * 100.0 / count(*), 6) as percent from md"
      for v in PR_VALUES)})
  select value, percent from cells""",
        "query_adjacency_agg": f"""
  with {SQL_INDEX_CTES},
  matching as (
    select distinct doc_id from postings where term in ('spark', 'join', 'window')
  ),
  md as (select d.* from documents d join matching m on d.doc_id = m.doc_id),
  cells as (
    select 'short' as key, sum(case when n_chars < 150 then 1 else 0 end)::BIGINT as doc_count from md
    union all
    select 'en', sum(case when lang = 'en' then 1 else 0 end)::BIGINT from md
    union all
    select 'en&short', sum(case when lang = 'en' and n_chars < 150 then 1 else 0 end)::BIGINT from md)
  select key, doc_count from cells where doc_count > 0""",
        "query_weighted_avg_agg": f"""
  with {SQL_INDEX_CTES},
  matching as (
    select distinct doc_id from postings where term in ('spark', 'join', 'window')
  )
  select round(sum(d.n_chars * ((d.doc_id % 5) + 1))
               / sum((d.doc_id % 5) + 1), 6) as value
  from documents d join matching m on d.doc_id = m.doc_id""",
        "query_histogram_agg": f"""
  with {SQL_INDEX_CTES},
  matching as (
    select distinct doc_id from postings where term in ('spark', 'join', 'window')
  ),
  md as (select d.n_chars from documents d join matching m on d.doc_id = m.doc_id),
  b as (select floor(n_chars / 50.0) as idx, count(*)::BIGINT as doc_count
        from md group by 1),
  span as (select unnest(generate_series(
             (select min(idx)::BIGINT from b), (select max(idx)::BIGINT from b))) as idx)
  select (span.idx * 50.0)::DOUBLE as key,
         coalesce(b.doc_count, 0)::BIGINT as doc_count
  from span left join b on span.idx = b.idx""",
        "query_filters_agg": f"""
  with {SQL_INDEX_CTES},
  matching as (
    select distinct doc_id from postings where term in ('spark', 'join', 'window')
  ),
  md as (select d.* from documents d join matching m on d.doc_id = m.doc_id)
  select 'short' as key, sum(case when n_chars < 150 then 1 else 0 end)::BIGINT as doc_count from md
  union all
  select 'en', sum(case when lang = 'en' then 1 else 0 end)::BIGINT from md
  union all
  select 'long_de', sum(case when n_chars >= 250 then 1 else 0 end)::BIGINT from md""",
        "query_top_hits_agg": f"""
  with {SQL_INDEX_CTES},
  {_sql_bm25_raw(Q_BM25, "s_all")},
  j as (select d.source as key, s.doc_id, s.score
        from s_all s join documents d on s.doc_id = d.doc_id),
  -- rank ties on the ROUNDED score: distributed double summation is
  -- order-dependent, so exact-tie replicas differ in the last ULP and
  -- would flip the doc_id tie-break non-deterministically (mirrors the
  -- engine's score_decimals=6)
  r as (select key, doc_id, score,
               row_number() over (partition by key
                                  order by round(score, 6) desc, doc_id asc)::BIGINT as rank
        from j)
  select key, rank, doc_id, round(score, 6) as score
  from r where rank <= 2""",
        "query_composite_agg": f"""
  with {SQL_INDEX_CTES},
  matching as (
    select distinct doc_id from postings where term in ('spark', 'join', 'window')
  ),
  b as (select d.source as src, d.lang as lg, count(*)::BIGINT as doc_count
        from documents d join matching m on d.doc_id = m.doc_id
        group by 1, 2)
  select src, lg, doc_count from b
  where src > 'src2' or (src = 'src2' and lg > 'de')
  order by src asc, lg asc
  limit 8""",
        "nested_roundtrip_tokens": """
  select source, doc_id,
         len(regexp_extract_all(lower(text), '[a-z0-9]+'))::BIGINT as n_tokens
  from documents""",
        "events_hourly_agg": """
  select strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') as hour,
         event_type, count(*)::BIGINT as n_events, round(sum(value), 6) as sum_value
  from events group by 1, 2""",
        "events_search_after": f"""
  select strftime(ts, '%Y-%m-%d %H:%M:%S.%f') as ts, event_id::BIGINT as event_id, event_type
  from events
  where ts > TIMESTAMP '{EVENT_CURSOR_TS}'
     or (ts = TIMESTAMP '{EVENT_CURSOR_TS}' and event_id > 0)
  order by 1, 2 limit 20""",
        "lineitem_agg": """
  select l_returnflag, l_linestatus,
         round(sum(l_quantity), 6) as sum_qty,
         round(sum(l_extendedprice), 2) as sum_price,
         round(avg(l_discount), 6) as avg_disc,
         count(*)::BIGINT as cnt
  from lineitem group by 1, 2""",
        "orders_join_agg": """
  select o_orderpriority,
         round(sum(l_extendedprice * (1 - l_discount)), 2) as revenue,
         count(*)::BIGINT as cnt
  from lineitem join orders on l_orderkey = o_orderkey
  group by 1""",
    }

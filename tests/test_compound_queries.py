"""Compound scoring queries — dis_max / boosting / constant_score — vs
manual per-sub-query composition (the engine's own leaf scorers are already
oracle-pinned elsewhere, so combining THEM is the trusted baseline here),
plus the one-scan plan lock for all-lexical dis_max."""

from __future__ import annotations

import re

import pytest

from neural_search_spark.query.dsl import QueryEngine, QueryValidationError

SUB_A = {"match": {"text": "merge sort"}}
SUB_B = {"match": {"text": "spark stream"}}
SUB_C = {"term": {"text": {"value": "vector"}}}


def _collect(df) -> dict[int, float]:
    return {r["docID"]: r["score"] for r in df.collect()}


def test_dis_max_matches_manual_combine(engine):
    tie = 0.3
    a = _collect(engine._score(SUB_A, None))
    b = _collect(engine._score(SUB_B, None))
    c = _collect(engine._score(SUB_C, None))
    expected = {}
    for d in set(a) | set(b) | set(c):
        scores = [m[d] for m in (a, b, c) if d in m]
        expected[d] = max(scores) + tie * (sum(scores) - max(scores))
    got = _collect(
        engine._score(
            {"dis_max": {"queries": [SUB_A, SUB_B, SUB_C], "tie_breaker": tie}}, None
        )
    )
    assert set(got) == set(expected)
    for d in expected:
        assert got[d] == pytest.approx(expected[d], rel=1e-9)


def test_dis_max_default_tie_breaker_is_pure_max(engine):
    a = _collect(engine._score(SUB_A, None))
    b = _collect(engine._score(SUB_B, None))
    got = _collect(engine._score({"dis_max": {"queries": [SUB_A, SUB_B]}}, None))
    for d, s in got.items():
        assert s == pytest.approx(max(m.get(d, float("-inf")) for m in (a, b)))


def test_dis_max_fused_equals_composed(engine):
    """The all-lexical fused single-scan path must score identically to the
    generic composed path (forced by a constant_score wrapper, which has no
    lexical weights)."""
    fused = _collect(
        engine._score({"dis_max": {"queries": [SUB_A, SUB_B], "tie_breaker": 0.5}}, None)
    )
    composed = _collect(
        engine._score(
            {"dis_max": {"queries": [SUB_A, {"bool": {"must": [SUB_B]}}],
                         "tie_breaker": 0.5}},
            None,
        )
    )
    assert set(fused) == set(composed)
    for d in fused:
        assert fused[d] == pytest.approx(composed[d], rel=1e-9)


def test_dis_max_fused_single_postings_scan(spark, transcripts, index_tables, tmp_path):
    """Plan-shape lock: an all-lexical dis_max compiles to exactly ONE scan
    of the postings table (fused sub-query scoring), like hybrid."""
    from neural_search_spark.index.build import IndexTables

    p = str(tmp_path / "postings_dm")
    index_tables.postings.write.parquet(p)
    t2 = IndexTables(
        postings=spark.read.parquet(p),
        doclens=index_tables.doclens,
        term_stats=index_tables.term_stats,
        meta=index_tables.meta,
    )
    eng = QueryEngine(tables=t2, docs=transcripts)
    res = eng.search({"dis_max": {"queries": [SUB_A, SUB_B], "tie_breaker": 0.2}}, k=5)
    plan = res._jdf.queryExecution().executedPlan().toString()
    # count data scans only (docID column present): InjectRuntimeFilter may
    # add term-only bloom-builder Subquery scans — an optimization artifact,
    # not a second pass over the posting payload
    scans = [
        ln for ln in plan.splitlines()
        if "FileScan parquet" in ln and "docID" in ln
    ]
    assert len(scans) == 1, plan
    assert "In(term" in scans[0], plan


def test_boosting_demotes_negative_matches(engine):
    nb = 0.25
    pos = _collect(engine._score(SUB_A, None))
    neg = set(_collect(engine._score(SUB_C, None)))
    got = _collect(
        engine._score(
            {"boosting": {"positive": SUB_A, "negative": SUB_C,
                          "negative_boost": nb}},
            None,
        )
    )
    assert set(got) == set(pos)
    for d, s in pos.items():
        expected = s * nb if d in neg else s
        assert got[d] == pytest.approx(expected, rel=1e-9)


def test_constant_score_flattens_to_boost(engine):
    matched = set(_collect(engine._score(SUB_B, None)))
    got = _collect(
        engine._score({"constant_score": {"filter": SUB_B, "boost": 1.7}}, None)
    )
    assert set(got) == matched
    assert all(s == pytest.approx(1.7) for s in got.values())


def test_compound_kinds_compose_in_bool_and_hybrid(engine):
    """Compound kinds are ordinary leaves to bool/hybrid composition."""
    r = engine.search(
        {"bool": {"must": [{"dis_max": {"queries": [SUB_A, SUB_B]}}],
                  "must_not": [SUB_C]}},
        k=5,
    )
    assert r.count() > 0
    h = engine.search(
        {"hybrid": {"queries": [
            {"constant_score": {"filter": SUB_A, "boost": 2.0}},
            SUB_B,
        ]}},
        k=5,
    )
    assert h.count() > 0


def test_compound_validation_errors(engine):
    with pytest.raises(QueryValidationError):
        engine._score({"dis_max": {"queries": []}}, None)
    with pytest.raises(QueryValidationError):
        engine._score({"dis_max": {"queries": [SUB_A], "tie_breaker": 1.5}}, None)
    with pytest.raises(QueryValidationError):
        engine._score({"boosting": {"positive": SUB_A}}, None)
    with pytest.raises(QueryValidationError):
        engine._score({"boosting": {"positive": SUB_A, "negative": SUB_B,
                                    "negative_boost": -1}}, None)
    with pytest.raises(QueryValidationError):
        engine._score({"constant_score": {"boost": 2.0}}, None)


# ---------------------------------------------------------------------------
# rank_feature (Lucene FeatureField transforms)
# ---------------------------------------------------------------------------


def _feature_engine(engine, transcripts):
    from pyspark.sql import functions as F
    from neural_search_spark.query.dsl import QueryEngine

    # positive feature with one zero-feature doc (docID 0 must not match)
    docs = transcripts.withColumn(
        "pop", F.when(F.col("docID") == 0, F.lit(0.0))
                .otherwise((F.col("docID") % 7 + 1).cast("double"))
    )
    return QueryEngine(tables=engine.tables, docs=docs), {
        r["docID"]: (0.0 if r["docID"] == 0 else r["docID"] % 7 + 1)
        for r in transcripts.select("docID").collect()
    }


def test_rank_feature_saturation_log_sigmoid(engine, transcripts):
    import math

    eng, feats = _feature_engine(engine, transcripts)
    pos = {d: v for d, v in feats.items() if v > 0}
    cases = [
        ({"saturation": {"pivot": 3.0}}, lambda v: v / (v + 3.0)),
        ({"log": {"scaling_factor": 2.0}}, lambda v: math.log(2.0 + v)),
        ({"sigmoid": {"pivot": 3.0, "exponent": 2.0}},
         lambda v: v**2 / (v**2 + 3.0**2)),
    ]
    for spec, fn in cases:
        got = _collect(
            eng._score({"rank_feature": {"field": "pop", "boost": 2.0, **spec}}, None)
        )
        assert set(got) == set(pos), spec
        for d, v in pos.items():
            assert got[d] == pytest.approx(2.0 * fn(v), rel=1e-9), spec


def test_rank_feature_composes_and_validates(engine, transcripts):
    eng, _ = _feature_engine(engine, transcripts)
    r = eng.search(
        {"bool": {"must": [SUB_A],
                  "should": [{"rank_feature": {"field": "pop",
                                               "saturation": {"pivot": 3.0}}}]}},
        k=5,
    )
    assert r.count() > 0
    with pytest.raises(QueryValidationError):
        eng._score({"rank_feature": {"field": "pop"}}, None)  # no transform
    with pytest.raises(QueryValidationError):
        eng._score({"rank_feature": {"field": "nope",
                                     "saturation": {"pivot": 1.0}}}, None)
    with pytest.raises(QueryValidationError):
        eng._score({"rank_feature": {"field": "pop",
                                     "saturation": {"pivot": 0.0}}}, None)


def test_terms_set_and_sqs_plan_locks(spark, transcripts, index_tables, tmp_path):
    """Plan-shape locks: (a) terms_set reads the postings ONCE (threshold
    rides the score aggregation, no second pass); (b) an all-match
    simple_query_string compiles to the fused single-scan bool."""
    from pyspark.sql import functions as F

    from neural_search_spark.index.build import IndexTables

    p = str(tmp_path / "postings_pl")
    index_tables.postings.write.parquet(p)
    t2 = IndexTables(
        postings=spark.read.parquet(p),
        doclens=index_tables.doclens,
        term_stats=index_tables.term_stats,
        meta=index_tables.meta,
    )
    docs = transcripts.withColumn("req_m", (F.col("docID") % 3 + 1).cast("int"))
    eng = QueryEngine(tables=t2, docs=docs)

    def postings_scans(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        # the only parquet source in these plans IS the postings write
        # (docs/doclens/stats are in-memory RDDs); the Location path is
        # truncated in toString, so match on FileScan parquet + docID
        return [
            ln for ln in plan.splitlines()
            if "FileScan parquet" in ln and "docID" in ln
        ], plan

    r1 = eng.search(
        {"terms_set": {"text": {"terms": ["merge", "sort", "spark"],
                                "minimum_should_match_field": "req_m"}}}, k=5
    )
    scans, plan = postings_scans(r1)
    assert len(scans) == 1, plan
    assert "In(term" in scans[0], plan

    r2 = eng.search(
        {"simple_query_string": {"query": "merge sort -vector"}}, k=5
    )
    scans, plan = postings_scans(r2)
    assert len(scans) == 1, plan
    assert "In(term" in scans[0], plan

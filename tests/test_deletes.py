"""Tombstone deletes + compaction (index/store.py, Lucene liveDocs
semantics: deletes exclude docs from results immediately, stats stay
whole-index until compact)."""

from __future__ import annotations

import json
import os
import re

import pytest

from neural_search_spark.data import synthesize_transcripts
from neural_search_spark.index.store import IndexStore, build_index
from tests import oracle

QUERY = ["the", "data", "spark"]
HIT_SCHEMA = "rank int, docID long, score double"


def _build(spark, path, n_convs=12):
    tr = synthesize_transcripts(spark, n_convs=n_convs, turns_per_conv=6, seed=5)
    build_index(spark, tr, path, source_fingerprint=f"synth:{n_convs}x6:5",
                postings_per_salt=50)
    return IndexStore(spark, path)


def test_delete_excludes_but_keeps_stats(spark, tmp_path):
    store = _build(spark, str(tmp_path / "idx"))
    full = {r["docID"]: r["score"] for r in store.topk(QUERY, k=1000).collect()}
    victims = sorted(full)[:3]
    assert store.delete_docs(victims) == 3
    live = {r["docID"]: r["score"] for r in store.topk(QUERY, k=1000).collect()}
    # deleted docs gone; every survivor's score UNCHANGED (df/avgdl still
    # count the deleted docs — Lucene docFreq-ignores-deletes semantics)
    assert set(live) == set(full) - set(victims)
    for d, s in live.items():
        assert s == full[d]
    # idempotent: re-deleting is a no-op
    assert store.delete_docs(victims) == 0
    # DataFrame input form
    more = spark.createDataFrame([(sorted(full)[3],)], "docID long")
    assert store.delete_docs(more) == 1


def test_compact_refreshes_stats_and_clears_tombstones(spark, tmp_path):
    store = _build(spark, str(tmp_path / "idx"))
    n0 = store.meta["N"]
    full = {r["docID"] for r in store.topk(QUERY, k=1000).collect()}
    victims = sorted(full)[:4]
    store.delete_docs(victims)
    res = store.compact()
    assert res["deleted"] == 4 and res["N"] == n0 - 4
    assert store.tombstones is None
    assert not os.path.isdir(os.path.join(store.path, "_manifests"))
    # meta.json rewritten
    with open(os.path.join(store.path, "meta.json")) as f:
        assert json.load(f)["N"] == n0 - 4
    # compacted store equals a FRESH build over the filtered corpus:
    # same postings content and same topk (scores now use the new stats)
    tr = synthesize_transcripts(spark, n_convs=12, turns_per_conv=6, seed=5)
    from neural_search_spark.data import assign_doc_ids

    fresh_dir = str(tmp_path / "fresh")
    fresh_docs = assign_doc_ids(tr)
    keep = fresh_docs.where(~fresh_docs.docID.isin([int(v) for v in victims]))
    # rebuild via the staged pipeline on the kept docs (docIDs preserved by
    # writing postings straight from the filtered docs frame)
    from neural_search_spark.index.build import build_postings

    exp_postings = sorted(
        (r["term"], r["docID"], r["tf"]) for r in build_postings(keep).collect()
    )
    got_postings = sorted(
        (r["term"], r["docID"], r["tf"])
        for r in store.postings.select("term", "docID", "tf").collect()
    )
    assert got_postings == exp_postings
    # both physical paths run and agree on the compacted store
    rel = [(r["docID"], r["score"]) for r in store.topk(QUERY, k=5, strategy="relational").collect()]
    seg = [(r["docID"], r["score"]) for r in store.topk(QUERY, k=5, strategy="segments").collect()]
    assert [d for d, _ in rel] == [d for d, _ in seg]
    for (_, a), (_, b) in zip(rel, seg):
        assert abs(a - b) < 1e-9
    # compacting with nothing deleted is a no-op
    res2 = store.compact()
    assert res2["deleted"] == 0 and res2["N"] == n0 - 4


def test_store_stats(spark, tmp_path):
    store = _build(spark, str(tmp_path / "idx"), n_convs=8)
    st = store.stats()
    assert st["docs"] == 48 and st["deleted"] == 0
    assert st["vocabulary"] > 0 and st["postings"] > 0
    assert st["posting_blocks"] >= st["shards"] >= 1
    assert all(st["bytes"][s] > 0 for s in st["bytes"])
    store.delete_docs([0, 1])
    assert store.stats()["deleted"] == 2


def test_store_query_engine_bridge(spark, tmp_path):
    store = _build(spark, str(tmp_path / "idx"), n_convs=8)
    eng = store.query_engine(positional=True)
    # DSL over the on-disk index agrees with the store's own topk
    got = [(r.docID, r.score) for r in eng.search({"match": {"text": " ".join(QUERY)}}, k=5).collect()]
    ref = [(r["docID"], r["score"]) for r in store.topk(QUERY, k=5, strategy="relational").collect()]
    assert [d for d, _ in got] == [d for d, _ in ref]
    for (_, a), (_, b) in zip(got, ref):
        assert abs(a - b) < 1e-9
    # positional kinds work against the stored docs
    assert eng.search({"match_phrase": {"text": "the data"}}, k=3).count() >= 0
    aggs_hits, aggs = eng.search_with_aggs(
        {"match": {"text": "data"}}, {"by_role": {"terms": {"field": "role"}}}
    )
    assert aggs["by_role"].count() > 0


def _docs_on_disk(spark, path) -> dict[int, str]:
    """docID → text read straight from the docs parquet, not through a
    store handle."""
    docs = spark.read.parquet(os.path.join(path, "docs"))
    return {r["docID"]: r["text"] for r in docs.select("docID", "text").collect()}


def _assert_agrees_with_oracle(store, docs, deleted=()):
    """Every read path of `store` returns the oracle's top-5 over `docs`,
    with stats over all of `docs` and the `deleted` docs excluded."""
    scores = oracle.bm25_scores(docs, QUERY)
    exp = oracle.topk({d: s for d, s in scores.items() if d not in deleted}, 5)
    exp_ids = [d for d, _ in exp]
    for strategy in ("segments", "relational", "auto"):
        got = store.topk(QUERY, k=5, strategy=strategy).collect()
        assert [r["docID"] for r in got] == exp_ids, strategy
        assert [r["score"] for r in got] == pytest.approx([s for _, s in exp], rel=1e-9)
    fetched = store.fetch(store.topk(QUERY, k=5)).collect()
    assert [(r["docID"], r["text"]) for r in fetched] == [(d, docs[d]) for d in exp_ids]
    eng = store.query_engine()
    got = eng.search({"match": {"text": " ".join(QUERY)}}, k=5).collect()
    assert [r["docID"] for r in got] == exp_ids
    assert [r["score"] for r in got] == pytest.approx([s for _, s in exp], rel=1e-9)


def test_table_handles_reused_within_epoch(spark, tmp_path):
    store = _build(spark, str(tmp_path / "idx"), n_convs=8)
    for table in ("docs", "postings", "doclens", "term_stats", "segments"):
        assert getattr(store, table) is getattr(store, table), table
    assert store.meta is store.meta
    assert store.tombstones is None
    segments = store.segments
    store.delete_docs([0])
    # a delete moves the epoch: every handle is reopened, then reused
    assert store.segments is not segments
    assert store.segments is store.segments
    tombs = store.tombstones
    assert tombs is not None and store.tombstones is tombs


def test_same_store_follows_delete_compact_rebuild(spark, tmp_path):
    """One IndexStore instance, kept open across every writer of its path,
    reads the files each writer left behind."""
    path = str(tmp_path / "idx")
    store = _build(spark, path)
    docs = _docs_on_disk(spark, path)
    _assert_agrees_with_oracle(store, docs)

    # deleting the current top hits changes every path's answer
    victims = [d for d, _ in oracle.topk(oracle.bm25_scores(docs, QUERY), 2)]
    assert store.delete_docs(victims) == 2
    _assert_agrees_with_oracle(store, docs, deleted=victims)

    store.compact()
    docs = _docs_on_disk(spark, path)
    assert set(victims).isdisjoint(docs) and store.meta["N"] == len(docs)
    _assert_agrees_with_oracle(store, docs)

    tr = synthesize_transcripts(spark, n_convs=9, turns_per_conv=6, seed=11)
    build_index(spark, tr, path, source_fingerprint="synth:9x6:11",
                postings_per_salt=50, resume=False)
    docs = _docs_on_disk(spark, path)
    assert store.meta["N"] == len(docs) == 54
    _assert_agrees_with_oracle(store, docs)


def test_fetch_returns_rank_order_across_docs_files(spark, tmp_path):
    path = str(tmp_path / "idx")
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "16")
    try:
        store = _build(spark, path)
    finally:
        spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    files = [f for f in os.listdir(os.path.join(path, "docs")) if f.endswith(".parquet")]
    assert len(files) > 1, files
    docs = _docs_on_disk(spark, path)
    # ranks run against docID order, so hits from different files (and
    # scan partitions) must be re-ordered by fetch
    ids = sorted(docs)
    picks = [ids[-1], ids[len(ids) // 2], ids[0], ids[len(ids) // 3]]
    hits = spark.createDataFrame(
        [(rank, d, 10.0 - rank) for rank, d in enumerate(picks, 1)], HIT_SCHEMA
    )
    fetched = store.fetch(hits).collect()
    assert [r["rank"] for r in fetched] == [1, 2, 3, 4]
    assert [(r["docID"], r["text"]) for r in fetched] == [(d, docs[d]) for d in picks]


# --- every relational query kind honours tombstones before compact() -----

MATCH = {"match": {"text": "the data spark"}}
SUB_A = {"match": {"text": "the data"}}
SUB_B = {"match": {"text": "spark"}}
BOOL_SHOULD = [{"match": {"text": "spark the"}}]
BOOL_NOT = [{"term": {"text": {"value": "heap"}}}]
SYN_GROUPS = [["data", "spark"], ["the"]]
MLT = {"max_query_terms": 8, "min_term_freq": 1, "min_doc_freq": 2}
ALL = 100  # > corpus size: every match comes back, ranking is not at issue


def _min_max(scores: dict[int, float]) -> dict[int, float]:
    lo, hi = min(scores.values()), max(scores.values())
    if lo == hi:
        return {d: 1.0 for d in scores}
    return {d: (s - lo) / (hi - lo) or 0.001 for d, s in scores.items()}


def _tombstone_cases(docs, example):
    """kind → (run(store, engine) → {docID: score}, expected(deleted) →
    the oracle's {docID: score} with stats over all of `docs` and the
    `deleted` docs excluded)."""
    postings, *_ = oracle.build_oracle_index(docs)

    def bm25(terms):
        return oracle.bm25_scores(docs, terms)

    def live(scores):
        return lambda deleted: {d: s for d, s in scores.items() if d not in deleted}

    def hits(df):
        return {r["docID"]: r["score"] for r in df.collect()}

    def search(q):
        return lambda store, eng: hits(eng.search(q, k=ALL))

    def at_least(terms, n):
        return {
            d: s for d, s in bm25(terms).items()
            if sum(d in postings.get(t, {}) for t in terms) >= n
        }

    def bool_scores():
        must, should = bm25(["data"]), bm25(["spark", "the"])
        return {
            d: s + should.get(d, 0.0) for d, s in must.items()
            if d not in postings.get("heap", {})
        }

    def dis_max_scores(tie):
        a, b = bm25(["the", "data"]), bm25(["spark"])
        out = {}
        for d in set(a) | set(b):
            subs = [m[d] for m in (a, b) if d in m]
            out[d] = max(subs) + tie * (sum(subs) - max(subs))
        return out

    def hybrid_expected(deleted):
        # sub-query lists hold LIVE docs only, so normalization never sees
        # a deleted doc
        a, b = (
            _min_max(live(bm25(t))(deleted)) for t in (["the", "data"], ["spark"])
        )
        return {d: (a.get(d, 0.0) + b.get(d, 0.0)) / 2 for d in set(a) | set(b)}

    mlt_terms = oracle.mlt_terms(docs, [example], **MLT)
    fused_bool = {"bool": {"must": [{"match": {"text": "data"}}],
                           "should": BOOL_SHOULD, "must_not": BOOL_NOT}}
    # a nested bool is not a lexical clause: forces the composed plan
    composed_bool = {"bool": {"must": [{"bool": {"must": [{"match": {"text": "data"}}]}}],
                              "should": BOOL_SHOULD, "must_not": BOOL_NOT}}
    return {
        "match": (search(MATCH), live(bm25(QUERY))),
        "term": (search({"term": {"text": {"value": "data"}}}), live(bm25(["data"]))),
        "match_msm": (
            search({"match": {"text": {"query": "the data spark", "minimum_should_match": 2}}}),
            live(at_least(QUERY, 2)),
        ),
        "terms_set": (
            search({"terms_set": {"text": {"terms": QUERY, "minimum_should_match": 2}}}),
            live(at_least(QUERY, 2)),
        ),
        "bool_fused": (search(fused_bool), live(bool_scores())),
        "bool_composed": (search(composed_bool), live(bool_scores())),
        "dis_max": (
            search({"dis_max": {"queries": [SUB_A, SUB_B], "tie_breaker": 0.3}}),
            live(dis_max_scores(0.3)),
        ),
        "hybrid": (search({"hybrid": {"queries": [SUB_A, SUB_B]}}), hybrid_expected),
        "synonym": (
            search({"synonym": {"field": "text", "groups": SYN_GROUPS}}),
            live(oracle.synonym_scores(docs, SYN_GROUPS)),
        ),
        "more_like_this": (
            search({"more_like_this": {"field": "text", "like": [example], **MLT}}),
            live({d: s for d, s in bm25(mlt_terms).items() if d != example}),
        ),
        "prefix_scoring_boolean": (
            search({"prefix": {"text": {"value": "spa", "rewrite": "scoring_boolean"}}}),
            live(bm25([t for t in postings if t.startswith("spa")])),
        ),
        "msearch": (
            lambda store, eng: hits(
                eng.msearch([{"term": {"text": {"value": "spark"}}}, MATCH], k=ALL)
                .where("query_id = 1")
            ),
            live(bm25(QUERY)),
        ),
        "store_topk_relational": (
            lambda store, eng: hits(store.topk(QUERY, k=ALL, strategy="relational")),
            live(bm25(QUERY)),
        ),
    }


TOMBSTONE_KINDS = [
    "match", "term", "match_msm", "terms_set", "bool_fused", "bool_composed",
    "dis_max", "hybrid", "synonym", "more_like_this", "prefix_scoring_boolean",
    "msearch", "store_topk_relational",
]


@pytest.fixture(scope="module")
def tombstoned(spark, tmp_path_factory):
    """A store whose two best docs for QUERY are deleted but not compacted,
    its DSL engine, and the oracle cases over the whole-index docs."""
    path = str(tmp_path_factory.mktemp("tombstoned") / "idx")
    store = _build(spark, path)
    docs = _docs_on_disk(spark, path)
    ranked = [d for d, _ in oracle.topk(oracle.bm25_scores(docs, QUERY), 3)]
    victims, example = ranked[:2], ranked[2]
    cases = _tombstone_cases(docs, example)
    assert store.delete_docs(victims) == 2
    return store, store.query_engine(), set(victims), cases


@pytest.mark.parametrize("kind", TOMBSTONE_KINDS)
def test_query_kinds_exclude_tombstoned_docs(tombstoned, kind):
    store, eng, victims, cases = tombstoned
    run, expected_after = cases[kind]
    # the delete matters for this kind: a victim matched before it
    assert victims & set(expected_after(set())), kind
    expected = expected_after(victims)
    got = run(store, eng)
    assert set(got) == set(expected), kind
    for d, s in expected.items():
        assert got[d] == pytest.approx(s, rel=1e-9), (kind, d)


def test_tombstone_anti_join_keeps_term_pushdown(tombstoned):
    """Deletes apply below the query: the term IN filter still reaches the
    postings scan under the tombstone anti-join, on both read paths."""
    store, eng, _, _ = tombstoned
    for df in (store.topk(QUERY, k=5), eng.search(MATCH, k=5)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        scans = [
            ln for ln in plan.splitlines()
            if "FileScan parquet" in ln and re.search(r"ReadSchema: struct<[^>]*\btf:", ln)
        ]
        assert len(scans) == 1, plan
        assert "In(term" in scans[0], plan
        assert "LeftAnti" in plan, plan

"""Segment build, block-max WAND query path, and checkpoint-resume."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from neural_search_spark.index.codec import decode_blocks_batch, encode_docids, varint_encode
from neural_search_spark.index.segments import BLOCK_SIZE, build_segments
from neural_search_spark.index.store import IndexStore, build_index
from neural_search_spark.query.bm25 import bm25_topk
from neural_search_spark.query.segment_search import wand_topk

from tests import oracle


@pytest.fixture(scope="module")
def pdl(index_tables):
    return index_tables.postings  # (term, docID, tf, dl) — dl inline


@pytest.fixture(scope="module")
def segments(spark, index_tables, pdl):
    m = index_tables.meta.first()
    seg = build_segments(
        pdl,
        avgdl=float(m["avgdl"]),
        max_doc_id=int(m["N"]) - 1,
        block_size=16,  # small blocks → multi-block lists in the fixture
        postings_per_salt=50,  # head terms (df>50) get salted
        term_stats=index_tables.term_stats,
    ).persist()
    seg.count()
    return seg


def test_decode_blocks_batch_roundtrip():
    rng = np.random.RandomState(7)
    blocks = []
    for _ in range(20):
        n = rng.randint(1, 40)
        ids = np.sort(rng.choice(10_000, size=n, replace=False)).astype(np.uint64)
        tf = rng.randint(1, 9, size=n).astype(np.uint64)
        dl = rng.randint(5, 300, size=n).astype(np.uint64)
        blocks.append((ids, tf, dl))
    bidx, ids, tfs, dls = decode_blocks_batch(
        [encode_docids(b[0]) for b in blocks],
        [varint_encode(b[1]) for b in blocks],
        [varint_encode(b[2]) for b in blocks],
        np.array([len(b[0]) for b in blocks]),
    )
    off = 0
    for i, (eids, etf, edl) in enumerate(blocks):
        n = len(eids)
        assert (bidx[off : off + n] == i).all()
        assert ids[off : off + n].tolist() == eids.tolist()
        assert tfs[off : off + n].tolist() == etf.tolist()
        assert dls[off : off + n].tolist() == edl.tolist()
        off += n


def test_segment_invariants(segments, index_tables):
    rows = segments.collect()
    assert rows, "no segments built"
    # every block: strictly increasing docIDs, max_score_component correct
    m = index_tables.meta.first()
    avgdl = float(m["avgdl"])
    from neural_search_spark.index.codec import decode_docids, varint_decode

    salted = set()
    for r in rows:
        ids = decode_docids(r["docids"], r["n"])
        assert (np.diff(ids.astype(np.int64)) > 0).all() if len(ids) > 1 else True
        assert ids[0] == r["first_docID"] and ids[-1] == r["last_docID"]
        tf = varint_decode(r["tfs"], r["n"]).astype(np.float64)
        dl = varint_decode(r["dls"], r["n"]).astype(np.float64)
        comp = tf / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
        assert abs(comp.max() - r["max_score_component"]) < 1e-6
        assert r["n"] <= 16
        if r["salt"] > 0:
            salted.add(r["term"])
    assert salted, "expected salted head terms with postings_per_salt=50"
    # postings conservation: total decoded postings == postings rows
    total = sum(r["n"] for r in rows)
    assert total == index_tables.postings.count()


@pytest.mark.parametrize(
    "terms",
    [
        ["the", "spark", "query"],
        {"data": 2.0, "index": 1.0, "zzz_missing": 3.0},
        ["tok5"],
        ["cache", "heap", "scan", "the", "a", "of"],
    ],
)
def test_wand_topk_matches_relational_and_oracle(
    spark, transcripts, index_tables, segments, terms
):
    m = index_tables.meta.first()
    docs = {r["docID"]: r["text"] for r in transcripts.select("docID", "text").collect()}
    exp = oracle.topk(oracle.bm25_scores(docs, terms), 10)

    for prune in (False, True):
        got = wand_topk(
            segments,
            index_tables.term_stats,
            n_docs=int(m["N"]),
            avgdl=float(m["avgdl"]),
            terms=terms,
            k=10,
            prune=prune,
        ).collect()
        assert [r["docID"] for r in got] == [d for d, _ in exp], f"prune={prune}"
        for r, (_, s) in zip(got, exp):
            assert r["score"] == pytest.approx(s, rel=1e-9)

    rel = bm25_topk(
        index_tables.postings, index_tables.doclens, index_tables.term_stats,
        index_tables.meta, terms, k=10,
    ).collect()
    got = wand_topk(
        segments, index_tables.term_stats, int(m["N"]), float(m["avgdl"]), terms, k=10
    ).collect()
    assert [(r["docID"], pytest.approx(r["score"], rel=1e-9)) for r in got] == [
        (r["docID"], r["score"]) for r in rel
    ]


def test_store_build_and_resume(spark, tmp_path):
    from neural_search_spark.data import synthesize_transcripts

    tr = synthesize_transcripts(spark, n_convs=15, turns_per_conv=8, seed=42)
    out = str(tmp_path / "idx")

    r1 = build_index(spark, tr, out, source_fingerprint="synth:15x8:42", postings_per_salt=50)
    assert [s.skipped for s in r1] == [False] * 5

    store = IndexStore(spark, out)
    docs = {r["docID"]: r["text"] for r in store.docs.select("docID", "text").collect()}
    exp = oracle.topk(oracle.bm25_scores(docs, ["the", "data", "spark"]), 5)
    got = store.topk(["the", "data", "spark"], k=5).collect()
    assert [r["docID"] for r in got] == [d for d, _ in exp]
    # fetch joins hits back to turns
    fetched = store.fetch(store.topk(["the", "data", "spark"], k=5)).collect()
    assert len(fetched) == 5 and all(f["text"] for f in fetched)

    # full resume: everything skipped
    r2 = build_index(spark, tr, out, source_fingerprint="synth:15x8:42", postings_per_salt=50)
    assert [s.skipped for s in r2] == [True] * 5

    # kill-simulation: drop the segments manifest → only segments rebuilds,
    # and the rebuilt index is content-identical
    import os

    seg_manifest = os.path.join(out, "_manifests", "segments.json")
    before = sorted(
        (r["term"], r["salt"], r["blockID"], bytes(r["docids"]).hex())
        for r in store.segments.collect()
    )
    os.remove(seg_manifest)
    r3 = build_index(spark, tr, out, source_fingerprint="synth:15x8:42", postings_per_salt=50)
    assert [s.skipped for s in r3] == [True, True, True, True, False]
    after = sorted(
        (r["term"], r["salt"], r["blockID"], bytes(r["docids"]).hex())
        for r in IndexStore(spark, out).segments.collect()
    )
    assert before == after

    # changed source fingerprint invalidates every stage
    r4 = build_index(spark, tr, out, source_fingerprint="synth:OTHER")
    assert [s.skipped for s in r4] == [False] * 5


def test_wand_pruning_actually_prunes(spark, transcripts, index_tables, segments):
    """On the Zipf-skewed corpus, a head-term query with small k must skip a
    substantial share of blocks, stay exact, and rescue only what the
    zone-maps require."""
    m = index_tables.meta.first()
    docs = {r["docID"]: r["text"] for r in transcripts.select("docID", "text").collect()}
    # single-term, k=1: θ equals the best score, so only blocks whose
    # max-score bound reaches it survive — the sharpest pruning case
    terms = ["the"]
    stats: dict = {}
    # small zone_width so the 200-doc fixture spans multiple zones (the
    # default 1024 is sized for corpus-scale head-term block spans)
    # no_prune_blocks=0 forces the zone machinery even on this tiny fixture
    # (the production default skips pruning below 512 blocks — cheaper to
    # decode than to plan)
    got = wand_topk(
        segments, index_tables.term_stats, int(m["N"]), float(m["avgdl"]),
        terms, k=1, zone_width=32, no_prune_blocks=0, stats_out=stats,
    ).collect()
    exp = oracle.topk(oracle.bm25_scores(docs, terms), 1)
    assert [r["docID"] for r in got] == [d for d, _ in exp]
    assert stats["blocks_total"] > 0
    assert stats["blocks_surviving"] < stats["blocks_total"], stats
    assert stats["theta"] > 0


def test_xxhash64_py_matches_spark(spark):
    """Driver-side XXH64 mirror (segments.xxhash64_py / shard_of) must agree
    with F.xxhash64 bit-for-bit so query-time shard pruning computed in
    Python targets exactly the directories the writer produced."""
    from pyspark.sql import functions as F

    from neural_search_spark.index.segments import shard_col, shard_of, xxhash64_py

    terms = [
        "", "a", "the", "spark", "tok0", "tok999999",
        "x" * 7, "y" * 8, "z" * 31, "w" * 32, "q" * 33, "m" * 100,
        "ünïcödé-term", "w12345",
    ]
    df = spark.createDataFrame([(t,) for t in terms], "t string").select(
        "t", F.xxhash64("t").alias("h"), shard_col(F.col("t")).alias("s")
    )
    for r in df.collect():
        assert xxhash64_py(r["t"].encode("utf-8")) == r["h"], r["t"]
        assert shard_of(r["t"]) == r["s"], r["t"]


def test_store_topk_auto_strategy(spark, tmp_path):
    """strategy='auto' must return the same ranking as both forced paths,
    and pick the segment path for rare terms / relational for head terms."""
    from neural_search_spark.data import synthesize_transcripts
    from neural_search_spark.index.store import IndexStore, build_index

    tr = synthesize_transcripts(spark, n_convs=15, turns_per_conv=8, seed=42)
    out = str(tmp_path / "idx")
    build_index(spark, tr, out, source_fingerprint="auto-test", postings_per_salt=50)
    store = IndexStore(spark, out)

    for terms in (["tok5"], ["the", "data", "spark"]):
        rows = {}
        for strat in ("segments", "relational", "auto"):
            got = store.topk(terms, k=5, strategy=strat).collect()
            rows[strat] = [(r["docID"], round(r["score"], 9)) for r in got]
        assert rows["segments"] == rows["relational"] == rows["auto"], terms
    import pytest as _pytest

    with _pytest.raises(ValueError, match="strategy"):
        store.topk(["the"], strategy="bogus")

    # session plan cache: built once, reused (identity), router telemetry
    # recorded, wand's job A skipped on the warm path
    c1 = store.plan_cache()
    c2 = store.plan_cache()
    assert c1 is c2 and c1["terms"], "cache must be reused within an epoch"
    so: dict = {}
    got = store.topk(["tok5"], k=5, strategy="auto", stats_out=so).collect()
    assert so["router"]["plan_cache_hit"] is True
    assert so["router"]["strategy"] == "segments"  # rare term → early-exit
    assert so.get("plan_cache_hit") is True  # wand skipped job A
    assert [(r["docID"], round(r["score"], 9)) for r in got] == rows_ref(store, ["tok5"])

    # invalidation: a delete changes the epoch → cache rebuilt
    victim = got[0]["docID"]
    store.delete_docs([victim])
    c3 = store.plan_cache()
    assert c3 is not c1


def rows_ref(store, terms):
    got = store.topk(terms, k=5, strategy="relational").collect()
    return [(r["docID"], round(r["score"], 9)) for r in got]


def test_wand_maxscore_split_kernel_and_semijoin(spark, transcripts, index_tables, segments):
    """A query mixing dense head terms with an upweighted rare term must
    activate the MAXSCORE essential/non-essential split (the heads' summed
    upper bounds fall below θ), stay rank- and score-identical to both the
    unpruned decode and the brute-force oracle on BOTH non-essential
    handling paths — the kernel docID filter (candidate set fits the
    driver broadcast) AND the distributed semi-join fallback (cand_limit=0
    forces the >cand_limit regime, where candidates are never collected)
    — and decode fewer non-essential blocks than the full query would."""
    m = index_tables.meta.first()
    docs = {r["docID"]: r["text"] for r in transcripts.select("docID", "text").collect()}
    # heavy weight on the rare term drives θ far above the heads' UBs
    terms = {"the": 1.0, "a": 1.0, "tok5": 8.0}
    exp = oracle.topk(oracle.bm25_scores(docs, terms), 5)

    results = {}
    for mode, limit in (("kernel", 2_000_000), ("semijoin", 0)):
        stats: dict = {}
        got = wand_topk(
            segments, index_tables.term_stats, int(m["N"]), float(m["avgdl"]),
            terms, k=5, zone_width=32, no_prune_blocks=0, cand_limit=limit,
            stats_out=stats,
        ).collect()
        assert stats["nonessential_terms"], f"split did not activate ({mode}): {stats}"
        assert stats["cand_mode"] == mode, stats
        assert "tok5" in stats["essential_terms"], stats
        results[mode] = [(r["docID"], round(r["score"], 9)) for r in got]
        assert [r["docID"] for r in got] == [d for d, _ in exp], mode
        for r, (_, s) in zip(got, exp):
            assert r["score"] == pytest.approx(s, rel=1e-9), mode
        if mode == "kernel":
            assert stats["cand_count"] > 0
        else:
            # the distributed path still zone-prunes NE blocks
            assert stats["blocks_ne_decoded"] >= 0
    assert results["kernel"] == results["semijoin"]

    unpruned = wand_topk(
        segments, index_tables.term_stats, int(m["N"]), float(m["avgdl"]),
        terms, k=5, prune=False,
    ).collect()
    assert results["kernel"] == [(r["docID"], round(r["score"], 9)) for r in unpruned]


from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=5, deadline=None, derandomize=True)
@given(
    data=st.data(),
)
def test_wand_randomized_rank_identity(spark, index_tables, segments, data):
    """Property: for random query-term subsets, weights and k, the pruned
    block-max path (zone machinery forced, MAXSCORE split free to activate
    or not) is rank- and score-identical to the relational join-agg.
    Derandomized so the driver's pytest run is reproducible."""
    from neural_search_spark.data.transcripts import VOCAB

    m = index_tables.meta.first()
    n_terms = data.draw(st.integers(min_value=1, max_value=5), label="n_terms")
    terms = {}
    for i in range(n_terms):
        t = data.draw(st.sampled_from(sorted(VOCAB)), label=f"term{i}")
        w = data.draw(
            st.floats(min_value=0.25, max_value=8.0, allow_nan=False, width=32),
            label=f"w{i}",
        )
        terms[t] = float(w)
    k = data.draw(st.integers(min_value=1, max_value=10), label="k")

    rel = bm25_topk(
        index_tables.postings, index_tables.doclens, index_tables.term_stats,
        index_tables.meta, terms, k=k,
    ).collect()
    got = wand_topk(
        segments, index_tables.term_stats, int(m["N"]), float(m["avgdl"]),
        terms, k=k, zone_width=32, no_prune_blocks=0,
    ).collect()
    assert [r["docID"] for r in got] == [r["docID"] for r in rel], terms
    for g, r in zip(got, rel):
        assert g["score"] == pytest.approx(r["score"], rel=1e-9), terms


def test_store_snapshot_and_restore(spark, tmp_path):
    from neural_search_spark.data import synthesize_transcripts

    tr = synthesize_transcripts(spark, n_convs=10, turns_per_conv=6, seed=9)
    out = str(tmp_path / "idx_snap")
    build_index(spark, tr, out, source_fingerprint="synth:10x6:9", postings_per_salt=50)
    store = IndexStore(spark, out)
    before = store.topk(["the", "data", "spark"], k=5).collect()

    snaps = str(tmp_path / "snaps")
    m1 = store.snapshot(snaps, name="s1")
    assert m1["copied"] > 0 and m1["skipped"] == 0
    # incremental: an unchanged index re-snapshots with zero copies
    m2 = store.snapshot(snaps, name="s1")
    assert m2["copied"] == 0 and m2["skipped"] == len(m2["files"])

    restored = IndexStore.restore(
        spark, str(tmp_path / "snaps" / "s1"), str(tmp_path / "idx_restored")
    )
    after = restored.topk(["the", "data", "spark"], k=5).collect()
    assert [(r["docID"], r["score"]) for r in after] == [
        (r["docID"], r["score"]) for r in before
    ]
    assert restored.meta == store.meta
    # a torn snapshot (missing file) fails loudly before restoring anything
    import json as _json
    import os as _os

    sdir = str(tmp_path / "snaps" / "s1")
    with open(_os.path.join(sdir, "snapshot.json")) as f:
        manifest = _json.load(f)
    victim = next(e["path"] for e in manifest["files"] if e["path"].endswith(".parquet"))
    _os.remove(_os.path.join(sdir, victim))
    with pytest.raises(ValueError, match="incomplete"):
        IndexStore.restore(spark, sdir, str(tmp_path / "idx_restored2"))
    assert not _os.path.exists(str(tmp_path / "idx_restored2"))


def _jobs_run_by(spark, fn):
    """(fn(), number of Spark jobs fn ran), counted through a job group of
    its own."""
    import uuid

    sc = spark.sparkContext
    group = f"job-budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_warm_search_job_budget(spark, tmp_path):
    """A warm search on the segment early-exit path: building the plan
    (topk) runs no job, scoring runs at most two (decode + aggregate), and
    fetching the hits at most three (hits broadcast, docs scan + join,
    single-partition sort) — no schema inference, no join for the query
    weights, no global sort."""
    from neural_search_spark.data import synthesize_transcripts

    tr = synthesize_transcripts(spark, n_convs=15, turns_per_conv=8, seed=42)
    out = str(tmp_path / "idx")
    build_index(spark, tr, out, source_fingerprint="budget", postings_per_salt=50)
    store = IndexStore(spark, out)
    store.plan_cache()
    terms = ["the", "data", "spark"]
    hit_schema = "rank int, docID long, score double"
    for _ in range(2):  # the second search is warm
        stats: dict = {}
        df, topk_jobs = _jobs_run_by(spark, lambda: store.topk(terms, k=5, stats_out=stats))
        rows, collect_jobs = _jobs_run_by(spark, df.collect)
        hits = spark.createDataFrame(
            [(r["rank"], r["docID"], r["score"]) for r in rows], hit_schema
        )
        fetched, fetch_jobs = _jobs_run_by(spark, lambda: store.fetch(hits).collect())
    assert stats["router"]["strategy"] == "segments" and stats["plan_cache_hit"]
    assert stats["pruning_skipped"]
    jobs = {"topk": topk_jobs, "collect": collect_jobs, "fetch": fetch_jobs}
    assert topk_jobs == 0 and collect_jobs <= 2 and fetch_jobs <= 3, jobs
    assert [r["docID"] for r in fetched] == [r["docID"] for r in rows]

"""The benchmark's workloads, driven through the package's public API from
one client thread in a closed loop (each call waits for the previous one).

Every run: start a session, materialize the seeded corpus to parquet, build
the index (timed), then open the store and warm its plan cache several times
(timed). `setup_s` is the build plus the median serving set-up. The
workload's measured phase follows;
each output is checked against the DuckDB oracle afterwards, outside the
timed region.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import sys
import time
import traceback

from perfbench import host
from perfbench.oracle import Oracle, compare_hits
from perfbench.stats import summarize
from perfbench.tracing import Tracer, per_call, sum_jobs

# corpus realism settings shared with tools/latency_bench.py: a Zipf
# vocabulary deep enough that block-max pruning and the router have choices
VOCAB = 100_000
TOKENS_PER_TURN, MIN_TOKENS, BURSTINESS = 48, 6, 0.15
TURNS = 2000
K = 10
SETUP_REPEATS = 3
N_LEXICAL, N_HYBRID = 200, 20
DELETES_PER_ROUND = 4
#: the closed loops run for --seconds, in whole cycles of the four search
#: shapes so that every run's median sees the same mix
SHAPES = 4

# term-rank bands, sized to the corpus so that every query shape matches
# documents: ~1 in 20 tokens is w1; a mid term occurs in ~5-50 docs and a
# rare one in ~1-5
HEAD = (1, 8)
MID = (VOCAB // 1000, VOCAB // 100)
RARE = (VOCAB // 100, VOCAB // 20)

BUILD_STAGES = ("docs", "postings", "doclens", "term_stats", "segments")
# doclens and term_stats run concurrently, so their jobs are attributed to
# the two together
SPARK_BUILD_STEPS = {
    "build_docs": ("docs",),
    "build_postings": ("postings",),
    "build_doclens_term_stats": ("doclens", "term_stats"),
    "build_segments": ("segments",),
}
HIT_SCHEMA = "rank int, docID long, score double"


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


# --- seeded inputs ---------------------------------------------------------


class Inputs:
    """Every query the run sends, drawn from one seeded generator."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)

    def term(self, band: tuple[int, int], exclude=()) -> str:
        while True:
            t = f"w{self.rng.randint(*band)}"
            if t not in exclude:
                return t

    def terms(self, *bands) -> list[str]:
        out: list[str] = []
        for b in bands:
            out.append(self.term(b, out))
        return out

    def search(self, i: int) -> list[str]:
        """Four shapes in turn: head+mid pair, mid triple, rare singleton,
        head+mid+rare triple."""
        return self.terms(*[(HEAD, MID), (MID, MID, MID), (RARE,), (HEAD, MID, RARE)][i % SHAPES])

    def lexical_batch(self) -> list[list[str]]:
        return [self.terms(HEAD, MID) if i % 2 else self.terms(MID, MID) for i in range(N_LEXICAL)]

    def hybrid_batch(self) -> dict[int, list[dict[str, float]]]:
        return {
            q: [{t: 1.0 for t in self.terms(HEAD, MID)}, {t: 1.0 for t in self.terms(MID, MID, RARE)}]
            for q in range(N_HYBRID)
        }

    def dsl(self) -> list[tuple[dict, dict]]:
        """(query, oracle spec) for the mixed DSL msearch: shapes the
        single-scan batch path does not take."""
        h, m = self.terms(HEAD, MID)
        excl = self.term((HEAD[1] + 1, MID[0]), (h, m))
        msm = self.terms(HEAD, MID, MID)
        # dyadic weights: sums are exact in any order, so the two-phase
        # window cut is the same in Spark and DuckDB
        sp = dict(zip(self.terms(HEAD, MID, MID, MID, RARE), (1.5, 0.5, 1.0, 0.25, 0.75)))
        da, db = self.terms(HEAD, MID), self.terms(MID, MID, RARE)

        def match(ts, **extra):
            return {"match": {"text": {"query": " ".join(ts), **extra}}}

        return [
            (
                {"bool": {"must": [match([h, m])], "must_not": [{"term": {"text": {"value": excl}}}]}},
                {"kind": "bool_must_not", "must": {h: 1.0, m: 1.0}, "must_not": excl},
            ),
            (
                match(msm, minimum_should_match=2),
                {"kind": "match_msm", "tokens": {t: 1.0 for t in msm}, "msm": 2},
            ),
            (
                {"neural_sparse": {"text": {"query_tokens": sp, "two_phase": {}}}},
                {"kind": "two_phase", "tokens": sp},
            ),
            (
                {"dis_max": {"queries": [match(da), match(db)], "tie_breaker": 0.3}},
                {"kind": "dis_max", "queries": [{t: 1.0 for t in da}, {t: 1.0 for t in db}], "tie_breaker": 0.3},
            ),
        ]


# --- one run ---------------------------------------------------------------


class Run:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, turns: int, work: str):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.trace, self.turns, self.work = trace, turns, work
        self.inputs = Inputs(seed)
        self.walls: dict[str, list[float]] = {}
        self.checks: list = []  # (op name, callable returning an error or None)
        self.failed_ops = 0
        self.attempted = 0
        self.values: dict[str, float] = {}  # single-sample measurements
        self.deleted: set[int] = set()
        self.compacted = False

    # -- timing helpers --
    def timed(self, name: str, fn, *args, **kwargs):
        with self.tracer.span(name):
            t0 = time.perf_counter()
            out = fn(*args, **kwargs)
            self.walls.setdefault(name, []).append(time.perf_counter() - t0)
        return out

    def attempt(self, name: str, fn, *args) -> None:
        """Run one op; an exception counts as a failed op."""
        self.attempted += 1
        try:
            fn(*args)
        except Exception:  # noqa: BLE001 - a failed op is reported, not fatal
            self.failed_ops += 1
            log(f"op {name} failed:\n{traceback.format_exc()}")

    def traced(self, i: int) -> bool:
        """In the traced run every other whole cycle of search shapes is
        traced, so tracing's overhead is measured against untraced searches
        of the same run and the same shape mix."""
        return self.trace and (i // SHAPES) % 2 == 1

    def more(self, i: int, spent: float) -> bool:
        """Whether a closed loop at search `i` goes on: for --seconds, in
        whole shape cycles, and for two cycles at least in the traced run."""
        return spent < self.seconds or i % SHAPES != 0 or (self.trace and i < 2 * SHAPES)

    # -- session and input --
    def start(self) -> None:
        from neural_search_spark.session import get_spark

        self.cores = host.spark_cores()
        self.master = f"local[{self.cores}]"
        t0 = time.perf_counter()
        self.spark = get_spark(
            "perfbench", master=self.master,
            extra_conf={"spark.ui.showConsoleProgress": "false"},
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.values["session_start_s"] = time.perf_counter() - t0
        self.tracer = Tracer(self.spark if self.trace else None, self.cores)
        self.host = host.facts(self.spark, self.master)

    def stop(self) -> None:
        from pyspark import SparkContext

        spark = getattr(self, "spark", None)
        if spark is None:
            return
        spark.stop()
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            # the JVM exits when its stdin closes
            proc.stdin.close()
            proc.wait(timeout=60)

    def make_corpus(self) -> None:
        from neural_search_spark.data import synthesize_transcripts

        self.corpus = os.path.join(self.work, "corpus")

        def write():
            synthesize_transcripts(
                self.spark, n_convs=self.turns // 10, turns_per_conv=10, seed=self.seed,
                tokens_per_turn=TOKENS_PER_TURN, min_tokens=MIN_TOKENS,
                burstiness=BURSTINESS, vocab_size=VOCAB, partitions=self.cores,
            ).write.mode("overwrite").parquet(self.corpus)

        self.timed("data.corpus", write)
        self.oracle = Oracle(self.corpus)
        self.text_bytes = self.oracle.con.execute("select sum(strlen(text)) from corpus").fetchone()[0]

    # -- build and serving set-up --
    def build(self) -> None:
        """Build the index from the corpus parquet into a fresh directory."""
        from neural_search_spark.index.store import build_index
        from neural_search_spark.sources.transcripts import read_transcripts

        self.index = os.path.join(self.work, "index")
        self.attempted += 1
        results = self.timed(
            "index.build", build_index, self.spark,
            read_transcripts(self.spark, self.corpus, fmt="parquet"),
            self.index, source_fingerprint=f"perfbench-{self.seed}", resume=False,
        )
        self.build_span = self.tracer.by_name("index.build")[-1]
        self.stage_results = {r.stage: r for r in results}
        self.stage_windows = {}
        for stage in BUILD_STAGES:
            p = os.path.join(self.index, "_manifests", f"{stage}.json")
            with open(p) as f:
                wall = json.load(f)["wall_sec"]
            end = os.stat(p).st_mtime
            self.stage_windows[stage] = (end - wall - 0.002, end + 0.002)

    def setups(self) -> None:
        """Build the index once, then open the store and warm its plan
        cache several times (the serving set-up)."""
        from neural_search_spark.index.store import IndexStore

        self.build()
        walls = []
        for _ in range(SETUP_REPEATS):
            with self.tracer.span("setup"):
                t0 = time.perf_counter()
                store = IndexStore(self.spark, self.index)
                with self.tracer.span("index.plan_cache"):
                    store.plan_cache()
                walls.append(time.perf_counter() - t0)
        self.walls["setup"] = walls
        self.store = store

        self.stats = self.timed("index.stats", store.stats)
        want = self.oracle.index_stats()
        got = {k: self.stats[k] for k in want}
        ok = (
            got["docs"] == want["docs"] and got["vocabulary"] == want["vocabulary"]
            and got["postings"] == want["postings"] and abs(got["avgdl"] - want["avgdl"]) <= 1e-6
        )
        self.checks.append(("index.build", lambda: None if ok else f"index stats {got} vs oracle {want}"))

    # -- ops --
    def search(self, name: str, terms: list[str], traced: bool) -> None:
        """topk (default auto strategy) then fetch, both collected in full."""
        tracer, store, spark = self.tracer, self.store, self.spark
        stats_out = {} if traced else None
        with tracer.span(name, attribute=traced):
            t0 = time.perf_counter()
            with tracer.span("query.topk"):
                with tracer.span("query.topk.call"):
                    df = store.topk(terms, k=K, stats_out=stats_out)
                with tracer.span("query.topk.collect"):
                    rows = df.collect()
            hits = [(int(r["rank"]), int(r["docID"]), float(r["score"])) for r in rows]
            with tracer.span("index.fetch"):
                fetched = store.fetch(spark.createDataFrame(hits, HIT_SCHEMA)).collect()
            wall = time.perf_counter() - t0
        key = f"{name}.traced" if traced else name
        self.walls.setdefault(key, []).append(wall)
        if stats_out is not None:
            self.walls.setdefault(f"{name}.stats_out", []).append(stats_out)
        got = [(d, s) for _, d, s in hits]
        fetched = [(int(r["docID"]), r["conv_id"], int(r["turn_idx"]), r["text"]) for r in fetched]
        state = (frozenset(self.deleted), self.compacted)
        self.checks.append((name, lambda: self.check_search(terms, got, fetched, state)))

    def check_search(self, terms, got, fetched, state) -> str | None:
        tombs, compacted = state
        bad = [d for d, _ in got if d in tombs]
        if bad:
            return f"tombstoned docIDs returned: {bad}"
        self.oracle.use_index_state(tombs, compacted)
        err = compare_hits(got, self.oracle.bm25_topk(terms, K))
        if err:
            return f"topk {terms}: {err}"
        docs = self.oracle.documents([d for d, _ in got])
        if [f[0] for f in fetched] != [d for d, _ in got]:
            return f"fetch order {[f[0] for f in fetched]} vs topk {[d for d, _ in got]}"
        for doc_id, *row in fetched:
            if tuple(row) != docs.get(doc_id):
                return f"fetch docID {doc_id}: {row[:2]} vs oracle {docs.get(doc_id, ())[:2]}"
        return None

    def search_loop(self, name: str, offset: int) -> None:
        """Closed loop of searches."""
        i, spent = 0, 0.0
        while self.more(i, spent):
            t0 = time.perf_counter()
            self.attempt(name, self.search, name, self.inputs.search(offset + i), self.traced(i))
            spent += time.perf_counter() - t0
            i += 1

    # -- batch ops (interactive) --
    def batch_round(self) -> None:
        from neural_search_spark.query.batch import hybrid_topk_batch

        eng = self.store.query_engine()
        t = eng.tables
        lexical = self.inputs.lexical_batch()
        hybrid = self.inputs.hybrid_batch()
        dsl = self.inputs.dsl()

        def msearch_lexical():
            qs = [{"match": {"text": {"query": " ".join(ts)}}} for ts in lexical]
            with self.tracer.span("query.batch.lexical.call"):
                df = eng.msearch(qs, k=K)
            with self.tracer.span("query.batch.lexical.collect"):
                return df.collect()

        def hybrid_batch():
            rows = [(q, i, tok, w) for q, subs in hybrid.items() for i, sub in enumerate(subs) for tok, w in sub.items()]
            qdf = self.spark.createDataFrame(rows, "query_id long, subquery_idx int, term string, weight double")
            with self.tracer.span("query.batch.hybrid.call"):
                df = hybrid_topk_batch(t.postings, t.doclens, t.term_stats, t.meta, qdf, n_subqueries=2, k=K)
            with self.tracer.span("query.batch.hybrid.collect"):
                return df.collect()

        def msearch_dsl():
            with self.tracer.span("query.dsl.compile"):
                df = eng.msearch([q for q, _ in dsl], k=K)
            with self.tracer.span("query.dsl.exec"):
                return df.collect()

        def by_query(rows):
            out: dict[int, list] = {}
            for r in rows:
                out.setdefault(int(r["query_id"]), []).append((int(r["docID"]), float(r["score"])))
            return out

        def check(label, got, want, n):
            for q in range(n):
                err = compare_hits(got.get(q, []), want.get(q, []))
                if err:
                    return f"{label} query {q}: {err}"
            return None

        def run(name, fn, n_queries, oracle_fn):
            rows = self.timed(name, fn)
            self.values[f"{name}.queries"] = n_queries
            got = by_query(rows)
            self.checks.append((name, lambda: check(name, got, oracle_fn(), n_queries)))

        lex_defs = {q: {t: 1.0 for t in ts} for q, ts in enumerate(lexical)}
        self.attempt("query.batch.lexical", run, "query.batch.lexical", msearch_lexical, N_LEXICAL,
                     lambda: self.oracle.bm25_batch(lex_defs, K))
        self.attempt("query.batch.hybrid", run, "query.batch.hybrid", hybrid_batch, N_HYBRID,
                     lambda: self.oracle.hybrid_batch(hybrid, K))
        self.attempt("query.dsl", run, "query.dsl", msearch_dsl, len(dsl),
                     lambda: {q: self.oracle.dsl(spec, K) for q, (_, spec) in enumerate(dsl)})

    # -- writes (update) --
    def delete_round(self) -> None:
        live = self.turns - len(self.deleted)
        ids: set[int] = set()
        while len(ids) < min(DELETES_PER_ROUND, live):
            d = self.inputs.rng.randrange(self.turns)
            if d not in self.deleted:
                ids.add(d)
        n = self.timed("index.delete_docs", self.store.delete_docs, sorted(ids))
        self.deleted |= ids
        self.checks.append(("index.delete_docs", lambda: None if n == len(ids) else f"deleted {n} of {len(ids)}"))

    def compact(self) -> None:
        out = self.timed("index.compact", self.store.compact)
        self.compacted = True
        want_n = self.turns - len(self.deleted)
        self.checks.append((
            "index.compact",
            lambda: None if (out["deleted"], out["N"]) == (len(self.deleted), want_n)
            else f"compact {out} vs {len(self.deleted)} deleted, N={want_n}",
        ))

    # -- workloads --
    def phase(self, name: str) -> None:
        log(f"[{time.perf_counter() - self.t0:7.2f}s] {name}")

    def run(self) -> None:
        self.t0 = time.perf_counter()
        phase = self.phase
        self.start()
        try:
            phase("session started")
            self.make_corpus()
            phase("corpus written")
            self.setups()
            phase("set-ups done")
            if self.workload == "interactive":
                self.interactive()
            elif self.workload == "update":
                self.update()
            else:
                raise ValueError(f"unknown workload {self.workload!r}")
            phase("workload done")
            for name, walls in self.walls.items():
                if walls and isinstance(walls[0], float):
                    log(f"walls {name}: {' '.join(f'{w:.3f}' for w in walls)}")
            self.values["peak_rss_mb"] = host.peak_rss_mb(self.spark)
            self.errors = self.run_checks()
            phase("oracle checks done")
        finally:
            self.stop()
            phase("session stopped")

    def interactive(self) -> None:
        self.batch_round()
        self.phase("batch round done")
        # warm-up, unmeasured: the first search runs the segment decode
        # kernel's first Python worker call
        self.attempt("search", self.search, "warmup", self.inputs.search(0), False)
        self.search_loop("search", 1)
        self.phase("search loop done")

    def update(self) -> None:
        # warm-up, unmeasured: the first delete and tombstoned search
        self.attempt("index.delete_docs", self.delete_round)
        self.walls.pop("index.delete_docs", None)
        self.attempt("search", self.search, "warmup", self.inputs.search(0), False)
        i, spent = 0, 0.0
        while self.more(i, spent):
            t0 = time.perf_counter()
            self.attempt("index.delete_docs", self.delete_round)
            for _ in range(2):
                name = "search.tombstoned"
                self.attempt(name, self.search, name, self.inputs.search(1 + i), self.traced(i))
                i += 1
            spent += time.perf_counter() - t0
        self.phase("delete/search loop done")
        self.attempt("index.compact", self.compact)
        self.phase("compacted")
        # rebuilds the plan cache
        self.attempt("search.compacted", self.search, "search.compacted", self.inputs.search(1 + i), False)

    def run_checks(self) -> list[str]:
        errors = []
        for name, check in self.checks:
            try:
                err = check()
            except Exception:  # noqa: BLE001 - an oracle failure is a mismatch
                err = traceback.format_exc()
            if err:
                errors.append(f"{name}: {err}")
        self.oracle.close()
        return errors

    # -- reporting --
    def measured(self) -> dict:
        """Every end-to-end measurement, with unit and sample count:
        name -> (value, unit, n, tail)."""
        out: dict[str, tuple] = {}

        def timing(metric, key):
            vals = self.walls.get(key, [])
            if vals:
                s = summarize(vals)
                out[metric] = (s["p50"], "s", s["n"], (s.get("tail_p"), s.get("tail")))

        build = self.walls["index.build"][0]
        serving = self.walls["setup"]
        out["setup_s"] = (build + statistics.median(serving), "s", len(serving), None)
        out["build_turns_per_s"] = (self.turns / build, "turns/s", 1, None)
        timing("serving_setup_s", "setup")
        out["index_bytes_per_text_byte"] = (sum(self.stats["bytes"].values()) / self.text_bytes, "ratio", 1, None)
        out["peak_rss_mb"] = (self.values["peak_rss_mb"], "MB", 1, None)
        failed = self.failed_ops + len(self.errors)
        out["error_rate"] = (failed / self.attempted, "ratio", self.attempted, None)
        if self.workload == "interactive":
            timing("search_p50_s", "search")
            for name, metric in (("query.batch.lexical", "batch_lexical_qps"),
                                 ("query.batch.hybrid", "batch_hybrid_qps"),
                                 ("query.dsl", "batch_dsl_qps")):
                if name in self.walls:
                    n = self.values[f"{name}.queries"]
                    out[metric] = (n / self.walls[name][0], "queries/s", n, None)
            bulk = sum(self.walls.get(n, [0])[0] for n in ("query.batch.lexical", "query.batch.hybrid", "query.dsl"))
        else:
            timing("search_p50_s", "search.tombstoned")
            timing("update_search_p50_s", "search.tombstoned")
            timing("delete_p50_s", "index.delete_docs")
            timing("compacted_search_p50_s", "search.compacted")
            bulk = self.walls.get("index.compact", [0.0])[0]
            out["compact_s"] = (bulk, "s", 1, None)
        out["bulk_s"] = (bulk, "s", 1, None)
        return out

    def per_layer(self) -> dict[str, float]:
        """Per-layer metrics of the traced run."""
        tr = self.tracer
        out: dict[str, float] = {}
        med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731

        def span_p50(name):
            return med([s.wall for s in tr.by_name(name)])

        out["session.start_s"] = self.values["session_start_s"]
        out["data.corpus_s"] = span_p50("data.corpus")
        build_span = self.build_span
        for stage in BUILD_STAGES:
            r = self.stage_results[stage]
            out[f"index.build.{stage}_s"] = r.wall_sec
            out[f"index.build.{stage}_rows"] = r.rows
            out[f"index.bytes.{stage}"] = self.stats["bytes"][stage]
        out["index.posting_blocks"] = self.stats["posting_blocks"]
        out["index.postings_per_block"] = self.stats["postings"] / max(1, self.stats["posting_blocks"])
        out["index.plan_cache_s"] = span_p50("index.plan_cache")
        out["index.stats_s"] = span_p50("index.stats")

        # search timings from the untraced searches: a traced span's wall
        # includes the attribution of its children
        by_id = {sp.span_id: sp for sp in tr.spans}

        def op_name(sp) -> str:
            while sp.parent is not None:
                sp = by_id[sp.parent]
            return sp.name

        search_ops = ("search", "search.tombstoned", "search.compacted")

        def search_p50(name, ops=search_ops):
            return med([sp.wall for sp in tr.by_name(name) if not sp.attributed and op_name(sp) in ops])

        out["query.topk_s"] = search_p50("query.topk")
        out["index.fetch_s"] = search_p50("index.fetch")
        out["query.topk.call_s"] = search_p50("query.topk.call")
        out["query.topk.collect_s"] = search_p50("query.topk.collect")
        out["query.tombstone_topk_s"] = search_p50("query.topk", ("search.tombstoned",))

        stats = [so for op in search_ops for so in self.walls.get(f"{op}.stats_out", [])]
        routed = [so["router"] for so in stats if "router" in so]
        out["query.router.segments_share"] = (
            sum(r["strategy"] == "segments" for r in routed) / len(routed) if routed else 0.0
        )
        out["query.router.plan_cache_hit_share"] = (
            sum(bool(r["plan_cache_hit"]) for r in routed) / len(routed) if routed else 0.0
        )
        wand = [so for so in stats if "blocks_total" in so]
        total = sum(so["blocks_total"] for so in wand)
        out["query.wand.blocks_surviving_ratio"] = (
            sum(so["blocks_surviving"] for so in wand) / total if total else 0.0
        )
        for ph in ("plan_agg", "theta_seed", "prune_decode_score", "cand_collect"):
            out[f"query.wand.phase_sec.{ph}"] = med([so["phase_sec"].get(ph, 0.0) for so in wand])

        for kind in ("lexical", "hybrid"):
            out[f"query.batch.{kind}_s"] = sum(span_p50(f"query.batch.{kind}.{part}") for part in ("call", "collect"))
        out["query.dsl.compile_s"] = span_p50("query.dsl.compile")
        out["query.dsl.exec_s"] = span_p50("query.dsl.exec")
        out["index.delete_docs_s"] = span_p50("index.delete_docs")
        out["index.compact_s"] = span_p50("index.compact")

        # Spark work per call of each op type
        ops: dict[str, dict] = {}
        for step, stages in SPARK_BUILD_STEPS.items():
            lo = min(self.stage_windows[s][0] for s in stages)
            hi = max(self.stage_windows[s][1] for s in stages)
            jobs = [j for j in build_span.jobs if j["submitted"] is not None and lo <= j["submitted"] <= hi]
            ops[step] = per_call([sum_jobs(jobs)], hi - lo, 1, self.cores)
        for op, span in (("topk", "query.topk"), ("fetch", "index.fetch"),
                         ("msearch_lexical", "query.batch.lexical"), ("hybrid_batch", "query.batch.hybrid"),
                         ("msearch_dsl", "query.dsl"), ("delete", "index.delete_docs"),
                         ("compact", "index.compact")):
            ops[op] = tr.spark_per_call(span)
        for op, c in ops.items():
            for key in ("jobs", "tasks", "shuffle_write_bytes", "input_bytes", "executor_run_s", "executor_busy_share"):
                out[f"spark.{op}.{key}"] = c[key]
        out["spark.failed_tasks"] = sum(s.spark.get("failed_tasks", 0) for s in tr.spans)

        # tracing overhead: traced minus untraced ops of the same run
        name = "search" if self.workload == "interactive" else "search.tombstoned"
        plain, traced = self.walls.get(name, []), self.walls.get(f"{name}.traced", [])
        out["trace.search_p50_s"] = med(traced)
        out["trace.overhead_search_p50_s"] = med(traced) - med(plain) if plain and traced else 0.0
        out["trace.setup_s"] = med(self.walls.get("setup", []))
        return out

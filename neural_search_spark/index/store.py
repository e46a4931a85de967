"""Persistent sharded index store: staged build with per-stage lineage
manifests and checkpoint-resume.

Layout under `out_dir/`:
    docs/           parquet — transcripts + stable docID (fetch-phase source)
    doclens/        parquet — (docID, dl)
    term_stats/     parquet — (term, df) exact
    segments/       parquet, dir-partitioned by shard — compressed blocks
    meta.json       {N, avgdl, tokenizer_hash, codec_version, source_fingerprint}
    _manifests/{stage}.json

Resume contract (north rule "resumable from checkpoint with per-partition
lineage"): each stage writes its parquet output, then atomically writes a
manifest recording its input fingerprint — a hash chain over
(source_fingerprint, tokenizer_hash, codec_version, upstream manifest
fingerprints) — plus row count, content checksum and wall seconds. A re-run
skips any stage whose manifest fingerprint matches the recomputed
expectation AND whose output exists; a kill between stages therefore resumes
exactly where it stopped, and a changed tokenizer/codec/source invalidates
every downstream stage automatically. The reference has no equivalent
(Lucene ingest is transactional per-shard); this is the Spark-idiomatic
replacement for its ingest durability.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from neural_search_spark.analysis.tokenizer import tokenizer_hash
from neural_search_spark.data.docids import assign_doc_ids
from neural_search_spark.index.build import (
    build_doclens_from_postings,
    build_postings,
    build_term_stats,
)
from neural_search_spark.index.codec import CODEC_VERSION
from neural_search_spark.index.segments import build_segments, shard_col

STAGES = ["docs", "postings", "doclens", "term_stats", "segments"]


def _count_and_checksum(df: DataFrame) -> tuple[int, str]:
    """Order-insensitive content checksum + row count in ONE job: sum of
    per-row xxhash64 over all columns (internal lineage only — not an
    engine-parity surface)."""
    cols = [F.col(c).cast("string") for c in df.columns]
    row = df.agg(
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),  # no long overflow (ANSI)
        F.count("*").alias("n"),
    ).first()
    return int(row["n"]), f"{row['h']}:{row['n']}"


def _write_with_metrics(df: DataFrame, path: str, shard: bool = False) -> tuple[int, str]:
    """Write a stage's parquet and collect its lineage metrics (row count +
    order-insensitive checksum) IN the write job via `observe` — no second
    read-back pass per stage. The per-stage metric job was measured as a
    real serial-latency tax between stages (cores idle while one extra scan
    per stage runs). `shard=True` appends the shard(term) partition column
    after the observation point and dir-partitions the output (the
    write_segments layout)."""
    from pyspark.sql import Observation

    cols = [F.col(c).cast("string") for c in df.columns]
    obs = Observation()
    observed = df.observe(
        obs,
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
        F.count(F.lit(1)).alias("n"),
    )
    if shard:
        (
            observed.withColumn("shard", shard_col(F.col("term")))
            .repartition("shard")
            .sortWithinPartitions("term", "salt", "blockID")
            .write.mode("overwrite")
            .partitionBy("shard")
            .parquet(path)
        )
    else:
        observed.write.mode("overwrite").parquet(path)
    m = obs.get
    return int(m["n"]), f"{m['h']}:{m['n']}"


@dataclass
class StageResult:
    stage: str
    skipped: bool
    rows: int
    wall_sec: float


class IndexStore:
    #: vocabulary bound above which the session plan cache is disabled — a
    #: driver-side dict over 10⁷+ terms is the wrong trade; per-query job A
    #: stays bounded by |query| instead (documented in plan_cache()).
    PLAN_CACHE_MAX_TERMS = 5_000_000

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self._opened_epoch: tuple | None = None
        self._handles: dict[str, DataFrame | None] = {}
        self._plan_cache: dict | None = None
        self._open()

    def _epoch(self) -> tuple:
        """Invalidation key for the table handles and the plan cache:
        (name, mtime_ns, size) of every file under `_manifests/` and
        `tombstones/`, plus meta.json. Every writer of this store touches at
        least one of them: a build stage rewrite writes its manifest and
        meta.json, `delete_docs` appends a tombstone file, `compact()`
        removes the manifests and tombstones and rewrites meta.json.
        `StreamingIndexer`'s `runs/` and `_state.json` are not read by
        IndexStore, so they are not covered."""
        entries = []
        for sub in ("_manifests", "tombstones"):
            d = os.path.join(self.path, sub)
            if os.path.isdir(d):
                for fn in sorted(os.listdir(d)):
                    st = os.stat(os.path.join(d, fn))
                    entries.append((f"{sub}/{fn}", st.st_mtime_ns, st.st_size))
        st = os.stat(os.path.join(self.path, "meta.json"))
        entries.append(("meta.json", st.st_mtime_ns, st.st_size))
        return tuple(entries)

    def _open(self) -> dict[str, DataFrame | None]:
        """The current epoch's table handles — the point-in-time reader of
        the Lucene analog. When _epoch() has changed since the last call,
        meta.json is re-read and every handle and the plan cache are
        dropped; within an epoch each table is read once, so a warm query
        pays no parquet schema-inference job."""
        epoch = self._epoch()
        if epoch != self._opened_epoch:
            with open(os.path.join(self.path, "meta.json")) as f:
                self._meta = json.load(f)
            self._handles = {}
            self._plan_cache = None
            self._opened_epoch = epoch
        return self._handles

    @property
    def meta(self) -> dict:
        """{N, avgdl, tokenizer_hash, codec_version, source_fingerprint} of
        the current epoch."""
        self._open()
        return self._meta

    def _meta_frame(self) -> DataFrame:
        """(N, avgdl) as a one-row VALUES relation: it plans to a local
        relation, so reading it back (`meta.first()`) runs no Spark job.
        repr() round-trips the double exactly."""
        m = self.meta
        return self.spark.sql(
            f"SELECT * FROM VALUES ({int(m['N'])}L, CAST('{float(m['avgdl'])!r}' AS DOUBLE))"
            " AS t(N, avgdl)"
        )

    def _table(self, stage: str) -> DataFrame:
        handles = self._open()
        df = handles.get(stage)
        if df is None:
            df = handles[stage] = self.spark.read.parquet(os.path.join(self.path, stage))
        return df

    def plan_cache(self, zone_width: int = 1024, wide_cap: int = 64) -> dict | None:
        """Session-cached per-term block-metadata aggregate — exactly what
        segment_search.wand_topk's "job A" computes per query, built ONCE
        per index epoch over ALL terms so every warm query skips the
        metadata job. Adds per-term compressed payload bytes, which the
        auto-router's cost model uses as the decode-volume estimate.
        Invalidated whenever _epoch() changes (delete/compact/rebuild).
        topk() builds it for strategy='auto' only. Returns None when the
        vocabulary exceeds PLAN_CACHE_MAX_TERMS: at 10⁸-term scale the
        right cache is the per-query filtered aggregate (bounded by |q|),
        not a driver dict.
        """
        self._open()  # drops a cache of an older epoch
        c = self._plan_cache
        if c is not None and c["zone_width"] == zone_width and c["wide_cap"] == wide_cap:
            return c if c.get("terms") is not None else None
        n_terms = self.term_stats.count()
        if n_terms > self.PLAN_CACHE_MAX_TERMS:
            self._plan_cache = {"zone_width": zone_width, "wide_cap": wide_cap, "terms": None}
            return None
        zlo = (F.col("first_docID") / zone_width).cast("long")
        zhi = (F.col("last_docID") / zone_width).cast("long")
        wide = (zhi - zlo) >= wide_cap
        rows = (
            self.segments.groupBy("term")
            .agg(
                F.sum("n").alias("df"),
                F.count("*").alias("nblocks"),
                F.count(F.when(wide, F.lit(1))).alias("nwide"),
                F.max(F.when(wide, F.col("max_score_component"))).alias("wide_max"),
                F.max("max_score_component").alias("tmax"),
                F.sum(
                    F.octet_length("docids")
                    + F.octet_length("tfs")
                    + F.octet_length("dls")
                ).alias("payload_bytes"),
            )
            .collect()
        )
        self._plan_cache = {
            "zone_width": zone_width,
            "wide_cap": wide_cap,
            "terms": {
                r["term"]: {
                    "df": int(r["df"]),
                    "nblocks": int(r["nblocks"]),
                    "nwide": int(r["nwide"]),
                    "wide_max": r["wide_max"],
                    "tmax": r["tmax"],
                    "payload_bytes": int(r["payload_bytes"]),
                }
                for r in rows
            },
        }
        return self._plan_cache

    # --- table handles (lazy scans, one per epoch; segments prune by shard)
    @property
    def docs(self) -> DataFrame:
        return self._table("docs")

    @property
    def postings(self) -> DataFrame:
        return self._table("postings")

    @property
    def doclens(self) -> DataFrame:
        return self._table("doclens")

    @property
    def term_stats(self) -> DataFrame:
        return self._table("term_stats")

    @property
    def segments(self) -> DataFrame:
        return self._table("segments")

    # --- deletes: Lucene liveDocs semantics -------------------------------
    # deleted docs are tombstoned, excluded from results immediately, but
    # df/avgdl stay computed over the whole index until compact() — exactly
    # Lucene's deleted-but-unmerged behavior (docFreq ignores deletes until
    # segments merge). update = delete + streaming append (streaming/
    # ingest.py adds per-batch segment runs with fresh docIDs).

    @property
    def _tombstone_path(self) -> str:
        return os.path.join(self.path, "tombstones")

    @property
    def tombstones(self) -> DataFrame | None:
        """(docID) frame of deleted docs, or None when nothing is deleted."""
        handles = self._open()
        if "tombstones" not in handles:
            p = self._tombstone_path
            live = os.path.isdir(p) and any(f.endswith(".parquet") for f in os.listdir(p))
            handles["tombstones"] = (
                self.spark.read.parquet(p).select("docID").distinct() if live else None
            )
        return handles["tombstones"]

    def delete_docs(self, doc_ids) -> int:
        """Tombstone docs by id list or (docID) DataFrame; idempotent
        (re-deleting is a no-op at read time — tombstones dedupe on scan).
        Returns the number of live docs actually deleted by this call."""
        if isinstance(doc_ids, DataFrame):
            ids = doc_ids.select(F.col(doc_ids.columns[0]).cast("long").alias("docID"))
        else:
            ids = self.spark.createDataFrame(
                [(int(d),) for d in doc_ids], "docID long"
            )
        # count only genuinely-live deletions (bounded: one aggregate job)
        prev = self.tombstones
        new = ids.distinct()
        if prev is not None:
            new = new.join(prev, "docID", "left_anti")
        n_new = new.count()
        if n_new:
            new.coalesce(1).write.mode("append").parquet(self._tombstone_path)
        return n_new

    def compact(self) -> dict:
        """Physically remove tombstoned docs: rewrite postings/doclens/
        term_stats/segments/docs without them, refresh meta (N, avgdl) —
        the Lucene forceMerge/expungeDeletes analog. Stats change here and
        only here. Clears stage manifests (the store's content no longer
        corresponds to any build-stage fingerprint chain) and tombstones.

        Swap protocol: each stage writes to `<stage>__compact` then renames
        over the old dir — safe on a real cluster too when `path` is a
        filesystem with atomic dir rename (HDFS); on S3-style stores use a
        manifest pointer instead (documented, not needed for this store)."""
        import shutil

        tombs = self.tombstones
        if tombs is None:
            return {"deleted": 0, "N": self.meta["N"], "avgdl": self.meta["avgdl"]}
        tombs = tombs.persist()
        n_del = tombs.count()

        def swap(stage: str, df: DataFrame, shard: bool = False):
            tmp = os.path.join(self.path, f"{stage}__compact")
            if shard:
                (
                    df.repartition("shard")
                    .sortWithinPartitions("term", "salt", "blockID")
                    .write.mode("overwrite")
                    .partitionBy("shard")
                    .parquet(tmp)
                )
            else:
                df.write.mode("overwrite").parquet(tmp)
            old = os.path.join(self.path, stage)
            shutil.rmtree(old, ignore_errors=True)
            os.replace(tmp, old)
            # the epoch only moves when compact() ends: drop the stale
            # handle now so later stages read the rewritten files
            self._handles.pop(stage, None)

        live_postings = self.postings.join(tombs, "docID", "left_anti")
        swap("postings", live_postings)
        postings = self.postings  # re-scan the rewritten parquet
        swap("doclens", self.doclens.join(tombs, "docID", "left_anti"))
        swap("term_stats", build_term_stats(postings))
        swap("docs", self.docs.join(tombs, "docID", "left_anti"))
        doclens = self.doclens
        m = doclens.agg(F.count("*").alias("N"), F.avg("dl").alias("avgdl")).first()
        n_docs, avgdl = int(m["N"]), float(m["avgdl"] or 0.0)
        pdl = postings if "dl" in postings.columns else postings.join(doclens, "docID")
        segs = build_segments(
            pdl, avgdl=avgdl, max_doc_id=max(n_docs - 1, 0), term_stats=self.term_stats
        ).withColumn("shard", shard_col(F.col("term")))
        swap("segments", segs, shard=True)
        _write_json(os.path.join(self.path, "meta.json"), {**self.meta, "N": n_docs, "avgdl": avgdl})
        shutil.rmtree(self._tombstone_path, ignore_errors=True)
        shutil.rmtree(os.path.join(self.path, "_manifests"), ignore_errors=True)
        tombs.unpersist()
        return {"deleted": n_del, "N": n_docs, "avgdl": avgdl}

    # --- auto-router cost model (calibrated against BENCH.md §4/§6) ------
    # Fixed floors are Spark job-scheduling latency at interactive scale;
    # the byte terms are what dominate at 100 TB. Segments decode
    # compressed payload (~4.5 B/posting) through the Arrow kernel;
    # relational scans the postings parquet (~16 B/posting) plus a doclens
    # join (~12 B/doc) JVM-side. Engaging the θ/zone prune machinery costs
    # extra jobs (seed decode + zone agg) — the measured ~3 s penalty that
    # made head-only queries lose on the segment path (§4 head1). Job
    # counts per warm query, measured on the 2,000-turn benchmark corpus
    # at local[2] on a 4-CPU host (AQE runs one job per shuffle stage;
    # planning runs none on the early exit and the relational path):
    # early exit 2, relational 4, prune path 18 + 1. The constants
    # predate these counts and are kept as calibrated.
    ROUTER_SEG_FIXED_S = 0.30        # early-exit floor
    ROUTER_SEG_PRUNE_FIXED_S = 3.50  # prune-path floor (θ seed + zones)
    ROUTER_REL_FIXED_S = 1.00        # scan + shuffle + aggregate floor
    ROUTER_SEG_BPS = 150e6           # Arrow-kernel decode throughput
    ROUTER_REL_BPS = 1.5e9           # JVM codegen scan throughput

    def topk(
        self,
        terms,
        k: int = 10,
        prune: bool = True,
        strategy: str = "auto",
        stats_out: dict | None = None,
    ) -> DataFrame:
        """Top-k BM25 over the store.

        strategy='auto' routes on an estimated-cost model over the session
        plan cache (zero extra Spark jobs when the cache is warm): the
        segment path is costed at its job floor plus the query terms'
        compressed payload bytes through the Arrow decode kernel (all
        blocks — pruning savings are not assumed), the relational path at
        its floor plus postings-parquet plus doclens-join bytes through a
        JVM scan. Small block sets take the segment early-exit outright
        (measured 1.8-4.1× wins, BENCH.md §4); head-heavy queries route
        relational. The decision (strategy, estimated bytes, block count,
        cache hit) is recorded in `stats_out["router"]` when given.
        'segments'/'relational' force a path."""
        from neural_search_spark.index.segments import BLOCK_SIZE
        from neural_search_spark.query.segment_search import wand_topk

        if strategy not in ("auto", "segments", "relational"):
            raise ValueError(f"unknown strategy: {strategy}")
        tombs = self.tombstones
        if tombs is not None:
            # tombstones present: the segment path's θ seed would be
            # computed from decoded candidates that may be deleted, and a
            # θ inflated by a deleted doc can prune blocks holding LIVE
            # top-k docs — route to the relational path with an anti-join
            # on the matched postings (stats stay whole-index, Lucene
            # liveDocs semantics) until compact() clears the tombstones
            from neural_search_spark.query.bm25 import bm25_score_all, topk as _topk

            scored = bm25_score_all(
                self.postings, self.doclens, self.term_stats, self._meta_frame(), terms,
                exclude=tombs,
            )
            return _topk(scored, k)
        plan_cache = None
        if strategy == "auto":
            # the full-vocabulary cache serves the router; a forced
            # 'segments' call runs wand's own job A bounded by |query|
            plan_cache = self.plan_cache()
            q_terms = sorted(set(terms))
            if plan_cache is not None:
                ct = plan_cache["terms"]
                present = [t for t in q_terms if t in ct]
                est_blocks = sum(ct[t]["nblocks"] for t in present)
                decode_bytes = sum(ct[t]["payload_bytes"] for t in present)
                sum_df = sum(ct[t]["df"] for t in present)
            else:
                # vocabulary too large for a driver cache: one bounded
                # lookup job on the query terms only
                dfs = {
                    r["term"]: int(r["df"])
                    for r in self.term_stats.where(F.col("term").isin(q_terms)).collect()
                }
                est_blocks = sum(-(-d // BLOCK_SIZE) for d in dfs.values())
                sum_df = sum(dfs.values())
                decode_bytes = 5 * sum_df  # ~4.5 B/posting compressed
            rel_bytes = 16 * sum_df + 12 * int(self.meta["N"])
            if est_blocks <= 512:
                # early-exit decode: 2 jobs, measured 1.8-4.1× wins
                strategy, seg_cost = "segments", self.ROUTER_SEG_FIXED_S
                rel_cost = self.ROUTER_REL_FIXED_S + rel_bytes / self.ROUTER_REL_BPS
            else:
                seg_cost = (
                    self.ROUTER_SEG_PRUNE_FIXED_S
                    + decode_bytes / self.ROUTER_SEG_BPS
                )
                rel_cost = self.ROUTER_REL_FIXED_S + rel_bytes / self.ROUTER_REL_BPS
                strategy = "segments" if seg_cost < rel_cost else "relational"
            if stats_out is not None:
                stats_out["router"] = {
                    "strategy": strategy,
                    "est_blocks": est_blocks,
                    "decode_bytes": decode_bytes,
                    "rel_bytes": rel_bytes,
                    "seg_cost_s": round(seg_cost, 3),
                    "rel_cost_s": round(rel_cost, 3),
                    "plan_cache_hit": plan_cache is not None,
                }
        if strategy == "relational":
            from neural_search_spark.query.bm25 import bm25_topk

            return bm25_topk(
                self.postings, self.doclens, self.term_stats, self._meta_frame(), terms, k=k
            )
        return wand_topk(
            self.segments,
            self.term_stats,
            n_docs=self.meta["N"],
            avgdl=self.meta["avgdl"],
            terms=terms,
            k=k,
            prune=prune,
            stats_out=stats_out,
            plan_cache=plan_cache,
        )

    def query_engine(self, positional: bool = False, **kwargs):
        """Bridge to the full query DSL: a QueryEngine over the store's
        persisted tables (match/term/bool/hybrid/span_near/synonym/
        more_like_this/aggs/… all work against the on-disk index).
        Tombstoned docs are anti-joined out of postings, doclens and docs,
        while term_stats and meta stay whole-index — the same liveDocs
        semantics as topk(). The engine is a snapshot of the current epoch:
        build a new one after delete_docs/compact/rebuild. `positional=True`
        additionally builds positional postings from the stored docs
        (needed by match_phrase/span_near)."""
        from neural_search_spark.index.build import IndexTables
        from neural_search_spark.query.dsl import QueryEngine

        postings, doclens, docs = self.postings, self.doclens, self.docs
        tombs = self.tombstones
        if tombs is not None:
            postings = postings.join(tombs, "docID", "left_anti")
            doclens = doclens.join(tombs, "docID", "left_anti")
            docs = docs.join(tombs, "docID", "left_anti")
        tables = IndexTables(
            postings=postings, doclens=doclens,
            term_stats=self.term_stats, meta=self._meta_frame(),
        )
        pos = None
        if positional:
            from neural_search_spark.query.phrase import build_positional_postings

            pos = build_positional_postings(docs)
        return QueryEngine(tables=tables, docs=docs, positional=pos, **kwargs)

    def stats(self) -> dict:
        """Index telemetry — the _stats / _segments API analog: doc count,
        deleted-doc count, vocabulary size, posting/block counts, per-stage
        on-disk bytes, shard count. One small Spark job per table aggregate
        plus an os.walk for bytes; nothing doc-sized reaches the driver."""
        tombs = self.tombstones
        seg = self.segments
        seg_row = seg.agg(
            F.count("*").alias("blocks"),
            F.sum("n").alias("postings"),
            F.count_distinct("shard").alias("shards"),
        ).first()
        vocab = self.term_stats.count()

        def dir_bytes(stage: str) -> int:
            total = 0
            for root, _, files in os.walk(os.path.join(self.path, stage)):
                total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
            return total

        return {
            "docs": int(self.meta["N"]),
            "deleted": int(tombs.count()) if tombs is not None else 0,
            "avgdl": float(self.meta["avgdl"]),
            "vocabulary": int(vocab),
            "posting_blocks": int(seg_row["blocks"]),
            "postings": int(seg_row["postings"] or 0),
            "shards": int(seg_row["shards"]),
            "bytes": {s: dir_bytes(s) for s in STAGES},
            "codec_version": self.meta.get("codec_version"),
            "tokenizer_hash": self.meta.get("tokenizer_hash"),
        }

    def fetch(self, topk: DataFrame) -> DataFrame:
        """Join top-k hits back to the source turns (fetch phase — reference
        NormalizationProcessorWorkflow.java:180-229); the k-row side is
        broadcast, never the corpus. The ≤k joined rows are ordered inside
        one partition rather than by a global sort, which would add a
        range-partition sample job and a shuffle of its own; the docs scan
        itself stays parallel."""
        return (
            self.docs.join(F.broadcast(topk), "docID")
            .repartition(1)
            .sortWithinPartitions("rank")
        )

    # --- snapshot / restore (the _snapshot API analog) --------------------

    def snapshot(self, dest_dir: str, name: str = "snap") -> dict:
        """Snapshot the store into ``dest_dir/name/`` — the OpenSearch
        _snapshot API analog, INCREMENTAL the same way: every stage output
        is an immutable parquet file (stages swap whole directories, never
        rewrite in place), so a file already present in the snapshot with
        the same size is skipped, and re-snapshotting an unchanged index
        copies nothing. A ``snapshot.json`` manifest records the file list
        with sizes plus the store meta; restore verifies against it.

        Uses driver-side file copies — correct for this sandbox's local
        FS; on a real deployment the same immutable-file layout maps to
        object-store server-side copy (or hard links), which is what makes
        snapshots O(changed bytes) at 100 TB. Returns the manifest dict.
        """
        import hashlib
        import shutil

        target = os.path.join(dest_dir, name)
        os.makedirs(target, exist_ok=True)
        prior_md5: dict[str, str] = {}
        prior_manifest = os.path.join(target, "snapshot.json")
        if os.path.exists(prior_manifest):
            with open(prior_manifest) as f:
                prior_md5 = {
                    e["path"]: e["md5"]
                    for e in json.load(f).get("files", [])
                    if "md5" in e
                }
        files: list[dict] = []
        copied = skipped = 0
        for root, _, names in os.walk(self.path):
            for fname in sorted(names):
                src = os.path.join(root, fname)
                rel = os.path.relpath(src, self.path)
                st = os.stat(src)
                size = st.st_size
                dst = os.path.join(target, rel)
                # skip only when size AND mtime match (copy2 preserved the
                # mtime on the earlier copy) AND the prior manifest carries
                # the file's hash — a same-size in-place rewrite (e.g. a
                # small JSON manifest) must NOT leave stale snapshot bytes
                if (
                    rel in prior_md5
                    and os.path.exists(dst)
                    and os.path.getsize(dst) == size
                    and os.stat(dst).st_mtime_ns == st.st_mtime_ns
                ):
                    skipped += 1
                    digest = prior_md5[rel]
                else:
                    os.makedirs(os.path.dirname(dst), exist_ok=True)
                    shutil.copy2(src, dst)
                    copied += 1
                    with open(src, "rb") as fh:
                        digest = hashlib.md5(fh.read()).hexdigest()
                files.append({"path": rel, "bytes": size, "md5": digest})
        manifest = {
            "name": name,
            "source_path": self.path,
            "meta": self.meta,
            "files": files,
            "copied": copied,
            "skipped": skipped,
        }
        tmp = os.path.join(target, "snapshot.json.tmp")
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, os.path.join(target, "snapshot.json"))
        return manifest

    @classmethod
    def restore(
        cls, spark: SparkSession, snapshot_path: str, dest_path: str
    ) -> "IndexStore":
        """Restore a snapshot into ``dest_path`` and open it. Every file in
        the snapshot manifest must exist with its recorded size and content
        hash (a torn or tampered snapshot fails loudly BEFORE any file
        lands in ``dest_path``); extra files in the snapshot dir are
        ignored."""
        import hashlib
        import shutil

        with open(os.path.join(snapshot_path, "snapshot.json")) as f:
            manifest = json.load(f)
        for entry in manifest["files"]:
            src = os.path.join(snapshot_path, entry["path"])
            if not os.path.isfile(src) or os.path.getsize(src) != entry["bytes"]:
                raise ValueError(
                    f"snapshot {manifest['name']!r} is incomplete: "
                    f"{entry['path']} missing or size-mismatched"
                )
            if "md5" in entry:
                with open(src, "rb") as fh:
                    if hashlib.md5(fh.read()).hexdigest() != entry["md5"]:
                        raise ValueError(
                            f"snapshot {manifest['name']!r} is corrupt: "
                            f"{entry['path']} content-hash mismatch"
                        )
        for entry in manifest["files"]:
            src = os.path.join(snapshot_path, entry["path"])
            dst = os.path.join(dest_path, entry["path"])
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copy2(src, dst)
        return cls(spark, dest_path)


def _manifest_path(out_dir: str, stage: str) -> str:
    return os.path.join(out_dir, "_manifests", f"{stage}.json")


def _read_manifest(out_dir: str, stage: str) -> dict | None:
    p = _manifest_path(out_dir, stage)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def _write_json(path: str, payload: dict) -> None:
    """Write a temp file, then rename it over `path` (atomic commit): an
    open IndexStore re-reads meta.json when the epoch moves and must never
    see a half-written file."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(payload, f, indent=2, sort_keys=True)
    os.replace(tmp, path)


def _write_manifest(out_dir: str, stage: str, payload: dict) -> None:
    os.makedirs(os.path.join(out_dir, "_manifests"), exist_ok=True)
    _write_json(_manifest_path(out_dir, stage), payload)


def build_index(
    spark: SparkSession,
    transcripts: DataFrame,
    out_dir: str,
    source_fingerprint: str,
    postings_per_salt: int | None = None,
    resume: bool = True,
) -> list[StageResult]:
    """Staged, resumable index build. Returns per-stage results (with
    skipped=True for stages satisfied by a valid manifest)."""
    results: list[StageResult] = []
    base = hashlib.sha256(
        json.dumps(
            {
                "source": source_fingerprint,
                "tokenizer": tokenizer_hash(),
                "codec": CODEC_VERSION,
            },
            sort_keys=True,
        ).encode()
    ).hexdigest()

    def run_stage(stage: str, producer, upstream: list[str]) -> tuple[StageResult, str]:
        # fingerprint covers the full config hash AND every upstream stage's
        # content checksum — a config change invalidates all stages, an
        # upstream content change invalidates everything downstream
        fingerprint = hashlib.sha256(
            f"{base}:{stage}:{':'.join(upstream)}".encode()
        ).hexdigest()
        man = _read_manifest(out_dir, stage) if resume else None
        out_path = os.path.join(out_dir, stage)
        if man and man.get("fingerprint") == fingerprint and os.path.exists(out_path):
            return StageResult(stage, True, man["rows"], 0.0), man["checksum"]
        t0 = time.time()
        rows, checksum = producer(out_path)
        _write_manifest(
            out_dir,
            stage,
            {
                "stage": stage,
                "fingerprint": fingerprint,
                "rows": rows,
                "checksum": checksum,
                "codec_version": CODEC_VERSION,
                "tokenizer_hash": tokenizer_hash(),
                "wall_sec": round(time.time() - t0, 3),
            },
        )
        return StageResult(stage, False, rows, time.time() - t0), checksum

    def produce_docs(out_path: str):
        return _write_with_metrics(assign_doc_ids(transcripts), out_path)

    r, c_docs = run_stage("docs", produce_docs, [])
    results.append(r)
    docs = spark.read.parquet(os.path.join(out_dir, "docs"))

    def produce_postings(out_path: str):
        # one tokenize+explode+groupBy pass, materialized; term_stats and
        # segments read THIS parquet instead of re-deriving from raw text
        return _write_with_metrics(build_postings(docs), out_path)

    r, c_post = run_stage("postings", produce_postings, [c_docs])
    results.append(r)
    postings = spark.read.parquet(os.path.join(out_dir, "postings"))

    def produce_doclens(out_path: str):
        # derive dl = Σ tf from the postings parquet (plus a pruned id scan
        # of docs for empty-doc completion) — the corpus is tokenized only
        # once, in the postings stage
        return _write_with_metrics(build_doclens_from_postings(postings, docs=docs), out_path)

    def produce_term_stats(out_path: str):
        return _write_with_metrics(build_term_stats(postings), out_path)

    # doclens and term_stats both derive from the postings parquet only —
    # submit their Spark jobs from two threads so the scheduler overlaps
    # them (two small stages were pure serial latency back-to-back; the
    # driver-side stage barrier is a constant cost that otherwise caps
    # small-input scaling efficiency)
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(2) as pool:
        f_dl = pool.submit(run_stage, "doclens", produce_doclens, [c_docs, c_post])
        f_ts = pool.submit(run_stage, "term_stats", produce_term_stats, [c_docs, c_post])
        r_dl, c_dl = f_dl.result()
        r_ts, c_ts = f_ts.result()
    results.extend([r_dl, r_ts])
    doclens = spark.read.parquet(os.path.join(out_dir, "doclens"))
    term_stats = spark.read.parquet(os.path.join(out_dir, "term_stats"))

    m = doclens.agg(F.count("*").alias("N"), F.avg("dl").alias("avgdl")).first()
    n_docs, avgdl = int(m["N"]), float(m["avgdl"])

    def produce_segments(out_path: str):
        # postings rows carry dl inline (build_postings) — no doclens join,
        # i.e. no second full shuffle of the posting stream on docID
        pdl = postings if "dl" in postings.columns else postings.join(doclens, "docID")
        kwargs = {}
        if postings_per_salt is not None:
            kwargs["postings_per_salt"] = postings_per_salt
        segs = build_segments(pdl, avgdl=avgdl, max_doc_id=n_docs - 1, term_stats=term_stats, **kwargs)
        return _write_with_metrics(segs, out_path, shard=True)

    r, _ = run_stage("segments", produce_segments, [c_docs, c_post, c_dl, c_ts])
    results.append(r)

    _write_json(
        os.path.join(out_dir, "meta.json"),
        {
            "N": n_docs,
            "avgdl": avgdl,
            "tokenizer_hash": tokenizer_hash(),
            "codec_version": CODEC_VERSION,
            "source_fingerprint": source_fingerprint,
        },
    )
    return results

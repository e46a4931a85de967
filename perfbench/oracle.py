"""DuckDB oracle for the benchmark's outputs.

The corpus parquet is loaded into DuckDB with the engine's docID rule
(0-based, in (conv_id, turn_idx) order) and exposed as the `documents` view
the contract's SQL builders in `__spark_entry__.py` read. Every check runs
outside the timed region.
"""

from __future__ import annotations

import duckdb

import __spark_entry__ as contract
from neural_search_spark.analysis.tokenizer import duckdb_tokenize
from neural_search_spark.query import sparse

#: scores are compared at 6 decimal places, the contract's parity rule;
#: two roundings of sums that differ only in the last binary digits can
#: land one unit of the sixth place apart
SCORE_TOL = 1e-6 + 1e-9


def compare_hits(got: list[tuple[int, float]], want: list[tuple[int, float]]) -> str | None:
    """None when both (docID, score) lists hold the same docIDs with scores
    equal at 6 dp, in (score desc, docID asc) order; else a description of
    the first difference."""

    def ranked(hits):
        return sorted(((round(float(s), 6), int(d)) for d, s in hits), key=lambda x: (-x[0], x[1]))

    g, w = ranked(got), ranked(want)
    if len(g) != len(w):
        return f"{len(g)} hits, oracle has {len(w)}"
    for i, ((gs, gd), (ws, wd)) in enumerate(zip(g, w)):
        if gd != wd or abs(gs - ws) > SCORE_TOL:
            return f"hit {i}: docID {gd} score {gs}, oracle docID {wd} score {ws}"
    return None


class Oracle:
    def __init__(self, corpus_path: str):
        self.con = duckdb.connect()
        self.con.execute(
            "create table corpus as select "
            "(row_number() over (order by conv_id, turn_idx) - 1)::BIGINT as doc_id, "
            "conv_id, turn_idx, text "
            f"from read_parquet('{corpus_path}/*.parquet')"
        )
        self.con.execute("create table tomb (doc_id BIGINT)")
        self._state: tuple = ()
        self.use_index_state(tombstones=(), compacted=False)

    def use_index_state(self, tombstones, compacted: bool) -> None:
        """Point the oracle at an index state. Before compact() the
        collection statistics cover every doc and tombstoned docs are only
        excluded from results (liveDocs semantics); after it the deleted
        docs are gone and the statistics are recomputed."""
        state = (tuple(sorted(tombstones)), compacted)
        if state == self._state:
            return
        self._state = state
        self.con.execute("delete from tomb")
        if tombstones:
            self.con.execute("insert into tomb select unnest(?)", [list(state[0])])
        live = " where doc_id not in (select doc_id from tomb)" if compacted else ""
        self.con.execute(f"create or replace view documents as select doc_id, text from corpus{live}")

    def _rows(self, sql: str) -> list[tuple]:
        return self.con.execute(sql).fetchall()

    def _index(self) -> str:
        """CTE prefix over the contract's index CTEs, materialized once per
        index state: a query with many sub-queries would otherwise
        re-tokenize the corpus at every reference."""
        if getattr(self, "_index_state", None) != self._state:
            for name in ("postings", "doclens", "meta", "stats"):
                self.con.execute(
                    f"create or replace temp table idx_{name} as "
                    f"with {contract.SQL_INDEX_CTES} select * from {name}"
                )
            self._index_state = self._state
        return ", ".join(f"{n} as (select * from idx_{n})" for n in ("postings", "doclens", "meta", "stats"))

    def index_stats(self) -> dict:
        """N, avgdl, vocabulary and posting count of the whole corpus."""
        toks = duckdb_tokenize("text")
        n, avgdl, vocab, postings = self._rows(
            f"""with t as (select doc_id, unnest({toks}) as term from documents)
            select (select count(*) from documents),
                   (select avg(len({toks})) from documents),
                   (select count(distinct term) from t),
                   (select count(*) from (select distinct term, doc_id from t))"""
        )[0]
        return {"docs": n, "avgdl": avgdl, "vocabulary": vocab, "postings": postings}

    def bm25_topk(self, terms: list[str], k: int) -> list[tuple[int, float]]:
        tokens = {t: 1.0 for t in terms}
        if self._state[0] and not self._state[1]:
            sql = f"""with {self._index()}, {contract._sql_bm25_scored(tokens)},
            live as (select * from scored where doc_id not in (select doc_id from tomb))
            {contract._sql_rank("live", "score", "doc_id", k)}"""
        else:
            sql = contract._oracle_bm25(tokens, k)
        return [(d, s) for _, d, s in self._rows(sql)]

    def documents(self, doc_ids: list[int]) -> dict[int, tuple]:
        if not doc_ids:
            return {}
        rows = self._rows(
            "select doc_id, conv_id, turn_idx, text from corpus "
            f"where doc_id in ({', '.join(str(int(d)) for d in doc_ids)})"
        )
        return {r[0]: tuple(r[1:]) for r in rows}

    def bm25_batch(self, qdefs: dict[int, dict[str, float]], k: int) -> dict[int, list]:
        return _by_query(self._rows(contract._oracle_bm25_batch(qdefs, k)))

    def hybrid_batch(self, qdefs: dict[int, list[dict[str, float]]], k: int) -> dict[int, list]:
        """min_max + arithmetic_mean over two sub-queries, each bounded to
        its top k. The shape of the contract's _oracle_hybrid_batch, but on
        unrounded sub-query scores: that oracle mirrors a contract entry
        which rounds them before normalizing, and hybrid_topk_batch does
        not."""
        c = contract
        blocks, finals = [], []
        for qid, (qa, qb) in sorted(qdefs.items()):
            for side, q in (("a", qa), ("b", qb)):
                blocks.append(c._sql_bm25_raw(q, f"s{side}{qid}").strip())
                blocks.append(
                    f"t{side}{qid} as (select doc_id, score from s{side}{qid} "
                    f"order by score desc, doc_id asc limit {k})"
                )
                blocks.append(f"n{side}{qid} as {c._sql_norm(f't{side}{qid}', 'min_max')}")
            finals.append(
                f"select {qid}::BIGINT as query_id, coalesce(na.doc_id, nb.doc_id) as doc_id, "
                "round((coalesce(na.nscore, 0.0) + coalesce(nb.nscore, 0.0)) / 2, 6) as score "
                f"from na{qid} na full outer join nb{qid} nb on na.doc_id = nb.doc_id"
            )
        sql = f"""with {self._index()}, {", ".join(blocks)},
        allq as ({" union all ".join(finals)}),
        ranked as (select query_id, row_number() over (partition by query_id
                          order by score desc, doc_id asc)::BIGINT as rank, doc_id, score
                   from allq)
        select query_id, rank, doc_id, score from ranked where rank <= {k}"""
        return _by_query(self._rows(sql))

    def dsl(self, spec: dict, k: int) -> list[tuple[int, float]]:
        """Oracle for one of the DSL query shapes built by
        workloads.dsl_queries (its `oracle` spec)."""
        c = contract
        kind = spec["kind"]
        if kind == "bool_must_not":
            sql = f"""with {self._index()}, {c._sql_bm25_scored(spec["must"], "s_all")},
            scored as (select doc_id, score from s_all where doc_id not in
                       (select doc_id from postings where term = '{spec["must_not"]}'))
            {c._sql_rank("scored", "score", "doc_id", k)}"""
        elif kind == "match_msm":
            sql = f"""with {self._index()}, {c._sql_bm25_raw(spec["tokens"], "s_all")},
            matched as (select p.doc_id from postings p
                        where p.term in ({", ".join(f"'{t}'" for t in spec["tokens"])})
                        group by 1 having count(*) >= {spec["msm"]}),
            scored as (select doc_id, round(score, 6) as score from s_all
                       where doc_id in (select doc_id from matched))
            {c._sql_rank("scored", "score", "doc_id", k)}"""
        elif kind == "two_phase":
            high, low = sparse.split_query_tokens(spec["tokens"])
            window = min(int(k * sparse.EXPANSION_RATE), sparse.MAX_WINDOW_SIZE)
            low_rows = c._sql_values(low) if low else "(select ''::VARCHAR as term, 0.0::DOUBLE as w where false)"
            sql = f"""with {self._index()},
            q_high as {c._sql_values(high)},
            q_low as {low_rows},
            p1 as (select p.doc_id, sum(q.w * p.tf) as score
                   from postings p join q_high q on p.term = q.term group by 1),
            win as (select doc_id, score from p1 order by score desc, doc_id asc limit {window}),
            p2 as (select p.doc_id, sum(q.w * p.tf) as score
                   from postings p join q_low q on p.term = q.term
                   where p.doc_id in (select doc_id from win) group by 1),
            rescored as (select w.doc_id, round(w.score + coalesce(p2.score, 0.0), 6) as score
                         from win w left join p2 on w.doc_id = p2.doc_id)
            {c._sql_rank("rescored", "score", "doc_id", k)}"""
        elif kind == "dis_max":
            a, b = spec["queries"]
            sql = f"""with {self._index()},
            {c._sql_bm25_raw(a, "dm_a")}, {c._sql_bm25_raw(b, "dm_b")},
            u as (select * from dm_a union all select * from dm_b),
            agg as (select doc_id, max(score) as mx, sum(score) as sm from u group by 1),
            scored as (select doc_id, round(mx + {spec["tie_breaker"]} * (sm - mx), 6) as score from agg)
            {c._sql_rank("scored", "score", "doc_id", k)}"""
        else:
            raise ValueError(f"no oracle for DSL shape {kind!r}")
        return [(d, s) for _, d, s in self._rows(sql)]

    def close(self) -> None:
        self.con.close()


def _by_query(rows: list[tuple]) -> dict[int, list[tuple[int, float]]]:
    out: dict[int, list[tuple[int, float]]] = {}
    for qid, _rank, doc_id, score in rows:
        out.setdefault(int(qid), []).append((doc_id, score))
    return out

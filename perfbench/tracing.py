"""Spans around calls into the engine's layers, with the Spark work each
call ran attributed to it from outside the package.

A span records name, start, end, parent and op id and is kept in memory
until the run ends. With Spark attribution on, every span runs its calls
under a job group of its own; right after the span ends the harness waits
for the listener bus to drain and reads the jobs of that group, and of no
group but submitted inside the span's window, from the driver's status
store. The window rule covers jobs that the engine submits from its own
worker threads (build_index runs doclens and term_stats from a thread
pool), which do not inherit the caller's job group; it is sound because the
benchmark has a single client thread.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from py4j.protocol import Py4JError

SPARK_COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "failed_tasks",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "input_bytes",
    "executor_run_s",
)


@dataclass
class Span:
    name: str
    op_id: int
    span_id: int
    parent: int | None
    start: float
    end: float = 0.0
    attributed: bool = False
    spark: dict = field(default_factory=dict)
    jobs: list[dict] = field(default_factory=list)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans. `spark=None` records wall-clock spans only."""

    def __init__(self, spark=None, cores: int = 1):
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._ops = itertools.count(1)
        self._sc = spark.sparkContext if spark is not None else None
        self.cores = cores
        self._seen_jobs: set[int] = set()
        self._submitted: dict[int, int] = {}

    @contextmanager
    def span(self, name: str, attribute: bool | None = None):
        """A span around one call; a top-level span starts a new op and
        nested spans share their op's id. `attribute=False` records the
        span without Spark attribution; nested spans inherit the setting."""
        parent = self._stack[-1] if self._stack else None
        if attribute is None:
            attribute = parent.attributed if parent else True
        sp = Span(
            name=name,
            op_id=parent.op_id if parent else next(self._ops),
            span_id=next(self._ids),
            parent=parent.span_id if parent else None,
            start=time.time(),
            attributed=attribute and self._sc is not None,
        )
        self._stack.append(sp)
        group = f"perfbench-{sp.span_id}"
        if sp.attributed:
            self._sc.setJobGroup(group, name)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if sp.attributed:
                if parent is not None and parent.attributed:
                    self._sc.setJobGroup(f"perfbench-{parent.span_id}", parent.name)
                else:
                    self._sc.setLocalProperty("spark.jobGroup.id", None)
                    self._sc.setLocalProperty("spark.job.description", None)
                sp.jobs = self._spark_jobs(group, sp)
                sp.spark = sum_jobs(sp.jobs)
            self.spans.append(sp)

    def _spark_jobs(self, group: str, sp: Span) -> list[dict]:
        """Stages, tasks, bytes and executor time of each job run in the
        span's group, and of each ungrouped job submitted inside its
        window."""
        jsc = self._sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(60_000)
        store = jsc.statusStore()
        tracker = self._sc.statusTracker()
        job_ids = set(tracker.getJobIdsForGroup(group))
        lo, hi = int(sp.start * 1000), int(sp.end * 1000) + 1
        for jid in tracker.getJobIdsForGroup(None):
            if jid in self._seen_jobs:
                continue
            if jid not in self._submitted:
                sub = store.job(jid).submissionTime()
                self._submitted[jid] = sub.get().getTime() if sub.isDefined() else -1
            if lo <= self._submitted[jid] <= hi:
                job_ids.add(jid)
        job_ids -= self._seen_jobs
        self._seen_jobs |= job_ids
        jobs = []
        for jid in sorted(job_ids):
            job = store.job(jid)
            sub = job.submissionTime()
            out = dict.fromkeys(SPARK_COUNTERS, 0)
            out.update(job_id=jid, jobs=1, executor_run_s=0.0,
                       submitted=sub.get().getTime() / 1000.0 if sub.isDefined() else None)
            stage_ids = job.stageIds()
            for i in range(stage_ids.size()):
                try:
                    st = store.lastStageAttempt(stage_ids.apply(i))
                except Py4JError:
                    continue  # never ran: skipped because its shuffle output was reused
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numTasks()
                out["failed_tasks"] += st.numFailedTasks()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["shuffle_read_bytes"] += st.shuffleReadBytes()
                out["input_bytes"] += st.inputBytes()
                out["executor_run_s"] += st.executorRunTime() / 1000.0
            jobs.append(out)
        return jobs

    def self_time(self, sp: Span) -> float:
        """The span's duration minus the part of it its child spans cover."""
        kids = sorted((c.start, c.end) for c in self.spans if c.parent == sp.span_id)
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return sp.wall - covered

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def subtree_jobs(self, sp: Span) -> list[dict]:
        """Jobs attributed to `sp` or to any span below it."""
        jobs, todo = [], [sp]
        while todo:
            cur = todo.pop()
            jobs.extend(cur.jobs)
            todo.extend(c for c in self.spans if c.parent == cur.span_id)
        return jobs

    def spark_per_call(self, name: str) -> dict:
        """Spark counters per call of the spans named `name`, their child
        spans included (all zero when no call was attributed), plus executor
        busy share: executor run time / (wall x cores)."""
        spans = [s for s in self.by_name(name) if s.attributed]
        totals = [sum_jobs(self.subtree_jobs(s)) for s in spans]
        return per_call(totals, sum(s.wall for s in spans), len(spans), self.cores)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                rec = asdict(s)
                rec["self_s"] = self.self_time(s)
                f.write(json.dumps(rec) + "\n")


def sum_jobs(jobs: list[dict]) -> dict:
    return {c: sum(j[c] for j in jobs) for c in SPARK_COUNTERS}


def per_call(counters: list[dict], wall: float, calls: int, cores: int) -> dict:
    """Counters summed over `counters`, divided by `calls`, with the
    executor busy share of the summed wall."""
    total = sum_jobs(counters)
    out = {c: (v / calls if calls else 0) for c, v in total.items()}
    out["executor_busy_share"] = total["executor_run_s"] / (wall * cores) if wall else 0.0
    return out

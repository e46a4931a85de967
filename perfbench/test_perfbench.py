"""Tests of the benchmark itself: the percentile helper, the oracle check,
and a tiny-corpus smoke run of each workload.

    python -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench.stats import percentile, quartile_spread, summarize, tail_percentile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_tail_percentile_needs_ten_samples_beyond():
    assert tail_percentile([1.0] * 10) is None
    # 20 samples: the median's nearest rank is 10, leaving 10 beyond it
    assert tail_percentile([float(i) for i in range(1, 21)]) == (50.0, 10.0)
    # 110 samples: p90 is rank 99 with 11 beyond; p95 would leave 5
    assert tail_percentile([float(i) for i in range(1, 111)]) == (90.0, 99.0)
    # 1000 samples: p99 is rank 990 with exactly 10 beyond
    assert tail_percentile([float(i) for i in range(1, 1001)]) == (99.0, 990.0)


def test_percentile_nearest_rank_and_summary():
    vals = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert percentile(vals, 50) == 3.0
    assert percentile(vals, 100) == 5.0
    assert percentile(vals, 1) == 1.0
    s = summarize(vals)
    assert (s["n"], s["p50"]) == (5, 3.0) and "tail" not in s
    assert quartile_spread([10.0, 10.0, 10.0, 10.0]) == 0.0


@pytest.fixture(scope="module")
def oracle(tmp_path_factory):
    from perfbench.oracle import Oracle

    d = tmp_path_factory.mktemp("corpus")
    texts = ["w1 w2 w2 w3", "w2 w4", "w1 w1 w5 w6 w7", "w3 w4 w5", "w1 w8"]
    table = pa.table({
        "conv_id": ["c0"] * len(texts),
        "turn_idx": pa.array(range(len(texts)), pa.int32()),
        "text": texts,
    })
    pq.write_table(table, d / "part-0.parquet")
    o = Oracle(str(d))
    yield o
    o.close()


def test_oracle_check_rejects_perturbed_results(oracle):
    from perfbench.oracle import compare_hits

    want = oracle.bm25_topk(["w1", "w2"], 10)
    assert {d for d, _ in want} == {0, 1, 2, 4}
    assert compare_hits(list(want), want) is None
    # engine scores are unrounded; a sub-6dp difference is not a mismatch
    assert compare_hits([(d, s + 4e-7) for d, s in want], want) is None
    perturbed = [(d, s + 1e-5) if i == 0 else (d, s) for i, (d, s) in enumerate(want)]
    assert compare_hits(perturbed, want) is not None
    swapped = [(want[1][0], want[0][1]), (want[0][0], want[1][1])] + list(want[2:])
    assert compare_hits(swapped, want) is not None
    assert compare_hits(list(want[:-1]), want) is not None


def test_oracle_tombstones_and_compaction(oracle):
    oracle.use_index_state({0}, compacted=False)
    live = oracle.bm25_topk(["w1", "w2"], 10)
    oracle.use_index_state((), compacted=False)
    whole = dict(oracle.bm25_topk(["w1", "w2"], 10))
    # before compact: doc 0 is excluded, the others keep whole-index scores
    assert {d for d, _ in live} == {1, 2, 4}
    assert all(abs(s - whole[d]) < 1e-9 for d, s in live)
    oracle.use_index_state({0}, compacted=True)
    compacted = dict(oracle.bm25_topk(["w1", "w2"], 10))
    oracle.use_index_state((), compacted=False)
    assert set(compacted) == {1, 2, 4}
    assert any(abs(compacted[d] - whole[d]) > 1e-6 for d in compacted)


def _run(workload: str, trace: int) -> list[str]:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--turns", "400"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    return out.stdout.strip().splitlines()


def _declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.parametrize("workload", ["interactive", "update"])
def test_smoke_run_prints_every_metric(workload):
    lines = _run(workload, 0)
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    declared = {m["name"]: m["unit"] for m in _declared()["end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == declared
    assert all(v["value"] > 0 for v in result["metrics"].values())
    named = {
        "setup_s", "peak_rss_mb", "error_rate", "build_turns_per_s", "index_bytes_per_text_byte",
        "search_p50_s", "bulk_s",
    } | ({"batch_lexical_qps", "batch_hybrid_qps", "batch_dsl_qps"} if workload == "interactive"
         else {"update_search_p50_s", "delete_p50_s", "compact_s"})
    printed = {ln.split()[1] for ln in lines if ln.startswith("metric ")}
    assert named <= printed
    assert all("(n=" in ln for ln in lines if ln.startswith("metric "))
    assert any(ln.startswith("host ") and '"cpus"' in ln for ln in lines)


def test_traced_run_prints_declared_per_layer_metrics():
    result = json.loads(_run("update", 1)[-1])
    declared = {m["name"]: m["unit"] for m in _declared()["per_layer"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == declared
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["spark.delete.jobs"] >= 1 and m["spark.compact.jobs"] >= 1
    assert m["spark.build_postings.tasks"] >= 1
    assert m["index.build.docs_rows"] == 400
    assert os.path.exists(os.path.join(ROOT, ".bench_traces", "update-7.spans.jsonl"))

"""The session layer: the Python worker daemon's import cache, the Unix
socket guard, and local relations for query-time constants. Structural
checks, not timings; they run in the shared test session."""

from __future__ import annotations

import os
import tempfile
import uuid
import zipfile

import pytest

from neural_search_spark.data import synthesize_transcripts
from neural_search_spark.index.store import IndexStore, build_index
from neural_search_spark.session import (
    UDS_DIR_CONF,
    UDS_DIR_MAX_BYTES,
    local_frame,
    unix_socket_dir_fits,
)
from tests.test_segments import _jobs_run_by


def _in_one_task(spark, fn):
    return spark.sparkContext.parallelize([0], 1).mapPartitions(fn).collect()


def test_session_names_the_daemon_and_unix_sockets(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == "neural_search_spark._pydaemon"
    # importable by `python -m` whatever the JVM's working directory
    worker_path = conf.get("spark.executorEnv.PYTHONPATH")
    assert os.path.isfile(os.path.join(worker_path, "neural_search_spark", "_pydaemon.py"))
    if unix_socket_dir_fits(tempfile.gettempdir()):
        assert conf.get("spark.python.unix.domain.socket.enabled") == "true"
        assert conf.get(UDS_DIR_CONF) == tempfile.gettempdir()


def test_spark_archives_are_not_reread_per_task(spark):
    """The per-task importlib.invalidate_caches() re-reads no archive under
    $SPARK_HOME (pyspark.zip, the py4j zip, the spark-core jar)."""

    def probe(_):
        import importlib
        import os
        import sys
        import zipimport

        home = os.path.join(os.path.realpath(os.environ["SPARK_HOME"]), "")
        archives = {
            f.archive for f in sys.path_importer_cache.values() if isinstance(f, zipimport.zipimporter)
        }
        reads = []
        read_directory = zipimport._read_directory
        zipimport._read_directory = lambda archive: reads.append(archive) or read_directory(archive)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        under_home = sorted(a for a in archives if os.path.realpath(a).startswith(home))
        yield under_home, [a for a in reads if a in under_home]

    for _ in range(2):  # the second task runs in a worker that already ran one
        (under_home, rereads), = _in_one_task(spark, probe)
        assert any(a.endswith("pyspark.zip") for a in under_home), under_home
        assert rereads == [], rereads


def test_add_py_file_mid_session_imports_in_a_later_task(spark, tmp_path):
    """A zip shipped with addPyFile after the workers started imports in the
    next task, and keeps the stock per-task re-read."""
    name = f"nss_shipped_{uuid.uuid4().hex[:12]}"
    path = tmp_path / f"{name}.zip"
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{name}.py", "VALUE = 'shipped'\n")
    _in_one_task(spark, lambda it: it)  # workers exist before the zip
    spark.sparkContext.addPyFile(str(path))

    def probe(_):
        import importlib
        import os
        import zipimport

        value = importlib.import_module(name).VALUE
        reads = []
        read_directory = zipimport._read_directory
        zipimport._read_directory = lambda archive: reads.append(archive) or read_directory(archive)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        yield value, any(os.path.basename(a) == f"{name}.zip" for a in reads)

    assert _in_one_task(spark, probe) == [("shipped", True)]


@pytest.mark.parametrize(
    "sock_dir, fits",
    [
        ("/" + "d" * (UDS_DIR_MAX_BYTES - 1), True),
        ("/" + "d" * UDS_DIR_MAX_BYTES, False),
        ("/" + "d" * 64, False),  # 65 bytes
        ("/" + "d" * 65, False),  # 66 bytes
        ("/" + "é" * 30, True),  # 61 bytes, 31 characters
        ("/" + "é" * 31, False),  # 63 bytes: the bound is on bytes
        ("/tmp", True),
    ],
)
def test_unix_socket_dir_guard(sock_dir, fits):
    assert unix_socket_dir_fits(sock_dir) is fits


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_local_frame_round_trips_with_no_job(spark):
    rows = [
        ("it's", 1.5, 2),
        ('back\\slash "q" \\\' \\n', -2.25, None),
        ("naïve 東京 🚀\n", 1e-300, 7),
    ]
    df = local_frame(spark, rows, "term string, weight double, n int")
    assert "LocalRelation" in _optimized(df) and "LogicalRDD" not in _optimized(df)
    got, jobs = _jobs_run_by(spark, df.collect)
    assert [tuple(r) for r in got] == rows and jobs == 0
    empty = local_frame(spark, [], "rank int, docID long, score double")
    assert empty.schema.simpleString() == "struct<rank:int,docID:bigint,score:double>"
    assert _jobs_run_by(spark, empty.collect) == ([], 0)


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("session_store") / "idx")
    tr = synthesize_transcripts(spark, n_convs=12, turns_per_conv=6, seed=5)
    build_index(spark, tr, path, source_fingerprint="synth:12x6:5", postings_per_salt=50)
    return IndexStore(spark, path)


def test_query_constants_plan_no_python_rdd(store):
    """Query terms, DSL match terms and an msearch batch are local
    relations: no LogicalRDD (a Python-worker job on every read)."""
    eng = store.query_engine()
    frames = {
        "relational_topk": store.topk(["the", "data", "spark"], k=5, strategy="relational"),
        "dsl_match": eng.search({"match": {"text": "the data spark"}}, k=5),
        "msearch": eng.msearch(
            [{"match": {"text": "the data"}}, {"term": {"text": {"value": "spark"}}}], k=5
        ),
    }
    for name, df in frames.items():
        plan = _optimized(df)
        assert "LogicalRDD" not in plan, (name, plan)
        assert df.count() > 0, name


def test_store_topk_has_one_schema(store):
    """A hit and a no-match on the segment path, and the relational path,
    all return (rank int, docID long, score double)."""
    shapes = {
        "segments_hit": store.topk(["the"], k=3, strategy="segments"),
        "segments_no_match": store.topk(["zzzunseenzzz"], k=3, strategy="segments"),
        "relational": store.topk(["the"], k=3, strategy="relational"),
        "relational_no_match": store.topk(["zzzunseenzzz"], k=3, strategy="relational"),
    }
    want = "struct<rank:int,docID:bigint,score:double>"
    assert {n: df.schema.simpleString() for n, df in shapes.items()} == dict.fromkeys(shapes, want)
    assert shapes["segments_no_match"].collect() == []
    assert len(shapes["segments_hit"].collect()) == 3

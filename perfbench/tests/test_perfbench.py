"""Tests of the benchmark's own code.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import subprocess
import sys

import numpy as np
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402
import serve_mixed  # noqa: E402
from tracing import Tracer, percentile, tail_percentile, union_ms  # noqa: E402


@pytest.mark.parametrize(
    "n, want",
    [(19, None), (20, 50.0), (99, 50.0), (100, 90.0), (199, 90.0), (200, 95.0),
     (1000, 99.0), (9999, 99.0), (10000, 99.9)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, want):
    assert tail_percentile(n) == want


def test_percentile_is_nearest_rank():
    xs = list(range(1, 101))
    assert percentile(xs, 50) == 50
    assert percentile(xs, 90) == 90
    assert percentile(reversed(xs), 99.9) == 100


def test_union_ms_merges_overlaps_and_clips():
    assert union_ms([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert union_ms([(-5, 1), (9, 20)], 0, 10) == 2
    assert union_ms([], 0, 10) == 0


def test_generator_is_deterministic_by_seed(tmp_path):
    a, b, c = gen.records(3, 200), gen.records(3, 200), gen.records(4, 200)
    for key in ("id", "embedding", "document", "m_cat", "m_int"):
        assert np.array_equal(np.asarray(a[key]), np.asarray(b[key]))
    assert not np.array_equal(a["embedding"], c["embedding"])
    assert np.allclose(np.linalg.norm(a["embedding"], axis=1), 1.0, atol=1e-5)
    lens = [len(d.split()) for d in a["document"]]
    assert min(lens) >= gen.DOC_TOKENS[0] and max(lens) <= gen.DOC_TOKENS[1]

    p1 = gen.cached_parquet(str(tmp_path / "x"), a, 3, 200, 1)
    p2 = gen.cached_parquet(str(tmp_path / "y"), b, 3, 200, 1)
    assert pq.read_table(p1).equals(pq.read_table(p2))
    mtime = os.path.getmtime(p1)
    assert gen.cached_parquet(str(tmp_path / "x"), c, 3, 200, 1) == p1  # reused, not rewritten
    assert os.path.getmtime(p1) == mtime


def test_negated_inserts_never_reach_an_unfiltered_top10():
    base = gen.records(5, serve_mixed.N)
    ins = gen.records(5, 640, stream=2, prefix="n", negate=True)
    q = gen.queries(5, 20)
    for v in q["embedding"]:
        kth = np.sort(1.0 - base["embedding"] @ v)[serve_mixed.K - 1]
        assert (1.0 - ins["embedding"] @ v).min() > kth


def _outcome(checks, failed=0):
    calls = [
        {"op": "query", "cls": "read", "ms": 10.0},
        {"op": "insert32", "cls": "write", "ms": 5.0},
        {"op": "serve_compact", "cls": "maint", "ms": 50.0},
    ]
    return {"setup_s": 1.5, "work_s": 2.5, "calls": calls, "attempted": 3,
            "failed": failed, "checks": checks}


def test_forced_correctness_failure_is_counted():
    ok = run.result(_outcome([True, True]), trace=False)
    assert ok["correct"] and ok["failed"] == 0
    assert set(ok["metrics"]) == {m["name"] for m in run.spec()["end_to_end"]}

    bad = run.result(_outcome([True, False, False]), trace=False)
    assert not bad["correct"]
    assert bad["failed"] == 2 and bad["attempted"] == 3


def test_query_check_rejects_a_wrong_top10():
    base = gen.records(6, 500)
    v = gen.queries(6, 1)["embedding"][0]
    want = serve_mixed.exact_top(base, v, None)
    index = {rid: i for i, rid in enumerate(base["id"].tolist())}
    got = sorted(want[0])
    assert serve_mixed.same_top(got, want, index)
    far = base["id"][np.argmax(want[1])]
    assert not serve_mixed.same_top(got[:-1] + [far], want, index)


def test_supervised_run_stops_what_the_child_left(tmp_path):
    """A grandchild that outlives its parent is stopped and reaped before
    ``run_supervised`` returns. Runs in its own interpreter, because the
    supervisor makes itself the subreaper of its process."""
    pid_file = tmp_path / "pid"
    probe = (
        "import os, sys, time; sys.path.insert(0, sys.argv[1]); import run; "
        "t0 = time.time(); "
        "rc = run.run_supervised(['sh', '-c', 'sleep 300 & echo $! > ' + sys.argv[2]], None, 60); "
        "pid = int(open(sys.argv[2]).read()); "
        "alive = os.path.exists(f'/proc/{pid}'); "
        "print(rc, alive, round(time.time() - t0))"
    )
    out = subprocess.run([sys.executable, "-c", probe, HERE, str(pid_file)],
                         capture_output=True, text=True, timeout=120, check=True)
    rc, alive, seconds = out.stdout.split()
    assert (rc, alive) == ("0", "False")
    assert int(seconds) < 60


def test_traced_result_has_every_per_layer_metric():
    out = _outcome([True])
    names = set(run.result(out, trace=True)["metrics"])
    assert names == {m["name"] for m in run.spec()["per_layer"]}


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "1g")
    from chroma_spark.session import get_spark

    s = get_spark("perfbench-test", cpus=2)
    yield s
    s.stop()


def test_span_collector_counts_jobs_exactly(spark):
    tracer = Tracer(spark, enabled=True)
    rdd = spark.sparkContext.parallelize(range(100), 3)
    with tracer.span("two_counts") as sp:
        assert rdd.count() == 100
        assert rdd.map(lambda x: x + 1).count() == 100
    assert (sp["jobs"], sp["stages"], sp["tasks"]) == (2, 2, 6)
    assert 0.0 <= sp["driver_ms"] <= (sp["end"] - sp["start"]) * 1e3 + 1e-6
    with tracer.span("untagged_after") as other:
        pass
    assert other["jobs"] == 0  # the group of the first span does not leak
    assert [s["name"] for s in tracer.spans] == ["two_counts", "untagged_after"]


def test_untraced_span_records_wall_time_only(spark):
    tracer = Tracer(spark, enabled=False)
    with tracer.span("plain"):
        spark.sparkContext.parallelize(range(10), 2).count()
    (sp,) = tracer.spans
    assert "jobs" not in sp and sp["end"] >= sp["start"]

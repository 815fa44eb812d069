"""The benchmark harness's own arithmetic and checkers.

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import sys
import time
import types

import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import checks, harness  # noqa: E402
from perfbench.trace import JobCounter, Span, Tracer, self_time, tail_percentile  # noqa: E402
from perfbench.workloads import OpResult  # noqa: E402


def test_self_time_subtracts_union_of_children():
    parent = Span(0, "commit", 0.0, 10.0)
    spans = [
        parent,
        Span(1, "a", 1.0, 4.0, parent=0),
        Span(2, "b", 3.0, 5.0, parent=0),  # overlaps a: union 1..5
        Span(3, "c", 8.0, 12.0, parent=0),  # clipped to the parent: 8..10
        Span(4, "grandchild", 1.5, 2.0, parent=1),  # not a direct child
        Span(5, "other", 0.0, 10.0),
    ]
    assert self_time(parent, spans) == pytest.approx(10.0 - 4.0 - 2.0)
    assert self_time(spans[1], spans) == pytest.approx(3.0 - 0.5)
    assert self_time(spans[5], spans) == pytest.approx(10.0)


@pytest.mark.parametrize("n, expect", [
    (9, None), (39, None), (40, 75.0), (99, 75.0), (100, 90.0), (199, 90.0),
    (200, 95.0), (1000, 99.0), (10_000, 99.9),
])
def test_tail_percentile_keeps_ten_samples_beyond(n, expect):
    xs = [float(i) for i in range(1, n + 1)]
    got = tail_percentile(xs)
    if expect is None:
        assert got is None
        return
    p, v = got
    assert p == expect
    assert sum(1 for x in xs if x > v) >= 10
    assert sum(1 for x in xs if x <= v) >= round(p * n / 100, 6)


def test_job_counter_diff_is_change_of_highest_ids():
    assert JobCounter.diff((10, 20, 100), (13, 26, 140)) == {"jobs": 3, "stages": 6, "tasks": 40}


class _FakeJobs:
    """Scheduler counters that each read advances by one job."""

    def __init__(self):
        self.n = 0

    def read(self):
        self.n += 1
        return (self.n, 2 * self.n, 5 * self.n)


def test_tracer_wraps_nests_and_restores():
    mod = types.SimpleNamespace(outer=None, inner=lambda x: x + 1)
    mod.outer = lambda x: mod.inner(x) * 2
    orig_inner = mod.inner
    seen = []
    tr = Tracer(_FakeJobs())
    tr.install(mod, "inner", "m.inner", post=lambda sp, a, k, out: seen.append(out))
    tr.install(mod, "outer", "m.outer")
    assert mod.outer(3) == 8
    tr.uninstall()
    assert mod.inner is orig_inner
    outer, = tr.named("m.outer")
    inner, = tr.named("m.inner")
    assert inner.parent == outer.sid and outer.parent is None
    assert seen == [4]
    assert tr.inside("m.inner", "m.outer") == [inner]
    # the inner span opened and closed between the outer span's two reads
    assert outer.attrs["jobs"] == 3 and inner.attrs["jobs"] == 1
    assert outer.start <= inner.start <= inner.end <= outer.end


def test_tracer_own_time_excludes_the_wrapped_call():
    class SlowJobs(_FakeJobs):
        def read(self):
            time.sleep(0.01)
            return super().read()

    mod = types.SimpleNamespace(work=lambda: time.sleep(0.05))
    tr = Tracer(SlowJobs())
    tr.install(mod, "work", "m.work")
    mod.work()
    tr.uninstall()
    sp, = tr.named("m.work")
    assert sp.dur >= 0.05
    # two counter reads of 10 ms each, none of the 50 ms call
    assert 0.02 <= tr.own_s < 0.05


def test_overhead_share_is_traced_time_over_untraced_time():
    done = [(10.5, None), (6.0, None)]
    ops = [Span(0, "op", 0.0, 10.0), Span(1, "op", 20.0, 26.0)]
    own = [0.5, 0.0, 1.0]  # the last op failed and is not in ``done``
    # op 1: 0.5 s inside + 0.5 s outside the op span, over 9.5 s untraced
    assert harness.overhead_shares(done, ops, own) == pytest.approx([1 / 9.5, 0.0])


def test_e2e_metrics_arithmetic():
    done = [(2.0, OpResult(100, [0.5, 0.7, 0.8])), (3.0, OpResult(200, [1.0, 0.6]))]
    m = harness.e2e_metrics(12.5, done)
    assert m == {"setup_s": 12.5, "throughput_per_s": 60.0, "op_p50_s": 0.7}


def _oracle_docs():
    from crawlspark import synthetic
    from crawlspark.oracle import crawl_oracle

    return checks.oracle_docs(crawl_oracle(synthetic.WebSpec(scale=0.05), max_batches=2))


def test_docs_checker_accepts_oracle_equal_output():
    docs = _oracle_docs()
    assert docs
    assert checks.compare_docs(dict(docs), docs) == []


def test_docs_checker_rejects_corrupted_output():
    docs = _oracle_docs()
    d = sorted(docs)[0]
    kind, text, ref, off = docs[d][0]
    bad_docs = {**docs, d: [(kind, text + "x", ref, off)] + docs[d][1:]}
    assert checks.compare_docs(bad_docs, docs) == ["1 documents with different spans"]
    assert checks.compare_docs({k: v for k, v in docs.items() if k != d}, docs) == [
        "doc ids differ: 0 engine-only, 1 oracle-only"]


def test_query_checker_rejects_corrupted_values():
    spark_out = pd.DataFrame({"nation": ["A", "B"], "revenue_c": [10, 20], "x": [0.5, 1.25]})
    oracle = spark_out[["x", "revenue_c", "nation"]].iloc[::-1].reset_index(drop=True)
    assert checks.compare_frames(spark_out, oracle) == []
    corrupted = spark_out.assign(revenue_c=[10, 21])
    assert checks.compare_frames(corrupted, oracle) == ["1 differing rows"]
    assert checks.compare_frames(spark_out.iloc[:1], oracle) == ["rows 1 vs 2"]
    assert checks.compare_frames(spark_out.rename(columns={"x": "y"}), oracle)


def test_benchmark_json_names_match_the_harness():
    done = [(1.0, OpResult(10, [1.0]))]
    assert set(harness.e2e_metrics(1.0, done)) == set(harness.declared_units("end_to_end"))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    from perfbench.workloads import WORKLOADS

    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)

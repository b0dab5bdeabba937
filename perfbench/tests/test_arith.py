"""Tests of the benchmark's own arithmetic and of its span wrappers.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import pickle
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import spans  # noqa: E402
from perfbench.run import end_to_end, ledger, metric_units  # noqa: E402
from perfbench.sparkstats import STAGE_FIELDS  # noqa: E402


def test_union_of_overlapping_job_spans():
    jobs = [(0.0, 2.0), (1.0, 3.0), (5.0, 6.0), (5.5, 5.7)]
    assert spans.union_length(jobs) == pytest.approx(4.0)
    # clipped to the query's window [0.5, 5.5]
    assert spans.union_length(jobs, 0.5, 5.5) == pytest.approx(3.0)
    assert spans.union_length([]) == 0.0


def _record(name, e0, e_build, e1, span_list, jobs):
    stages = dict.fromkeys(STAGE_FIELDS, 0)
    return {"name": name, "pass_no": 1, "wall": e1 - e0, "e0": e0,
            "e_build": e_build, "e1": e1, "spans": span_list,
            "jobs": [{"id": i, "submit": a, "end": b}
                     for i, (a, b) in enumerate(jobs)],
            "stages": stages}


def test_driver_time_is_wall_minus_union_of_jobs():
    # two overlapping jobs [1, 4] and [3, 6] inside a 10 s query
    rec = _record("q", 0.0, 1.0, 10.0, [["plans", 0.0, 0.05, 0]],
                  [(1.0, 4.0), (3.0, 6.0)])
    out, checks = ledger([rec], cores=4)
    assert out["spark.job_span_s"] == pytest.approx(5.0)
    assert out["spark.driver_s"] == pytest.approx(5.0)
    assert out["spark.per_job_s"] == pytest.approx(2.5)
    assert checks["jobs_outside_query"] == 0 and checks["ok"]


def test_job_outside_the_query_fails_the_check():
    # a job of the query's group that runs past the query's end is clipped
    # to it, and the check reports that driver_s misplaces its time
    rec = _record("q", 0.0, 1.0, 10.0, [["plans", 0.0, 0.05, 0]],
                  [(1.0, 4.0), (9.0, 12.0)])
    out, checks = ledger([rec], cores=4)
    assert out["spark.job_span_s"] == pytest.approx(4.0)
    assert checks["jobs_outside_query"] == 1 and not checks["ok"]
    # so does one still running when the store is read
    rec["jobs"][1]["end"] = None
    out, checks = ledger([rec], cores=4)
    assert out["spark.job_span_s"] == pytest.approx(4.0)
    assert checks["jobs_outside_query"] == 1 and not checks["ok"]


def test_self_time_with_nested_layer_spans():
    # plans [0, 10] > ml [1, 7] > stats [2, 4] and session [5, 6]; then
    # operators [8, 9] directly under plans
    sp = [["plans", 0.0, 10.0, 0], ["ml", 1.0, 7.0, 1],
          ["stats", 2.0, 4.0, 2], ["session", 5.0, 6.0, 2],
          ["operators", 8.0, 9.0, 1]]
    assert spans.self_times(sp) == pytest.approx([3.0, 3.0, 2.0, 1.0, 1.0])
    # jobs go to the innermost span holding their submission time
    assert spans.innermost(sp, 3.0) == "stats"
    assert spans.innermost(sp, 4.5) == "ml"
    assert spans.innermost(sp, 7.5) == "plans"
    assert spans.innermost(sp, 11.0) is None

    rec = _record("q", 0.0, 10.0, 12.0, sp, [(3.0, 3.5), (4.5, 4.6),
                                             (11.0, 12.0)])
    out, checks = ledger([rec], cores=4, layers=("ml", "text"))
    assert out["ml.self_s"] == pytest.approx(3.0)
    assert out["ml.self_frac"] == pytest.approx(3.0 / 12.0)
    assert out["stats.jobs"] == 1 and out["ml.jobs"] == 1
    assert out["plans.jobs"] == 0
    assert out["query.action_s"] == pytest.approx(2.0)
    # a layer asked for but never called reads zero
    assert out["text.calls"] == 0 and out["text.self_frac"] == 0
    # modules account for 7 s of the 10 s build; with the 2 s action that
    # is 9 of 12 s, outside the tolerance: plans' own 3 s is unattributed
    assert checks["modules_self_plus_action_over_wall"] == pytest.approx(0.75)
    assert checks["unattributed_build_frac"] == pytest.approx(0.25)
    assert not checks["ok"]


def test_modules_that_cover_the_build_reconcile():
    sp = [["plans", 0.0, 1.0, 0], ["operators", 0.02, 0.98, 1]]
    rec = _record("q", 0.0, 1.0, 3.0, sp, [(1.1, 2.9)])
    _, checks = ledger([rec], cores=4)
    assert checks["modules_self_plus_action_over_wall"] == pytest.approx(
        (0.96 + 2.0) / 3.0)
    assert checks["ok"]


def test_ledger_gives_every_per_layer_metric_of_the_benchmark():
    units = metric_units("per_layer")
    layers = {k.rsplit(".", 1)[0] for k in units if k.endswith(".calls")}
    rec = _record("q", 0.0, 1.0, 3.0, [["plans", 0.0, 1.0, 0]], [(1.1, 2.9)])
    out, _ = ledger([rec], cores=4, layers=layers)
    # the three host/trace figures are added by the run itself
    missing = set(units) - set(out) - {"host.canary_s", "host.peak_rss_mb",
                                       "trace.overhead_frac"}
    assert not missing


def test_tracer_records_nesting():
    t = spans.Tracer()
    with t.span("plans"):
        with t.span("ml"):
            pass
        with t.span("stats"):
            with t.span("session"):
                pass
    assert [(s[0], s[3]) for s in t.take()] == [
        ("plans", 0), ("ml", 1), ("stats", 1), ("session", 2)]


def test_p90_needs_ten_samples_beyond_it():
    assert spans.tail_percentile(list(range(99)), 0.9) is None
    assert spans.tail_percentile(list(range(1, 101)), 0.9) == 90
    assert spans.tail_percentile(list(range(1, 201)), 0.9) == 180
    assert spans.tail_percentile([], 0.9) is None
    # the median needs no tail
    assert spans.tail_percentile([3, 1, 2], 0.5, min_beyond=1) == 2


def test_end_to_end_aggregates_per_query_medians():
    out = end_to_end({"a": [1.0, 3.0, 2.0], "b": [4.0, 4.0, 5.0]})
    # an untraced run prints every end-to-end metric of the benchmark
    assert set(metric_units("end_to_end")) <= set(out) | {"setup_s"}
    assert out["total_s"] == pytest.approx(2.0 + 4.0)
    assert out["query_geomean_s"] == pytest.approx((2.0 * 4.0) ** 0.5)
    assert out["query_p50_s"] == pytest.approx(3.5)
    assert out["query_p90_s"] is None and out["n_samples"] == 6


# a module standing in for an orange3_spark module, importable by name in a
# fresh interpreter (as on an executor)
_MOD_SRC = '''
def double(x):
    return 2 * x
'''


@pytest.fixture()
def fake_pkg(tmp_path, monkeypatch):
    pkg = tmp_path / "fakepkg"
    (pkg / "ml").mkdir(parents=True)
    (pkg / "__init__.py").write_text("")
    (pkg / "ml" / "__init__.py").write_text("")
    (pkg / "ml" / "algo.py").write_text(_MOD_SRC)
    (pkg / "ml" / "user.py").write_text("from fakepkg.ml.algo import double\n")
    monkeypatch.syspath_prepend(str(tmp_path))
    yield tmp_path
    for name in [m for m in sys.modules if m.startswith("fakepkg")]:
        del sys.modules[name]


def test_install_wraps_and_rebinds(fake_pkg):
    counts = spans.install("fakepkg", skip=())
    from fakepkg.ml import algo, user

    assert counts == {"ml": 1}
    assert user.double is algo.double  # import-time binding was rebound
    t = spans.Tracer()
    with spans.active(t):
        assert user.double(3) == 6
    assert [s[0] for s in t.take()] == ["ml"]
    assert user.double(4) == 8 and t.take() == []  # no tracer: pass-through


def test_wrapper_passes_through_on_executors(fake_pkg):
    from pyspark import cloudpickle

    spans.install("fakepkg", skip=())
    from fakepkg.ml import algo

    tracer = spans.Tracer()
    with spans.active(tracer):
        # a UDF closure as Spark would ship it: by value, naming the wrapper
        closure = eval("lambda x: algo.double(x) + 1", {"algo": algo})
        # a wrapper its module does not hold is pickled by value
        byval = spans._wrap(lambda x: 3 * x, "ml")
        payload = cloudpickle.dumps((algo.double, closure, byval, tracer))
    code = ("import pickle, sys\n"
            "double, closure, byval, tracer = "
            "pickle.loads(sys.stdin.buffer.read())\n"
            "assert tracer is None\n"
            "assert not hasattr(double, '__wrapped__'), 'wrapper reached executor'\n"
            "print(double(5), closure(5), byval(5))\n")
    env = dict(os.environ, PYTHONPATH=os.pathsep.join([str(fake_pkg), ROOT]))
    out = subprocess.run([sys.executable, "-c", code], input=payload, env=env,
                         capture_output=True, check=True, timeout=60)
    assert out.stdout.split() == [b"10", b"11", b"15"]
    # the driver-side tracer saw nothing from the executor's calls
    assert [s[0] for s in tracer.take()] == []
    assert pickle.loads(pickle.dumps(tracer)) is None


def test_freeze_takes_the_first_queries_of_each_module_in_hash_order():
    from perfbench.freeze_workloads import TOO_SLOW, _key, freeze

    def fn(mod):
        return type("Q", (), {"__module__": mod})()

    registry = {f"q{i}": fn("m.a") for i in range(20)}
    slow = next(iter(TOO_SLOW))
    registry.update({n: fn("m.b") for n in ("r0", "r1", slow)})
    lists, passed_over = freeze(
        {"w": {"modules": ["m.a", "m.b"], "per_module": 2}}, registry)
    a = sorted((n for n in registry if n.startswith("q")), key=_key)[:2]
    assert lists["w"] == a + sorted(["r0", "r1"], key=_key)
    # a too-slow query is never taken, and is named when the rule hit it
    assert passed_over == ([slow] if _key(slow) < max(_key("r0"), _key("r1"))
                           else [])

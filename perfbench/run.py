"""End-to-end benchmark of the orange3_spark engine, with a traced ledger.

Run from the repository root:

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 10 --trace 0

One client runs one query at a time (a closed loop) on ``local[<cores>]``.
Set-up is JVM and session start, then two untimed warm-up passes over the
workload's frozen query list (``workloads.json``): the first collects every
query's output for the output check, the second writes it to the no-op sink
as the timed passes do.  Timed passes follow, each in an order drawn from
``--seed``, until the next pass would end after ``--seconds`` (at least two).
The timed action writes every output column to Spark's no-op sink, so no
column is pruned.  After the window the collected outputs are compared with
their DuckDB oracles.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` alternates
untraced and traced passes and prints the per-layer ledger: spans recorded
around calls into each ``orange3_spark`` layer, and Spark's status store read
after each query.  Its metrics are the ``per_layer`` list of
``BENCHMARK.json``.  A traced run is not ``correct`` unless every job of a
query lies inside the query's window and the module layers' self time plus
the action time comes within 10 % of the traced wall time.  Both print a
human-readable summary, then one JSON line.  Per-query samples and trace
records go to ``.perfbench/`` in the repository root.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()  # set-up is timed from process start

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from collections import defaultdict  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
FIXTURES = os.path.join(HERE, "fixtures", "sf0.1")
STATE = os.path.join(ROOT, ".perfbench")

#: Spark runtime figures of the ledger, summed over a traced pass
SPARK_SUMS = ("jobs", "stages", "tasks", "job_span_s", "driver_s",
              "executor_run_s", "executor_cpu_s", "gc_s", "spill_mb",
              "shuffle_read_mb", "shuffle_write_mb", "input_mb",
              "failed_tasks")
MIN_PASSES = 2
P90_MIN_BEYOND = 10
#: the module layers' self time plus the action must come within this share
#: of the traced wall time
RECONCILE_TOL = 0.10
#: the status store keeps job times in whole milliseconds
CLOCK_TOL_S = 0.001


def metric_units(kind: str) -> dict[str, str]:
    """Name and unit of every metric a run prints, as the ``end_to_end``
    (untraced) or ``per_layer`` (traced) list of ``BENCHMARK.json`` gives
    them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def check_layout() -> None:
    """Fail before any work when the program is not beside the benchmark."""
    need = ("orange3_spark/__init__.py", "__spark_entry__.py", "bench.py",
            "scripts/check_correctness.py")
    missing = [p for p in need if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        raise SystemExit(f"perfbench: not a repository checkout, missing "
                         f"{', '.join(missing)} under {ROOT}")


def host_memory_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def configure() -> dict:
    """Size the launch to the host and keep every file it writes inside the
    checkout.  Returns the settings, which the result records."""
    cores = len(os.sched_getaffinity(0))
    mem_mb = max(1024, min(4096, host_memory_mb() // 4))
    for sub in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(STATE, sub), exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": f"{mem_mb}m",
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(STATE, "local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(STATE, "warehouse"),
        # replay oracles re-fit through DuckDB on this directory
        "SPARK_GRAFT_SF_DIR": FIXTURES,
        # Python workers import orange3_spark from here, whatever the cwd
        "PYTHONPATH": ROOT,
        "TMPDIR": os.path.join(STATE, "tmp"),
        # spark-submit's launcher JVM would write its perf data under /tmp
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    }
    os.environ.update(env)
    sys.path.insert(0, ROOT)
    sys.path.append(os.path.join(ROOT, "scripts"))  # check_correctness
    return env


def load_workload(name: str) -> list[str]:
    with open(os.path.join(HERE, "workloads.json")) as fh:
        workloads = json.load(fh)["workloads"]
    if name not in workloads:
        raise SystemExit(f"perfbench: unknown workload {name!r}; "
                         f"choose from {', '.join(workloads)}")
    return workloads[name]["queries"]


# -- process tree -------------------------------------------------------------

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def tree_peak_rss_mb(pid: int) -> float:
    """Sum of each live process's peak resident set (VmHWM) over the tree:
    the driver's Python, the JVM and the Python workers."""
    total_kb = 0
    for p in [pid] + descendants(pid):
        try:
            with open(f"/proc/{p}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


# -- running queries ----------------------------------------------------------

def isolate(spark) -> None:
    """Between queries, outside the timed window: operators cache
    internally, and blocks left behind make ContextCleaner stall whichever
    query runs next, so drop them and collect garbage on both sides."""
    spark.catalog.clearCache()
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def run_query(spark, fn, tracer=None) -> dict:
    """Build the query and write every output column to the no-op sink."""
    from perfbench import spans

    t0 = time.perf_counter()
    e0 = time.time()
    if tracer is None:
        df = fn(spark, FIXTURES)
    else:
        with spans.active(tracer), tracer.span("plans"):
            df = fn(spark, FIXTURES)
    e_build = time.time()
    df.write.format("noop").mode("overwrite").save()
    t1 = time.perf_counter()
    return {"wall": t1 - t0, "e0": e0, "e_build": e_build, "e1": time.time()}


class Runner:
    """Runs the workload's queries one at a time and keeps their timings,
    trace records and errors."""

    def __init__(self, spark, queries: dict, names: list[str]) -> None:
        self.spark = spark
        self.queries = queries
        self.names = names
        self.errors: dict[str, str] = {}
        self.samples: dict[str, list[float]] = {n: [] for n in names}
        #: seconds of each query's first execution, the collecting one
        self.cold: dict[str, float] = {}
        self.traced: list[dict] = []

    def one(self, name: str, tracer=None, group: str | None = None):
        sc = self.spark.sparkContext
        if group is not None:
            sc.setJobGroup(group, name)
        try:
            rec = run_query(self.spark, self.queries[name], tracer)
        except Exception:
            self.errors.setdefault(name, traceback.format_exc(limit=2))
            rec = None
        finally:
            if group is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)
            isolate(self.spark)
        return rec

    def warm_up(self) -> tuple[dict[str, str], float]:
        """Untimed pass that collects every query's output and fingerprints
        it for the output check.  Returns the fingerprints and the seconds
        spent fingerprinting, which is the benchmark's work, not set-up."""
        from perfbench.oracle import fingerprint

        fps: dict[str, str] = {}
        own_s = 0.0
        for name in self.names:
            try:
                t = time.perf_counter()
                df = self.queries[name](self.spark, FIXTURES)
                rows = df.collect()
                self.cold[name] = time.perf_counter() - t
                t = time.perf_counter()
                fps[name] = fingerprint([tuple(r) for r in rows], df.columns)
                own_s += time.perf_counter() - t
            except Exception:
                self.errors.setdefault(name, traceback.format_exc(limit=2))
            isolate(self.spark)
        return fps, own_s

    def passes(self, seed: int, seconds: float, trace: bool) -> int:
        """Timed passes until the next would end after ``seconds``.  With
        ``trace``, odd passes are traced and even ones are not."""
        from perfbench import sparkstats, spans

        rng = random.Random(seed)
        start = time.perf_counter()
        n = 0
        last = 0.0
        while n < MIN_PASSES or time.perf_counter() - start + last <= seconds:
            order = rng.sample(self.names, len(self.names))
            traced = trace and n % 2 == 1
            t_pass = time.perf_counter()
            for name in order:
                tracer = spans.Tracer() if traced else None
                group = f"perfbench-{n}-{name}" if traced else None
                rec = self.one(name, tracer, group)
                if rec is None:
                    continue
                if traced:
                    jobs, stages = sparkstats.query_jobs(
                        self.spark.sparkContext, group)
                    rec.update(name=name, pass_no=n, spans=tracer.take(),
                               jobs=jobs, stages=stages)
                    self.traced.append(rec)
                else:
                    self.samples[name].append(rec["wall"])
            last = time.perf_counter() - t_pass
            n += 1
        return n


# -- metrics ------------------------------------------------------------------

def end_to_end(samples: dict[str, list[float]]) -> dict:
    from perfbench.spans import tail_percentile

    flat = [t for ts in samples.values() for t in ts]
    per_query = {q: statistics.median(ts) for q, ts in samples.items() if ts}
    return {
        "total_s": sum(per_query.values()),
        # every query weighs the same, so short queries are not drowned by
        # the longest, and no one query decides it as one decides the p50
        "query_geomean_s": (statistics.geometric_mean(per_query.values())
                            if per_query else 0.0),
        "query_p50_s": statistics.median(flat) if flat else 0.0,
        "query_p90_s": tail_percentile(flat, 0.9, P90_MIN_BEYOND),
        "n_samples": len(flat),
    }


def ledger(traced: list[dict], cores: int,
           layers=()) -> tuple[dict, dict]:
    """Per-layer metrics averaged over the traced passes, and the checks that
    the trace accounts for the traced wall time.  ``layers`` are reported
    even when no span of theirs was recorded.

    ``plans`` is the span around the registered query function; its self
    time is build time that no library module accounts for, so it is left
    out of the reconciliation of module self time with wall time."""
    from perfbench.spans import innermost, self_times, union_length

    n_pass = len({r["pass_no"] for r in traced})
    m: dict[str, float] = defaultdict(float)
    seen = set(layers)
    sp = dict.fromkeys(SPARK_SUMS, 0.0)
    build = action = wall = 0.0
    outside = 0
    for r in traced:
        spans = r["spans"]
        for (layer, *_), st in zip(spans, self_times(spans)):
            seen.add(layer)
            m[f"{layer}.self_s"] += st
            m[f"{layer}.calls"] += 1
        for j in r["jobs"]:
            layer = innermost(spans, j["submit"])
            if layer is not None:
                m[f"{layer}.jobs"] += 1
            # a job of the query's group that began before the query or was
            # not over when it returned holds time driver_s would misplace
            if (j["submit"] < r["e0"] - CLOCK_TOL_S or j["end"] is None
                    or j["end"] > r["e1"] + CLOCK_TOL_S):
                outside += 1
        q_wall = r["e1"] - r["e0"]
        span_s = union_length([(j["submit"], j["end"] or r["e1"])
                               for j in r["jobs"]], r["e0"], r["e1"])
        wall += q_wall
        build += r["e_build"] - r["e0"]
        action += r["e1"] - r["e_build"]
        st = r["stages"]
        sp["jobs"] += len(r["jobs"])
        sp["stages"] += st["stages"]
        sp["tasks"] += st["tasks"]
        sp["job_span_s"] += span_s
        sp["driver_s"] += q_wall - span_s
        sp["executor_run_s"] += st["run_ms"] / 1e3
        sp["executor_cpu_s"] += st["cpu_ns"] / 1e9
        sp["gc_s"] += st["gc_ms"] / 1e3
        sp["spill_mb"] += st["spill_bytes"] / 1e6
        sp["shuffle_read_mb"] += st["shuffle_read"] / 1e6
        sp["shuffle_write_mb"] += st["shuffle_write"] / 1e6
        sp["input_mb"] += st["input_bytes"] / 1e6
        sp["failed_tasks"] += st["failed_tasks"]
    out = {f"{L}.{k}": m[f"{L}.{k}"] / n_pass
           for L in seen for k in ("self_s", "calls", "jobs")}
    out.update({f"spark.{k}": v / n_pass for k, v in sp.items()})
    out["spark.executor_noncpu_s"] = (out["spark.executor_run_s"]
                                      - out["spark.executor_cpu_s"])
    out["spark.per_job_s"] = sp["job_span_s"] / sp["jobs"] if sp["jobs"] else 0.0
    out["spark.slot_util"] = (sp["executor_run_s"] / (sp["job_span_s"] * cores)
                              if sp["job_span_s"] else 0.0)
    out["query.build_s"] = build / n_pass
    out["query.action_s"] = action / n_pass
    for L in seen:
        out[f"{L}.self_frac"] = m[f"{L}.self_s"] / wall if wall else 0.0
    modules_self = sum(out[f"{L}.self_s"] for L in seen if L != "plans")
    reconcile = ((modules_self + out["query.action_s"]) / (wall / n_pass)
                 if wall else 0.0)
    checks = {
        "traced_passes": n_pass,
        "jobs_outside_query": outside,
        "modules_self_plus_action_over_wall": reconcile,
        "unattributed_build_frac": out.get("plans.self_frac", 0.0),
    }
    checks["ok"] = outside == 0 and abs(reconcile - 1) <= RECONCILE_TOL
    return out, checks


# -- output check -------------------------------------------------------------

def check_outputs(fps: dict[str, str], errors: dict) -> list[str]:
    """Compare each query's output fingerprint with its DuckDB oracle's.
    Returns the mismatching queries; an oracle that raises is an error."""
    from perfbench.oracle import OracleCache
    from orange3_spark.plans.registry import ORACLE

    cache = OracleCache(FIXTURES, os.path.join(STATE, "oracle_cache.json"))
    bad = []
    try:
        for name, got in fps.items():
            try:
                sql = ORACLE[name]
                if got != cache.get(sql() if callable(sql) else sql):
                    bad.append(name)
            except Exception:
                errors[name] = traceback.format_exc(limit=2)
    finally:
        cache.close()
    return bad


# -- main ---------------------------------------------------------------------

def stop(spark) -> None:
    """Stop Spark and wait for the JVM and its Python workers to end."""
    sc = spark.sparkContext
    gateway, proc = sc._gateway, getattr(sc._gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)


def main(argv=None) -> int:
    args = parse_args(argv)
    check_layout()
    env = configure()
    names = load_workload(args.workload)
    cores = int(env["SPARK_GRAFT_CPUS"])

    import __spark_entry__  # noqa: F401  (registers every query)
    from orange3_spark.plans.registry import QUERIES
    from orange3_spark.session import get_spark
    if args.trace:
        from perfbench import spans
        # after every plans module has bound library names: install
        # rebinds those references too
        wrapped = spans.install()
    queries = {n: QUERIES[n] for n in names}

    phases = {"imports": time.perf_counter() - _T0}
    spark = get_spark(f"perfbench-{args.workload}", **{
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(STATE, 'tmp')} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    phases["session"] = time.perf_counter() - _T0 - sum(phases.values())
    runner = Runner(spark, queries, names)
    try:
        fps, own_s = runner.warm_up()
        phases["collect pass"] = (time.perf_counter() - _T0 - own_s
                                  - sum(phases.values()))
        # a second, untimed noop pass: the JIT is still compiling through
        # the first two passes over the workload, which run 10-40 % slower
        for name in names:
            runner.one(name)
        setup_s = time.perf_counter() - _T0 - own_s
        phases["noop pass"] = setup_s - sum(phases.values())

        n_pass = runner.passes(args.seed, args.seconds, bool(args.trace))
        peak_rss = tree_peak_rss_mb(os.getpid())
        from bench import host_canary
        canary_s = host_canary(spark)
    finally:
        stop(spark)
        for sub in ("local", "tmp", "warehouse"):
            shutil.rmtree(os.path.join(STATE, sub), ignore_errors=True)

    bad = check_outputs(fps, runner.errors)
    failed = sorted(set(runner.errors) | set(bad))
    e2e = end_to_end(runner.samples)
    input_mb = sum(os.path.getsize(os.path.join(FIXTURES, f))
                   for f in os.listdir(FIXTURES)) / 1e6
    p90 = e2e["query_p90_s"]
    print(f"workload={args.workload} seed={args.seed} queries={len(names)} "
          f"passes={n_pass} samples={e2e['n_samples']} cores={cores} "
          f"driver_mem={env['SPARK_GRAFT_DRIVER_MEM']} input_mb={input_mb:.1f}")
    print(f"setup_s={setup_s:.4f} s  total_s={e2e['total_s']:.4f} s  "
          f"query_geomean_s={e2e['query_geomean_s']:.4f} s  "
          f"query_p50_s={e2e['query_p50_s']:.4f} s (n={e2e['n_samples']})  "
          + (f"query_p90_s={p90:.4f} s (n={e2e['n_samples']})  " if p90 is not None
             else f"query_p90_s=n/a (n={e2e['n_samples']} < "
                  f"{P90_MIN_BEYOND * 10})  ")
          + f"failed_frac={len(failed)}/{len(names)}  "
          f"peak_rss_mb={peak_rss:.1f} MB  host.canary_s={canary_s:.4f} s")
    print("setup phases: " + "  ".join(f"{k} {v:.2f} s" for k, v in phases.items()))
    print("output check: " + ("ok" if not failed else
                              "FAILED " + " ".join(failed)))
    for name in failed:
        msg = runner.errors.get(name, "output differs from the DuckDB oracle")
        print(f"  {name}: {msg.strip().splitlines()[-1]}", file=sys.stderr)

    with open(os.path.join(
            STATE, f"samples-{args.workload}-{args.seed}.json"), "w") as fh:
        json.dump({"seed": args.seed, "env": env, "setup_phases": phases,
                   "cold": runner.cold, "samples": runner.samples,
                   "errors": runner.errors}, fh, indent=1)
    trace_ok = True
    if args.trace:
        units = metric_units("per_layer")
        layers = sorted({k.rsplit(".", 1)[0] for k in units
                         if k.endswith(".calls")})
        layer, checks = ledger(runner.traced, cores, layers)
        layer["host.canary_s"] = canary_s
        layer["host.peak_rss_mb"] = peak_rss
        walls: dict[str, list[float]] = {}
        for r in runner.traced:
            walls.setdefault(r["name"], []).append(r["wall"])
        layer["trace.overhead_frac"] = (end_to_end(walls)["total_s"]
                                        / e2e["total_s"] - 1)
        print("trace checks: " + ("ok " if checks["ok"] else "FAILED ")
              + json.dumps(checks))
        with open(os.path.join(
                STATE, f"trace-{args.workload}-{args.seed}.json"), "w") as fh:
            json.dump({"metrics": layer, "checks": checks,
                       "wrapped": wrapped, "queries": runner.traced}, fh)
        metrics = {k: {"value": layer[k], "unit": u} for k, u in units.items()}
        trace_ok = checks["ok"]
    else:
        e2e["setup_s"] = setup_s
        metrics = {k: {"value": e2e[k], "unit": u}
                   for k, u in metric_units("end_to_end").items()}
    print(json.dumps({"correct": not failed and trace_ok,
                      "attempted": len(names),
                      "failed": len(failed), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Benchmark of the paper loop: profile -> generate -> SFC write -> pruned scan.

Usage (from the repository root):

    python3 perfbench/run.py --workload wlgen_scan --seed 1 --seconds 10 --trace 0

Workloads: ``wlgen_scan`` (read path) and ``ingest_drift`` (write path); see
``perfbench/workloads.py``.  Inputs are synthetic tables made from ``--seed``
(``perfbench/datagen.py``) under ``.bench_work/``.  Every answer is checked.

Output: one line per metric (name, value, unit, sample count and, for the
per-layer metrics, the end-to-end metric it should move), then as the last
line one JSON object ``{"correct", "attempted", "failed", "metrics"}``.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` records spans
around every call into the package and reports the per-layer metrics
instead, plus the headline registry entries driven to their full results.

The run pins its environment before Spark starts: ``SPARK_GRAFT_CPUS`` (the
CPUs this process may use), ``SPARK_GRAFT_DRIVER_MEM`` (a quarter of host
memory, 1-4 GB), a fixed ``SPARK_GRAFT_LOCAL_DIR`` and ``TMPDIR`` inside
``.bench_work/``, and ``PYTHONPATH`` so Python workers import the package.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import stats as st  # noqa: E402
from perfbench.workloads import HEADLINE, NUM_FILES  # noqa: E402

#: end-to-end metric -> unit
END_TO_END = {
    "setup_s": "s",
    "sel_error": "ratio",
    "table_bytes_ratio": "ratio",
    "query_p50_ms": "ms",
    "queries_per_s": "1/s",
    "files_scanned_frac": "ratio",
}

#: layer -> the end-to-end metric its self time feeds ("-": reported only
#: in traced runs; the headline entries have no end-to-end metric)
LAYERS = {
    "session": "setup_s",
    "sources": "setup_s",
    "profiler": "queries_per_s",
    "wlgen": "sel_error",
    "layout": "setup_s",
    "table": "query_p50_ms",
    "runner": "query_p50_ms",
    "queries": "-",
}
BANDS = [f"{lay}.{b}" for lay in ("zorder", "hilbert") for b in ("s1", "s2", "s3")]

#: per-layer metric -> (unit, end-to-end metric it should move)
PER_LAYER = {
    "session.get_spark_s": ("s", "setup_s"),
    "session.jvm_peak_rss_mb": ("MB", "-"),
    "sources.load_s": ("s", "setup_s"),
    "profiler.profile_df_s": ("s", "queries_per_s"),
    "profiler.jobs": ("count", "queries_per_s"),
    "profiler.stages": ("count", "queries_per_s"),
    "wlgen.gen_workload_ms": ("ms", "sel_error"),
    "wlgen.in_band_frac": ("ratio", "sel_error"),
    "layout.layout_write_s.zorder": ("s", "setup_s"),
    "layout.layout_write_s.hilbert": ("s", "setup_s"),
    "layout.stages_per_write": ("count", "setup_s"),
    "layout.scoped_upsert_s": ("s", "queries_per_s"),
    "layout.files_rewritten_frac": ("ratio", "queries_per_s"),
    "layout.table_bytes": ("bytes", "table_bytes_ratio"),
    "table.scan_ms": ("ms", "query_p50_ms"),
    **{f"table.files_scanned_frac.{b}": ("ratio", "files_scanned_frac") for b in BANDS},
    "table.bytes_scanned_frac": ("ratio", "query_p50_ms"),
    "runner.run_one_query_ms": ("ms", "query_p50_ms"),
    "runner.action_ms": ("ms", "query_p50_ms"),
    "runner.overhead_ms": ("ms", "query_p50_ms"),
    "runner.query_p90_ms": ("ms", "queries_per_s"),
    "exec.jobs": ("count", "query_p50_ms"),
    "exec.stages": ("count", "query_p50_ms"),
    "exec.tasks": ("count", "query_p50_ms"),
    "exec.stage_floor_ms": ("ms", "query_p50_ms"),
    **{f"{layer}.self_s": ("s", e2e) for layer, e2e in LAYERS.items()},
    "trace.query_p50_ms": ("ms", "query_p50_ms"),
    "trace.span_cost_us": ("us", "query_p50_ms"),
    "queries.headline_total_s": ("s", "-"),
}
for _name in HEADLINE:
    PER_LAYER[f"queries.build_s.{_name}"] = ("s", "queries.headline_total_s")
    PER_LAYER[f"queries.action_s.{_name}"] = ("s", "queries.headline_total_s")
    PER_LAYER[f"exec.stages.{_name}"] = ("count", "queries.headline_total_s")


def _pin_env(work: str) -> dict:
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_kb = int(next(ln for ln in fh if ln.startswith("MemTotal")).split()[1])
    mem_g = max(1, min(4, mem_kb // (4 << 20)))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{mem_g}g",
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_UI": "false",
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
        ),
    }
    os.environ.update(env)
    return env


def _reset_state(work: str) -> None:
    """Every run starts from the same on-disk state: no benchmark work dir
    and none of the package's derived-table caches."""
    shutil.rmtree(work, ignore_errors=True)
    for d in ("layout_cache", "drift_states", "duckdb_tmp"):
        shutil.rmtree(os.path.join(ROOT, ".scratch", d), ignore_errors=True)


def end_to_end(run) -> dict:
    s, c = run.samples, run.counts
    q = s["query_ms"]
    return {
        "setup_s": (st.median(s["setup_s"]), len(s["setup_s"])),
        "sel_error": (st.median(s["sel_error"]), len(s["sel_error"])),
        "table_bytes_ratio": (
            st.median(s["table_bytes_ratio"]),
            len(s["table_bytes_ratio"]),
        ),
        "query_p50_ms": (st.percentile(q, 0.5), len(q)),
        "queries_per_s": (c["queries"] / c["loop_s"], int(c["queries"])),
        "files_scanned_frac": (
            c["files_scanned"] / c["files_total"],
            int(c["files_total"] / NUM_FILES),
        ),
    }


def per_layer(run, span_cost_us: float, floor_ms: float, rss_mb: float) -> dict:
    from perfbench.tracing import self_times

    s, c = run.samples, run.counts

    def med(name):
        v = s.get(name, [])
        return (st.median(v), len(v)) if v else (0.0, 0)

    def exec_mean(kind):
        """Mean (jobs, stages, tasks) per call of one kind."""
        groups = run.groups.get(kind, [])
        if not groups:
            return [(0.0, 0)] * 3
        tot = [run.execs.for_prefix(g) for g in groups]
        return [(sum(t[i] for t in tot) / len(tot), len(tot)) for i in range(3)]

    q_jobs, q_stages, q_tasks = exec_mean("query")
    p_jobs, p_stages, _ = exec_mean("profile")
    _, w_stages, _ = exec_mean("write")
    own = self_times(run.tracer.spans)
    out = {
        "session.get_spark_s": (c["session.get_spark_s"], 1),
        "session.jvm_peak_rss_mb": (rss_mb, 1),
        "sources.load_s": med("sources.load_s"),
        "profiler.profile_df_s": med("profile_s"),
        "profiler.jobs": p_jobs,
        "profiler.stages": p_stages,
        "wlgen.gen_workload_ms": med("wlgen.gen_workload_ms"),
        "wlgen.in_band_frac": (
            sum(s["wlgen.in_band"]) / len(s["wlgen.in_band"]),
            len(s["wlgen.in_band"]),
        ),
        "layout.layout_write_s.zorder": med("write_s.zorder"),
        "layout.layout_write_s.hilbert": med("write_s.hilbert"),
        "layout.stages_per_write": w_stages,
        "layout.scoped_upsert_s": med("upsert_s"),
        "layout.files_rewritten_frac": med("layout.files_rewritten_frac"),
        "layout.table_bytes": med("layout.table_bytes"),
        "table.scan_ms": med("table.scan_ms"),
        "table.bytes_scanned_frac": (
            c["bytes_scanned"] / c["bytes_total"],
            int(c["files_total"] / NUM_FILES),
        ),
        "runner.run_one_query_ms": med("runner.run_one_query_ms"),
        "runner.action_ms": med("runner.action_ms"),
        "runner.overhead_ms": med("runner.overhead_ms"),
        "exec.jobs": q_jobs,
        "exec.stages": q_stages,
        "exec.tasks": q_tasks,
        "exec.stage_floor_ms": (floor_ms, 5),
        "runner.query_p90_ms": (st.percentile(s["query_ms"], 0.9), len(s["query_ms"])),
        "trace.query_p50_ms": (st.percentile(s["query_ms"], 0.5), len(s["query_ms"])),
        "trace.span_cost_us": (span_cost_us, 10000),
    }
    for b in BANDS:
        n = c.get(f"ft.{b}", 0.0)
        out[f"table.files_scanned_frac.{b}"] = (
            c.get(f"fs.{b}", 0.0) / n if n else 0.0,
            int(n / NUM_FILES),
        )
    for layer in LAYERS:
        out[f"{layer}.self_s"] = (own.get(layer, 0.0), 1)
    total = 0.0
    for name in HEADLINE:
        b, a = med(f"queries.build_s.{name}"), med(f"queries.action_s.{name}")
        out[f"queries.build_s.{name}"] = b
        out[f"queries.action_s.{name}"] = a
        out[f"exec.stages.{name}"] = (run.execs.for_prefix(f"pbhl-{name}-t")[1], 1)
        total += b[0] + a[0]
    out["queries.headline_total_s"] = (total, len(HEADLINE))
    return out


def _host_probe_ms() -> float:
    """Median time of a fixed pure-Python loop: printed with the metrics so
    a run-to-run spread can be told apart from a slower host."""
    out = []
    for _ in range(5):
        t0 = time.perf_counter()
        sum(i * i for i in range(300_000))
        out.append((time.perf_counter() - t0) * 1e3)
    return st.median(out)


def _span_cost_us() -> float:
    """Cost of one traced span, measured on a throwaway tracer."""
    from perfbench.tracing import Tracer

    tr = Tracer(True)
    t0 = time.perf_counter()
    for _ in range(10000):
        with tr.span("x", "y"):
            pass
    return (time.perf_counter() - t0) / 10000 * 1e6


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM it launched: the JVM exits when its
    stdin pipe closes, which otherwise happens only as Python exits."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=120)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    import importlib.util

    if importlib.util.find_spec("lakehouse_sfc_spark") is None:
        print(f"perfbench: no lakehouse_sfc_spark package in {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_work")
    _reset_state(work)
    env = _pin_env(work)  # before anything starts a JVM or caches TMPDIR

    from perfbench import datagen, workloads
    from perfbench.tracing import Tracer

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    probe_ms = _host_probe_ms()
    data_dir = os.path.join(work, "data")
    rows = datagen.write_tables(data_dir, args.seed, datagen.SCALE)
    run = workloads.Run(
        root=ROOT,
        data_dir=data_dir,
        seed=args.seed,
        seconds=args.seconds,
        tracer=Tracer(bool(args.trace)),
    )
    wall0 = time.perf_counter()
    try:
        workloads.WORKLOADS[args.workload](run)
        if args.trace:
            workloads.headline(run, workloads.HEADLINE_PASSES[args.workload])
            floor_ms = workloads.stage_floor_ms(run.spark)
            rss_mb = workloads.jvm_peak_rss_mb(run.spark)
            run.execs.harvest()
            run.tracer.dump(os.path.join(work, f"spans-{args.workload}-{args.seed}.json"))
        with open(os.path.join(work, f"samples-{args.workload}-{args.seed}.json"), "w") as fh:
            json.dump({"samples": run.samples, "counts": run.counts}, fh)
    finally:
        if run.spark is not None:
            _stop(run.spark)
    print(f"env {json.dumps(env, sort_keys=True)}")
    print(f"workload {args.workload} seed {args.seed} rows {rows['lineitem']} "
          f"wall {time.perf_counter() - wall0:.1f}s host_probe {probe_ms:.2f}ms")
    for err in run.tally.errors:
        print(f"FAILED {err}")
    print(f"metric failed_frac = {run.tally.failed_frac:.6g} ratio "
          f"(n={run.tally.attempted})")
    if args.trace:
        values = per_layer(run, _span_cost_us(), floor_ms, rss_mb)
        for name, (v, n) in values.items():
            unit, e2e = PER_LAYER[name]
            print(f"layer {name} = {v:.6g} {unit} (n={n}) -> {e2e}")
        metrics = {k: {"value": v, "unit": PER_LAYER[k][0]} for k, (v, _) in values.items()}
    else:
        values = end_to_end(run)
        for name, (v, n) in values.items():
            print(f"metric {name} = {v:.6g} {END_TO_END[name]} (n={n})")
        q = run.samples["query_ms"]
        tail = math.floor((1.0 - 10.0 / len(q)) * 100) / 100
        if tail > 0.5:
            print(f"tail query_p{tail * 100:.0f}_ms = "
                  f"{st.percentile(q, tail):.6g} ms (n={len(q)})")
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, (v, _) in values.items()}
    print(json.dumps({
        "correct": run.tally.failed == 0,
        "attempted": run.tally.attempted,
        "failed": run.tally.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

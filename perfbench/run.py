#!/usr/bin/env python3
"""Benchmark of geo_db_spark: one command, every workload, every metric.

    python3 perfbench/run.py --workload geo_build --seed 1 --seconds 12 --trace 0

Load shape: a closed loop with one client. A single driver thread
submits the work on ``local[nproc]`` and waits for each result before it
sends the next. The only load knobs are the seed and the input size.

Each run starts a fresh process and Spark session (``get_spark`` with
one shuffle partition per core and a pinned 4g driver heap):

- ``geo_build``: one build of a seeded ~30k-entity dump. A one-shot
  build always starts cold, so its one pass is the cold pass.
- ``operator_mix``: one cold pass over the queries, three untimed
  warm-up passes, then timed passes until ``--seconds`` are used (at
  least one; 12 s gives two to six). The seed shuffles the query
  order of each pass; the data is the fixed sf0.01 copy under
  ``perfbench/data``.

With ``--trace 0`` the last stdout line carries the end-to-end metrics:

- ``setup_s``: process start until ``get_spark`` returns (one JVM
  launch per run; each launch costs ~8 s, so a run measures one);
- ``cold_pass_s``: the first pass in the fresh session;
- ``pass_s``: wall of a typical timed pass, the sum over its ops of
  each op's median wall (geo_build: its build);
- ``op_p50_s``: median wall of one blocking client call in the timed
  passes (a query execution; for geo_build a phase: ingest, post).

With ``--trace 1`` each call into a layer runs in its own Spark job
group (``spans.py``) and the line carries the per-layer metrics instead;
spans are written to ``perfbench/work/``. Layers that a workload does
not call read 0. The run context (cores, heap, versions, loadavg, steal,
peak RSS, error rate, job counts that repeated exactly) is the first
stdout line. Every output is checked (``workloads.py``); a failed check
or an exception is a failed op, and ``correct`` is false.

``pin.py`` regenerates the oracle-checked expected outputs and
``selftest.py`` checks the benchmark itself at smoke scale.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, "work")
HEAP = "4g"
WORKLOADS = ("geo_build", "operator_mix")
# untimed operator_mix passes after the cold one. Warm passes keep getting
# faster for a while (4 cores: ~2.9 s, 2.6 s, ..., ~2.2 s from the fifth
# pass on); timing them would make the median depend on how many passes
# the window holds, so on how fast the host happens to be
WARMUP_PASSES = 3


def _process_age_s() -> float:
    """Seconds since this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _prepare_env(work: str, cores: int) -> None:
    """Pin the session and keep every file Spark, the JVM and the Python
    workers write inside the work dir; let the workers import the repo."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    for var in ("SPARK_GRAFT_TUNE_OVERRIDES", "SPARK_GRAFT_MAX_RESULT"):
        os.environ.pop(var, None)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cores),
            "SPARK_GRAFT_DRIVER_MEM": HEAP,
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "TMPDIR": tmp,
            "PYSPARK_PYTHON": sys.executable,
            "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, BENCH, os.environ.get("PYTHONPATH")])),
            # every JVM of the launch chain, the launcher's too
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "SPARK_GRAFT_BUILDER_CONFS": ",".join(
                [
                    f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
                    "spark.ui.showConsoleProgress=false",
                ]
            ),
        }
    )
    sys.path[:0] = [ROOT, BENCH]


def _cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def _peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _stop(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None  # a later session launches a fresh JVM
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def _layer_totals(spans: list[dict], name: str, extra: tuple[str, ...], cores: int) -> dict:
    """Sum the spans of one layer in one pass; busy share is recomputed
    from the sums. ``task_skew`` keeps the worst span."""
    mine = [s for s in spans if s["name"] == name]
    out = {k: sum(s.get(k, 0.0) for s in mine) for k in ("wall_s", "jobs", "stages", "executor_s", "gc_s", "shuffle_mb", "spill_mb", *extra)}
    out["busy_share"] = out["executor_s"] / (out["wall_s"] * cores) if out["wall_s"] > 0 else 0.0
    if "task_skew" in extra:
        out["task_skew"] = max((s.get("task_skew", 0.0) for s in mine), default=0.0)
    return out


UNITS = {
    "wall_s": "s", "executor_s": "s", "gc_s": "s", "overhead_s": "s",
    "jobs": "count", "stages": "count", "entities": "count", "rows_out": "count",
    "final_rows": "count", "calls": "count",
    "busy_share": "ratio", "kept_ratio": "ratio", "task_skew": "ratio", "overhead_share": "ratio",
    "shuffle_mb": "MB", "spill_mb": "MB", "input_mb": "MB", "output_mb": "MB",
}
LAYERS = {
    "sources.read_entity_dump": ("input_mb", "entities"),
    "extract.extract_all": ("rows_out", "kept_ratio"),
    "pipeline.ingest": ("output_mb",),
    "plans.geo_post.post_process": ("final_rows",),
    "workload.construct": (),
    "workload.action": ("task_skew",),
}


def per_layer_metrics(pass_spans: list[list[dict]], io_by_pass, overheads, pass_walls, setup_s, cores, query_names) -> dict:
    """Per-layer metrics: per traced pass, then the median over passes.
    Layers a workload does not call read 0."""
    def med(values):
        return statistics.median(values) if values else 0.0

    flat: dict[str, list[float]] = {"session.get_spark.wall_s": [setup_s]}
    for spans, io, ovh, wall in zip(pass_spans, io_by_pass, overheads, pass_walls):
        for layer, extra in LAYERS.items():
            for k, v in _layer_totals(spans, layer, extra, cores).items():
                flat.setdefault(f"{layer}.{k}", []).append(v)
        flat.setdefault("io.load.wall_s", []).append(io[0])
        flat.setdefault("io.load.calls", []).append(io[1])
        for q in query_names:
            qs = [s for s in spans if s.get("query") == q]
            qwall = sum(s["wall_s"] for s in qs)
            qexec = sum(s["executor_s"] for s in qs)
            flat.setdefault(f"query.{q}.wall_s", []).append(qwall)
            flat.setdefault(f"query.{q}.jobs", []).append(sum(s["jobs"] for s in qs))
            flat.setdefault(f"query.{q}.busy_share", []).append(qexec / (qwall * cores) if qwall > 0 else 0.0)
        flat.setdefault("trace.overhead_s", []).append(ovh)
        flat.setdefault("trace.overhead_share", []).append(ovh / wall if wall > 0 else 0.0)
    return {k: {"value": med(v), "unit": UNITS[k.rsplit(".", 1)[1]]} for k, v in flat.items()}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result["context"]), flush=True)
    print(result["summary"], flush=True)
    print(json.dumps(result["report"]), flush=True)
    return 0


def run(workload: str, seed: int, seconds: float, trace: bool, scale: str = "full", expected: dict | None = None) -> dict:
    """One benchmark run in this process (the process's first Spark
    session, so ``setup_s`` means what it says)."""
    if not os.path.isdir(os.path.join(ROOT, "geo_db_spark")):
        raise SystemExit(f"geo_db_spark not found next to {BENCH}: run from a full checkout")
    cores = os.cpu_count() or 1
    work = os.path.join(WORK, workload)
    shutil.rmtree(work, ignore_errors=True)
    _prepare_env(work, cores)
    load_start, cpu_start = os.getloadavg(), _cpu_jiffies()

    from geo_db_spark.session import get_spark

    spark = get_spark(f"perfbench-{workload}", shuffle_partitions=cores)
    setup_s = _process_age_s()
    try:
        return _run_session(spark, workload, seed, seconds, trace, scale, expected, cores, setup_s, (load_start, cpu_start), work)
    finally:
        _stop(spark)


def _run_session(spark, workload, seed, seconds, trace, scale, expected, cores, setup_s, host_start, work) -> dict:
    import workloads as wl
    from spans import Tracer

    expected = wl.load_expected() if expected is None else expected
    tracer = Tracer(spark, cores, enabled=False)
    out = wl.Outcome()
    if workload == "geo_build":
        job = wl.GeoBuild(spark, tracer, work, seed, scale, expected)
        query_names: tuple[str, ...] = ()
    else:
        job = wl.QueryMix(spark, tracer, wl.OPERATOR_MIX, seed, scale, expected)
        query_names = wl.OPERATOR_MIX
    io_counter = _IoCounter() if trace else None

    passes = []  # (wall, op walls, spans, io, tracer overhead) per pass
    t_window = None
    while True:
        index = len(passes)
        tracer.enabled = trace
        n_spans, ovh0 = len(tracer.spans), tracer.overhead_s
        io0 = io_counter.snapshot() if io_counter else (0.0, 0)
        got = job.run_pass(out, index)
        io1 = io_counter.snapshot() if io_counter else (0.0, 0)
        if got is None:
            break
        passes.append((got[0], got[1], tracer.spans[n_spans:], (io1[0] - io0[0], io1[1] - io0[1]), tracer.overhead_s - ovh0))
        if workload == "geo_build":
            break
        if index == WARMUP_PASSES:
            t_window = time.perf_counter()  # the timed window opens after the warm-up
        elif t_window is not None and time.perf_counter() - t_window >= seconds:
            break
    if trace and workload == "geo_build" and passes:
        job.trace_layers()
    tracer.enabled = False
    if io_counter:
        io_counter.restore()
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    peak_rss_mb = _peak_rss_mb(jvm_pid)

    context = {
        "workload": workload,
        "seed": seed,
        "scale": scale,
        "nproc": cores,
        "master": spark.sparkContext.master,
        "driver_heap": HEAP,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "spark": spark.version,
        "jdk": spark._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "loadavg_start": host_start[0],
        "loadavg_end": os.getloadavg(),
        # CPU time the hypervisor gave to other guests during the run
        "steal_share": (_cpu_jiffies()[0] - host_start[1][0]) / max(1, _cpu_jiffies()[1] - host_start[1][1]),
        # G1 grows the heap lazily, so the JVM's peak RSS moves ±20% from
        # run to run: recorded here, not gated as a metric
        "peak_rss_mb": peak_rss_mb,
    }
    cold = passes[0] if passes else None
    warm = passes[1 + WARMUP_PASSES:] if workload == "operator_mix" else passes
    metrics: dict = {}
    if trace:
        traced = passes if workload == "geo_build" else warm
        extra_spans = [s for s in tracer.spans if s["name"] in ("sources.read_entity_dump", "extract.extract_all")]
        pass_spans = [p[2] + (extra_spans if workload == "geo_build" else []) for p in traced]
        metrics = per_layer_metrics(
            pass_spans, [p[3] for p in traced], [p[4] for p in traced],
            [p[0] for p in traced], setup_s, cores, wl.OPERATOR_MIX,
        )
        context["claimable_job_counts"] = _claimable(passes, query_names)
    elif cold and warm:
        op_walls = [w for p in warm for w in p[1].values()]
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "cold_pass_s": {"value": cold[0], "unit": "s"},
            "pass_s": {"value": _typical_pass_s(warm), "unit": "s"},
            "op_p50_s": {"value": statistics.median(op_walls), "unit": "s"},
        }
    context["op_samples"] = sum(len(p[1]) for p in warm)
    context["pass_walls"] = [p[0] for p in passes]
    context["op_walls"] = [p[1] for p in passes]
    context["error_rate"] = out.failed / out.attempted if out.attempted else 1.0
    context.update(out.info)
    context["errors"] = out.errors[:20]
    if trace:
        tracer.write(os.path.join(WORK, f"trace-{workload}-seed{seed}.json"), {"context": context})
    summary = (
        f"# {workload} seed={seed} attempted={out.attempted} failed={out.failed} "
        f"error_rate={context['error_rate']:.4f} passes={len(passes)} "
        + " ".join(f"{k}={v['value']:.4g}{v['unit']}" for k, v in metrics.items() if not k.startswith("query."))
    )
    report = {
        "correct": out.failed == 0 and bool(passes),
        "attempted": max(out.attempted, 1),
        "failed": out.failed if out.attempted else 1,
        "metrics": metrics,
    }
    return {"context": context, "summary": summary, "report": report}


def _typical_pass_s(timed) -> float:
    """Wall of a typical timed pass: the sum over its ops of each op's
    median wall across the timed passes. With two or three timed passes
    this uses every op's samples, where the median pass would take one
    pass whole, its one slow op included."""
    names = sorted({op for p in timed for op in p[1]})
    return sum(statistics.median(p[1][op] for p in timed if op in p[1]) for op in names)


def _claimable(passes, query_names) -> list[str]:
    """Queries whose job count repeated exactly over every traced pass:
    only those counts can back a count claim."""
    out = []
    for q in query_names:
        counts = {sum(s["jobs"] for s in p[2] if s.get("query") == q) for p in passes}
        if len(counts) == 1 and len(passes) > 1:
            out.append(q)
    return out


class _IoCounter:
    """Traced runs only: wraps ``geo_db_spark.io.load`` where each
    workload module bound it, counting calls and their wall time (the
    loads run inside the query constructors)."""

    def __init__(self):
        import geo_db_spark.io as gio
        from geo_db_spark import workload  # noqa: F401  (imports every workload module)

        self.wall_s, self.calls = 0.0, 0
        self._orig = gio.load
        self._patched = [m for name, m in list(sys.modules.items())
                         if name.startswith("geo_db_spark.workload.") and getattr(m, "load", None) is gio.load]

        def load(*a, **kw):
            t0 = time.perf_counter()
            try:
                return self._orig(*a, **kw)
            finally:
                self.wall_s += time.perf_counter() - t0
                self.calls += 1

        for m in self._patched:
            m.load = load

    def snapshot(self) -> tuple[float, int]:
        return self.wall_s, self.calls

    def restore(self) -> None:
        for m in self._patched:
            m.load = self._orig


if __name__ == "__main__":
    sys.exit(main())

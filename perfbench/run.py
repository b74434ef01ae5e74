"""End-to-end job benchmark for spreadsheet_etl_engine_spark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout.  One process: it starts a
SparkSession on ``local[<cores>]``, makes the workload's inputs and
expected outputs from the seed (``prepare.py``, untimed), runs the
workload's untimed warm-up iterations, then runs closed-loop iterations
(each starts when the last one, and its output check, has finished)
until ``--seconds`` of iteration time have been measured and at least
two iterations have run.  Every iteration's output is checked.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``.  With ``--trace 0`` the metrics are the
end-to-end ones; with ``--trace 1`` iterations alternate untraced and
traced, and the metrics are the per-layer ones from the traced
iterations (median over iterations), plus the tracing overhead.  The
traced run's spans are written to ``.perfbench_out/``.

Exits 0 when every output check passed, 1 when one failed, 2 when the
benchmark could not run at all (for example, no package to run).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")

import host  # noqa: E402

END_TO_END = [
    ("setup_s", "s"),
    ("rows_per_s", "1/s"),
    ("ok_ratio", "ratio"),
]

# Per-layer metrics of the traced run.  A metric of a layer a workload
# does not call reads 0 on that workload.
PER_LAYER = [
    ("session.get_spark_s", "s"),
    ("mem.peak_pss_mb", "MB"),
    ("mem.jvm_pss_mb", "MB"),
    ("mem.driver_pss_mb", "MB"),
    ("mem.workers_pss_mb", "MB"),
    ("plans.parse_s", "s"),
    ("plans.build_s", "s"),
    ("readers.s", "s"),
    ("readers.scan_tasks", "count"),
    ("readers.input_bytes", "bytes"),
    ("writers.s", "s"),
    ("writers.output_bytes", "bytes"),
    ("writers.files", "count"),
    ("xlsx_native.read_s", "s"),
    ("xlsx_native.read_calls", "count"),
    ("xlsx_native.cells_parsed_ratio", "ratio"),
    ("xlsx_native.write_s", "s"),
    ("xlsx_native.bytes_written", "bytes"),
    ("jobs.self_s", "s"),
    ("jobs.spark_jobs", "count"),
    ("dedup.clusters_s", "s"),
    ("dedup.clusters_spark_jobs", "count"),
    ("dedup.semantic_s", "s"),
    ("dedup.shuffle_bytes", "bytes"),
    ("similarity.train_s", "s"),
    ("similarity.query_s", "s"),
    ("similarity.recall_at_k", "ratio"),
    ("stream.batches", "count"),
    ("stream.add_batch_ms_p50", "ms"),
    ("stream.planning_ms_p50", "ms"),
    ("stream.commit_ms_p50", "ms"),
    ("stream.state_rows", "count"),
    ("stream.state_mem_bytes", "bytes"),
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.executor_run_ms", "ms"),
    ("spark.executor_cpu_ms", "ms"),
    ("spark.gc_ms", "ms"),
    ("spark.shuffle_read_bytes", "bytes"),
    ("spark.shuffle_write_bytes", "bytes"),
    ("spark.spill_bytes", "bytes"),
    ("spark.core_busy_ratio", "ratio"),
    ("trace.rows_per_s_delta", "1/s"),
]


# Iterations every run measures, with --seconds short enough that no
# more fit: runs then differ only in how fast their iterations ran.  A
# run of two or of three would take its median from the still-warming
# first iteration and a settled one, or from a settled one alone.
MIN_ITERATIONS = 2


class _NoTrace:
    """Stands in for the tracer in untraced iterations."""

    def span(self, name, layer):
        return contextlib.nullcontext()


def log(msg: str) -> None:
    print(f"perfbench [{host.process_age_s():7.2f}s] {msg}", file=sys.stderr,
          flush=True)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def _environment(work: str) -> None:
    """Session settings that keep every file the run writes inside the
    checkout; the engine's own defaults are otherwise untouched."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_session(work: str):
    """SparkSession up plus one trivial job on every core through the
    Python worker daemon.  Returns (spark, seconds since process start,
    seconds inside get_spark)."""
    from spreadsheet_etl_engine_spark import get_spark

    tmp = os.path.join(work, "tmp")
    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf={
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    })
    get_spark_s = time.perf_counter() - t0
    sc = spark.sparkContext
    sc.parallelize(range(cores()), cores()).map(lambda x: x + 1).sum()
    setup_s = host.process_age_s()
    sc.setLogLevel("ERROR")
    return spark, setup_s, get_spark_s


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM and its Python workers are gone."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 15
    while host.descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)
    for pid in host.descendants(os.getpid()):
        with contextlib.suppress(ProcessLookupError):
            os.kill(pid, 9)


def _parts_text(result: dict | None) -> str:
    """A combined workload's seconds per part, for the log line."""
    parts = (result or {}).get("parts_s", {})
    return "".join(f" {k} {v:.2f}s" for k, v in parts.items())


def _median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def layer_metrics(spans: list[dict], jobs: list[dict], wall_s: float,
                  result: dict, wl) -> dict[str, float]:
    """Per-layer metrics of one traced iteration."""
    from spans import job_totals, jobs_under, layer_self_times

    by_layer = layer_self_times(spans)
    own = lambda layer: by_layer.get(layer, 0.0)  # noqa: E731
    m = {
        "plans.parse_s": own("plans.parse"),
        "plans.build_s": own("plans.build"),
        "readers.s": own("readers"),
        "writers.s": own("writers"),
        "xlsx_native.read_s": own("xlsx_native.read"),
        "xlsx_native.write_s": own("xlsx_native.write"),
        "jobs.self_s": own("jobs"),
    }
    scans = [st for j in jobs_under(spans, jobs, lambda s: s["layer"] == "writers")
             for st in j["stages"] if st.get("inputBytes", 0) > 0]
    m["readers.scan_tasks"] = sum(st["numCompleteTasks"] for st in scans)
    m["readers.input_bytes"] = sum(st["inputBytes"] for st in scans)
    writes = [s for s in spans if s["layer"] == "writers"]
    m["writers.output_bytes"] = sum(s["counters"].get("bytes", 0) for s in writes)
    m["writers.files"] = sum(s["counters"].get("files", 0) for s in writes)
    reads = [s for s in spans if s["name"] == "xlsx_native.read_workbook"]
    m["xlsx_native.read_calls"] = len(reads)
    cells = sum(s["counters"].get("cells", 0) for s in reads)
    m["xlsx_native.cells_parsed_ratio"] = (
        cells / wl.cells if getattr(wl, "cells", 0) else 0.0)
    m["xlsx_native.bytes_written"] = sum(
        s["counters"].get("bytes", 0) for s in spans
        if s["layer"] == "xlsx_native.write")
    m["jobs.spark_jobs"] = len(jobs_under(spans, jobs,
                                          lambda s: s["layer"] == "jobs"))
    m.update(wl.layer_metrics(spans, jobs, result))
    totals = job_totals(jobs)
    for k in ("jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms",
              "gc_ms", "shuffle_read_bytes", "shuffle_write_bytes",
              "spill_bytes"):
        m[f"spark.{k}"] = totals[k]
    m["spark.core_busy_ratio"] = totals["executor_run_ms"] / (
        wall_s * 1000 * cores())
    return m


def stream_metrics(progress: list[dict]) -> dict:
    """Micro-batch figures of one drained stream, from its progress
    reports (``durationMs`` phases and the state operator's size)."""
    def p50(keys):
        return _median([sum(p["durationMs"].get(k, 0) for k in keys)
                        for p in progress])

    state = (progress[-1].get("stateOperators") or [{}])[0] if progress else {}
    return {
        "batch_s": [p["durationMs"]["triggerExecution"] / 1000
                    for p in progress],
        "stream.batches": len(progress),
        "stream.add_batch_ms_p50": p50(["addBatch"]),
        "stream.planning_ms_p50": p50(["queryPlanning"]),
        "stream.commit_ms_p50": p50(["walCommit", "commitOffsets"]),
        "stream.state_rows": state.get("numRowsTotal", 0),
        "stream.state_mem_bytes": state.get("memoryUsedBytes", 0),
    }


def prepare(workload: str, seed: int, work: str) -> tuple[dict, dict]:
    """Inputs and expected outputs for the seed, made by ``prepare.py``
    in its own process."""
    inputs = os.path.join(work, "inputs")
    subprocess.run([sys.executable, os.path.join(HERE, "prepare.py"),
                    workload, str(seed), inputs], check=True)
    with open(os.path.join(inputs, "inputs.json")) as fh:
        meta = json.load(fh)
    with open(os.path.join(inputs, "expected.json")) as fh:
        return meta, json.load(fh)


def run_iteration(wl, tracer) -> tuple[float, dict | None, list[str]]:
    """One closed-loop iteration and its untimed check: (wall s, result,
    problems).  An exception fails the iteration, never the run."""
    wl.reset()
    t0 = time.perf_counter()
    try:
        with tracer.span("iteration", "bench"):
            result = wl.iteration(tracer)
    except Exception:
        wall = time.perf_counter() - t0
        return wall, None, ["iteration raised:\n" + traceback.format_exc()]
    wall = time.perf_counter() - t0
    try:
        problems = wl.check(result)
    except Exception:
        problems = ["output check raised:\n" + traceback.format_exc()]
    log(f"output check {time.perf_counter() - t0 - wall:.2f}s")
    return wall, result, problems


def measure(args, spark, wl, get_spark_s: float) -> tuple[dict, list[dict]]:
    from spans import SparkStatus, Tracer, attach_jobs, layer_self_times
    from workloads import trace_targets

    tracer = Tracer()
    status = SparkStatus(spark) if args.trace else None
    records: list[dict] = []
    measured = 0.0
    i = 0
    ticks = host.cpu_ticks()
    # Memory is a per-layer figure.  Sampling it reads every process's
    # page tables four times a second, so untraced runs, which give the
    # end-to-end figures, leave it out.
    sampler = host.MemorySampler() if args.trace else contextlib.nullcontext()
    with sampler as mem:
        while True:
            traced = bool(args.trace) and i % 2 == 1
            rec = {"traced": traced}
            if traced:
                tracer.iteration = i
                for owner, attr, layer, counters in trace_targets():
                    tracer.wrap(owner, attr, layer, counters)
                t_epoch = time.time()
                try:
                    wall, result, problems = run_iteration(wl, tracer)
                finally:
                    tracer.unwrap_all()
                spans = [s for s in tracer.spans if s["iteration"] == i]
                jobs = status.jobs_since(t_epoch)
                attach_jobs(spans, jobs)
                for s in spans:
                    s["spark_jobs"] = [j["jobId"] for j in jobs
                                       if j["span"] == s["id"]]
                rec["layers"] = layer_metrics(spans, jobs, wall, result or {}, wl)
                rec["layer_self_s"] = layer_self_times(spans)
            else:
                wall, result, problems = run_iteration(wl, _NoTrace())
            rec.update(wall_s=wall, problems=problems,
                       rows_per_s=0.0 if problems else wl.rows / wall)
            if result is not None and "progress" in result:
                rec["stream"] = stream_metrics(result["progress"])
            records.append(rec)
            log(f"iteration {i}{' traced' if traced else ''} {wall:.2f}s"
                + _parts_text(result)
                + (f" FAILED: {problems[0][:200]}" if problems else ""))
            measured += wall
            i += 1
            if measured >= args.seconds and i >= MIN_ITERATIONS:
                break
    plain = [r for r in records if not r["traced"]]
    summary = {
        "rows_per_s": _median([r["rows_per_s"] for r in plain]),
        "ok_ratio": sum(not r["problems"] for r in records) / len(records),
        "iterations": len(plain),
        "host_steal_ratio": host.steal_ratio(ticks, host.cpu_ticks()),
    }
    if any("stream" in r for r in plain):
        # Micro-batch latency pooled over the untraced iterations; the
        # other stream figures are medians over iterations.
        batches = [b for r in plain for b in r["stream"].pop("batch_s")]
        summary["stream"] = {
            "batch_p50_s": _median(batches), "batch_samples": len(batches),
            **{k: _median([r["stream"][k] for r in plain])
               for k in plain[0]["stream"]}}
    if args.trace:
        summary["mem.peak_pss_mb"] = mem.peak / 2**20
        summary.update({f"mem.{k}_pss_mb": v / 2**20
                        for k, v in mem.peak_parts.items()})
        traced = [r for r in records if r["traced"]]
        layers = {name: _median([r["layers"][name] for r in traced])
                  for name in traced[0]["layers"]}
        layers["session.get_spark_s"] = get_spark_s
        layers.update({k: v for k, v in summary.get("stream", {}).items()
                       if k.startswith("stream.")})
        layers.update({k: v for k, v in summary.items()
                       if k.startswith("mem.")})
        layers["trace.rows_per_s_delta"] = (
            _median([r["rows_per_s"] for r in traced]) - summary["rows_per_s"])
        summary["layers"] = layers
        summary["spans"] = tracer.spans
    return summary, records


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["sheet_job", "workbook", "curation",
                             "stream_dedup", "jobs_stream"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "spreadsheet_etl_engine_spark")):
        print(f"perfbench: no spreadsheet_etl_engine_spark package under "
              f"{ROOT}; run from the root of a source checkout",
              file=sys.stderr)
        return 2
    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    _environment(work)
    spark = None
    try:
        spark, setup_s, get_spark_s = start_session(work)
        log(f"session up, setup_s={setup_s:.2f}")
        meta, expected = prepare(args.workload, args.seed, work)
        log("inputs and expected outputs ready")
        evidence = host.evidence()
        print("perfbench host: " + json.dumps(evidence, sort_keys=True),
              flush=True)
        from workloads import WORKLOADS

        wl = WORKLOADS[args.workload](spark, meta, expected,
                                      os.path.join(work, "out"))
        for _ in range(wl.warmups):
            wl.reset()
            t0 = time.perf_counter()
            result = wl.iteration(_NoTrace())
            log(f"warm-up iteration {time.perf_counter() - t0:.2f}s"
                + _parts_text(result))
        summary, records = measure(args, spark, wl, get_spark_s)
        log("measured")
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        log("stopped")

    failed = [r for r in records if r["problems"]]
    for r in failed:
        print("perfbench check failed: " + "; ".join(r["problems"]),
              file=sys.stderr)
    e2e = {"setup_s": setup_s, "rows_per_s": summary["rows_per_s"],
           "ok_ratio": summary["ok_ratio"]}
    print(f"perfbench {args.workload} seed={args.seed} input_rows={wl.rows} "
          f"iterations={summary['iterations']} "
          + " ".join(f"{k}={v:.6g} {u}" for (k, u), v in
                     zip(END_TO_END, e2e.values()))
          + f" failed_ratio={len(failed)}/{len(records)}"
          + f" host_steal_ratio={summary['host_steal_ratio']:.3f} "
          + " ".join(f"{k}={v:.1f} MB" for k, v in summary.items()
                     if k.startswith("mem.")), flush=True)
    if "stream" in summary:
        print("perfbench stream: " + json.dumps(summary["stream"]), flush=True)
    if args.trace:
        metrics = {name: {"value": summary["layers"].get(name, 0.0),
                          "unit": unit} for name, unit in PER_LAYER}
        self_s: dict[str, list[float]] = {}
        for r in records:
            for layer, s in r.get("layer_self_s", {}).items():
                self_s.setdefault(layer, []).append(s)
        layer_self = {k: _median(v) for k, v in sorted(self_s.items())}
        print("perfbench layer self seconds (median per traced iteration): "
              + json.dumps(layer_self), flush=True)
        print("perfbench per-layer: " + json.dumps(summary["layers"]),
              flush=True)
        from spans import write_trace

        path = os.path.join(OUT, f"trace-{args.workload}-seed{args.seed}.json")
        write_trace(path, {"workload": args.workload, "seed": args.seed,
                           "host": evidence,
                           "host_steal_ratio": summary["host_steal_ratio"],
                           "end_to_end": e2e,
                           "layer_self_s": layer_self,
                           "per_layer": summary["layers"],
                           "iterations": records, "spans": summary["spans"]})
        print(f"perfbench trace written to {os.path.relpath(path, ROOT)}",
              flush=True)
    else:
        metrics = {name: {"value": e2e[name], "unit": unit}
                   for name, unit in END_TO_END}
    print(json.dumps({"correct": not failed, "attempted": len(records),
                      "failed": len(failed), "metrics": metrics}), flush=True)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())

"""The workloads: one closed-loop iteration each, its output check,
and the layer functions a traced iteration wraps.

Every iteration calls the package the way a user would, through its
public entry points, and leaves one output for ``check`` to compare
against the expected values ``prepare.py`` computed for the seed.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import pyarrow.parquet as pq

import gen
import oracle


def _parquet_rows(path: str, columns: list[str] | None = None):
    """(column names, rows) of a parquet directory written by Spark."""
    table = pq.read_table(path, columns=columns)
    cols = [table.column(i).to_pylist() for i in range(table.num_columns)]
    return table.column_names, list(zip(*cols))


def _dir_files(path: str) -> tuple[int, int]:
    """(data files, bytes) under a Spark output directory."""
    files = size = 0
    for root, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        for n in names:
            if not n.startswith((".", "_")):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


def _write_counters(args, kwargs, result):
    path = kwargs.get("path", args[1] if len(args) > 1 else None)
    files, size = _dir_files(path)
    return {"files": files, "bytes": size}


def _read_workbook_counters(args, kwargs, result):
    header, rows, _ = result
    return {"cells": (1 + len(rows)) * len(header) if header else 0}


def _write_workbook_counters(args, kwargs, result):
    return {"bytes": os.path.getsize(args[0])}


def trace_targets():
    """(module, attribute, layer, counters) for every wrapped function.
    Modules that import a function by name get their own entry, since
    they call through their own attribute."""
    from spreadsheet_etl_engine_spark import config, jobs
    from spreadsheet_etl_engine_spark import ext_queries
    from spreadsheet_etl_engine_spark.operators import dedup, quality, similarity
    from spreadsheet_etl_engine_spark.plans import parser, runner
    from spreadsheet_etl_engine_spark.sources import readers, writers, xlsx_native
    from spreadsheet_etl_engine_spark.streaming import dedup as sdedup

    return [
        (jobs, "run_job", "jobs", None),
        (jobs, "run_workbook", "jobs", None),
        (config, "load_config", "plans.parse", None),
        (jobs, "load_config", "plans.parse", None),
        (parser, "parse_mapping", "plans.parse", None),
        (parser, "parse_map_table", "plans.parse", None),
        (jobs, "parse_map_table", "plans.parse", None),
        (runner, "run_mapping", "plans.build", None),
        (jobs, "run_mapping", "plans.build", None),
        (readers, "read_csv", "readers", None),
        (jobs, "read_csv", "readers", None),
        (readers, "read_excel", "readers", None),
        (readers, "load_table", "readers", None),
        (ext_queries, "load_table", "readers", None),
        (writers, "write_parquet", "writers", _write_counters),
        (jobs, "write_parquet", "writers", _write_counters),
        (xlsx_native, "sheet_names", "xlsx_native.read", None),
        (xlsx_native, "read_workbook", "xlsx_native.read",
         _read_workbook_counters),
        (xlsx_native, "write_workbook_multi", "xlsx_native.write",
         _write_workbook_counters),
        (quality, "validate_constraints", "quality", None),
        (quality, "check_constraints", "quality", None),
        (quality, "assert_constraints", "quality", None),
        (dedup, "duplicate_clusters", "dedup.clusters", None),
        (dedup, "semantic_dedup", "dedup.semantic", None),
        (similarity, "train_ivfpq", "similarity.train", None),
        (similarity, "topk_ivfpq", "similarity.query", None),
        (similarity, "topk_bruteforce", "similarity.query", None),
        (sdedup, "read_document_stream", "streaming", None),
        (sdedup, "band_candidates_stream", "streaming", None),
    ]


class _Workload:
    """One workload: ``iteration`` runs it once, ``check_result`` checks
    what the call returned and ``check_output`` what it wrote to
    ``self.out``."""

    # Untimed iterations before measuring.  The first pays class loading,
    # code generation and Python worker start-up; the second runs 10-25%
    # slower than settled ones while the JIT warms.  Measuring it would
    # make the median depend on whether two or three iterations fit in
    # the run.
    warmups = 2

    def reset(self) -> None:
        """Untimed clean-up before an iteration: the last iteration's
        output is removed, so an iteration that writes nothing fails
        its check."""
        if os.path.isdir(self.out):
            shutil.rmtree(self.out)
        elif os.path.exists(self.out):
            os.remove(self.out)

    def check(self, result: dict) -> list[str]:
        """Problems with one iteration's returned figures and written
        output."""
        return self.check_result(result) + self.check_output(result)

    def check_result(self, result: dict) -> list[str]:
        return []

    def layer_metrics(self, spans: list[dict], jobs: list[dict],
                      result: dict) -> dict[str, float]:
        """Per-layer figures only this workload has, from one traced
        iteration's spans and Spark jobs."""
        return {}


class SheetJob(_Workload):
    """``run_job`` in fidelity mode: CSV source, Map table from parquet,
    report-mode constraints riding the write, parquet sink, post-write
    count and a history append."""

    def __init__(self, spark, meta: dict, expected: dict, work: str) -> None:
        from spreadsheet_etl_engine_spark.operators import quality as Q

        self.spark = spark
        self.expected = expected
        self.rows = meta["rows"]
        self.out = os.path.join(work, "out.parquet")
        self.history = os.path.join(work, "history")
        self.config = {"source": meta["source"], "map": meta["map"],
                       "output": self.out}
        self.constraints = [
            getattr(Q, kind)(name, column, *(() if arg is None else (arg,)))
            for kind, name, column, arg in oracle.SHEET_CONSTRAINTS]

    def iteration(self, tracer) -> dict:
        from spreadsheet_etl_engine_spark import jobs

        res = jobs.run_job(self.spark, config=self.config, mode="fidelity",
                           constraints=self.constraints,
                           on_violation="report", history_path=self.history)
        return {"rows_written": res.rows_written, "violations": res.violations}

    def reset(self) -> None:
        super().reset()
        shutil.rmtree(self.history, ignore_errors=True)

    def check_result(self, result: dict) -> list[str]:
        return oracle.check_sheet_job_result(
            self.expected, result["rows_written"], result["violations"])

    def check_output(self, result: dict) -> list[str]:
        return oracle.check_sheet_job_output(self.expected,
                                             *_parquet_rows(self.out))


class Workbook(_Workload):
    """``run_workbook`` xlsx -> xlsx: Dashboard, Map and a source sheet
    in, the same workbook plus the Output sheet out."""

    def __init__(self, spark, meta: dict, expected: dict, work: str) -> None:
        self.spark = spark
        self.expected = expected
        self.rows = meta["rows"]
        self.cells = meta["cells"]
        self.book = meta["book"]
        os.makedirs(work, exist_ok=True)
        self.out = os.path.join(work, "out.xlsx")

    def iteration(self, tracer) -> dict:
        from spreadsheet_etl_engine_spark import jobs

        res = jobs.run_workbook(self.spark, self.book, self.out)
        return {"rows_written": res.rows_written}

    def check_result(self, result: dict) -> list[str]:
        return oracle.check_workbook_result(self.expected,
                                            result["rows_written"])

    def check_output(self, result: dict) -> list[str]:
        return oracle.check_workbook_output(self.expected,
                                            oracle.read_xlsx(self.out))


CURATION_QUERIES = ("curation_pipeline_decisions", "dedup_semantic",
                    "similarity_topk_ivfpq")


class Curation(_Workload):
    """Three registered curation queries, each into a parquet sink.  One
    warm-up, so that the benchmark's runs fit its time budget: the
    first measured iteration runs about 20% slower than the rest."""

    warmups = 1

    def __init__(self, spark, meta: dict, expected: dict, work: str) -> None:
        self.spark = spark
        self.expected = expected
        self.rows = meta["rows"]
        self.sf_dir = meta["sf_dir"]
        self.out = os.path.join(work, "out")
        self.recall = 0.0      # IVF-PQ recall@k of the last checked output

    def iteration(self, tracer) -> dict:
        from spreadsheet_etl_engine_spark import registry
        from spreadsheet_etl_engine_spark.sources import writers

        for name in CURATION_QUERIES:
            with tracer.span(f"curation.{name}", "bench"):
                with tracer.span(f"query.{name}", "registry"):
                    df = registry.get(name).fn(self.spark, self.sf_dir)
                writers.write_parquet(df, os.path.join(self.out, name))
        return {}

    def layer_metrics(self, spans, jobs, result):
        from spans import job_totals, jobs_under, outer_duration

        def dur(pred):
            return outer_duration(spans, pred)

        train = dur(lambda s: s["layer"] == "similarity.train")
        dedup_jobs = jobs_under(spans, jobs, lambda s: s["name"] in (
            "curation.curation_pipeline_decisions", "curation.dedup_semantic"))
        return {
            "dedup.clusters_s": dur(lambda s: s["layer"] == "dedup.clusters"),
            "dedup.clusters_spark_jobs": len(jobs_under(
                spans, jobs, lambda s: s["layer"] == "dedup.clusters")),
            "dedup.semantic_s": dur(
                lambda s: s["name"] == "curation.dedup_semantic"),
            "dedup.shuffle_bytes": job_totals(dedup_jobs)["shuffle_write_bytes"],
            "similarity.train_s": train,
            "similarity.query_s": dur(
                lambda s: s["name"] == "curation.similarity_topk_ivfpq") - train,
            "similarity.recall_at_k": self.recall,
        }

    def check_output(self, result: dict) -> list[str]:
        outputs = {
            name: _parquet_rows(os.path.join(self.out, name),
                                self.expected["columns"][name])[1]
            for name in oracle.CURATION_ORACLE_QUERIES}
        _, ann = _parquet_rows(os.path.join(self.out, "similarity_topk_ivfpq"),
                               ["query_id", "neighbor_id"])
        self.recall = oracle.recall_at_k(self.expected, ann)
        return oracle.check_curation(self.expected, outputs, ann)


def _progress_dicts(query) -> list[dict]:
    return [p if isinstance(p, dict) else json.loads(p.json)
            for p in query.recentProgress]


class StreamDedup(_Workload):
    """``read_document_stream`` (one file per trigger) into
    ``band_candidates_stream``, parquet sink with a checkpoint, drained
    with ``availableNow``; the session's default confs throughout."""

    def __init__(self, spark, meta: dict, expected: dict, work: str) -> None:
        self.spark = spark
        self.expected = expected
        self.rows = meta["rows"]
        self.feed = meta["feed"]
        self.out = os.path.join(work, "pairs")
        self.checkpoint = os.path.join(work, "checkpoint")

    def reset(self) -> None:
        super().reset()
        shutil.rmtree(self.checkpoint, ignore_errors=True)

    def iteration(self, tracer) -> dict:
        from spreadsheet_etl_engine_spark.streaming import dedup as SD

        stream = SD.read_document_stream(self.spark, self.feed,
                                         max_files_per_trigger=1)
        pairs = SD.band_candidates_stream(stream, "text", "doc_id",
                                          num_hashes=8, bands=4)
        with tracer.span("stream.run", "streaming"):
            query = (pairs.writeStream.format("parquet")
                     .option("path", self.out)
                     .option("checkpointLocation", self.checkpoint)
                     .outputMode("append")
                     .trigger(availableNow=True)
                     .start())
            try:
                query.awaitTermination()
            finally:
                query.stop()
        return {"progress": _progress_dicts(query)}

    def check_output(self, result: dict) -> list[str]:
        _, rows = _parquet_rows(self.out, ["id_a", "id_b"])
        return oracle.check_stream(self.expected, set(rows))


class Combined(_Workload):
    """Several workloads run one after another in one iteration, each on
    its own inputs and output, so that the benchmark's listed runs
    reach every layer within its time budget.  One warm-up, for the
    same reason: the first measured iteration runs about 10% slower
    than the rest."""

    warmups = 1

    def __init__(self, spark, meta: dict, expected: dict, work: str) -> None:
        self.rows = meta["rows"]
        self.parts = {name: WORKLOADS[name](spark, meta["parts"][name],
                                            expected[name],
                                            os.path.join(work, name))
                      for name in gen.COMBINED[meta["workload"]]}
        self.cells = sum(getattr(p, "cells", 0) for p in self.parts.values())

    def reset(self) -> None:
        for part in self.parts.values():
            part.reset()

    def iteration(self, tracer) -> dict:
        results, parts_s = {}, {}
        for name, part in self.parts.items():
            t0 = time.perf_counter()
            results[name] = part.iteration(tracer)
            parts_s[name] = time.perf_counter() - t0
        out = {"parts": results, "parts_s": parts_s}
        for r in results.values():
            if "progress" in r:
                out["progress"] = r["progress"]
        return out

    def check(self, result: dict) -> list[str]:
        return [problem for name, part in self.parts.items()
                for problem in part.check(result["parts"][name])]


WORKLOADS = {
    "sheet_job": SheetJob,
    "workbook": Workbook,
    "curation": Curation,
    "stream_dedup": StreamDedup,
    "jobs_stream": Combined,
}

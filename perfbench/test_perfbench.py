"""Self-tests of the benchmark: seeded inputs, output checks, span
arithmetic.  No Spark session is needed.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import os

import pytest

import gen
import oracle
import spans
from tests.reference_impl import run_mapping_reference


# --------------------------------------------------------------------
# seeded inputs
# --------------------------------------------------------------------

def _inputs(workload: str, seed: int, out_dir) -> dict[str, bytes]:
    """Every file the program reads, by path relative to ``out_dir``
    (``inputs.json`` only describes them)."""
    gen.generate(workload, seed, str(out_dir))
    return {str(p.relative_to(out_dir)): p.read_bytes()
            for p in sorted(out_dir.rglob("*"))
            if p.is_file() and p.name != "inputs.json"}


@pytest.mark.parametrize("workload",
                         sorted(gen.GENERATORS) + sorted(gen.COMBINED))
def test_same_seed_same_bytes_other_seed_other_bytes(workload, tmp_path):
    a = _inputs(workload, 7, tmp_path / "a")
    b = _inputs(workload, 7, tmp_path / "b")
    c = _inputs(workload, 8, tmp_path / "c")
    assert a == b
    assert a.keys() == c.keys()
    assert all(a[k] != c[k] for k in a if not k.endswith("map.parquet"))


def test_sheet_rows_hold_the_planted_cells():
    rows = gen.sheet_rows(3, 20_000)
    notes = [r[-1] for r in rows]
    assert any("\n" in n for n in notes)
    assert any("," in n for n in notes)
    assert any(n == "" for n in notes)
    assert any(r[4] == "" for r in rows)


# --------------------------------------------------------------------
# output checks reject planted wrong outputs
# --------------------------------------------------------------------

def _sheet_reference(seed: int, n_rows: int):
    rows = gen.sheet_rows(seed, n_rows)
    rules = [tuple(r) for r in gen.SHEET_MAP[1:]]
    return run_mapping_reference(gen.SHEET_HEADER, rows, rules,
                                 formula_eval=oracle._formula_eval)


def test_sheet_job_check_rejects_dropped_row_and_altered_cell():
    expected = oracle.sheet_job_expected(5, 1_000)
    header, out = _sheet_reference(5, 1_000)
    rows = [tuple(r) for r in out]
    n, viol = len(rows), expected["violations"]
    assert oracle.check_sheet_job_output(expected, header, rows) == []
    assert oracle.check_sheet_job_result(expected, n, viol) == []
    assert oracle.check_sheet_job_output(expected, header, rows[1:])
    assert oracle.check_sheet_job_result(expected, n - 1, viol)
    altered = list(rows)
    altered[3] = altered[3][:2] + ("Nowhere",) + altered[3][3:]
    assert oracle.check_sheet_job_output(expected, header, altered)
    assert oracle.check_sheet_job_result(expected, n,
                                         {**viol, "city_plain": 0})


def _output_workbook(path: str, seed: int, mutate=None) -> None:
    """The workbook ``run_workbook`` should write: the input sheets
    unchanged plus the reference Output sheet."""
    sheets = gen.workbook_sheets(seed, gen.SHAPES["workbook"])
    data = oracle.display_grid(dict(sheets)["Data"])
    header, out = run_mapping_reference(
        data[0], data[1:], [tuple(r) for r in gen.WB_MAP[1:]],
        formula_eval=oracle._formula_eval)
    sheets.append(("Output", [header] + out))
    if mutate:
        mutate(dict(sheets))
    gen.write_xlsx(path, sheets)


def test_workbook_check_rejects_dropped_row_and_altered_cell(tmp_path):
    expected = oracle.workbook_expected(4)
    n = expected["output"]["rows"]
    good = str(tmp_path / "good.xlsx")
    _output_workbook(good, 4)
    assert oracle.check_workbook_output(expected, oracle.read_xlsx(good)) == []
    assert oracle.check_workbook_result(expected, n) == []
    assert oracle.check_workbook_result(expected, n - 1)

    dropped = str(tmp_path / "dropped.xlsx")
    _output_workbook(dropped, 4, lambda s: s["Output"].pop())
    assert oracle.check_workbook_output(expected, oracle.read_xlsx(dropped))

    def alter_notes(s):
        s["Notes"][5][2] = "changed"
    altered = str(tmp_path / "altered.xlsx")
    _output_workbook(altered, 4, alter_notes)
    assert oracle.check_workbook_output(expected, oracle.read_xlsx(altered))


def _sheet_job_workload(tmp_path):
    """A SheetJob whose expected values cover 1,000 rows, and the
    figures plus parquet output a correct iteration leaves."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    import workloads

    wl = workloads.SheetJob.__new__(workloads.SheetJob)
    wl.expected = oracle.sheet_job_expected(5, 1_000)
    wl.out = str(tmp_path / "out.parquet")
    wl.history = str(tmp_path / "history")
    header, out = _sheet_reference(5, 1_000)

    def write():
        os.makedirs(wl.out, exist_ok=True)
        pq.write_table(pa.table({h: [r[i] for r in out]
                                 for i, h in enumerate(header)}),
                       os.path.join(wl.out, "part-0.parquet"))
    return wl, write, {"rows_written": len(out),
                       "violations": wl.expected["violations"]}


def _workbook_workload(tmp_path):
    import workloads

    wl = workloads.Workbook.__new__(workloads.Workbook)
    wl.expected = oracle.workbook_expected(4)
    wl.out = str(tmp_path / "out.xlsx")
    return (wl, lambda: _output_workbook(wl.out, 4),
            {"rows_written": wl.expected["output"]["rows"]})


@pytest.mark.parametrize("make", [_sheet_job_workload, _workbook_workload])
def test_an_iteration_that_writes_nothing_fails_its_check(make, tmp_path):
    """The last iteration's output is removed before the next runs, so
    an iteration that returns the right figures but writes no output
    fails, even though a correct output was there before."""
    import run

    wl, write, figures = make(tmp_path)
    write()
    assert wl.check(figures) == []
    wl.iteration = lambda tracer: write() or figures
    assert run.run_iteration(wl, run._NoTrace())[2] == []
    wl.iteration = lambda tracer: figures
    _, _, problems = run.run_iteration(wl, run._NoTrace())
    assert problems and "output check raised" in problems[0]


def _curation_case():
    outputs = {
        "curation_pipeline_decisions": [(1, "keep", "train"),
                                        (2, "drop:near_dup", None),
                                        (3, "drop:short", None)],
        "dedup_semantic": [(1, 0, 0.5, "keep"), (2, 0, 0.25, "keep")],
    }
    topk = {str(q): [q, q + 10, q + 20, q + 30, q + 40]
            for q in range(oracle.IVFPQ_QUERIES)}
    ann = [(int(q), n) for q, ns in topk.items() for n in ns]
    expected = {"oracle": {k: oracle.digest(v) for k, v in outputs.items()},
                "topk": topk}
    return expected, outputs, ann


def test_curation_check_rejects_dropped_row_altered_cell_and_low_recall():
    expected, outputs, ann = _curation_case()
    assert oracle.check_curation(expected, outputs, ann) == []
    name = "curation_pipeline_decisions"
    assert oracle.check_curation(
        expected, {**outputs, name: outputs[name][:-1]}, ann)
    altered = [(1, "keep", "val")] + outputs[name][1:]
    assert oracle.check_curation(expected, {**outputs, name: altered}, ann)
    sem = [(1, 0, 0.5000001, "keep")] + outputs["dedup_semantic"][1:]
    assert oracle.check_curation(
        expected, {**outputs, "dedup_semantic": sem}, ann)
    wrong = [(q, n + 1) if i % 5 > 2 else (q, n) for i, (q, n) in enumerate(ann)]
    assert oracle.recall_at_k(expected, wrong) == pytest.approx(0.6)
    assert oracle.check_curation(expected, outputs, wrong)


def test_stream_check_rejects_dropped_and_altered_pair():
    pairs = {(1, 2), (1, 5), (3, 9)}
    expected = {"pairs": oracle.digest(sorted(pairs))}
    assert oracle.check_stream(expected, pairs) == []
    assert oracle.check_stream(expected, pairs - {(1, 5)})
    assert oracle.check_stream(expected, (pairs - {(1, 5)}) | {(1, 6)})


def test_digest_is_order_free_and_keeps_null_apart_from_empty():
    rows = [("a", 1), ("b", None), ("c", 2.5)]
    assert oracle.digest(rows) == oracle.digest(rows[::-1])
    assert oracle.digest([("b", None)]) != oracle.digest([("b", "")])


# --------------------------------------------------------------------
# span arithmetic
# --------------------------------------------------------------------

def _span(i, parent, start, end, layer, name=None):
    return {"id": i, "parent": parent, "start": start, "end": end,
            "layer": layer, "name": name or f"s{i}", "counters": {},
            "iteration": 0}


SYNTHETIC = [
    _span(0, None, 0.0, 10.0, "bench"),
    _span(1, 0, 1.0, 4.0, "jobs"),
    _span(2, 1, 2.0, 3.0, "readers"),
    _span(3, 0, 4.0, 6.0, "writers"),
    _span(4, 0, 8.0, 9.0, "jobs"),
]


def test_self_time_subtracts_the_union_of_children():
    st = spans.self_times(SYNTHETIC)
    assert st == pytest.approx({0: 10 - 5 - 1, 1: 2.0, 2: 1.0, 3: 2.0, 4: 1.0})
    by_layer = spans.layer_self_times(SYNTHETIC)
    assert by_layer == pytest.approx(
        {"bench": 4.0, "jobs": 3.0, "readers": 1.0, "writers": 2.0})
    assert sum(by_layer.values()) == pytest.approx(10.0)
    in_jobs_or_readers = lambda s: s["layer"] in ("jobs", "readers")  # noqa: E731
    assert spans.outer_duration(SYNTHETIC, in_jobs_or_readers) == pytest.approx(4.0)
    # Overlapping children are covered once, not twice.
    overlap = [_span(0, None, 0.0, 10.0, "a"), _span(1, 0, 1.0, 4.0, "b"),
               _span(2, 0, 3.0, 6.0, "b"), _span(3, 0, 9.0, 12.0, "b")]
    assert spans.self_times(overlap)[0] == pytest.approx(10 - 5 - 1)


def test_jobs_attach_to_the_innermost_open_span():
    jobs = [{"jobId": i, "submitted": t, "stages": []}
            for i, t in enumerate([2.5, 5.0, 8.5, 9.5])]
    spans.attach_jobs(SYNTHETIC, jobs)
    assert [j["span"] for j in jobs] == [2, 3, 4, 0]
    under_jobs = spans.jobs_under(SYNTHETIC, jobs, lambda s: s["layer"] == "jobs")
    assert [j["jobId"] for j in under_jobs] == [0, 2]
    # Span ids stay valid when the list holds only a later iteration.
    later = [dict(s, id=s["id"] + 10, parent=None if s["parent"] is None
                  else s["parent"] + 10) for s in SYNTHETIC]
    job = {"jobId": 9, "submitted": 2.5, "stages": []}
    spans.attach_jobs(later, [job])
    assert job["span"] == 12
    assert [s["id"] for s in spans.ancestors(later, 12)] == [12, 11, 10]


def test_wrap_records_spans_and_restores():
    import types

    mod = types.ModuleType("fake")
    mod.work = lambda x: x * 2
    original = mod.work
    tracer = spans.Tracer()
    tracer.iteration = 3
    tracer.wrap(mod, "work", "layer", lambda a, k, r: {"out": r})
    with tracer.span("root", "bench"):
        assert mod.work(21) == 42
    tracer.unwrap_all()
    assert mod.work is original
    root, call = tracer.spans
    assert call["name"] == "fake.work" and call["parent"] == root["id"]
    assert call["counters"] == {"out": 42} and call["iteration"] == 3


def test_stage_totals():
    jobs = [{"stages": [{"numCompleteTasks": 3, "executorRunTime": 10,
                         "executorCpuTime": 4_000_000, "inputBytes": 5}]},
            {"stages": []}]
    t = spans.job_totals(jobs)
    assert (t["jobs"], t["stages"], t["tasks"]) == (2, 1, 3)
    assert t["executor_cpu_ms"] == pytest.approx(4.0)
    assert t["input_bytes"] == 5


def test_status_timestamps_parse_as_utc():
    assert spans._parse_ts("1970-01-01T00:00:01.500GMT") == pytest.approx(1.5)


def test_steal_ratio():
    import host

    before = [10, 0, 5, 80, 0, 0, 0, 5, 0, 0]
    after = [20, 0, 10, 150, 0, 0, 0, 20, 0, 0]
    assert host.steal_ratio(before, after) == pytest.approx(15 / 100)
    assert host.steal_ratio(before, before) == 0.0
    assert len(host.cpu_ticks()) >= 8

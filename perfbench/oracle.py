"""Expected outputs and output checks for the benchmark's workloads.

Expected values come from independent implementations, computed once
per seed before anything is timed:

* sheet_job, workbook: the row-at-a-time model in
  ``tests/reference_impl.py`` (``run_mapping_reference``), with the
  Map's formulas evaluated by the small Python models below;
* curation, stream_dedup: the registry's DuckDB oracle SQL, plus an
  exact NumPy top-k for the IVF-PQ recall floor.

Outputs are compared by row count and an order-free digest of every
cell, so a dropped row or an altered cell fails the check.  The check
functions take plain Python rows, so the self-tests can plant wrong
outputs without a Spark session.
"""

from __future__ import annotations

import hashlib
import os
import re
import sys
import zipfile
from xml.etree import ElementTree as ET

# The repository root: ``tests.reference_impl`` and the package's
# registry (for its oracle SQL) are imported from there.
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402

# The recall floor the repository's tests pin for IVF-PQ top-k.
IVFPQ_RECALL_FLOOR = 0.8
IVFPQ_QUERIES = 5        # similarity_topk_ivfpq queries vec_id < 5 ...
IVFPQ_K = 5              # ... for their top 5 neighbours

SHEET_CONSTRAINTS = [
    # (kind, name, column, argument)
    ("not_null", "id_present", "Id", None),
    ("matches", "id_digits", "Id", "^[0-9]+$"),
    ("matches", "city_plain", "City", "^[A-Za-z ]+$"),
    ("accepted_values", "region_known", "Region", tuple(gen.REGIONS)),
]

# Python models of the Map formulas, keyed by formula body: ``row`` maps
# source headers to display strings, ``out`` the already-produced output
# columns of the same row (the self[] chain state).
FORMULA_MODELS = {
    "=UPPER(src[product])": lambda row, out: row["product"].upper(),
    "=src[region] & src[code]": lambda row, out: row["region"] + row["code"],
    "=LEFT(self[Label], 2)": lambda row, out: out["Label"][:2],
    "=LEN(self[Note])": lambda row, out: len(out["Note"]),
    "=UPPER(src[region])": lambda row, out: row["region"].upper(),
    "=LEFT(self[Sku], 3)": lambda row, out: out["Sku"][:3],
    "=src[sku] & src[status]": lambda row, out: row["sku"] + row["status"],
    "=LEN(src[comment])": lambda row, out: len(row["comment"]),
}


def _formula_eval(body, row_map, out_map):
    return FORMULA_MODELS[body](row_map, out_map)


def cell_text(value) -> str:
    """One cell as digest text; NULL is kept distinct from ''."""
    if value is None:
        return "\x00"
    if isinstance(value, float):
        return repr(value)
    return str(value)


def digest(rows) -> dict:
    """Row count plus an order-free digest: the sum, modulo 2**64, of a
    64-bit hash of each row's cells."""
    total = 0
    n = 0
    for row in rows:
        h = hashlib.blake2b("\x1f".join(map(cell_text, row)).encode(),
                            digest_size=8).digest()
        total = (total + int.from_bytes(h, "little")) & 0xFFFFFFFFFFFFFFFF
        n += 1
    return {"rows": n, "digest": f"{total:016x}"}


def compare(what: str, expected: dict, rows) -> list[str]:
    """Problems found comparing ``rows`` against an expected digest."""
    got = digest(rows)
    if got == expected:
        return []
    return [f"{what}: got {got['rows']} rows digest {got['digest']}, "
            f"expected {expected['rows']} rows digest {expected['digest']}"]


# --------------------------------------------------------------------
# sheet_job
# --------------------------------------------------------------------

def _violations(header: list[str], rows: list[list]) -> dict[str, int]:
    idx = {h: i for i, h in enumerate(header)}
    out = {}
    for kind, name, column, arg in SHEET_CONSTRAINTS:
        vals = [r[idx[column]] for r in rows]
        if kind == "not_null":
            out[name] = sum(v is None for v in vals)
        elif kind == "matches":
            pat = re.compile(arg)
            out[name] = sum(v is not None and not pat.search(v) for v in vals)
        else:
            out[name] = sum(v is not None and v not in arg for v in vals)
    return out


def sheet_job_expected(seed: int, n_rows: int | None = None) -> dict:
    """Reference output of the seed's source rows (the workload's
    ``n_rows`` unless given): header, row digest and constraint
    violations."""
    from tests.reference_impl import run_mapping_reference

    rows = gen.sheet_rows(seed, n_rows or gen.SHAPES["sheet_job"]["rows"])
    rules = [tuple(r) for r in gen.SHEET_MAP[1:]]
    header, out = run_mapping_reference(
        gen.SHEET_HEADER, rows, rules, formula_eval=_formula_eval)
    return {"header": header, "output": digest(out),
            "violations": _violations(header, out)}


def check_sheet_job_result(expected: dict, rows_written: int,
                           violations: dict) -> list[str]:
    """The figures ``run_job`` returns: row count and violation counts."""
    problems = []
    if rows_written != expected["output"]["rows"]:
        problems.append(f"sheet_job: rows_written {rows_written} != "
                        f"{expected['output']['rows']}")
    if violations != expected["violations"]:
        problems.append(f"sheet_job: violations {violations} != "
                        f"{expected['violations']}")
    return problems


def check_sheet_job_output(expected: dict, header: list[str],
                           rows: list[tuple]) -> list[str]:
    """The rows the parquet sink holds."""
    problems = []
    if header != expected["header"]:
        problems.append(f"sheet_job: header {header} != {expected['header']}")
    return problems + compare("sheet_job output", expected["output"], rows)


# --------------------------------------------------------------------
# workbook
# --------------------------------------------------------------------

_NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
_REL = "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}"
_PKG = "{http://schemas.openxmlformats.org/package/2006/relationships}"
_REF = re.compile(r"^([A-Z]+)(\d+)$")


def _col_index(letters: str) -> int:
    n = 0
    for ch in letters:
        n = n * 26 + ord(ch) - 64
    return n


def display_grid(rows: list[list]) -> list[list[str]]:
    """A sheet as the display strings a reader sees: numbers as their
    ``repr``, omitted cells as '', every row padded to the widest."""
    width = max(len(r) for r in rows)
    return [["" if v is None else (repr(v) if isinstance(v, (int, float))
                                   else v) for v in r]
            + [""] * (width - len(r)) for r in rows]


def read_xlsx(path: str) -> dict[str, list[list[str]]]:
    """Every sheet of an xlsx file as a padded display-string grid.
    Independent of the package's codec: inline strings, shared strings,
    numbers, booleans and formulas (as ``=text``)."""
    with zipfile.ZipFile(path) as zf:
        names = zf.namelist()
        shared = []
        if "xl/sharedStrings.xml" in names:
            for si in ET.fromstring(zf.read("xl/sharedStrings.xml")).iter(
                    _NS + "si"):
                shared.append("".join(t.text or "" for t in si.iter(_NS + "t")))
        rels = {r.get("Id"): r.get("Target") for r in ET.fromstring(
            zf.read("xl/_rels/workbook.xml.rels")).iter(_PKG + "Relationship")}
        sheets = {}
        for s in ET.fromstring(zf.read("xl/workbook.xml")).iter(_NS + "sheet"):
            target = rels[s.get(_REL + "id")]
            part = target if target.startswith("xl/") else "xl/" + target
            grid: dict[int, dict[int, str]] = {}
            for row in ET.fromstring(zf.read(part)).iter(_NS + "row"):
                for c in row.iter(_NS + "c"):
                    m = _REF.match(c.get("r"))
                    t = c.get("t", "n")
                    v = c.find(_NS + "v")
                    f = c.find(_NS + "f")
                    if t == "inlineStr":
                        text = "".join(x.text or "" for x in c.iter(_NS + "t"))
                    elif t == "s":
                        text = shared[int(v.text)]
                    elif f is not None:
                        text = "=" + (f.text or "")
                    elif t == "b":
                        text = "TRUE" if v is not None and v.text == "1" else "FALSE"
                    else:
                        text = v.text if v is not None and v.text else ""
                    grid.setdefault(int(m.group(2)), {})[
                        _col_index(m.group(1))] = text
            n_rows = max(grid) if grid else 0
            width = max((max(r) for r in grid.values()), default=0)
            sheets[s.get("name")] = [
                [grid.get(ri, {}).get(ci, "") for ci in range(1, width + 1)]
                for ri in range(1, n_rows + 1)]
    return sheets


def workbook_expected(seed: int) -> dict:
    from tests.reference_impl import run_mapping_reference

    sheets = {name: display_grid(rows) for name, rows
              in gen.workbook_sheets(seed, gen.SHAPES["workbook"])}
    data = sheets["Data"]
    rules = [tuple(r) for r in gen.WB_MAP[1:]]
    header, out = run_mapping_reference(
        data[0], data[1:], rules, formula_eval=_formula_eval)
    return {"header": header, "output": digest(out),
            "preserved": {name: digest(grid) for name, grid in sheets.items()}}


def check_workbook_result(expected: dict, rows_written: int) -> list[str]:
    """The row count ``run_workbook`` returns."""
    if rows_written == expected["output"]["rows"]:
        return []
    return [f"workbook: rows_written {rows_written} != "
            f"{expected['output']['rows']}"]


def check_workbook_output(expected: dict,
                          sheets: dict[str, list[list[str]]]) -> list[str]:
    """Every sheet of the written workbook: the Output sheet against the
    reference, every other sheet unchanged from the input."""
    problems = []
    names = list(expected["preserved"]) + ["Output"]
    if sorted(sheets) != sorted(names):
        return [f"workbook: sheets {sorted(sheets)} != {sorted(names)}"]
    out = sheets["Output"]
    if out[0] != expected["header"]:
        problems.append(f"workbook: header {out[0]} != {expected['header']}")
    problems += compare("workbook Output", expected["output"], out[1:])
    for name, want in expected["preserved"].items():
        problems += compare(f"workbook sheet {name}", want, sheets[name])
    return problems


# --------------------------------------------------------------------
# curation and stream_dedup: DuckDB oracles
# --------------------------------------------------------------------

CURATION_ORACLE_QUERIES = ("curation_pipeline_decisions", "dedup_semantic")


def _duck(views: dict[str, str]):
    import duckdb

    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    for name, path in views.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def _oracle_sql(name: str) -> str:
    from spreadsheet_etl_engine_spark import registry

    return registry.get(name).oracle


def exact_topk(emb_path: str) -> dict[int, list[int]]:
    """Exact cosine top-k neighbours of the IVF-PQ benchmark queries,
    ranked as the engine's exact twin ranks them: the query itself
    excluded, ties broken on neighbour id."""
    import numpy as np
    import pyarrow.parquet as pq

    t = pq.read_table(emb_path)
    ids = t.column("vec_id").to_numpy()
    X = np.asarray(t.column("embedding").to_pylist(), dtype=np.float64)
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    out = {}
    for q in range(IVFPQ_QUERIES):
        sims = X @ X[int(np.flatnonzero(ids == q)[0])]
        order = np.lexsort((ids, -sims))
        out[q] = [int(ids[i]) for i in order if ids[i] != q][:IVFPQ_K]
    return out


def curation_expected(sf_dir: str) -> dict:
    con = _duck({t: f"{sf_dir}/{t}.parquet" for t in ("documents", "embeddings")})
    want, columns = {}, {}
    try:
        for name in CURATION_ORACLE_QUERIES:
            cur = con.execute(_oracle_sql(name))
            columns[name] = [d[0] for d in cur.description]
            want[name] = digest(cur.fetchall())
    finally:
        con.close()
    truth = exact_topk(f"{sf_dir}/embeddings.parquet")
    return {"oracle": want, "columns": columns,
            "topk": {str(q): v for q, v in truth.items()}}


def recall_at_k(expected: dict, ann_rows: list[tuple]) -> float:
    """Share of the exact top-k neighbour slots the ANN output fills."""
    truth = {(int(q), n) for q, ns in expected["topk"].items() for n in ns}
    got = {(int(q), int(n)) for q, n in ann_rows}
    return len(truth & got) / len(truth)


def check_curation(expected: dict, outputs: dict[str, list[tuple]],
                   ann_rows: list[tuple]) -> list[str]:
    """``outputs``: oracle query -> rows, columns in the order
    ``expected["columns"]`` names; ``ann_rows``: the IVF-PQ
    query's ``(query_id, neighbor_id)`` rows."""
    problems = []
    for name in CURATION_ORACLE_QUERIES:
        problems += compare(f"curation {name}", expected["oracle"][name],
                            outputs[name])
    if len(ann_rows) != IVFPQ_QUERIES * IVFPQ_K:
        problems.append(f"curation similarity_topk_ivfpq: {len(ann_rows)} "
                        f"rows, expected {IVFPQ_QUERIES * IVFPQ_K}")
    recall = recall_at_k(expected, ann_rows)
    if recall < IVFPQ_RECALL_FLOOR:
        problems.append(f"curation similarity_topk_ivfpq: recall@{IVFPQ_K} "
                        f"{recall:.2f} < {IVFPQ_RECALL_FLOOR}")
    return problems


def stream_expected(feed_dir: str) -> dict:
    con = _duck({"documents": f"{feed_dir}/*.parquet"})
    try:
        pairs = con.execute(_oracle_sql("dedup_minhash_lsh_pairs")).fetchall()
    finally:
        con.close()
    return {"pairs": digest(pairs)}


def check_stream(expected: dict, pairs: set[tuple[int, int]]) -> list[str]:
    """``pairs``: the distinct ``(id_a, id_b)`` set the stream emitted."""
    return compare("stream_dedup pairs", expected["pairs"], sorted(pairs))


EXPECTED = {
    "sheet_job": lambda meta: sheet_job_expected(meta["seed"]),
    "workbook": lambda meta: workbook_expected(meta["seed"]),
    "curation": lambda meta: curation_expected(meta["sf_dir"]),
    "stream_dedup": lambda meta: stream_expected(meta["feed"]),
}


def expected(meta: dict) -> dict:
    """Expected outputs of a workload's inputs; a combined workload's
    by part."""
    if "parts" in meta:
        return {name: EXPECTED[name]({**m, "seed": meta["seed"]})
                for name, m in meta["parts"].items()}
    return EXPECTED[meta["workload"]](meta)

"""Seeded input generators for the end-to-end benchmark.

Every input a workload reads is made here from ``--seed`` alone: the
same seed gives byte-identical files, another seed gives other files.
The generators use only the standard library, NumPy and PyArrow and
never import the package under test, so a change to one of its codecs
cannot change its own input.  The workbook in particular is written
with ``zipfile`` and inline-string cells, not with ``xlsx_native``.

Shapes are fixed per workload (``SHAPES``); only the values vary with
the seed.
"""

from __future__ import annotations

import csv
import json
import os
import random
import zipfile
from xml.sax.saxutils import escape, quoteattr

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Input sizes.  sheet_job and workbook keep one iteration at 1.5-3.5 s
# on a 4-core host.  curation and stream_dedup are small: their time
# goes to fixed per-job and per-micro-batch costs (about 0.7 s per
# micro-batch), not to the row count.  jobs_stream runs sheet_job,
# workbook and stream_dedup in one iteration, so that the two listed
# workloads take about as long per iteration: 4-5 s each on a 4-core
# host in a fast phase, 7-9 s in a slow one.
SHAPES = {
    "sheet_job": {"rows": 40_000},
    "workbook": {"rows": 5_000, "extra_rows": 150},
    "curation": {"unique": 500, "short": 30, "exact_copies": 40,
                 "chains": 20, "chain_len": 4, "boilerplate": 30,
                 "vectors": 600, "dim": 64, "vector_clusters": 16,
                 "group": 6},
    "stream_dedup": {"files": 3, "new_per_file": 60,
                     "redelivered_per_file": 8, "near_dup_per_file": 6},
}
# Workloads that run others, in this order, in one iteration.
COMBINED = {"jobs_stream": ("sheet_job", "workbook", "stream_dedup")}

# One fixed ZipInfo timestamp: zipfile would otherwise stamp "now" and
# the same seed would not give the same bytes.
_ZIP_EPOCH = (1980, 1, 1, 0, 0, 0)

_SYLLABLES = [c + v for c in "bcdfghjklmnprstvz" for v in "aeiou"]


def _vocabulary(rng: random.Random, n: int) -> list[str]:
    words: set[str] = set()
    while len(words) < n:
        words.add("".join(rng.choice(_SYLLABLES)
                          for _ in range(rng.randint(2, 4))))
    return sorted(words)


# --------------------------------------------------------------------
# sheet_job: one fidelity-mode CSV, a Map table stored as parquet
# --------------------------------------------------------------------

SHEET_HEADER = ["id", "region", "city", "product", "qty", "price",
                "status", "code", "note"]
REGIONS = ["North", "South", "East", "West", "Central"]
_STATUSES = ["active"] * 5 + ["pending"] + ["inactive"] * 2
_CITIES = ["Lima", "Quito", "Cali", "Bogota", "Medellin", "Cusco",
           "Arequipa", "Santiago", "Valparaiso", "Rosario",
           "Portland, OR", "Austin, TX", "Paris, FR", "Lyon, FR",
           "Porto", "Braga", "Leeds", "York", "Oslo", "Bergen"]
_PRODUCTS = ["widget", "gadget", "sprocket", "bracket", "flange",
             "gasket", "valve", "spring", "bearing", "pulley"]

# The filters pass about 60% of rows (qty >= 20: 80%, status not
# inactive: 75%, a third rule that almost always passes); then direct,
# bare-header, constant, formula and self[]-chained columns.
SHEET_MAP = [
    ["Rule", "Instruction"],
    ["_filter:qty", "eval: src[qty] >= 20"],
    ["_filter:status", 'eval: src[status] != "inactive"'],
    ["_filter:price", 'eval: src[price] > 0 || src[region] == "North"'],
    ["Id", "src[id]"],
    ["Region", "region"],
    ["City", "src[city]"],
    ["Qty", "src[qty]"],
    ["Note", "src[note]"],
    ["Source", "constant:sheet_job"],
    ["Label", "formula:=UPPER(src[product])"],
    ["Key", "formula:=src[region] & src[code]"],
    ["Short", "formula:=LEFT(self[Label], 2)"],
    ["NoteLen", "formula:=LEN(self[Note])"],
]


def _pick(rng: np.random.Generator, values: list[str], n: int) -> list[str]:
    return np.asarray(values)[rng.integers(0, len(values), n)].tolist()


def sheet_rows(seed: int, n: int) -> list[list[str]]:
    """The CSV's rows: about 2% blank ``qty`` cells, a quarter blank
    ``note`` cells, and about 1% each of notes holding a quoted comma or
    an embedded newline."""
    rng = np.random.default_rng(seed)
    vocab = _vocabulary(random.Random(seed), 400)
    qty = rng.integers(0, 100, n).astype(str)
    qty[rng.random(n) < 0.02] = ""
    alphabet = "ABCDEFGHJKMNPQRSTUVWXYZ23456789"
    letters = np.frombuffer(alphabet.encode("utf-32-le"), dtype=np.uint32)
    codes = letters[rng.integers(0, len(alphabet), (n, 5))].view("<U5").ravel()
    kind = rng.random(n)
    n_words = rng.integers(1, 7, n)
    words = np.asarray(vocab)[rng.integers(0, len(vocab), (n, 7))].tolist()
    notes = []
    for k, c, w in zip(kind.tolist(), n_words.tolist(), words):
        if k < 0.25:
            notes.append("")
        elif k < 0.26:
            notes.append(" ".join(w[:c]) + ", " + w[6])     # quoted comma
        elif k < 0.27:
            notes.append(" ".join(w[:c]) + "\n" + w[6])     # embedded newline
        else:
            notes.append(" ".join(w[:c]))
    columns = [
        [str(100_000 + i) for i in range(n)],
        _pick(rng, REGIONS, n),
        _pick(rng, _CITIES, n),
        _pick(rng, _PRODUCTS, n),
        qty.tolist(),
        [f"{p / 100:.2f}" for p in rng.integers(0, 100_000, n).tolist()],
        _pick(rng, _STATUSES, n),
        codes.tolist(),
        notes,
    ]
    return [list(r) for r in zip(*columns)]


def sheet_job(seed: int, out_dir: str, shape: dict) -> dict:
    n = shape["rows"]
    rows = sheet_rows(seed, n)
    data = os.path.join(out_dir, "source.csv")
    with open(data, "w", newline="", encoding="utf-8") as fh:
        w = csv.writer(fh, lineterminator="\n")
        w.writerow(SHEET_HEADER)
        w.writerows(rows)
    map_path = os.path.join(out_dir, "map.parquet")
    table = pa.table({
        "Rule": [r[0] for r in SHEET_MAP[1:]],
        "Instruction": [r[1] for r in SHEET_MAP[1:]],
    })
    pq.write_table(table, map_path)
    return {"source": data, "map": map_path, "rows": n}


# --------------------------------------------------------------------
# workbook: Dashboard + Map + Data + an extra Notes sheet, as xlsx
# --------------------------------------------------------------------

WB_HEADER = ["sku", "region", "units", "price", "rating", "status",
             "comment"]
WB_MAP = [
    ["Rule", "Instruction"],
    ["_filter:units", "eval: src[units] >= 10"],
    ["_filter:status", 'eval: src[status] != "hold"'],
    ["Sku", "src[sku]"],
    ["Region", "region"],
    ["Units", "src[units]"],
    ["Price", "src[price]"],
    ["Kind", "constant:workbook"],
    ["Tag", "formula:=UPPER(src[region])"],
    ["Prefix", "formula:=LEFT(self[Sku], 3)"],
    ["Combo", "formula:=src[sku] & src[status]"],
    ["CommentLen", "formula:=LEN(src[comment])"],
]
WB_DASHBOARD = [["source", "Data"], ["map", "Map"], ["output", "Output"]]


def _col_letter(col: int) -> str:
    letters = ""
    while col > 0:
        col, rem = divmod(col - 1, 26)
        letters = chr(65 + rem) + letters
    return letters


def _xlsx_cell(ref: str, value) -> str:
    if value is None:
        return ""
    if isinstance(value, (int, float)):
        return f'<c r="{ref}"><v>{value!r}</v></c>'
    return (f'<c r="{ref}" t="inlineStr"><is><t xml:space="preserve">'
            f"{escape(value)}</t></is></c>")


def _xlsx_sheet(rows: list[list]) -> str:
    body = []
    for ri, row in enumerate(rows, start=1):
        cells = "".join(_xlsx_cell(f"{_col_letter(ci)}{ri}", v)
                        for ci, v in enumerate(row, start=1))
        body.append(f'<row r="{ri}">{cells}</row>')
    ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    return ('<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            f'<worksheet xmlns="{ns}"><sheetData>{"".join(body)}'
            "</sheetData></worksheet>")


def write_xlsx(path: str, sheets: list[tuple[str, list[list]]]) -> None:
    """Minimal OOXML workbook: inline-string and number cells only."""
    main = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    rel = ("http://schemas.openxmlformats.org/officeDocument/2006/"
           "relationships")
    pkg = "http://schemas.openxmlformats.org/package/2006/relationships"
    ws_type = rel + "/worksheet"
    head = '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    overrides = "".join(
        f'<Override PartName="/xl/worksheets/sheet{i}.xml" ContentType='
        '"application/vnd.openxmlformats-officedocument.spreadsheetml.'
        'worksheet+xml"/>' for i in range(1, len(sheets) + 1))
    parts = {
        "[Content_Types].xml": (
            head + '<Types xmlns="http://schemas.openxmlformats.org/'
            'package/2006/content-types"><Default Extension="rels" '
            'ContentType="application/vnd.openxmlformats-package.'
            'relationships+xml"/><Default Extension="xml" '
            'ContentType="application/xml"/><Override '
            'PartName="/xl/workbook.xml" ContentType="application/vnd.'
            'openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
            + overrides + "</Types>"),
        "_rels/.rels": (
            head + f'<Relationships xmlns="{pkg}"><Relationship Id="rId1" '
            f'Type="{rel}/officeDocument" Target="xl/workbook.xml"/>'
            "</Relationships>"),
        "xl/workbook.xml": (
            head + f'<workbook xmlns="{main}" xmlns:r="{rel}"><sheets>'
            + "".join(f'<sheet name={quoteattr(name)} sheetId="{i}" '
                      f'r:id="rId{i}"/>'
                      for i, (name, _) in enumerate(sheets, start=1))
            + "</sheets></workbook>"),
        "xl/_rels/workbook.xml.rels": (
            head + f'<Relationships xmlns="{pkg}">'
            + "".join(f'<Relationship Id="rId{i}" Type="{ws_type}" '
                      f'Target="worksheets/sheet{i}.xml"/>'
                      for i in range(1, len(sheets) + 1))
            + "</Relationships>"),
    }
    for i, (_, rows) in enumerate(sheets, start=1):
        parts[f"xl/worksheets/sheet{i}.xml"] = _xlsx_sheet(rows)
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, text in parts.items():
            info = zipfile.ZipInfo(name, date_time=_ZIP_EPOCH)
            info.compress_type = zipfile.ZIP_DEFLATED
            zf.writestr(info, text)


def workbook_sheets(seed: int, shape: dict) -> list[tuple[str, list[list]]]:
    """The input workbook as ``(sheet name, rows)``: row 0 is the header;
    ``int``/``float`` cells become number cells, ``str`` cells inline
    strings, ``None`` an omitted cell.  Numbers are chosen so their
    ``repr`` is the display text the codec reads back."""
    rng = random.Random(seed)
    vocab = _vocabulary(rng, 300)
    data: list[list] = [list(WB_HEADER)]
    for i in range(shape["rows"]):
        comment = " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 5)))
        if rng.random() < 0.02:
            comment += ", " + rng.choice(vocab)
        data.append([
            f"SKU{rng.randint(0, 999_999):06d}",
            rng.choice(REGIONS),
            rng.randint(0, 60),
            rng.randint(1, 99_999) / 4,
            None if rng.random() < 0.1 else rng.randint(1, 5),
            rng.choice(["open", "open", "open", "hold", "closed"]),
            comment,
        ])
    notes: list[list] = [["note_id", "author", "text", "score"]]
    for i in range(shape["extra_rows"]):
        notes.append([i, rng.choice(vocab),
                      " ".join(rng.choice(vocab) for _ in range(4)),
                      rng.randint(0, 400) / 8])
    return [("Dashboard", [list(r) for r in WB_DASHBOARD]),
            ("Map", [list(r) for r in WB_MAP]),
            ("Data", data),
            ("Notes", notes)]


def workbook(seed: int, out_dir: str, shape: dict) -> dict:
    sheets = workbook_sheets(seed, shape)
    path = os.path.join(out_dir, "book.xlsx")
    write_xlsx(path, sheets)
    cells = sum(len(rows) * max(len(r) for r in rows) for _, rows in sheets)
    return {"book": path, "rows": shape["rows"],
            "cells": cells}


# --------------------------------------------------------------------
# curation: documents.parquet + embeddings.parquet (sf-shaped dir)
# --------------------------------------------------------------------

DOC_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                        ("lang", pa.string()), ("source", pa.string()),
                        ("n_chars", pa.int64())])
EMB_SCHEMA = pa.schema([("vec_id", pa.int64()),
                        ("embedding", pa.list_(pa.float32())),
                        ("label", pa.int32())])


def _edit(rng: random.Random, tokens: list[str], vocab: list[str],
          n: int) -> list[str]:
    out = list(tokens)
    for _ in range(n):
        out[rng.randrange(len(out))] = rng.choice(vocab)
    return out


def corpus_texts(seed: int, s: dict) -> list[str]:
    """Planted mix: unique docs, too-short docs, exact copies,
    near-duplicate chains (each link one token edit from the last) and
    one boilerplate mega-cluster."""
    rng = random.Random(seed)
    vocab = _vocabulary(rng, 4_000)

    def words(lo: int, hi: int) -> list[str]:
        return [rng.choice(vocab) for _ in range(rng.randint(lo, hi))]

    texts = [" ".join(words(8, 50)) for _ in range(s["unique"])]
    texts += [" ".join(words(1, 4)) for _ in range(s["short"])]
    texts += [rng.choice(texts[:s["unique"]]) for _ in range(s["exact_copies"])]
    for _ in range(s["chains"]):
        link = words(30, 50)
        for _ in range(s["chain_len"]):
            texts.append(" ".join(link))
            link = _edit(rng, link, vocab, 1)
    boiler = words(40, 40)
    for _ in range(s["boilerplate"]):
        texts.append(" ".join(boiler + words(1, 2)))
    return texts


def _docs_table(ids: list[int], texts: list[str], rng: random.Random) -> pa.Table:
    langs = ["en", "es", "de", "fr", "pt"]
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([rng.choice(langs) for _ in ids], pa.string()),
        "source": pa.array([f"src{rng.randint(0, 9)}" for _ in ids],
                           pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }, schema=DOC_SCHEMA)


def embedding_matrix(seed: int, s: dict) -> tuple[np.ndarray, np.ndarray]:
    """Clustered vectors in which every vector has ``group - 1`` planted
    near-duplicates: topics are drawn around a few cluster centres and
    each topic gets ``group`` slightly perturbed copies.  A vector's
    true top-``group`` neighbours are thus its own topic, well apart
    from the rest of its cluster, so the exact top-k is not decided by
    near-ties."""
    rng = np.random.default_rng(seed)
    dim, k, group = s["dim"], s["vector_clusters"], s["group"]
    topics = s["vectors"] // group
    centers = rng.normal(size=(k, dim))
    topic_label = rng.integers(0, k, size=topics)
    T = centers[topic_label] + rng.normal(scale=0.45, size=(topics, dim))
    X = np.repeat(T, group, axis=0) + rng.normal(
        scale=0.03, size=(topics * group, dim))
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    return X.astype(np.float32), np.repeat(topic_label, group).astype(np.int32)


def curation(seed: int, out_dir: str, shape: dict) -> dict:
    texts = corpus_texts(seed, shape)
    rng = random.Random(seed + 1)
    ids = list(range(len(texts)))
    rng.shuffle(ids)
    pq.write_table(_docs_table(ids, texts, rng),
                   os.path.join(out_dir, "documents.parquet"))
    X, labels = embedding_matrix(seed, shape)
    vec_ids = np.random.default_rng(seed + 2).permutation(len(X))
    emb = pa.table({
        "vec_id": pa.array(vec_ids, pa.int64()),
        "embedding": pa.array(list(X), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }, schema=EMB_SCHEMA)
    pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"))
    return {"sf_dir": out_dir, "rows": len(texts) + len(X),
            "documents": len(texts), "vectors": len(X)}


# --------------------------------------------------------------------
# stream_dedup: document files, one per trigger
# --------------------------------------------------------------------

def stream_batches(seed: int, s: dict) -> list[tuple[list[int], list[str]]]:
    """Per file ``(ids, texts)``: new docs, exact redeliveries of
    earlier rows (same id and text) and new-id near-duplicates of
    earlier docs (one token edit), so pairs form across files."""
    rng = random.Random(seed)
    vocab = _vocabulary(rng, 3_000)
    seen: list[tuple[int, str]] = []
    next_id = 0
    batches = []
    for f in range(s["files"]):
        ids: list[int] = []
        texts: list[str] = []
        for _ in range(s["new_per_file"]):
            ids.append(next_id)
            texts.append(" ".join(rng.choice(vocab)
                                  for _ in range(rng.randint(6, 40))))
            next_id += 1
        if seen:
            for _ in range(s["redelivered_per_file"]):
                i, t = rng.choice(seen)
                ids.append(i)
                texts.append(t)
            for _ in range(s["near_dup_per_file"]):
                _, t = rng.choice(seen)
                ids.append(next_id)
                texts.append(" ".join(_edit(rng, t.split(" "), vocab, 1)))
                next_id += 1
        seen.extend(zip(ids, texts))
        batches.append((ids, texts))
    return batches


def stream_dedup(seed: int, out_dir: str, shape: dict) -> dict:
    src = os.path.join(out_dir, "feed")
    os.makedirs(src, exist_ok=True)
    rng = random.Random(seed + 1)
    rows = 0
    for f, (ids, texts) in enumerate(stream_batches(seed, shape)):
        pq.write_table(_docs_table(ids, texts, rng),
                       os.path.join(src, f"part-{f:04d}.parquet"))
        rows += len(ids)
    return {"feed": src, "rows": rows, "files": shape["files"]}


GENERATORS = {
    "sheet_job": sheet_job,
    "workbook": workbook,
    "curation": curation,
    "stream_dedup": stream_dedup,
}


def _generate_combined(parts: tuple[str, ...], seed: int,
                       out_dir: str) -> dict:
    """Each part's inputs in a directory of its own."""
    metas = {}
    for name in parts:
        os.makedirs(os.path.join(out_dir, name), exist_ok=True)
        metas[name] = GENERATORS[name](seed, os.path.join(out_dir, name),
                                       SHAPES[name])
    return {"parts": metas, "rows": sum(m["rows"] for m in metas.values())}


def generate(workload: str, seed: int, out_dir: str) -> dict:
    """Write ``workload``'s inputs for ``seed`` under ``out_dir`` and
    return their description (paths, input row count)."""
    os.makedirs(out_dir, exist_ok=True)
    if workload in COMBINED:
        meta = _generate_combined(COMBINED[workload], seed, out_dir)
    else:
        meta = GENERATORS[workload](seed, out_dir, SHAPES[workload])
    meta["workload"] = workload
    meta["seed"] = seed
    with open(os.path.join(out_dir, "inputs.json"), "w") as fh:
        json.dump(meta, fh, indent=1, sort_keys=True)
    return meta

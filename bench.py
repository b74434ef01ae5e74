"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": N, "unit": "sec", "queries": {...},
"sf": ...}.

Each query is fully materialized through the `noop` datasource (executes
the complete physical plan, no sink I/O).  One untimed warmup executes a
trivial job first so JVM/executor startup is not attributed to the first
query.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from spreadsheet_etl_engine_spark import registry  # noqa: E402
from spreadsheet_etl_engine_spark.session import get_spark  # noqa: E402

HEADLINE = [
    "dsl_flagship",
    "dsl_filter_ops",
    "agg_pricing_summary",
    "join_fact_fact",
    "join_dims_broadcast",
    "window_rank_orders",
    "sort_topk",
    "events_tumbling_window",
]
# Extended ops are appended when present so the bench tracks the full
# engine surface as it grows.
OPTIONAL = [
    "dedup_exact",
    "dedup_minhash_signature",
    "dedup_ngram_jaccard_pairs",
    "text_stats",
    "similarity_topk_bruteforce",
    "dsl_v2_join_agg",
    "join_asof",
    "agg_moments",
    "events_sessionize",
    "events_sliding_window",
    # r5: the bucketed-join production path and the curation family join
    # the headline set so the new operators are perf-tracked per round.
    "join_fact_fact_bucketed",
    "text_pii_scrub",
    "train_pack_sequences",
    # r6: sub-document dedup (new operator; gets its own line per
    # BENCH_NOTES — the 21-query r5 set stays 1:1 comparable).
    "dedup_paragraphs",
    # r10: the mega-duplicate-safe cluster path (signature-collapse ->
    # rep band join -> components) — new line, prior lines stay 1:1
    # comparable.
    "dedup_components",
    # r12: SemDeDup-style semantic dedup (kernel assignment + within-
    # cluster prune) — new line, prior lines stay 1:1 comparable.
    "dedup_semantic",
    # r14 (r13 verdict Next 4): the heaviest Python-side kernel — the
    # full codec layer under Arrow-batched mapInPandas (96 fixture
    # rows x 10 image containers x 9 WAV formats x GIF/TIFF video) —
    # previously had scale-probe gates but no per-round wall-time
    # line, so a codec regression was invisible in BENCH_rN deltas.
    # Fixture-sized (not sf-scaled); new line, prior lines 1:1.
    "multimodal_decode",
    # r14 (late-round): the PQ ANN path — codebook training sample +
    # code-only candidate scan + exact rerank; new line, prior 1:1.
    "similarity_topk_pq",
    # r15: the composed IVF-ADC ANN (coarse probe prunes volume,
    # residual PQ prunes width, exact rerank) — new line, prior 1:1.
    "similarity_topk_ivfpq",
    # r15 (r14 verdict stretch): the streaming family's first wall-time
    # line — the heaviest stateful kernel (MinHash-band-keyed
    # applyInPandasWithState fuzzy dedup); new line, prior 1:1.
    "streaming_dedup_fuzzy",
]


def _pq_pretrained_factory(spark, sf_dir):
    """Bench-only variant (r14 verdict Next 3): the SAME query path as
    the ``similarity_topk_pq`` registry line but with codebook training
    hoisted OUT of the timed reps (``topk_pq(..., codebooks=)`` — the
    production shape where codebooks are a persisted artifact).  The
    pair decomposes the PQ line into train vs query-path cost so a
    kernel regression in encode/scan/rerank is attributable instead of
    hiding under training noise.  Not a registry query: it would
    duplicate the PQ surface without new semantics (the precomputed
    path is already pytest-pinned result-identical)."""
    from pyspark.sql import functions as F

    from spreadsheet_etl_engine_spark.operators import similarity as SIM
    from spreadsheet_etl_engine_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    books = SIM.train_pq_codebooks(emb, "embedding", m=8, ksub=256)

    def run(spark, sf_dir):
        emb = load_table(spark, sf_dir, "embeddings")
        queries = emb.filter(F.col("vec_id") < 5)
        return SIM.topk_pq(emb, queries, "embedding", "vec_id",
                           k=5, m=8, ksub=256, rerank=16,
                           codebooks=books)

    return run


def _ivfpq_pretrained_factory(spark, sf_dir):
    """Same decomposition discipline for the r15 IVF-ADC line: the
    registry query's path with BOTH trainers (coarse k-means +
    residual PQ, one sample) hoisted out of the timed reps, so encode/scan/
    rerank regressions are attributable — the ivfpq scale probe gates
    the same pretrained path's 10x curve."""
    from pyspark.sql import functions as F

    from spreadsheet_etl_engine_spark.operators import similarity as SIM
    from spreadsheet_etl_engine_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cents, books = SIM.train_ivfpq(emb, "embedding", nlist=8, m=8,
                                   ksub=256)

    def run(spark, sf_dir):
        emb = load_table(spark, sf_dir, "embeddings")
        queries = emb.filter(F.col("vec_id") < 5)
        return SIM.topk_ivfpq(emb, queries, "embedding", "vec_id",
                              k=5, nprobe=4, rerank=16, spill=2,
                              centroids=cents, codebooks=books)

    return run


# Bench-only lines: {name: factory(spark, sf_dir) -> fn(spark, sf_dir)}.
# The factory runs ONCE, untimed (setup/training); the returned fn is
# timed like a registry query.
LOCAL_VARIANTS = {
    "similarity_topk_pq_pretrained": _pq_pretrained_factory,
    "similarity_topk_ivfpq_pretrained": _ivfpq_pretrained_factory,
}


def cpu_probe() -> float:
    """Single-threaded pure-Python workload (~1s on an idle box), timed.

    Run before and after the reps and recorded in the JSON line: the r9
    degraded-host window was INVISIBLE to load_avg_1m (near-idle load,
    2-4x wall elevation from guest-invisible contention) and was only
    caught by running a probe like this by hand — now every recording
    carries its own evidence.  The workload is fixed and allocation-free
    so its wall time tracks available CPU, not GC or memory state."""
    start = time.perf_counter()
    acc = 0
    for i in range(6_000_000):
        acc += i * i & 0xFFFF
    assert acc != 0
    return round(time.perf_counter() - start, 4)


def _probe_worker(_: int) -> float:
    acc = 0
    for i in range(6_000_000):
        acc += i * i & 0xFFFF
    return float(acc)


def mt_probe(workers: int = 8) -> float:
    """Multi-process probe: the same workload in ``workers`` concurrent
    processes, max wall time recorded.  Evidence-only (r13): the r13
    adjudication found a host day where the 1-thread probe sat AT the
    idle floor while every parallel Spark stage ran ~7-10% slow —
    multi-core steal that a single busy core cannot see.  On an idle
    32-core box this reads ~= cpu_probe(); elevation beyond ~1.3x the
    single-thread reading is parallel-capacity contention and makes
    cross-round per-line deltas suspect even when idle_qualified is
    true (first calibration datum: 1.39 on the r13 degraded day that
    motivated this — see BENCH_NOTES; the threshold stays provisional
    until an at-capacity day is recorded)."""
    import multiprocessing as mp

    start = time.perf_counter()
    ctx = mp.get_context("fork")
    with ctx.Pool(workers) as pool:
        results = pool.map(_probe_worker, range(workers))
    assert all(r != 0 for r in results)
    return round(time.perf_counter() - start, 4)


# Idle baseline of cpu_probe() on this box (BENCH_NOTES.md r10 note).
# A recording only "counts" per the drift rules when the host is idle;
# both the r9 and r10 driver recordings were contended and had to be
# re-measured by hand.  idle_wait() makes the recording self-qualifying.
PROBE_IDLE_FLOOR_S = float(os.environ.get("SPARK_GRAFT_PROBE_FLOOR", "0.46"))


def idle_wait() -> dict:
    """Wait (bounded) for an idle window before recording.

    Qualification = 1-minute load average < 1 AND a cpu_probe() reading
    below the documented contention boundary (1.5x the idle floor —
    the BENCH_NOTES r10 drift rule).  The boundary is 1.5x rather than
    the ~1.15x a naive reading of "idle" suggests because the floor
    itself drifts on this host: an r11 calibration measured min-of-10
    probes of 0.48-0.61s at load 0.02-0.17 (fully idle) across a few
    minutes — guest-invisible hypervisor steal moves the floor by up to
    ~1.3x with zero local load, so 1.15x would refuse genuinely idle
    windows.  load<1 is what separates r10-style contention (load 3.46,
    probe 0.53); the probe catches r9-style low-load/high-steal windows
    (probe 2-4x).  Polls every 20s for up to SPARK_GRAFT_IDLE_WAIT_S
    seconds (default 600); if the window never arrives the recording
    still happens but is flagged idle_qualified=false so no reader has
    to re-derive contention from the raw probe numbers.  Runs BEFORE
    the Spark session exists: the bench's own warmup would otherwise
    pollute load_avg_1m.  Set SPARK_GRAFT_IDLE_WAIT_S=0 for a single
    no-sleep evaluation during local iteration."""
    deadline_s = float(os.environ.get("SPARK_GRAFT_IDLE_WAIT_S", "600"))
    probe_limit = PROBE_IDLE_FLOOR_S * float(
        os.environ.get("SPARK_GRAFT_PROBE_MARGIN", "1.5")
    )
    start = time.monotonic()
    attempts = 0
    while True:
        attempts += 1
        try:
            load1 = round(os.getloadavg()[0], 2)
        except (OSError, AttributeError):  # pragma: no cover — no getloadavg
            load1 = None
        # min-of-3: a single reading flaps (idle box measures 0.48-0.59
        # — scheduler noise only ever inflates the probe, so min is the
        # honest estimate of available CPU).
        probe = min(cpu_probe() for _ in range(3))
        # No getloadavg on this platform -> qualify on the probe alone
        # (qualify_load_avg_1m records null); requiring load1 here
        # would guarantee a full-deadline wait on such hosts and then
        # flag a possibly-idle recording unqualified (r11 ADVICE).
        load_ok = load1 < 1.0 if load1 is not None else True
        qualified = load_ok and probe <= probe_limit
        waited = time.monotonic() - start
        if qualified or waited + 20.0 > deadline_s:
            return {
                "idle_qualified": qualified,
                "qualify_load_avg_1m": load1,
                "qualify_probe_s": probe,
                "qualify_probe_limit_s": round(probe_limit, 4),
                "probe_idle_floor_s": PROBE_IDLE_FLOOR_S,
                "idle_waited_s": round(waited, 1),
                "idle_poll_attempts": attempts,
            }
        time.sleep(20.0)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    idle_evidence = idle_wait()
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warmup: start executors + JIT the scan path (untimed).
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    registry.get("dsl_flagship").fn(spark, sf_dir).write.mode("overwrite").format("noop").save()

    # Every name must resolve: a renamed/deleted OPTIONAL query used to
    # be silently dropped, shrinking the headline set and reading as a
    # perf win (r9 lattice review) — the recording is only comparable
    # across rounds if the set is pinned.
    missing = [n for n in HEADLINE + OPTIONAL if n not in registry.REGISTRY]
    if missing:
        raise LookupError(
            f"bench set names not in REGISTRY: {missing}; update "
            "HEADLINE/OPTIONAL in bench.py alongside the rename"
        )
    names = HEADLINE + OPTIONAL + list(LOCAL_VARIANTS)
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "5"))
    probe_before = cpu_probe()
    timings: dict[str, float] = {}
    for name in names:
        if name in LOCAL_VARIANTS:
            # Setup (e.g. codebook training) runs once, untimed.
            fn = LOCAL_VARIANTS[name](spark, sf_dir)
        else:
            fn = registry.get(name).fn
        # Median of `reps` (default 5): the first run pays one-time
        # codegen/JIT for this query's generated classes, and single-shot
        # timings on local[32] swing ±40% on sub-second queries (round-3
        # lesson: phantom regressions on untouched code); a freshly booted
        # sandbox swings worse — a round-6 7-rep probe recorded 2.4s-7.1s
        # for the SAME query in one process (BENCH_NOTES.md).  Median of 5
        # survives two slow outliers; median of 3 does not.
        runs = []
        for _ in range(reps):
            start = time.perf_counter()
            fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            runs.append(time.perf_counter() - start)
        timings[name] = round(sorted(runs)[len(runs) // 2], 4)

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # 1-minute load average at run end: recorded so a number taken on a
    # loaded box (e.g. right after a 50-query correctness pass) carries
    # its ambient context — the BENCH_NOTES drift rules key on this.
    try:
        load1 = round(os.getloadavg()[0], 2)
    except (OSError, AttributeError):  # pragma: no cover — no getloadavg
        load1 = None
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": round(sum(timings.values()), 4),
                "unit": "sec",
                "reps": reps,
                "queries": timings,
                "sf": float(sf) if sf.replace(".", "", 1).isdigit() else sf,
                "load_avg_1m": load1,
                # Host-contention evidence (see cpu_probe docstring):
                # compare against the recording's own idle baseline in
                # BENCH_NOTES before believing any cross-round delta.
                "cpu_probe_s": {"before": probe_before, "after": cpu_probe()},
                # Parallel-capacity evidence (see mt_probe docstring):
                # catches multi-core steal the 1-thread probe cannot.
                "mt_probe_s": mt_probe(),
                # Pre-recording idle qualification (see idle_wait): a
                # recording with idle_qualified=false is self-declared
                # contended and should not adjudicate cross-round deltas.
                **idle_evidence,
            }
        )
    )


if __name__ == "__main__":
    main()

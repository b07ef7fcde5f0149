"""Benchmark entry point (driver contract).

Runs the headline workload at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON
line::

    {"metric": "...", "value": <total_sec>, "unit": "sec",
     "queries": {...per-query sec...}, "sf": <sf>,
     "cdc": {"events": N, "elapsed_sec": s, "events_per_sec": r}}

The headline is the north-star metric: CDC change-events/sec end-to-end
(generated change stream → decode pandas UDFs → LWW dedup → lake MERGE
commit), plus wall time of the flagship analytical/dedup/similarity queries.

Scaling evidence (local[8] vs local[32]) is produced by
``scripts/scaling_bench.py`` → ``BENCH/BASELINE.md``.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time


def _host_load() -> dict:
    """Contamination evidence: /proc/loadavg snapshot (1/5/15-min load plus
    runnable/total process counts). Stamped into the output JSON before AND
    after the run so a number recorded on a loaded host carries its own
    disqualification — BENCH_r03.json was silently 1.4-4x inflated by
    neighbor load and misreported a healthy engine as regressed."""
    try:
        with open("/proc/loadavg") as f:
            parts = f.read().split()
        running, total = parts[3].split("/")
        return {
            "load1": float(parts[0]),
            "load5": float(parts[1]),
            "load15": float(parts[2]),
            "runnable": int(running),
            "procs": int(total),
        }
    except (OSError, ValueError, IndexError):
        return {}


#: longest wait for the host to settle before the session starts
SETTLE_TIMEOUT_S = 60.0


def _settle(limit: float) -> float:
    """Block until load1 < ``limit`` or :data:`SETTLE_TIMEOUT_S` passes;
    returns the seconds waited."""
    t0 = time.monotonic()
    while (
        _host_load().get("load1", 0.0) >= limit
        and time.monotonic() - t0 < SETTLE_TIMEOUT_S
    ):
        time.sleep(1.0)
    return time.monotonic() - t0


def _load_guard(load: dict, limit: float) -> None:
    """Warn loudly (or refuse, under BENCH_LOAD_STRICT=1) when the host is
    still busy after the settle wait, before the timed window starts."""
    load1 = load.get("load1")
    if load1 is None or load1 < limit:
        return
    msg = (
        f"bench: host load1={load1} is not below {limit} after "
        f"{SETTLE_TIMEOUT_S:.0f} s — numbers will be contaminated (see "
        "CLAUDE.md); run on an idle host"
    )
    if os.environ.get("BENCH_LOAD_STRICT", "0") == "1":
        raise RuntimeError(msg)
    print(f"WARNING: {msg}", file=sys.stderr)


def _sf_from_dir(d: str) -> float:
    base = os.path.basename(d.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return 0.1


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf = _sf_from_dir(sf_dir)
    n_events = int(os.environ.get("BENCH_EVENTS", str(max(2000, int(10_000_000 * sf)))))
    n_batches = int(os.environ.get("BENCH_BATCHES", "4"))
    html_repeat = int(os.environ.get("BENCH_HTML_REPEAT", "0"))

    # threshold in load-average units
    load_limit = float(os.environ.get("BENCH_LOAD_MAX", "2.0"))
    settle_wait_s = _settle(load_limit)
    load_before = _host_load()
    _load_guard(load_before, load_limit)

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import __spark_entry__ as em
    from data_pipelines_spark.gen.changegen import change_stream
    from data_pipelines_spark.session import get_spark
    from data_pipelines_spark.streaming.pipeline import CdcPipeline, PipelineConfig

    try:
        n_cpus = int(cpus)
    except ValueError:  # '*' — session factory's wildcard
        n_cpus = os.cpu_count() or 8
    spark = get_spark("bench", master=f"local[{cpus}]", shuffle_partitions=n_cpus)

    results: dict[str, float] = {}

    # ---- headline: CDC ingest throughput (tail -> merge commit) ----------
    # the change log is written once as parquet segments (the "binlog") and
    # each timed batch READS its segment — no cached-slice re-scans (see
    # CLAUDE.md); generation + warmup stay outside the timed window.
    work = tempfile.mkdtemp(prefix="bench_cdc_")
    from data_pipelines_spark.gen.changegen import write_change_log

    changes = change_stream(
        spark,
        n_events=n_events,
        n_keys=max(64, n_events // 8),
        seed=42,
        html_repeat=html_repeat,
    )
    # several files per microbatch so the source read parallelizes like a
    # real file-stream trigger (maxFilesPerTrigger=seg_per_batch). Constant
    # across parallelism levels: the scaling protocol requires identical
    # input bytes AND layout at every cpu count.
    seg_per_batch = int(os.environ.get("BENCH_SEGS_PER_BATCH", "8"))
    segments = write_change_log(
        changes, os.path.join(work, "log"), n_segments=n_batches * seg_per_batch
    )
    batches = [
        segments[i * seg_per_batch : (i + 1) * seg_per_batch]
        for i in range(n_batches)
    ]
    n_buckets = int(os.environ.get("BENCH_BUCKETS", str(max(16, n_cpus))))
    if os.environ.get("BENCH_WARMUP", "1") != "0":
        # one small throwaway merge: JIT/codegen + python-worker spin-up
        # happen outside the timed window (they are per-process, not
        # per-batch, costs — a long-running tail pays them once).
        wpipe = CdcPipeline(
            spark,
            PipelineConfig(
                table_root=os.path.join(work, "warmup"),
                n_buckets=n_buckets,
                decode=True,
            ),
        )
        wpipe.process_batch(spark.read.parquet(segments[0]).limit(20_000), batch_id=0)
    # best-of-N trials for the timed ingest (fresh table each trial): a
    # single draw on this shared host can absorb a 2x neighbor stall (see
    # CLAUDE.md); same input files and layout every trial.
    # 3 by default: the ingest number IS the headline, and on this host a
    # best-of-2 can still land on a pair of stalled draws (a best-of-4
    # re-measure gave 151.9k ev/s where a full-sweep best-of-2 drew 106.5k)
    cdc_trials = int(os.environ.get("BENCH_CDC_TRIALS", "3"))
    cdc_elapsed = None
    final_rows = 0
    for trial in range(max(1, cdc_trials)):
        pipe = CdcPipeline(
            spark,
            PipelineConfig(
                table_root=os.path.join(work, f"t{trial}"),
                n_buckets=n_buckets,
                decode=True,
            ),
        )
        t0 = time.time()
        for i, group in enumerate(batches):
            pipe.process_batch(spark.read.parquet(*group), batch_id=i)
        el = time.time() - t0
        if cdc_elapsed is None or el < cdc_elapsed:
            cdc_elapsed = el
            final_rows = pipe.table.read().count()
    results["cdc_ingest"] = round(cdc_elapsed, 3)
    # best-of-N per query, same rationale as the ingest trials
    query_trials = max(1, int(os.environ.get("BENCH_QUERY_TRIALS", "2")))

    # ---- serving path: bucket-pruned point lookup on the ingested table ---
    # "current row for url X" latency at the headline table size — read_keys
    # prunes the scan to the keys' bucket directories and pushes In(url)
    # into parquet, so this cost is bounded by the keys' buckets, not the
    # table. Key selection (one scan) stays outside the timed window.
    lookup_keys = [
        r[0]
        for r in pipe.table.read(columns=[]).select("url").limit(20).collect()
    ]
    best = None
    for _ in range(query_trials):
        t0 = time.time()
        pipe.table.read_keys(lookup_keys).collect()
        el = time.time() - t0
        if best is None or el < best:
            best = el
    results["cdc_point_lookup"] = round(best, 3)

    # same lookup on the serving-optimized layout: key-clustered base files
    # whose key_min/key_max zone maps prune the scan to ~one file per key
    # (compaction cost excluded — it's a one-off layout choice, not lookup
    # latency; file/byte pruning ratios are reported in BENCH/BASELINE.md)
    pipe.table.compact(
        batch_id="bench-keysort", sort_by_key=True, target_file_rows=512
    )
    best = None
    for _ in range(query_trials):
        t0 = time.time()
        pipe.table.read_keys(lookup_keys).collect()
        el = time.time() - t0
        if best is None or el < best:
            best = el
    results["cdc_point_lookup_keysorted"] = round(best, 3)

    # ---- flagship queries -------------------------------------------------
    qs = em.queries()
    headline = [] if os.environ.get("BENCH_CDC_ONLY") else [
        "q1_pricing_summary",
        "w1_latest_per_key",
        "j1_anti_join",
        "a3_top10_users",
        "dedup_exact",
        "dedup_minhash_lsh",
        "dedup_simhash",
        "dedup_embedding_lsh",
        "sim_topk_bruteforce",
        "sim_topk_lsh",
        "lang_id_documents",
        "text_tokens_quality",
        "f1_sha2_hash",
        "x1_extract_profile",
        "x4_page_quarantine",
        "dedup_clusters",
        "sim_batch_lsh_topk",
        "sim_topk_ivf_kmeans",
        "m2_media_decode",
        "x6_staging_records",
        "cdc_incr_agg",
        "cdc_incr_agg_minmax",
        "cdc_incr_agg_distinct",
        "cdc_embdup_ingest",
        "cdc_ann_index_topk",
        "cdc_ann_index_batch_topk",
        "cdc_neardup_retract",
        "cdc_compact_sorted",
        "cdc_delete_where",
        "cdc_wap_publish",
        "warc_round_trip",
        "frontier_schedule",
        "quality_ntile",
        "corpus_top_ngrams",
    ]
    # a single draw on this shared host can absorb a 2x neighbor stall
    # (round-2's dedup_exact "+57%" was exactly that — unattributable with a
    # single-shot sweep), hence best-of-query_trials per entry
    for name in headline:
        best = None
        for _ in range(query_trials):
            t0 = time.time()
            df = qs[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            el = time.time() - t0
            if best is None or el < best:
                best = el
        results[name] = round(best, 3)

    # headline value = ONE ingest (the best trial) + the query sweep —
    # comparable across rounds regardless of how many de-noising trials ran
    total = round(sum(results.values()), 3)
    out = {
        "metric": "cdc_ingest_plus_headline_queries_wall",
        "value": total,
        "unit": "sec",
        "queries": results,
        "sf": sf,
        "cdc": {
            "events": n_events,
            "elapsed_sec": round(cdc_elapsed, 3),
            "events_per_sec": round(n_events / cdc_elapsed, 1),
            "final_rows": final_rows,
            "cpus": n_cpus,
            "trials": max(1, cdc_trials),
        },
        "protocol": {
            "ingest_trials": max(1, cdc_trials),
            "query_trials": max(1, query_trials),
            "note": "per-entry best-of-N on a shared host (see CLAUDE.md)",
            "settle_wait_s": round(settle_wait_s, 1),
            "load_before": load_before,
            "load_after": _host_load(),
        },
    }
    shutil.rmtree(work, ignore_errors=True)
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()

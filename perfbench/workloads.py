"""Workload shapes, their set-up, the timed closed loop and the output check.

Every workload is one client in a closed loop of rounds. A round hands its
change-log segments to ``CdcPipeline.process_batch`` (bronze), then brings
the silver table up to date with ``Cascade.sync``, then serves two 20-key
``LakeTable.read_keys`` lookups: one on the log's hottest keys and one on
keys the round just wrote. The next round starts only when the last lookup
has returned. Workloads differ in what each batch carries.
"""

from __future__ import annotations

import math
import os
import shutil
import sys
import time
from dataclasses import dataclass, field

LOOKUP_KEYS = 20


@dataclass(frozen=True)
class Shape:
    segment_events: int  # events per change-log segment
    preingest_segments: int  # history: segments merged as one backfill commit
    history_commits: int  # history: then this many one-segment commits
    segments_per_round: int  # segments handed to one timed process_batch
    html_repeat: int  # page padding, ~122 B per repeat
    n_buckets: int
    change_filter: bool
    view: bool  # attach an AggView to the pipeline
    round_s: float  # measured round wall at local[4]; sizes the run
    min_rounds: int  # fewest timed rounds, whatever ``--seconds`` asks
    keys_per_event: float  # distinct keys / events in the log
    traced_neardup: bool = False  # the traced run ends with the near-dup phase


SHAPES = {
    # 50k-event batches of ~2.5 KB pages into a new table, no change
    # filter: the dedup shuffle, the Arrow decode and the parquet write
    "bulk_decode": Shape(
        segment_events=10_000, preingest_segments=0, history_commits=0,
        segments_per_round=5, html_repeat=20, n_buckets=16, change_filter=False,
        view=False, round_s=8.5, min_rounds=2, keys_per_event=0.25,
        traced_neardup=True,
    ),
    # 2k-event change-filtered commits with a view attached, onto a table
    # with history: the per-batch floor and the read paths. The history is a
    # 10k-event backfill and three 2k-event commits; with the warm-up round
    # every bronze bucket holds five delta files when the window starts. At
    # the engine's default threshold (8 delta files, +0..3 staggered by
    # bucket) bucket 0 auto-compacts in round 3 and bucket 1 in round 4: two
    # compactions in four batches, near the 0.42 per batch that a
    # long-running tail settles at (1/8 + 1/9 + 1/10 + 1/11).
    "serve_and_follow": Shape(
        segment_events=2_000, preingest_segments=5, history_commits=3,
        segments_per_round=1, html_repeat=0, n_buckets=4, change_filter=True,
        view=True, round_s=6.5, min_rounds=4, keys_per_event=0.125,
    ),
}


def rounds_for(shape: Shape, seconds: float) -> int:
    """Fixed work per run: as many rounds as fit ``seconds`` at the measured
    round wall, and at least ``min_rounds``, so a run's output and lake size
    depend only on the seed."""
    return max(shape.min_rounds, math.ceil(seconds / shape.round_s))


@dataclass
class Log:
    """The generated change log, cut into the set-up's and the rounds' parts."""

    segments: list[str]  # the whole log, in offset order
    history: list[str]  # the backfill segments, merged as one commit
    history_commits: list[str]  # then one commit per segment
    rounds: list[list[str]]  # the segments of the warm-up, then of each timed round
    round_events: list[int]
    fresh_keys: list[list[str]]  # keys each round writes, for its lookup
    hot_keys: list[str]
    schema: object


@dataclass
class Lake:
    """Everything one set-up builds over the log: bronze, silver, the view."""

    root: str
    log: Log
    pipe: object
    silver: object
    cascade: object
    view: object
    batch_id: int


def _first_keys(path: str) -> list[str]:
    import pyarrow.parquet as pq

    urls = pq.read_table(path, columns=["url"]).column(0).to_pylist()
    return list(dict.fromkeys(urls))[:LOOKUP_KEYS]


def _hot_keys(paths: list[str]) -> list[str]:
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    urls = pa.concat_arrays(
        [pq.read_table(p, columns=["url"]).column(0).combine_chunks() for p in paths]
    )
    vc = pc.value_counts(urls).to_pylist()
    vc.sort(key=lambda d: (-d["counts"], d["values"]))
    return [d["values"] for d in vc[:LOOKUP_KEYS]]


def make_log(spark, shape: Shape, seed: int, rounds: int, log_dir: str) -> Log:
    """Generate the change log with ``change_stream(seed=…)`` and write it as
    parquet segments: the history first, then one segment for the untimed
    warm-up round, then the ``rounds`` timed rounds."""
    import pyarrow.parquet as pq

    from data_pipelines_spark.gen.changegen import change_stream, write_change_log

    pre = shape.preingest_segments + shape.history_commits
    per = shape.segments_per_round
    n_seg = pre + 1 + rounds * per
    n_events = n_seg * shape.segment_events
    changes = change_stream(
        spark,
        n_events=n_events,
        n_keys=max(64, int(n_events * shape.keys_per_event)),
        seed=seed,
        html_repeat=shape.html_repeat,
    )
    segments = write_change_log(changes, log_dir, n_segments=n_seg)
    if len(segments) != n_seg:
        raise RuntimeError(f"log has {len(segments)} segments, expected {n_seg}")
    first = pre + 1
    rounds_ = [segments[pre:first]] + [
        segments[first + r * per : first + (r + 1) * per] for r in range(rounds)
    ]
    return Log(
        segments=segments,
        history=segments[: shape.preingest_segments],
        history_commits=segments[shape.preingest_segments : pre],
        rounds=rounds_,
        round_events=[sum(pq.read_metadata(s).num_rows for s in segs) for segs in rounds_],
        fresh_keys=[_first_keys(segs[0]) for segs in rounds_],
        hot_keys=_hot_keys(segments),
        schema=spark.read.parquet(segments[0]).schema,
    )


def _pipeline(spark, shape: Shape, root: str):
    from data_pipelines_spark.lake import Cascade, LakeTable
    from data_pipelines_spark.streaming.pipeline import CdcPipeline, PipelineConfig

    pipe = CdcPipeline(
        spark,
        PipelineConfig(
            table_root=os.path.join(root, "bronze"),
            n_buckets=shape.n_buckets,
            decode=True,
            change_filter=shape.change_filter,
        ),
    )
    silver = LakeTable.create(spark, os.path.join(root, "silver"), n_buckets=shape.n_buckets)
    return pipe, silver, Cascade(pipe.table, silver)


def prepare(spark, shape: Shape, log: Log, root: str) -> str | None:
    """Once per run, after the log: commit the history to a bronze table that
    every set-up starts from and return its directory; None for a workload
    without history."""
    if not log.history:
        return None
    pipe, _, _ = _pipeline(spark, shape, os.path.join(root, "history"))
    read = spark.read.schema(log.schema).parquet
    pipe.process_batch(read(*log.history), batch_id=0)
    for b, seg in enumerate(log.history_commits, start=1):
        pipe.table.merge(read(seg), batch_id=b, transform_after_dedup=pipe.decode)
    return pipe.table.root


def set_up(spark, shape: Shape, log: Log, history: str | None, root: str) -> Lake:
    """A lake for the window: bronze is a copy of the prepared history (or
    new), with a fresh view and a silver built over it."""
    from data_pipelines_spark.lake.aggview import AggView

    if history is not None:
        shutil.copytree(history, os.path.join(root, "bronze"))
    pipe, silver, cascade = _pipeline(spark, shape, root)
    view = None
    if shape.view:
        view = AggView.create(
            spark,
            os.path.join(root, "view"),
            group_cols={"lang": "lang"},
            measures={"chars": "length(text)"},
            source_columns=["lang", "text"],
        )
        view.rebuild(pipe.table)
        pipe.attach_view(view)
    if history is not None:
        # silver starts from bronze's current state and is synced per round
        cascade.rebuild()
    return Lake(
        root=root, log=log, pipe=pipe, silver=silver, cascade=cascade, view=view,
        batch_id=len(log.history_commits) + 1,
    )


@dataclass
class Window:
    """Samples from the timed rounds."""

    batch_s: list[float] = field(default_factory=list)
    batch_events: list[int] = field(default_factory=list)
    lag_s: list[float] = field(default_factory=list)
    lookup_s: list[float] = field(default_factory=list)
    events: int = 0
    calls: int = 0
    failed_calls: int = 0
    last_lookups: list[tuple[list[str], list]] = field(default_factory=list)


def run_window(spark, lake: Lake, tracer, rounds: range) -> Window:
    """The closed loop over the log's ``rounds``: one round at a time, each
    step after the last."""
    w = Window()

    def call(fn):
        w.calls += 1
        try:
            return fn()
        except Exception as e:  # a failed public call is counted, not fatal
            w.failed_calls += 1
            print(f"perfbench: call failed: {e!r}", file=sys.stderr, flush=True)
            return None

    for i in rounds:
        df = spark.read.schema(lake.log.schema).parquet(*lake.log.rounds[i])
        bid = lake.batch_id
        lake.batch_id += 1
        t0 = time.perf_counter()
        call(lambda: lake.pipe.process_batch(df, batch_id=bid))
        t1 = time.perf_counter()
        call(lake.cascade.sync)
        t2 = time.perf_counter()
        w.batch_s.append(t1 - t0)
        w.lag_s.append(t2 - t0)
        w.batch_events.append(lake.log.round_events[i])
        w.events += lake.log.round_events[i]
        w.last_lookups = []
        for keys in (lake.log.hot_keys, lake.log.fresh_keys[i]):
            t = time.perf_counter()
            with tracer.span("table.read_keys"):
                rows = call(lambda: lake.pipe.table.read_keys(keys).collect())
            w.lookup_s.append(time.perf_counter() - t)
            w.last_lookups.append((keys, rows))
    return w


def failed_tasks(sc, groups) -> int:
    """Failed Spark tasks across the jobs of the given job groups (``None``
    is the jobs launched outside any group)."""
    st = sc.statusTracker()
    n = 0
    for g in groups:
        for jid in st.getJobIdsForGroup(g):
            info = st.getJobInfo(jid)
            for sid in list(info.stageIds) if info else []:
                s = st.getStageInfo(sid)
                n += s.numFailedTasks if s else 0
    return n


def lake_bytes(lake: Lake) -> int:
    total = 0
    for sub in ("bronze", "silver", "view"):
        for d, _, files in os.walk(os.path.join(lake.root, sub)):
            total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


# ------------------------------------------------------------------ check


def _signature(df):
    """(rows, order-insensitive checksum over (url, warc_ts, offset))."""
    from pyspark.sql import functions as F

    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64("url", "warc_ts", "offset").cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return int(r["n"]), int(r["h"] or 0)


def check(spark, lake: Lake, w: Window) -> list[str]:
    """Compare the lake with the batch oracle; returns the failures."""
    from pyspark.sql import functions as F

    from data_pipelines_spark.gen.changegen import expected_final_state

    errors = []
    if w.failed_calls:
        errors.append(f"{w.failed_calls} public calls failed")
    changes = spark.read.schema(lake.log.schema).parquet(*lake.log.segments)
    want = _signature(expected_final_state(changes.select("url", "warc_ts", "offset", "op")))
    bronze = lake.pipe.table.read()
    got = _signature(bronze)
    if got != want:
        errors.append(f"bronze {got} != expected_final_state {want}")
    silver = _signature(lake.silver.read())
    if silver != got:
        errors.append(f"silver {silver} != bronze {got}")
    if lake.view is not None:
        recomputed = bronze.groupBy("lang").agg(
            F.count(F.lit(1)).alias("cnt"), F.sum(F.length("text")).alias("chars")
        )
        view = lake.view.read().select("lang", "cnt", "chars")
        if sorted(map(tuple, view.collect())) != sorted(map(tuple, recomputed.collect())):
            errors.append("view != GROUP BY over bronze")
    # one filtered read() for every looked-up key, split per lookup
    keys = sorted({k for ks, _ in w.last_lookups for k in ks})
    by_key: dict[str, list[tuple]] = {}
    for r in bronze.where(F.col("url").isin(keys)).collect():
        by_key.setdefault(r["url"], []).append(tuple(r))
    for ks, rows in w.last_lookups:
        want_rows = [r for k in ks for r in by_key.get(k, [])]
        if rows is None or sorted(map(tuple, rows)) != sorted(want_rows):
            errors.append(f"lookup of {len(ks)} keys != filtered read()")
    return errors


# ------------------------------------------------------------ near-dup phase

#: events per batch and batches of the near-dup phase
NEARDUP_EVENTS, NEARDUP_BATCHES = 500, 2


def neardup_phase(spark, seed: int, root: str) -> float:
    """Near-dup dedup on ingest (``near_dup_threshold=0.9`` with retraction,
    as the engine's near-dup pipeline runs): a few small batches through a
    pipeline with a ``MinHashIndex``. Returns the share of signed documents
    the index kept. Runs after the window, so it moves no end-to-end metric;
    the traced run uses it to measure the index's layer."""
    from data_pipelines_spark.gen.changegen import change_stream, write_change_log
    from data_pipelines_spark.streaming.pipeline import CdcPipeline, PipelineConfig

    n = NEARDUP_EVENTS * NEARDUP_BATCHES
    changes = change_stream(spark, n_events=n, n_keys=max(64, n // 4), seed=seed)
    segments = write_change_log(changes, os.path.join(root, "log"), n_segments=NEARDUP_BATCHES)
    schema = spark.read.parquet(segments[0]).schema
    pipe = CdcPipeline(
        spark,
        PipelineConfig(
            table_root=os.path.join(root, "bronze"),
            n_buckets=4,
            decode=True,
            near_dup_threshold=0.9,
            near_dup_retract=True,
        ),
    )
    for b, seg in enumerate(segments):
        pipe.process_batch(spark.read.schema(schema).parquet(seg), batch_id=b)
    # the index's documented layout: kept/ holds the ids each batch kept,
    # shingles/ one row per signed document
    kept = spark.read.parquet(os.path.join(pipe.near_dup.root, "kept")).count()
    signed = spark.read.parquet(os.path.join(pipe.near_dup.root, "shingles")).count()
    return kept / signed

"""Replay / equivalence suite (SURVEY.md §5.3, BASELINE.json correctness gate).

The specification: final table state == full-stream LWW (deletes removed),
regardless of batch slicing, duplicate deliveries, out-of-order arrival, or
checkpoint resume — and extracted ``text`` is byte-identical per url.
"""

import os

import pytest
from pyspark.sql import functions as F

from data_pipelines_spark.extract.html import html_to_text
from data_pipelines_spark.gen.changegen import (
    change_stream,
    expected_final_state,
    write_change_log,
)
from data_pipelines_spark.streaming.pipeline import CdcPipeline, PipelineConfig

N_EVENTS = 1200
N_KEYS = 200


@pytest.fixture(scope="module")
def changes(spark):
    df = change_stream(spark, n_events=N_EVENTS, n_keys=N_KEYS, seed=42).persist()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def oracle(spark, changes):
    o = expected_final_state(changes)
    o = o.withColumn("text", html_to_text(F.col("html")))
    o = o.withColumn(
        "lang",
        F.coalesce(
            F.col("lang"),
            F.regexp_extract(F.col("html").cast("string"), 'lang="([a-z]{2})"', 1),
        ),
    )
    return {r.url: (r.warc_ts, r.offset, r.text, r.lang) for r in o.collect()}


def _state(pipe):
    return {
        r.url: (r.warc_ts, r.offset, r.text, r.lang) for r in pipe.table.read().collect()
    }


def test_batch_replay_matches_oracle(spark, tmp_root, changes, oracle):
    pipe = CdcPipeline(spark, PipelineConfig(os.path.join(tmp_root, "t"), n_buckets=8))
    pipe.run_batches(changes, n_batches=5)
    assert _state(pipe) == oracle


def test_slicing_independence(spark, tmp_root, changes, oracle):
    pipe = CdcPipeline(spark, PipelineConfig(os.path.join(tmp_root, "t2"), n_buckets=8))
    pipe.run_batches(changes, n_batches=2)
    assert _state(pipe) == oracle


def test_streaming_and_checkpoint_resume(spark, tmp_root, changes, oracle):
    log_dir = os.path.join(tmp_root, "log")
    ckpt = os.path.join(tmp_root, "ckpt")
    write_change_log(changes, log_dir, n_segments=4)
    schema = spark.read.parquet(log_dir).schema
    pipe = CdcPipeline(spark, PipelineConfig(os.path.join(tmp_root, "t3"), n_buckets=8))
    q = pipe.run_stream(log_dir, ckpt, schema, max_files_per_trigger=1)
    q.awaitTermination()
    assert _state(pipe) == oracle
    # resume from the same checkpoint: no-op, state identical
    q2 = pipe.run_stream(log_dir, ckpt, schema, max_files_per_trigger=1)
    q2.awaitTermination()
    assert _state(pipe) == oracle
    # every committed batch has lineage with a sane offset span
    lin = pipe.lineage()
    assert lin.where(F.col("offset_min") > F.col("offset_max")).count() == 0


def test_mid_stream_kill_and_resume(spark, tmp_root, changes, oracle):
    """Process half the log, 'crash', resume from checkpoint → same state."""
    log_dir = os.path.join(tmp_root, "log2")
    ckpt = os.path.join(tmp_root, "ckpt2")
    write_change_log(changes, log_dir, n_segments=4)
    schema = spark.read.parquet(log_dir).schema
    pipe = CdcPipeline(spark, PipelineConfig(os.path.join(tmp_root, "t4"), n_buckets=8))
    # phase 1: only first half of segments visible (simulates a kill mid-log)
    import shutil

    part_dir = os.path.join(tmp_root, "log2_partial")
    os.makedirs(part_dir)
    segs = sorted(f for f in os.listdir(log_dir) if f.endswith(".parquet"))
    for s in segs[:2]:
        shutil.copy(os.path.join(log_dir, s), os.path.join(part_dir, s))
    q = pipe.run_stream(part_dir, ckpt, schema, max_files_per_trigger=1)
    q.awaitTermination()
    assert len(_state(pipe)) > 0
    # phase 2: rest of the log appears; resume from the same checkpoint
    for s in segs[2:]:
        shutil.copy(os.path.join(log_dir, s), os.path.join(part_dir, s))
    q2 = pipe.run_stream(part_dir, ckpt, schema, max_files_per_trigger=1)
    q2.awaitTermination()
    assert _state(pipe) == oracle


def test_duplicate_batch_redelivery_is_noop(spark, tmp_root, changes, oracle):
    pipe = CdcPipeline(spark, PipelineConfig(os.path.join(tmp_root, "t5"), n_buckets=8))
    pipe.run_batches(changes, n_batches=3)
    # re-deliver every batch verbatim (simulates foreachBatch retry storm)
    stats = pipe.run_batches(changes, n_batches=3)
    assert all(s.skipped_duplicate_batch for s in stats)
    assert _state(pipe) == oracle


def test_schema_evolution_mid_stream(spark, tmp_root):
    df = change_stream(spark, n_events=600, n_keys=100, seed=7, evolve_at=0.5).persist()
    cut = 300
    v1 = df.where(F.col("offset") < cut).drop("meta")  # old producer: no meta column
    v2 = df.where(F.col("offset") >= cut)
    pipe = CdcPipeline(spark, PipelineConfig(os.path.join(tmp_root, "t6"), n_buckets=8))
    pipe.process_batch(v1, batch_id=0)
    assert "meta" not in pipe.table.read().columns
    s = pipe.process_batch(v2, batch_id=1)
    assert s.schema_evolved
    out = pipe.table.read()
    assert "meta" in out.columns
    # rows last written before the cut are backfilled with NULL meta
    assert out.where(F.col("offset") < cut).where(F.col("meta").isNotNull()).count() == 0
    # final state matches full-stream oracle with evolved schema
    oracle = expected_final_state(df)
    oracle = oracle.withColumn("text", html_to_text(F.col("html")))
    want = {r.url: (r.offset, r.meta) for r in oracle.collect()}
    got = {r.url: (r.offset, r.meta) for r in out.collect()}
    assert got == want
    df.unpersist()


def test_change_filter_skips_unchanged_rescrapes(spark, tmp_root):
    """§3.2: with the pre-MERGE change filter on, hash-unchanged re-scrapes
    become payload-free seq-bump deltas, yet the final (url → html, seq)
    state matches the unfiltered replay — deletes ENABLED (the bump advances
    the stored sequence, so out-of-order deletes resolve identically)."""
    import os

    from data_pipelines_spark.gen.changegen import change_stream
    from data_pipelines_spark.streaming.pipeline import CdcPipeline, PipelineConfig

    changes = change_stream(spark, n_events=4000, n_keys=300, seed=7).persist()
    pipes = {}
    for name, flag in [("plain", False), ("filtered", True)]:
        pipe = CdcPipeline(
            spark,
            PipelineConfig(
                table_root=os.path.join(tmp_root, name),
                n_buckets=4,
                change_filter=flag,
            ),
        )
        pipe.run_batches(changes, n_batches=4)
        pipes[name] = pipe

    # full equivalence: same keys, same content, same winning sequence
    a = pipes["plain"].table.read().select(
        "url", "warc_ts", "offset", F.sha2("html", 256).alias("h")
    )
    b = pipes["filtered"].table.read().select(
        "url", "warc_ts", "offset", F.sha2("html", 256).alias("h")
    )
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0

    # the filter must actually drop work: bump deltas carry no page bytes
    bytes_plain = sum(r.bytes_written for r in pipes["plain"].lineage().collect())
    bytes_filt = sum(r.bytes_written for r in pipes["filtered"].lineage().collect())
    assert bytes_filt < bytes_plain
    changes.unpersist()


def test_bump_defeats_out_of_order_delete(spark, tmp_root):
    """The resurrection edge the bump fixes: stored U@3; a hash-unchanged
    re-scrape at seq 9 is skipped as a bump; a late delete at seq 7 arrives
    afterwards. Without the bump the delete would win (7 > 3) and kill the
    key; with it, the key stays live with the observed content at seq 9."""
    import os

    from data_pipelines_spark.streaming.pipeline import CdcPipeline, PipelineConfig

    pipe = CdcPipeline(
        spark,
        PipelineConfig(
            table_root=os.path.join(tmp_root, "t"), n_buckets=2, change_filter=True
        ),
    )
    schema = "offset long, op string, url string, warc_ts timestamp, html binary, lang string"

    def batch(rows):
        return spark.createDataFrame(rows, schema)

    from datetime import datetime

    def ts(s):
        return datetime(2025, 1, 1, 0, 0, s)

    u = "https://site.example.com/page/1"
    html = b"<html><body>stable content</body></html>"
    pipe.process_batch(batch([(3, "U", u, ts(3), html, "en")]), 0)
    # re-scrape with identical bytes -> reduced to a seq bump at offset 9
    pipe.process_batch(batch([(9, "U", u, ts(9), html, "en")]), 1)
    lin = {r.batch_id: r for r in pipe.lineage().collect()}
    assert lin[1].bytes_written < lin[0].bytes_written  # no page bytes shipped
    # late out-of-order delete between the stored and bumped sequences
    pipe.process_batch(batch([(7, "D", u, ts(7), None, None)]), 2)

    rows = pipe.table.read().collect()
    assert len(rows) == 1, "bump must defeat the in-between delete"
    r = rows[0]
    assert bytes(r.html) == html and r.offset == 9
    # and the state scan the NEXT filter does sees the bumped sequence + hash
    state = pipe.table.read(columns=["content_hash"]).collect()[0]
    assert state.offset == 9 and state.content_hash is not None

    # compaction folds the bump into a plain row; result unchanged
    pipe.table.compact()
    rows2 = pipe.table.read().collect()
    assert len(rows2) == 1 and bytes(rows2[0].html) == html and rows2[0].offset == 9

    # a delete NEWER than the bump must still win
    pipe.process_batch(batch([(11, "D", u, ts(11), None, None)]), 3)
    assert pipe.table.read().count() == 0

    # a bump for a key with NO stored row cannot materialize: the
    # merge-on-read resolution makes it a tombstone, never a live NULL row
    orphan = "https://site.example.com/page/2"
    pipe.table.merge(
        spark.createDataFrame(
            [(5, "B", orphan, ts(5), None, "0" * 64)],
            "offset long, op string, url string, warc_ts timestamp, "
            "html binary, content_hash string",
        ),
        batch_id="orphan-bump",
    )
    assert pipe.table.read().where(F.col("url") == orphan).count() == 0
    dead = pipe.table.read(include_tombstones=True).where(F.col("url") == orphan)
    assert [r._deleted for r in dead.collect()] == [True]


def test_change_filter_with_mid_stream_schema_evolution(spark, tmp_root):
    """Bump deltas and additive schema evolution compose: the filtered
    replay still equals the unfiltered one when the stream grows a column
    mid-flight (bump rows NULL-fill evolved columns; alignment backfills)."""
    import os

    from data_pipelines_spark.gen.changegen import change_stream
    from data_pipelines_spark.streaming.pipeline import CdcPipeline, PipelineConfig

    changes = change_stream(
        spark, n_events=3000, n_keys=250, seed=13, evolve_at=0.5
    ).persist()
    outs = {}
    for name, flag in [("plain", False), ("filtered", True)]:
        pipe = CdcPipeline(
            spark,
            PipelineConfig(
                table_root=os.path.join(tmp_root, f"ev_{name}"),
                n_buckets=4,
                change_filter=flag,
            ),
        )
        pipe.run_batches(changes, n_batches=3)
        outs[name] = pipe.table.read().select(
            "url", "warc_ts", "offset", F.sha2("html", 256).alias("h"),
            F.to_json("meta").alias("meta_json"),  # maps can't join set ops
        )
    a, b = outs["plain"], outs["filtered"]
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    changes.unpersist()

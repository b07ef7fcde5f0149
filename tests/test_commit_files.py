"""Lean commit files: the lake's parquet footer policy and the zero-job
rewrite accounting built on it.

Every data write keeps min/max footer statistics on the key, the sequence
columns and non-byte-array columns only; payload strings (html, text,
content_hash, op, lang) are written without them. The manifest zone maps of
every write path (merge deltas, compaction, overwrite) then come from those
footers driver-side, so a rewrite's accounting launches no Spark job. These
tests pin the policy, the zone maps against Spark's own min/max, the
point-lookup file set and bucket routing, the per-call job budgets, and the
one snapshot format every commit path writes.
"""

import datetime as dt
import glob
import json
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_pipelines_spark.functions.hashing import bucket_id
from data_pipelines_spark.gen.changegen import change_stream
from data_pipelines_spark.lake.cascade import Cascade
from data_pipelines_spark.lake.table import (
    LakeTable,
    MergeStats,
    _key_bounds_py,
)
from data_pipelines_spark.streaming.pipeline import CdcPipeline, PipelineConfig

WITH_STATS = ("url", "warc_ts", "offset")
WITHOUT_STATS = ("html", "text", "content_hash")
#: the manifest's ts bound format (session TZ is UTC)
TS_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"


def _ingest(spark, root, n_events=2000, n_batches=2):
    changes = change_stream(spark, n_events=n_events, n_keys=400, seed=11)
    pipe = CdcPipeline(
        spark, PipelineConfig(table_root=root, n_buckets=4, decode=True)
    )
    pipe.run_batches(changes, n_batches=n_batches)
    return pipe.table


def _entries(table: LakeTable) -> list[dict]:
    files = table._resolve_files(table._snapshot())
    return [fe for fl in files.values() for fe in fl]


def _jobs(spark, group: str, fn):
    """Run ``fn`` under its own job group; return (result, Spark jobs)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _check_footers_and_zone_maps(spark, table: LakeTable):
    entries = _entries(table)
    assert entries
    for fe in entries:
        path = os.path.join(table.root, fe["path"])
        md = pq.ParquetFile(path).metadata
        cols = {md.schema.column(i).path: i for i in range(md.num_columns)}
        for rg in range(md.num_row_groups):
            for name in WITH_STATS:
                st = md.row_group(rg).column(cols[name]).statistics
                assert st is not None and st.has_min_max, (fe["path"], name)
            for name in WITHOUT_STATS:
                st = md.row_group(rg).column(cols[name]).statistics
                assert st is None or not st.has_min_max, (fe["path"], name)
        # the manifest's zone maps equal Spark's own min/max over the file
        r = spark.read.parquet(path).agg(
            F.min("url").alias("k_lo"),
            F.max("url").alias("k_hi"),
            F.date_format(F.min("warc_ts"), TS_FMT).alias("ts_lo"),
            F.date_format(F.max("warc_ts"), TS_FMT).alias("ts_hi"),
        ).first()
        assert (fe["key_min"], fe["key_max"]) == _key_bounds_py(r.k_lo, r.k_hi)
        assert (fe["ts_min"], fe["ts_max"]) == (r.ts_lo, r.ts_hi)


def test_footer_policy_and_zone_maps_on_every_write_path(spark, tmp_root):
    t = _ingest(spark, os.path.join(tmp_root, "b"))
    assert {fe["kind"] for fe in _entries(t)} == {"delta"}
    _check_footers_and_zone_maps(spark, t)

    t.compact(buckets=[0, 1], batch_id="c1")
    kinds = {fe["kind"] for fe in _entries(t)}
    assert kinds == {"base", "delta"}
    _check_footers_and_zone_maps(spark, t)

    silver = LakeTable.create(spark, os.path.join(tmp_root, "s"), n_buckets=4)
    Cascade(t, silver).rebuild()  # INSERT OVERWRITE into silver
    assert {fe["kind"] for fe in _entries(silver)} == {"base"}
    _check_footers_and_zone_maps(spark, silver)
    # accounting from footers matches the table's contents
    snap = silver._snapshot()
    assert snap["stats"]["total_rows"] == silver.read(
        include_tombstones=True
    ).count()
    assert snap["stats"]["live_rows"] == silver.read().count()


def test_read_keys_opens_the_spark_min_max_file_set(spark, tmp_root):
    """Pruning from footer zone maps opens exactly the files a zone map
    built from Spark's exact per-file min/max would."""
    t = _ingest(spark, os.path.join(tmp_root, "b"))
    t.compact(
        buckets=[0, 2], batch_id="c1", sort_by_key=True, target_file_rows=40
    )
    keys = [
        r.url for r in t.read(columns=[]).orderBy("url").limit(200).collect()
    ][::37]
    # read_keys prunes to the keys' buckets, then drops files whose range
    # holds none of the keys
    buckets = {
        r.b
        for r in spark.createDataFrame([(k,) for k in keys], "url string")
        .select(bucket_id(F.col("url"), t.n_buckets).alias("b"))
        .collect()
    }
    expected = set()
    for b, files in t._resolve_files(t._snapshot()).items():
        for fe in files:
            path = os.path.normpath(os.path.join(t.root, fe["path"]))
            r = spark.read.parquet(path).agg(
                F.min("url").alias("lo"), F.max("url").alias("hi")
            ).first()
            lo, hi = _key_bounds_py(r.lo, r.hi)
            if int(b) in buckets and any(lo <= k <= hi for k in keys):
                expected.add(path)
    got = {
        os.path.normpath(p.removeprefix("file:"))
        for p in t.read_keys(keys).inputFiles()
    }
    assert got == expected
    assert len(got) < len(_entries(t))


def test_rewrite_job_budgets(spark, tmp_root):
    """A one-bucket compaction is read+resolve+write with zero accounting
    jobs: 3 Spark jobs (6 when the rewrite read its own output back); a
    Cascade.rebuild — upstream read, downstream overwrite — 4 (was 7)."""
    t = _ingest(spark, os.path.join(tmp_root, "b"), n_events=4000, n_batches=3)
    c, n = _jobs(spark, "compact", lambda: t.compact(buckets=[0], batch_id="c1"))
    assert c.committed_version is not None and c.per_bucket[0]["rows"] > 0
    assert n == 3

    # the footer accounting alone launches nothing
    entries = {"0": [dict(fe) for fe in t._resolve_files(t._snapshot())["0"]]}
    _, n = _jobs(
        spark, "footers",
        lambda: t._stats_from_footers(entries, MergeStats("x"), kind="base"),
    )
    assert n == 0

    silver = LakeTable.create(spark, os.path.join(tmp_root, "s"), n_buckets=4)
    cas = Cascade(t, silver)
    _, n = _jobs(spark, "rebuild", cas.rebuild)
    assert n == 4


def test_metadata_only_job_budgets(spark, tmp_root):
    """A fast-forward publish moves one pointer and snapshot GC deletes
    files found from metadata alone: 0 Spark jobs each."""
    t = LakeTable.create(spark, os.path.join(tmp_root, "m"), n_buckets=4)
    changes = change_stream(spark, n_events=400, n_keys=80, seed=3)
    t.merge(changes.where(F.col("offset") < 200), "b0")
    t.create_branch("staging")
    t.branch("staging").merge(changes.where(F.col("offset") >= 200), "b1")
    v, n = _jobs(spark, "publish_ff", lambda: t.publish("staging"))
    assert v == t.current_version() and n == 0
    st, n = _jobs(spark, "expire", lambda: t.expire_snapshots(keep_last=1))
    assert st["snapshots_expired"] > 0 and n == 0


@pytest.mark.parametrize("key_type", ["string", "long", "int"])
def test_read_keys_routes_buckets_with_zero_jobs(spark, tmp_root, key_type):
    """read_keys hashes its keys into bucket ids while Spark plans (a local
    relation), so the call launches no job; the ids equal Spark's bucket_id
    over the same keys under the table's key type."""
    schema = T.StructType(
        [
            T.StructField("op", T.StringType()),
            T.StructField("k", T.StringType() if key_type == "string" else
                          T.LongType() if key_type == "long" else T.IntegerType()),
            T.StructField("warc_ts", T.TimestampType()),
            T.StructField("offset", T.LongType()),
        ]
    )
    cast = str if key_type == "string" else int
    t = LakeTable.create(spark, os.path.join(tmp_root, key_type), key="k", n_buckets=8)
    ts = dt.datetime(2025, 1, 1)
    t.merge(spark.createDataFrame([("I", cast(i), ts, i) for i in range(200)], schema), 1)
    keys = [cast(i) for i in range(0, 400, 17)]  # half are absent

    routed = []
    read = t.read
    t.read = lambda **kw: routed.append(kw["buckets"]) or read(**kw)
    df, n = _jobs(spark, f"read_keys_{key_type}", lambda: t.read_keys(keys))
    assert n == 0

    want = sorted(
        r.b
        for r in spark.createDataFrame([(k,) for k in keys], T.StructType([schema["k"]]))
        .select(bucket_id(F.col("k"), 8).alias("b"))
        .distinct()
        .collect()
    )
    assert routed == [want]
    assert sorted(r.k for r in df.collect()) == sorted(k for k in keys if int(k) < 200)


KNOWN_OPERATIONS = {
    "merge", "compact", "overwrite", "backfill", "rebucket", "vacuum",
    "schema-update", "rollback",
}


def test_every_commit_path_writes_one_snapshot_format(spark, tmp_root):
    """Every snapshot carries an operation tag and an integer parent, and no
    inline file list: readers assume this one format."""
    t = LakeTable.create(spark, os.path.join(tmp_root, "f"), n_buckets=4)
    changes = change_stream(spark, n_events=600, n_keys=120, seed=3)
    part = lambda lo, hi: changes.where((F.col("offset") >= lo) & (F.col("offset") < hi))
    t.merge(part(0, 150), "b0")
    t.merge(part(150, 300), "b1")
    t.compact(buckets=[0], batch_id="c1")
    t.overwrite(part(0, 300), "ow")
    t.update_schema(T.StructType(t.schema().fields + [T.StructField("note", T.StringType())]))
    t.backfill("note", F.lit("x"), batch_id="bf")
    t.vacuum_tombstones("vac", older_than="2100-01-01")
    t.rebucket(2, batch_id="rb")
    t.create_branch("ff")
    t.branch("ff").merge(part(300, 400), "b2")
    t.publish("ff")
    rollback_to = t.current_version()
    t.create_branch("rebase")
    t.branch("rebase").merge(part(400, 500), "b3")
    t.merge(part(500, 600), "b4")
    t.publish("rebase", mode="rebase")
    t.rollback(rollback_to, batch_id="rbk")

    snaps = {}
    for path in glob.glob(os.path.join(t.root, "metadata", "v*.json")):
        with open(path) as f:
            snap = json.load(f)
        snaps[snap["version"]] = snap
    assert snaps[0]["parent"] is None and "files" not in snaps[0]
    ops = set()
    for v, snap in snaps.items():
        if v == 0:
            continue
        assert snap["operation"] in KNOWN_OPERATIONS, (v, snap.get("operation"))
        assert isinstance(snap["parent"], int) and snap["parent"] < v, v
        assert "files" not in snap, v
        ops.add(snap["operation"])
    assert ops == KNOWN_OPERATIONS

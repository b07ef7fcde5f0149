"""Cascading CDC (bronze→silver) + LakeTable.overwrite (INSERT OVERWRITE).

Reference parity: the reference pipeline is itself a table cascade — raw
html lake → staging mirror → publish tier, each hop re-applying upserts
(`boxing/load/to_staging_mirror_db.py:263-267`,
`boxing/database/deploy/preview.py`). Here every upstream MERGE commit
becomes one exactly-once downstream batch pulled from change_log().
"""

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_pipelines_spark.lake import Cascade, LakeTable
from data_pipelines_spark.lake.cascade import chain
from data_pipelines_spark.lake.table import ChangeLogUnavailableError

SCHEMA = T.StructType(
    [
        T.StructField("op", T.StringType()),
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("offset", T.LongType()),
        T.StructField("lang", T.StringType()),
    ]
)


def ts(day: int) -> dt.datetime:
    return dt.datetime(2025, 1, day)


def _df(spark, rows, schema=SCHEMA):
    return spark.createDataFrame(rows, schema)


@pytest.fixture()
def pair(spark, tmp_root):
    up = LakeTable.create(
        spark, os.path.join(tmp_root, "bronze"), key="url", n_buckets=4,
        overwrite=True,
    )
    down = LakeTable.create(
        spark, os.path.join(tmp_root, "silver"), key="url", n_buckets=4,
        overwrite=True,
    )
    return up, down


def _state(t, cols=("url", "lang")):
    return {tuple(r[c] for c in cols) for r in t.read().select(*cols).collect()}


# ------------------------------------------------------------------ overwrite


def test_overwrite_replaces_state(spark, pair):
    t, _ = pair
    t.merge(_df(spark, [("I", "a", ts(1), 1, "en"), ("I", "b", ts(1), 2, "de")]), 1)
    t.overwrite(
        _df(spark, [("I", "b", ts(2), 3, "fr"), ("I", "c", ts(2), 4, "it")]),
        batch_id="ow",
    )
    assert _state(t) == {("b", "fr"), ("c", "it")}  # 'a' gone, not deleted
    # exactly-once
    out = t.overwrite(_df(spark, [("I", "zz", ts(9), 9, "xx")]), batch_id="ow")
    assert out.skipped_duplicate_batch
    assert _state(t) == {("b", "fr"), ("c", "it")}


def test_overwrite_tombstones_guard_stale_events(spark, pair):
    t, _ = pair
    t.overwrite(
        _df(spark, [("I", "a", ts(5), 10, "en"), ("D", "b", ts(5), 11, None)]),
        batch_id="ow",
    )
    assert _state(t) == {("a", "en")}
    # a stale pre-overwrite event for the tombstoned key must still lose
    t.merge(_df(spark, [("U", "b", ts(2), 1, "stale")]), batch_id=2)
    assert _state(t) == {("a", "en")}
    # time travel to the pre-overwrite... the overwrite was v1 on empty: skip
    # change_log across it refuses, changes() diffs it
    with pytest.raises(ChangeLogUnavailableError, match="OVERWRITE"):
        t.change_log(0)
    diff = {r.url: r["_change_type"] for r in t.changes(0, 1).collect()}
    assert diff["a"] == "I"


def test_overwrite_manifest_replaces_mixed_layout(spark, pair):
    """The replace manifest must cover every OLD bucket key — including a
    prior rebucket layout's — or stale files survive resolution. Pinned
    over the nastiest layout: base + rebucket + un-compacted deltas."""
    t, _ = pair
    t.merge(_df(spark, [("I", f"k{i}", ts(1), i, "en") for i in range(12)]), 1)
    t.rebucket(3, batch_id="rb")
    t.merge(_df(spark, [("U", f"k{i}", ts(2), 100 + i, "de") for i in range(6)]), 2)
    out = t.overwrite(_df(spark, [("I", "x", ts(3), 500, "fr")]), batch_id="ow")
    files = t._resolve_files(t._snapshot())
    live = [fe["path"] for fl in files.values() for fe in fl]
    assert live, files
    # every surviving file was written by the overwrite commit itself
    marker = f"v{out.committed_version}-"
    assert all(marker in p for p in live), live
    assert _state(t) == {("x", "fr")}


def test_overwrite_can_move_backwards(spark, pair):
    t, _ = pair
    t.merge(_df(spark, [("I", "a", ts(9), 99, "new")]), 1)
    # replace with an OLDER-sequence state: merge could never do this
    t.overwrite(_df(spark, [("I", "a", ts(1), 1, "old")]), batch_id="ow")
    assert _state(t) == {("a", "old")}


# ----------------------------------------------------------------- sync hops


def test_sync_applies_each_commit_exactly_once(spark, pair):
    up, down = pair
    c = Cascade(up, down)
    up.merge(_df(spark, [("I", "a", ts(1), 1, "en"), ("I", "b", ts(1), 2, "de")]), 1)
    up.merge(_df(spark, [("U", "a", ts(2), 3, "fr"), ("D", "b", ts(2), 4, None)]), 2)
    assert c.lag() == 2
    stats = c.sync()
    assert len(stats) == 2 and c.lag() == 0
    assert _state(down) == _state(up) == {("a", "fr")}
    assert down.ledger()["cascade:1"] == 1 and down.ledger()["cascade:2"] == 2
    # re-sync: nothing to do; marker re-offer skips via ledger
    assert c.sync() == []
    c._write_marker(0)  # simulate lost marker → re-offers, ledger skips
    stats = c.sync()
    assert all(s.skipped_duplicate_batch for s in stats)
    assert _state(down) == {("a", "fr")}


def test_sync_out_of_order_deletes_propagate(spark, pair):
    up, down = pair
    c = Cascade(up, down)
    up.merge(_df(spark, [("I", "k", ts(5), 10, "v5")]), 1)
    up.merge(_df(spark, [("D", "k", ts(7), 20, None)]), 2)
    up.merge(_df(spark, [("U", "k", ts(6), 15, "stale")]), 3)  # loses to D
    c.sync()
    assert _state(up) == _state(down) == set()


def test_sync_propagates_predicate_dml(spark, pair):
    """delete_where/update_where commit as ordinary MERGE batches (op rows
    with a caller-supplied sequence), so a cascade propagates the purge /
    rewrite downstream like any other change — the GDPR-erasure hop."""
    up, down = pair
    c = Cascade(up, down)
    up.merge(
        _df(spark, [("I", f"k{i}", ts(1), i, "de" if i % 2 else "en") for i in range(8)]),
        1,
    )
    up.delete_where(
        F.col("lang") == "de", batch_id="purge",
        seq={"warc_ts": ts(2), "offset": 100}, predicate_columns=["lang"],
    )
    up.update_where(
        F.col("lang") == "en", {"lang": "en-US"}, batch_id="rewrite",
        seq={"warc_ts": ts(2), "offset": 101},
    )
    c.sync()
    assert c.lag() == 0
    assert _state(down) == _state(up) == {(f"k{i}", "en-US") for i in range(0, 8, 2)}


def test_sync_skips_reorganizations_with_zero_commits(spark, pair):
    up, down = pair
    c = Cascade(up, down)
    up.merge(_df(spark, [("I", f"k{i}", ts(1), i, "en") for i in range(8)]), 1)
    c.sync()
    v_before = down.current_version()
    up.compact(batch_id="c1")
    up.update_schema(
        T.StructType(list(up.schema().fields) + [T.StructField("extra", T.StringType())])
    )
    c.sync()
    assert c.lag() == 0
    assert down.current_version() == v_before  # no empty downstream commits
    assert _state(down) == _state(up)


def test_sync_transform_filters_and_enriches(spark, pair):
    up, down = pair
    keep = (F.col("op") == "D") | (F.col("lang") != "de")

    def transform(df):
        return df.where(keep).withColumn("lang_uc", F.upper("lang"))

    c = Cascade(up, down, transform=transform)
    up.merge(
        _df(
            spark,
            [
                ("I", "a", ts(1), 1, "en"),
                ("I", "b", ts(1), 2, "de"),
                ("I", "c", ts(1), 3, "fr"),
            ],
        ),
        1,
    )
    up.merge(_df(spark, [("D", "c", ts(2), 4, None)]), 2)  # delete passes filter
    c.sync()
    got = {(r.url, r.lang, r.lang_uc) for r in down.read().collect()}
    assert got == {("a", "en", "EN")}  # b filtered, c deleted


def test_sync_refuses_cow_then_rebuild_recovers(spark, pair):
    up, down = pair
    c = Cascade(up, down)
    up.merge(_df(spark, [("I", "a", ts(1), 1, "en")]), 1)
    c.sync()
    up.overwrite(_df(spark, [("U", "a", ts(2), 2, "fr")]), 2)  # copy-on-write
    with pytest.raises(ChangeLogUnavailableError):
        c.sync()
    c.rebuild()
    assert c.lag() == 0
    assert _state(down) == _state(up) == {("a", "fr")}
    # subsequent incremental syncs resume normally
    up.merge(_df(spark, [("I", "b", ts(3), 3, "it")]), 3)
    c.sync()
    assert _state(down) == {("a", "fr"), ("b", "it")}


def test_rebuild_converges_after_upstream_rollback(spark, pair):
    up, down = pair
    c = Cascade(up, down)
    up.merge(_df(spark, [("I", "a", ts(1), 1, "en")]), 1)
    v1 = up.current_version()
    up.merge(_df(spark, [("U", "a", ts(5), 5, "newer"), ("I", "b", ts(5), 6, "de")]), 2)
    c.sync()
    assert _state(down) == {("a", "newer"), ("b", "de")}
    up.rollback(v1)
    with pytest.raises(ChangeLogUnavailableError):
        c.sync()
    # downstream is AHEAD in sequences — only overwrite-rebuild converges
    c.rebuild()
    assert _state(down) == _state(up) == {("a", "en")}
    # and stays consistent for future hops
    up.merge(_df(spark, [("U", "a", ts(6), 7, "resumed")]), "post-rb")
    c.sync()
    assert _state(down) == {("a", "resumed")}


def test_rebuild_propagates_backfill_values(spark, pair):
    up, down = pair
    c = Cascade(up, down)
    up.merge(_df(spark, [("I", "a", ts(1), 1, None), ("I", "b", ts(1), 2, "de")]), 1)
    c.sync()
    up.backfill("lang", F.lit("filled"))
    with pytest.raises(ChangeLogUnavailableError):
        c.sync()
    c.rebuild()
    assert _state(down) == _state(up) == {("a", "filled"), ("b", "de")}


def test_three_tier_chain(spark, tmp_root):
    tiers = [
        LakeTable.create(
            spark, os.path.join(tmp_root, n), key="url", n_buckets=4, overwrite=True
        )
        for n in ("bronze", "silver", "gold")
    ]
    links = chain(tiers)
    tiers[0].merge(
        _df(spark, [("I", "a", ts(1), 1, "en"), ("I", "b", ts(1), 2, "de")]), 1
    )
    tiers[0].merge(_df(spark, [("D", "b", ts(2), 3, None)]), 2)
    for link in links:
        link.sync()
    assert _state(tiers[2]) == _state(tiers[0]) == {("a", "en")}


def test_key_mismatch_refused(spark, tmp_root):
    up = LakeTable.create(
        spark, os.path.join(tmp_root, "u"), key="url", n_buckets=4, overwrite=True
    )
    down = LakeTable.create(
        spark, os.path.join(tmp_root, "d"), key="doc_id", n_buckets=4, overwrite=True
    )
    with pytest.raises(ValueError, match="identical key"):
        Cascade(up, down)

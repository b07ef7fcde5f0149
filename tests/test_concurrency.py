"""Optimistic concurrency: the commit protocol, rebase rules, multi-writer LWW.

Every table commits one way. The snapshot file's exclusive create claims a
global version slot (`LakeTable._write_snapshot`), and the head pointer
moves by a check-and-replace under an exclusive flock
(`LakeTable._swap_pointer`). A writer that loses either step rebases
metadata-only and retries (`_commit` / `_rebase`):

- a taken slot on an unmoved head (another lineage, or a crashed
  writer's orphan snapshot) retries on a fresh number;
- LWW delta merges commute with anything → always rebase;
- rewrite commits (compact/overwrite/vacuum/backfill) revalidate their
  read set;
- rebucket / rollback never rebase;
- concurrent schema evolution re-unions and re-stamps file schema_ids;
- a concurrently-applied batch_id becomes an exactly-once duplicate skip.

Conflicts are injected deterministically: a hook on writer A's
`_write_snapshot` runs writer B's commit first, so A always loses the CAS
on its first attempt, and a hook inside A's pointer swap starts B's whole
commit between A's head check and its replace. A threaded stress test
then checks the interleaving-independent invariant (final state == LWW
over the union).
"""

import datetime as dt
import json
import os
import threading
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_pipelines_spark.lake import ConcurrentCommitError, LakeTable

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


def _two_handles(spark, tmp_root):
    root = os.path.join(tmp_root, "t")
    a = LakeTable.create(spark, root, key="url", n_buckets=4, overwrite=True)
    b = LakeTable.load(spark, root)
    return a, b


def _lose_first_cas(writer_a, action_as_b):
    """Make writer_a lose its first commit CAS: run ``action_as_b`` (the
    concurrent winner) right before A's first snapshot write."""
    orig = writer_a._write_snapshot
    state = {"fired": False}

    def hooked(snap):
        if not state["fired"]:
            state["fired"] = True
            action_as_b()
        orig(snap)

    writer_a._write_snapshot = hooked
    return state


def test_concurrent_merges_rebase_and_both_land(spark, tmp_root):
    a, b = _two_handles(spark, tmp_root)
    a.merge(_df(spark, [("I", "u1", ts(1), 1, "en")]), batch_id="seed")

    _lose_first_cas(
        a, lambda: b.merge(_df(spark, [("I", "u2", ts(2), 2, "de")]), batch_id="B")
    )
    out = a.merge(
        _df(spark, [("U", "u1", ts(3), 3, "fr"), ("I", "u3", ts(3), 4, "it")]),
        batch_id="A",
    )

    assert out.committed_version == 3  # seed=1, B=2, rebased A=3
    got = {r.url: r.lang for r in a.read().collect()}
    assert got == {"u1": "fr", "u2": "de", "u3": "it"}
    ledger = a.ledger()
    assert ledger["A"] == 3 and ledger["B"] == 2
    # the loser's first-attempt manifest was unlinked — every manifest on
    # disk is referenced by some snapshot
    meta = os.path.join(a.root, "metadata")
    referenced = set()
    for v in range(a.current_version() + 1):
        with open(os.path.join(meta, f"v{v}.json")) as f:
            referenced.update(json.load(f).get("manifests", []))
    on_disk = {n for n in os.listdir(meta) if n.startswith("m")}
    assert on_disk <= referenced


def test_concurrent_schema_evolution_unions(spark, tmp_root):
    a, b = _two_handles(spark, tmp_root)
    a.merge(_df(spark, [("I", "u1", ts(1), 1, "en")]), batch_id="seed")

    with_b_col = _df(spark, [("I", "u2", ts(2), 2, "de")]).withColumn(
        "b_note", F.lit("from-b")
    )
    with_a_col = _df(spark, [("I", "u3", ts(3), 3, "fr")]).withColumn(
        "a_score", F.lit(7).cast("long")
    )
    _lose_first_cas(a, lambda: b.merge(with_b_col, batch_id="B"))
    a.merge(with_a_col, batch_id="A")

    # final schema is the union of both writers' additions
    names = [f.name for f in a.schema().fields]
    assert "a_score" in names and "b_note" in names
    rows = {r.url: (r.a_score, r.b_note) for r in a.read().collect()}
    assert rows["u2"] == (None, "from-b")
    assert rows["u3"] == (7, None)
    assert rows["u1"] == (None, None)


def test_concurrent_duplicate_batch_skips(spark, tmp_root):
    a, b = _two_handles(spark, tmp_root)
    a.merge(_df(spark, [("I", "u1", ts(1), 1, "en")]), batch_id="seed")

    batch = [("U", "u1", ts(2), 2, "de")]
    _lose_first_cas(a, lambda: b.merge(_df(spark, batch), batch_id="same"))
    out = a.merge(_df(spark, batch), batch_id="same")

    assert out.skipped_duplicate_batch
    assert out.committed_version == a.current_version() == 2
    assert [r.lang for r in a.read().collect()] == ["de"]


def test_compact_read_set_conflict_fails_loud(spark, tmp_root):
    a, b = _two_handles(spark, tmp_root)
    # land several keys so some bucket is non-empty
    rows = [("I", f"u{i}", ts(1), i, "en") for i in range(16)]
    a.merge(_df(spark, rows), batch_id="seed")

    # B merges MORE rows for the same keys mid-compaction: every compacted
    # bucket's file list changed under A → rebase must refuse (a blind
    # rebase would drop B's delta files from the replaced buckets)
    upd = [("U", f"u{i}", ts(2), 100 + i, "de") for i in range(16)]
    _lose_first_cas(a, lambda: b.merge(_df(spark, upd), batch_id="B"))
    with pytest.raises(ConcurrentCommitError, match="read-set conflict"):
        a.compact(batch_id="c1")
    # nothing corrupted: B's update is the final state, and a rerun compacts
    got = {r.url: r.lang for r in a.read().collect()}
    assert all(v == "de" for v in got.values()) and len(got) == 16
    a.compact(batch_id="c2")
    got2 = {r.url: r.lang for r in a.read().collect()}
    assert got == got2


def test_compact_disjoint_buckets_rebases(spark, tmp_root):
    a, b = _two_handles(spark, tmp_root)
    rows = [("I", f"u{i}", ts(1), i, "en") for i in range(32)]
    a.merge(_df(spark, rows), batch_id="seed")
    buckets = sorted(int(x) for x in a._resolve_files(a._snapshot()))
    assert len(buckets) >= 2
    mine, theirs = buckets[0], buckets[1]
    # one key per bucket: find urls landing in each
    from data_pipelines_spark.functions.hashing import bucket_id

    by_bucket = {
        r.url: r.b
        for r in _df(spark, rows)
        .select("url", bucket_id(F.col("url"), a.n_buckets).alias("b"))
        .collect()
    }
    other_url = next(u for u, bb in by_bucket.items() if bb == theirs)

    upd = [("U", other_url, ts(2), 999, "de")]
    _lose_first_cas(a, lambda: b.merge(_df(spark, upd), batch_id="B"))
    out = a.compact(buckets=[mine], batch_id="c1")  # disjoint → rebases
    assert out.committed_version == a.current_version()
    got = {r.url: r.lang for r in a.read().collect()}
    assert got[other_url] == "de"
    assert sum(1 for v in got.values() if v == "en") == 31


def test_rebucket_never_rebases(spark, tmp_root):
    a, b = _two_handles(spark, tmp_root)
    a.merge(_df(spark, [("I", "u1", ts(1), 1, "en")]), batch_id="seed")
    _lose_first_cas(
        a, lambda: b.merge(_df(spark, [("I", "u2", ts(2), 2, "de")]), batch_id="B")
    )
    with pytest.raises(ConcurrentCommitError, match="rebucket"):
        a.rebucket(8)
    # table still consistent; rerun succeeds on the new base
    a.rebucket(8, batch_id="rb2")
    got = {r.url: r.lang for r in a.read().collect()}
    assert got == {"u1": "en", "u2": "de"}


def test_merge_over_concurrent_rebucket_refuses(spark, tmp_root):
    a, b = _two_handles(spark, tmp_root)
    a.merge(_df(spark, [("I", "u1", ts(1), 1, "en")]), batch_id="seed")
    _lose_first_cas(a, lambda: b.rebucket(8, batch_id="rb"))
    # A's delta files were bucketed under the OLD layout — appending them
    # to the rebucketed table would misplace keys; must fail loud
    with pytest.raises(ConcurrentCommitError, match="layout"):
        a.merge(_df(spark, [("I", "u2", ts(2), 2, "de")]), batch_id="A")


def test_crashed_writer_orphan_slot_is_skipped(spark, tmp_root):
    """A writer that died between its snapshot write and its pointer swap
    leaves an orphan slot file. The next commit skips the slot, and the
    next expire_snapshots deletes the orphan."""
    a, _ = _two_handles(spark, tmp_root)
    a.merge(_df(spark, [("I", "u1", ts(1), 1, "en")]), batch_id="seed")
    v = a.current_version()
    orphan = os.path.join(a.root, "metadata", f"v{v + 1}.json")
    with open(orphan, "w") as f:
        f.write("{}")
    out = a.merge(_df(spark, [("I", "u2", ts(2), 2, "de")]), batch_id="A")
    assert out.committed_version == v + 2
    assert [h["version"] for h in a.history()][-2:] == [v, v + 2]
    assert {r.url: r.lang for r in a.read().collect()} == {"u1": "en", "u2": "de"}
    a.expire_snapshots()
    assert not os.path.exists(orphan)
    assert {r.url: r.lang for r in a.read().collect()} == {"u1": "en", "u2": "de"}


@pytest.mark.parametrize("with_branch", [False, True])
def test_same_head_race_inside_pointer_swap_loses_nothing(
    spark, tmp_root, with_branch
):
    """Writer B's whole merge starts while writer A is inside its pointer
    swap, past its head check. The swap lock holds B until A's pointer has
    moved; B then rebases, so both batches land on main — on a table with a
    branch exactly as on one without."""
    a, b = _two_handles(spark, tmp_root)
    a.merge(_df(spark, [("I", "u0", ts(1), 0, "en")]), batch_id="seed")
    if with_branch:
        a.create_branch("audit")

    b_swapping = threading.Event()
    b_swap = b._swap_pointer

    def b_hooked(expected, new_version):
        b_swapping.set()
        b_swap(expected, new_version)

    b._swap_pointer = b_hooked
    errors = []

    def run_b():
        try:
            b.merge(_df(spark, [("I", "uB", ts(2), 2, "de")]), batch_id="B")
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    thread = threading.Thread(target=run_b)
    state = {"swapping": False, "fired": False}
    a_swap, a_current = a._swap_pointer, a.current_version

    def a_hooked(expected, new_version):
        state["swapping"] = True
        try:
            a_swap(expected, new_version)
        finally:
            state["swapping"] = False

    def a_current_hooked():
        v = a_current()
        if state["swapping"] and not state["fired"]:
            # A has read its head for the swap check: run B now, and give
            # B's own swap two seconds to race A's replace
            state["fired"] = True
            thread.start()
            deadline = time.monotonic() + 120
            while (
                thread.is_alive() and not b_swapping.is_set()
                and time.monotonic() < deadline
            ):
                time.sleep(0.05)
            thread.join(timeout=2)
        return v

    a._swap_pointer = a_hooked
    a.current_version = a_current_hooked
    a.merge(_df(spark, [("I", "uA", ts(3), 3, "fr")]), batch_id="A")
    thread.join(timeout=120)
    assert state["fired"] and not thread.is_alive()
    assert not errors, errors
    main = LakeTable.load(spark, a.root)
    assert {"seed", "A", "B"} <= set(main.ledger())
    assert {r.url for r in main.read().collect()} == {"u0", "uA", "uB"}


def test_retries_zero_is_strict_single_writer(spark, tmp_root):
    a, b = _two_handles(spark, tmp_root)
    a.commit_retries = 0
    a.merge(_df(spark, [("I", "u1", ts(1), 1, "en")]), batch_id="seed")
    _lose_first_cas(
        a, lambda: b.merge(_df(spark, [("I", "u2", ts(2), 2, "de")]), batch_id="B")
    )
    with pytest.raises(ConcurrentCommitError):
        a.merge(_df(spark, [("I", "u3", ts(3), 3, "fr")]), batch_id="A")


def test_threaded_writers_converge_to_lww(spark, tmp_root):
    """Interleaving-independent invariant: whatever order the CAS races
    resolve in, the final state is LWW over the union of all batches and
    every batch_id is in the ledger exactly once."""
    root = os.path.join(tmp_root, "t")
    LakeTable.create(spark, root, key="url", n_buckets=4, overwrite=True)

    n_writers, n_batches = 3, 3
    barrier = threading.Barrier(n_writers)
    errors = []

    def run(w):
        try:
            t = LakeTable.load(spark, root)
            t.commit_retries = 50  # contention is the point
            barrier.wait()
            for i in range(n_batches):
                # shared keys (u0..u5, contended) + a writer-private key so a
                # silently-dropped writer is visible in the final state
                rows = [
                    ("U", f"u{k}", ts(1 + w + i), w * 100 + i * 10 + k, f"w{w}b{i}")
                    for k in range(6)
                ] + [("U", f"p{w}", ts(1 + i), i, f"w{w}b{i}")]
                t.merge(_df(spark, rows), batch_id=f"w{w}-{i}")
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    threads = [threading.Thread(target=run, args=(w,)) for w in range(n_writers)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors

    t = LakeTable.load(spark, root)
    ledger = t.ledger()
    assert {f"w{w}-{i}" for w in range(n_writers) for i in range(n_batches)} <= set(
        ledger
    )
    # python LWW model over the union (same (warc_ts, offset) ordering)
    model = {}
    for w in range(n_writers):
        for i in range(n_batches):
            for key, seq in [
                (f"u{k}", (ts(1 + w + i), w * 100 + i * 10 + k)) for k in range(6)
            ] + [(f"p{w}", (ts(1 + i), i))]:
                if key not in model or seq > model[key][0]:
                    model[key] = (seq, f"w{w}b{i}")
    got = {r.url: r.lang for r in t.read().collect()}
    assert got == {k: v for k, (_, v) in model.items()}


def test_threaded_main_and_branch_writers_stay_isolated(spark, tmp_root):
    """Real slot races across lineages: one thread commits to main while
    another commits to a branch of the same table. Global slot allocation
    means both regularly compute the same next slot; the CAS loser must
    re-scan and land on a fresh number, each lineage stays monotone and
    isolated, and a rebase publish at the end folds the branch in
    exactly-once."""
    root = os.path.join(tmp_root, "t")
    t0 = LakeTable.create(spark, root, key="url", n_buckets=4, overwrite=True)
    t0.merge(_df(spark, [("I", "seed", ts(1), 0, "x")]), batch_id="seed")
    t0.create_branch("audit")

    n_batches = 4
    barrier = threading.Barrier(2)
    errors = []

    def run(which):
        try:
            h = LakeTable.load(spark, root)
            h.commit_retries = 50
            if which == "branch":
                h = h.branch("audit")
                h.commit_retries = 50
            barrier.wait()
            for i in range(n_batches):
                rows = [("U", f"{which}{i}", ts(2 + i), i, which)]
                h.merge(_df(spark, rows), batch_id=f"{which}-{i}")
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    threads = [
        threading.Thread(target=run, args=(w,)) for w in ("main", "branch")
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors

    t = LakeTable.load(spark, root)
    b = t.branch("audit")
    main_chain = [h["version"] for h in t.history()]
    branch_chain = [h["version"] for h in b.history()]
    assert main_chain == sorted(main_chain)
    assert branch_chain == sorted(branch_chain)
    # lineages share only the pre-fork prefix and never a slot after it
    shared = set(main_chain) & set(branch_chain)
    assert shared == set(main_chain[:2]) == set(branch_chain[:2])
    assert {r.url for r in t.read().collect()} == {"seed"} | {
        f"main{i}" for i in range(n_batches)
    }
    assert {r.url for r in b.read().collect()} == {"seed"} | {
        f"branch{i}" for i in range(n_batches)
    }
    # rebase publish folds the branch into main; every batch exactly once
    t.publish("audit", mode="rebase")
    assert {r.url for r in t.read().collect()} == {"seed"} | {
        f"main{i}" for i in range(n_batches)
    } | {f"branch{i}" for i in range(n_batches)}
    ledger = t.ledger()
    for w in ("main", "branch"):
        for i in range(n_batches):
            assert f"{w}-{i}" in ledger

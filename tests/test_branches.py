"""Writable branches (Iceberg ref analog) — the write-audit-publish primitive.

A branch is a movable head into the same snapshot DAG; ``table.branch(name)``
returns a handle with the full table surface scoped to it, and
``fast_forward`` publishes by ancestry-checked pointer swap. These tests pin
the ref lifecycle, lineage isolation, global slot allocation, exactly-once
across the publish boundary, parent-walk change_log, GC pinning, and the
pipeline-level ``PipelineConfig(branch=...)`` WAP flow.
"""

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_pipelines_spark.lake.table import ConcurrentCommitError, LakeTable


def _batch(spark, rows):
    return spark.createDataFrame(
        [(u, o, op, t) for (u, o, op, t) in rows],
        "url string, offset long, op string, text string",
    ).withColumn("warc_ts", F.to_timestamp(F.lit("2024-01-01 00:00:00")))


def _mk(spark, tmp_root, **kw):
    t = LakeTable.create(spark, os.path.join(tmp_root, "t"), n_buckets=4, **kw)
    t.merge(_batch(spark, [("u1", 1, "I", "a"), ("u2", 2, "I", "b")]), "b0")
    return t


def test_branch_lifecycle_and_isolation(spark, tmp_root):
    t = _mk(spark, tmp_root)
    t.create_branch("audit")
    assert t.branches() == {"audit": 1}
    b = t.branch("audit")
    b.merge(_batch(spark, [("u3", 3, "I", "c")]), "b1")
    # staged commit is invisible on main, visible on the branch (by handle
    # and by ref name from the main handle)
    assert t.current_version() == 1
    assert t.read().count() == 2
    assert b.read().count() == 3
    assert t.read(version="audit").count() == 3
    # branch handle's history parent-walks its own lineage
    assert [h["version"] for h in b.history()][:2] == [0, 1]
    bhead = b.current_version()
    assert t.drop_branch("audit") == bhead
    assert t.branches() == {}
    with pytest.raises(KeyError):
        t.branch("audit")
    with pytest.raises(KeyError):
        t.drop_branch("audit")


def test_create_branch_idempotent_and_collisions(spark, tmp_root):
    t = _mk(spark, tmp_root)
    t.create_branch("audit")
    assert t.create_branch("audit") == 1  # same head: restart no-op
    t.branch("audit").merge(_batch(spark, [("u3", 3, "I", "c")]), "b1")
    with pytest.raises(ValueError, match="already exists"):
        t.create_branch("audit")  # head moved: refuse
    t.create_tag("rel")
    with pytest.raises(ValueError, match="already a tag"):
        t.create_branch("rel")
    with pytest.raises(ValueError, match="already a branch"):
        t.create_tag("audit")
    with pytest.raises(ValueError, match="invalid ref name"):
        t.create_branch("bad/name")


def test_global_slots_interleave_without_collision(spark, tmp_root):
    """Main and branch commits alternating: every snapshot gets a unique
    slot, each lineage stays monotone, and neither head observes the other's
    commits."""
    t = _mk(spark, tmp_root)
    t.create_branch("audit")
    b = t.branch("audit")
    for i in range(3):
        b.merge(_batch(spark, [(f"bu{i}", 10 + i, "I", "x")]), f"bb{i}")
        t.merge(_batch(spark, [(f"mu{i}", 20 + i, "I", "y")]), f"mb{i}")
    main_chain = [h["version"] for h in t.history()]
    branch_chain = [h["version"] for h in b.history()]
    assert len(set(main_chain) & set(branch_chain)) == 2  # shared prefix v0,v1
    assert sorted(set(main_chain) | set(branch_chain)) == sorted(
        set(main_chain) | set(branch_chain)
    )
    assert main_chain == sorted(main_chain)
    assert branch_chain == sorted(branch_chain)
    assert t.read().count() == 2 + 3
    assert b.read().count() == 2 + 3
    # per-lineage change_log parent-walks past the other lineage's slots
    main_ops = t.change_log(1).select("url").collect()
    assert sorted(r.url for r in main_ops) == ["mu0", "mu1", "mu2"]
    branch_ops = b.change_log(1).select("url").collect()
    assert sorted(r.url for r in branch_ops) == ["bu0", "bu1", "bu2"]


def test_fast_forward_publish_and_exactly_once(spark, tmp_root):
    t = _mk(spark, tmp_root)
    t.create_branch("audit")
    b = t.branch("audit")
    b.merge(_batch(spark, [("u3", 3, "I", "c"), ("u2", 4, "U", "b2")]), "b1")
    head = t.fast_forward("audit")
    assert t.current_version() == head == b.current_version()
    got = {r.url: r.text for r in t.read().collect()}
    assert got == {"u1": "a", "u2": "b2", "u3": "c"}
    # the branch ledger crossed the publish: re-delivery to main is skipped
    st = t.merge(_batch(spark, [("u3", 3, "I", "c")]), "b1")
    assert st.skipped_duplicate_batch
    # publishing an unmoved branch is a no-op; main change_log spans the
    # published range through the branch's own commits
    assert t.fast_forward("audit") == head
    assert t.change_log(1).count() == 2


def test_fast_forward_refuses_divergence(spark, tmp_root):
    t = _mk(spark, tmp_root)
    t.create_branch("stale")
    s = t.branch("stale")
    s.merge(_batch(spark, [("u3", 3, "I", "c")]), "b1")
    t.merge(_batch(spark, [("u4", 4, "I", "d")]), "b2")
    with pytest.raises(ConcurrentCommitError, match="not an ancestor"):
        t.fast_forward("stale")
    # main unaffected; the branch stays readable for re-staging
    assert t.read().count() == 3
    assert s.read().count() == 3


def test_branch_full_surface_compact_delete_schema(spark, tmp_root):
    """The branch handle is a complete LakeTable: compaction, predicate
    DML, and schema evolution all commit to the branch only."""
    t = _mk(spark, tmp_root)
    t.create_branch("audit")
    b = t.branch("audit")
    evolved = _batch(
        spark, [("u3", 3, "I", "c"), ("u1", 4, "U", "a2")]
    ).withColumn("lang", F.lit("en"))
    b.merge(evolved, "b1")
    b.delete_where(
        F.col("url") == "u2",
        "b2",
        {"warc_ts": F.to_timestamp(F.lit("2024-01-02 00:00:00")), "offset": 99},
    )
    b.compact()
    got = {r.url: (r.text, r.lang) for r in b.read().collect()}
    assert got == {"u1": ("a2", "en"), "u3": ("c", "en")}
    # main: old schema, old rows
    assert "lang" not in [f.name for f in t.read().schema.fields]
    assert t.read().count() == 2
    t.fast_forward("audit")
    assert {r.url for r in t.read().collect()} == {"u1", "u3"}
    assert "lang" in [f.name for f in t.read().schema.fields]


def test_changes_between_fork_and_branch_head(spark, tmp_root):
    t = _mk(spark, tmp_root)
    t.create_branch("audit")
    b = t.branch("audit")
    b.merge(_batch(spark, [("u2", 9, "D", None), ("u3", 3, "I", "c")]), "b1")
    ch = {r.url: r._change_type for r in t.changes(1, "audit").collect()}
    assert ch == {"u2": "D", "u3": "I"}


def test_expire_pins_branch_head_until_drop(spark, tmp_root):
    t = _mk(spark, tmp_root)
    t.create_branch("audit")
    b = t.branch("audit")
    b.merge(_batch(spark, [("u3", 3, "I", "c")]), "b1")
    bhead = b.current_version()
    for i in range(12):
        t.merge(_batch(spark, [(f"m{i}", 100 + i, "I", "z")]), f"mb{i}")
    t.expire_snapshots(keep_last=3)
    # branch head metadata + data survived: still readable and committable
    assert b.read().count() == 3
    b.merge(_batch(spark, [("u4", 4, "I", "d")]), "b2")
    assert b.read().count() == 4
    # after drop, the branch lineage's exclusive snapshots expire
    t.drop_branch("audit")
    t.expire_snapshots(keep_last=3)
    assert not os.path.exists(
        os.path.join(t._meta_dir, f"v{bhead}.json")
    )


def test_slot_reused_after_gc_reads_its_own_files(spark, tmp_root):
    """GC deletes a dropped branch's head even when it holds the highest
    slot, so main's next commit reuses that number. A handle that cached
    the branch snapshot's file list must not serve it for main's commit."""
    t = _mk(spark, tmp_root)
    t.create_branch("audit")
    b = t.branch("audit")  # shares t's manifest cache
    b.merge(_batch(spark, [("u3", 3, "I", "c")]), "b1")
    assert b.read().count() == 3
    bhead = b.current_version()
    t.drop_branch("audit")
    t.expire_snapshots(keep_last=3)
    st = t.merge(_batch(spark, [("u4", 4, "I", "d")]), "m1")
    assert st.committed_version == bhead
    assert {r.url for r in t.read().collect()} == {"u1", "u2", "u4"}


def test_expire_from_branch_handle_pins_main_head(spark, tmp_root):
    """GC run through a branch handle whose head is far ahead of main must
    never expire the snapshot main's CURRENT points at."""
    t = _mk(spark, tmp_root)
    t.create_branch("audit")
    b = t.branch("audit")
    for i in range(12):
        b.merge(_batch(spark, [(f"b{i}", 100 + i, "I", "z")]), f"bb{i}")
    b.expire_snapshots(keep_last=3)
    # main's head (v1, far below the branch's keep window) survives
    assert t.read().count() == 2
    t.merge(_batch(spark, [("u9", 9, "I", "x")]), "mx")
    assert t.read().count() == 3


def test_expire_retains_every_heads_recent_window(spark, tmp_root):
    """GC from a branch handle whose head is far BELOW main must keep the
    files of main's recent snapshots (per-head keep windows): after main
    compacts, old deltas are only referenced by its pre-compaction history,
    which a single branch-head-based range scan would miss entirely."""
    t = _mk(spark, tmp_root)
    t.create_branch("audit")
    b = t.branch("audit")
    for i in range(10):
        t.merge(_batch(spark, [(f"m{i}", 100 + i, "I", "z")]), f"mb{i}")
    t.compact()  # strands the pre-compaction deltas of main's history
    pre = t.current_version() - 1
    b.expire_snapshots(keep_last=3)
    # main's recent pre-compaction snapshot is still fully readable
    assert t.read(version=pre).count() == 12
    assert t.read().count() == 12


def test_staged_segment_survives_gc_and_publishes(spark, tmp_root):
    """A branch that stages, then waits while main churns past keep_last
    commits + GC, must still rebase-publish: the staged segment's metadata
    is retained until drop_branch."""
    t = _mk(spark, tmp_root)
    t.create_branch("staging")
    b = t.branch("staging")
    b.merge(_batch(spark, [("s1", 201, "I", "a")]), "s1")
    b.merge(_batch(spark, [("s2", 202, "I", "b")]), "s2")
    for i in range(12):
        t.merge(_batch(spark, [(f"m{i}", 100 + i, "I", "z")]), f"mb{i}")
    t.expire_snapshots(keep_last=3)
    v = t.publish("staging", mode="rebase")
    assert v == t.current_version()
    urls = {r.url for r in t.read().collect()}
    assert {"s1", "s2"} <= urls and len(urls) == 2 + 12 + 2


def test_long_staging_branch_publishes_after_gc(spark, tmp_root):
    """A branch staging more than keep_last commits keeps its whole staged
    segment AND the fork snapshot through GC, so a rebase publish still
    replays every staged batch after main has moved on."""
    t = _mk(spark, tmp_root)
    t.create_branch("staging")
    b = t.branch("staging")
    for i in range(4):
        b.merge(_batch(spark, [(f"s{i}", 200 + i, "I", "s")]), f"s{i}")
    for i in range(6):
        t.merge(_batch(spark, [(f"m{i}", 100 + i, "I", "m")]), f"mb{i}")
    t.expire_snapshots(keep_last=3)
    t.publish("staging", mode="rebase")
    assert {r.url for r in t.read().collect()} == {"u1", "u2"} | {
        f"s{i}" for i in range(4)
    } | {f"m{i}" for i in range(6)}
    ledger = t.ledger()
    assert all(f"s{i}" in ledger for i in range(4))


def test_rollback_to_expired_main_version_refuses_with_live_branch(
    spark, tmp_root
):
    """A live branch must not keep main's pre-window snapshots as metadata
    without data: after GC they are gone from history, and a rollback to
    one refuses before anything changes."""
    t = _mk(spark, tmp_root)
    t.create_branch("staging")
    t.branch("staging").merge(_batch(spark, [("s1", 201, "I", "s")]), "s1")
    main_vs = [
        t.merge(_batch(spark, [(f"m{i}", 100 + i, "I", "m")]), f"mb{i}").committed_version
        for i in range(6)
    ]
    t.expire_snapshots(keep_last=3)
    assert [h["version"] for h in t.history()] == main_vs[-3:]
    head = t.current_version()
    with pytest.raises(FileNotFoundError):
        t.rollback(main_vs[1])
    assert t.current_version() == head
    assert t.read().count() == 2 + 6
    t.publish("staging", mode="rebase")  # the staged segment is intact
    assert t.read().count() == 2 + 6 + 1


def test_fast_forward_moves_the_recorded_fork(spark, tmp_root):
    """After main fast-forwards to a branch, the branch's fork is the
    published head: GC stops pinning the published commits, and a later
    rebase publish replays only what was staged after it."""
    t = _mk(spark, tmp_root)
    t.create_branch("staging")
    b = t.branch("staging")
    for i in range(4):
        b.merge(_batch(spark, [(f"s{i}", 200 + i, "I", "s")]), f"s{i}")
    first = b.history()[-4]["version"]
    head = t.publish("staging")
    assert t._branch_refs()["staging"] == (head, head)
    b.merge(_batch(spark, [("s9", 209, "I", "s")]), "s9")
    t.merge(_batch(spark, [("m0", 100, "I", "m")]), "mb0")
    t.expire_snapshots(keep_last=1)
    assert not os.path.exists(os.path.join(t._meta_dir, f"v{first}.json"))
    t.publish("staging", mode="rebase")
    assert t.read().count() == 2 + 4 + 1 + 1
    assert "s9" in t.ledger()


def test_gc_keeps_each_heads_last_commits_across_interleaved_lineages(
    spark, tmp_root
):
    """Retention counts commits on each head's own parent chain, not slot
    numbers: with three branch commits after every main commit, both heads
    still read their last keep_last commits after GC."""
    t = _mk(spark, tmp_root, compact_threshold=100)
    t.create_branch("noise")
    nb = t.branch("noise")
    main_vs, branch_vs = [], []
    for i in range(4):
        st = t.merge(_batch(spark, [(f"m{i}", 100 + i, "I", "m")]), f"mb{i}")
        main_vs.append(st.committed_version)
        for j in range(3):
            st = nb.merge(
                _batch(spark, [(f"n{i}{j}", 200 + 10 * i + j, "I", "n")]),
                f"nb{i}{j}",
            )
            branch_vs.append(st.committed_version)
    t.expire_snapshots(keep_last=3)
    assert [h["version"] for h in t.history()][-3:] == main_vs[-3:]
    assert [h["version"] for h in nb.history()][-3:] == branch_vs[-3:]
    for k in range(1, 4):  # main at its k-th commit: u1, u2, m0..mk
        assert t.read(version=main_vs[k]).count() == 3 + k
    for k in range(9, 12):  # branch at its k-th commit: u1, u2, n..
        assert nb.read(version=branch_vs[k]).count() == 3 + k


def test_ledger_window_counts_lineage_commits_not_slots(spark, tmp_root):
    """ledger_keep counts commits on THIS lineage: interleaved branch
    commits burn global slot numbers but must not shrink main's
    exactly-once window."""
    t = _mk(spark, tmp_root)
    t.ledger_keep = 4
    t.create_branch("noise")
    nb = t.branch("noise")
    for i in range(3):
        t.merge(_batch(spark, [(f"m{i}", 100 + i, "I", "z")]), f"mb{i}")
        for j in range(3):  # 3 branch commits per main commit eat slots
            nb.merge(_batch(spark, [(f"n{i}{j}", 200 + 10 * i + j, "I", "y")]), f"nb{i}{j}")
    # main committed 4 times total (b0 + mb0..mb2) — ALL inside its window
    # of 4 even though slot numbers advanced by 12+ meanwhile
    ledger = t.ledger()
    for bid in ("b0", "mb0", "mb1", "mb2"):
        assert bid in ledger, (bid, ledger)
    st = t.merge(_batch(spark, [("u1", 1, "I", "a")]), "b0")  # re-delivery
    assert st.skipped_duplicate_batch


def test_tmp_pattern_ref_names_rejected(spark, tmp_root):
    t = _mk(spark, tmp_root)
    with pytest.raises(ValueError, match="reserved tmp pattern"):
        t.create_branch("rel.tmp")
    with pytest.raises(ValueError, match="reserved tmp pattern"):
        t.create_branch("v1.tmp-rc")


@pytest.mark.parametrize("with_branch", [False, True])
def test_orphan_slot_skipped_with_or_without_branches(spark, tmp_root, with_branch):
    """One slot rule for every table: a crashed writer's orphan snapshot
    file (its pointer never moved) is skipped — the commit lands at v+2 —
    and the next expire_snapshots deletes it, whether or not the table
    has ever had a branch."""
    t = _mk(spark, tmp_root)
    if with_branch:
        t.create_branch("audit")
    v = t.current_version()
    orphan = os.path.join(t._meta_dir, f"v{v + 1}.json")
    with open(orphan, "w") as f:
        f.write("{}")
    st = t.merge(_batch(spark, [("u9", 9, "I", "x")]), "bx")
    assert st.committed_version == v + 2
    assert {r.url for r in t.read().collect()} == {"u1", "u2", "u9"}
    t.expire_snapshots()
    assert not os.path.exists(orphan)
    assert {r.url for r in t.read().collect()} == {"u1", "u2", "u9"}


def test_branch_enabled_table_skips_foreign_slot(spark, tmp_root):
    """A taken slot that is NOT an advance of this head (it belongs to
    another lineage — exactly what interleaved commits produce) is skipped:
    the commit retries on a re-scanned number instead of refusing."""
    t = _mk(spark, tmp_root)
    t.create_branch("audit")
    v = t.current_version()
    # simulate another lineage owning the next global slot
    with open(os.path.join(t._meta_dir, f"v{v + 1}.json"), "w") as f:
        f.write('{"version": %d, "parent": 0}' % (v + 1))
    st = t.merge(_batch(spark, [("u9", 9, "I", "x")]), "bx")
    assert st.committed_version == v + 2
    assert t.read().count() == 3


def test_branch_slot_race_retries_with_rescan(spark, tmp_root, monkeypatch):
    """A true slot race (two writers computing the same global slot): the
    CAS loser re-scans and lands on the next free number — a metadata-only
    retry, no refusal."""
    t = _mk(spark, tmp_root)
    t.create_branch("audit")
    v = t.current_version()
    with open(os.path.join(t._meta_dir, f"v{v + 1}.json"), "w") as f:
        f.write('{"version": %d, "parent": 0}' % (v + 1))
    real = LakeTable._alloc_slot
    calls = {"n": 0}

    def collide_once(self, base):
        calls["n"] += 1
        if calls["n"] == 1:
            return v + 1  # pretend we scanned before the other writer won
        return real(self, base)

    monkeypatch.setattr(LakeTable, "_alloc_slot", collide_once)
    st = t.merge(_batch(spark, [("u9", 9, "I", "x")]), "bx")
    assert st.committed_version == v + 2
    assert calls["n"] == 2
    assert t.read().count() == 3


def test_publish_rebase_on_divergence(spark, tmp_root):
    """publish(mode='rebase'): a diverged branch's staged MERGE commits
    replay onto the current head with their original batch ids — the final
    state equals merging every batch linearly (LWW commutes), and a repeat
    publish is a full exactly-once skip."""
    t = _mk(spark, tmp_root)
    t.create_branch("staging")
    b = t.branch("staging")
    b.merge(_batch(spark, [("u3", 3, "I", "c"), ("u1", 4, "U", "a2")]), "s1")
    b.merge(_batch(spark, [("u2", 9, "D", None), ("u4", 5, "I", "d")]), "s2")
    t.merge(_batch(spark, [("u5", 6, "I", "e"), ("u1", 7, "U", "a3")]), "m1")
    with pytest.raises(ConcurrentCommitError, match="not an ancestor"):
        t.publish("staging")  # ff mode still refuses divergence
    v = t.publish("staging", mode="rebase")
    assert v == t.current_version()
    got = {r.url: r.text for r in t.read().collect()}
    # u1: branch seq 4 loses to main seq 7; u2 deleted; u3/u4/u5 inserted
    assert got == {"u1": "a3", "u3": "c", "u4": "d", "u5": "e"}
    # replayed batches are on main's ledger under their original ids
    st = t.merge(_batch(spark, [("u3", 3, "I", "c")]), "s1")
    assert st.skipped_duplicate_batch
    # idempotent: publishing again skips everything and changes nothing
    v2 = t.publish("staging", mode="rebase")
    assert {r.url: r.text for r in t.read().collect()} == got


def test_publish_rebase_skips_reorgs_and_evolves_schema(spark, tmp_root):
    t = _mk(spark, tmp_root)
    t.create_branch("staging")
    b = t.branch("staging")
    evolved = _batch(spark, [("u3", 3, "I", "c")]).withColumn("lang", F.lit("en"))
    b.merge(evolved, "s1")
    b.compact()  # reorg on the branch: no logical change to replay
    b.merge(_batch(spark, [("u4", 4, "I", "d")]).withColumn("lang", F.lit("fr")), "s2")
    t.merge(_batch(spark, [("u5", 5, "I", "e")]), "m1")  # diverge
    t.publish("staging", mode="rebase")
    got = {r.url: r.lang for r in t.read().collect()}
    assert got == {"u1": None, "u2": None, "u3": "en", "u4": "fr", "u5": None}


def test_publish_rebase_replays_schema_update_with_colliding_id(spark, tmp_root):
    """A staged schema-update whose batch id main's ledger already holds
    (both heads used the default 'schema-update' id after the fork) still
    reaches main on a rebase publish, exactly once."""
    t = _mk(spark, tmp_root)
    t.create_branch("staging")
    b = t.branch("staging")
    base = t.schema()
    b.update_schema(T.StructType(base.fields + [T.StructField("lang", T.StringType())]))
    t.update_schema(T.StructType(base.fields + [T.StructField("score", T.DoubleType())]))
    assert "schema-update" in t.ledger()
    t.publish("staging", mode="rebase")
    assert {"lang", "score"} <= set(t.schema().fieldNames())
    v = t.current_version()
    t.publish("staging", mode="rebase")  # rerun: the replay is in the ledger
    assert t.current_version() == v


def test_publish_rebase_refuses_folded_commits(spark, tmp_root):
    t = _mk(spark, tmp_root)
    t.create_branch("staging")
    b = t.branch("staging")
    b.overwrite(_batch(spark, [("u9", 9, "I", "z")]), "ow1")
    t.merge(_batch(spark, [("u5", 5, "I", "e")]), "m1")  # diverge
    with pytest.raises(ConcurrentCommitError, match="cannot be replayed"):
        t.publish("staging", mode="rebase")
    # still fast-forwards fine when NOT diverged: fresh branch, ow stays put
    assert {r.url for r in b.read().collect()} == {"u9"}


def test_publish_ff_mode_is_fast_forward(spark, tmp_root):
    t = _mk(spark, tmp_root)
    t.create_branch("staging")
    b = t.branch("staging")
    b.merge(_batch(spark, [("u3", 3, "I", "c")]), "s1")
    v = t.publish("staging")
    assert v == t.current_version() == b.current_version()
    assert t.read().count() == 3


def test_reject_branch_retracts_staged_index_content(spark, tmp_root):
    """WAP × near-dup-on-ingest: a REJECTED branch's pages must stop
    suppressing future near-dups (they never shipped), while content
    published before the branch keeps suppressing — reject_branch retracts
    the staged keys and re-signs their current published winners."""
    from data_pipelines_spark.streaming.pipeline import CdcPipeline, PipelineConfig

    t_pub = "the quick brown fox jumps over the lazy dog again and again " * 5
    t_bad = "completely different staged content about ships and harbors " * 5

    def ev(rows, off0):
        return spark.createDataFrame(
            [
                (u, off0 + i, op, txt.encode() if txt else None)
                for i, (u, op, txt) in enumerate(rows)
            ],
            "url string, offset long, op string, html binary",
        ).withColumn(
            "warc_ts", F.to_timestamp(F.lit(f"2024-01-0{1 + off0 // 100} 00:00:00"))
        )

    root = os.path.join(tmp_root, "t")
    cfg = PipelineConfig(
        root, n_buckets=4, decode=False, branch="staging", near_dup_threshold=0.9
    )
    pipe = CdcPipeline(spark, cfg)
    # batch 0: published baseline (u1 carries t_pub)
    pipe.process_batch(ev([("u1", "I", t_pub), ("u2", "I", "unrelated words " * 9)], 0), 0)
    pipe.publish_branch()
    # batch 1: staged only — u3 carries t_bad
    pipe.process_batch(ev([("u3", "I", t_bad)], 100), 1)
    st = pipe.reject_branch()
    assert st["retracted"] and st["staged_commits"] >= 1
    assert pipe.main_table.read().count() == 2  # nothing staged shipped
    # batch 2 on the re-forked branch: a near-dup of the REJECTED content
    # is kept (u4), a near-dup of PUBLISHED content still drops (u5)
    pipe.process_batch(ev([("u4", "I", t_bad), ("u5", "I", t_pub)], 200), 2)
    pipe.publish_branch()
    urls = {r.url for r in pipe.main_table.read().collect()}
    assert "u4" in urls and "u5" not in urls
    # crash-after-reject resumability: rejecting the fresh empty branch is
    # a no-op re-fork
    st2 = pipe.reject_branch()
    assert st2["staged_commits"] == 0 and not st2["retracted"]


def test_streaming_checkpoint_resume_into_branch(spark, tmp_root):
    """Structured Streaming (checkpointed availableNow foreachBatch) into a
    branch: drain half the log, resume from the same checkpoint after more
    segments land (no double-apply on the branch ledger), publish, and the
    main state equals the full-stream LWW oracle."""
    from data_pipelines_spark.gen.changegen import (
        change_stream,
        expected_final_state,
        write_change_log,
    )
    from data_pipelines_spark.streaming.pipeline import CdcPipeline, PipelineConfig

    changes = change_stream(spark, n_events=400, n_keys=60, seed=7)
    log_dir = os.path.join(tmp_root, "log")
    ckpt = os.path.join(tmp_root, "ckpt")
    write_change_log(changes.where(F.col("offset") < 200), log_dir, n_segments=2)
    schema = spark.read.parquet(log_dir).schema
    root = os.path.join(tmp_root, "t")
    pipe = CdcPipeline(
        spark, PipelineConfig(root, n_buckets=8, decode=False, branch="staging")
    )
    pipe.run_stream(log_dir, ckpt, schema).awaitTermination()
    main = LakeTable.load(spark, root)
    assert main.schema() is None  # still staged
    # more segments arrive; a fresh pipeline resumes from the checkpoint
    write_change_log(changes.where(F.col("offset") >= 200), log_dir, n_segments=2)
    pipe2 = CdcPipeline(
        spark, PipelineConfig(root, n_buckets=8, decode=False, branch="staging")
    )
    pipe2.run_stream(log_dir, ckpt, schema).awaitTermination()
    main.fast_forward("staging")
    want = {
        (r.url, r.warc_ts, r.offset)
        for r in expected_final_state(changes).select("url", "warc_ts", "offset").collect()
    }
    got = {
        (r.url, r.warc_ts, r.offset)
        for r in main.read().select("url", "warc_ts", "offset").collect()
    }
    assert got == want


def test_cascade_lag_counts_lineage_not_slots(spark, tmp_root):
    """lag() follows the upstream parent chain: a branch burning global
    slot numbers must not inflate the reported backlog."""
    from data_pipelines_spark.lake.cascade import Cascade

    up = _mk(spark, tmp_root)
    down = LakeTable.create(
        spark, os.path.join(tmp_root, "down"), key="url", n_buckets=4
    )
    c = Cascade(up, down)
    c.sync()
    up.create_branch("noise")
    nb = up.branch("noise")
    for j in range(4):  # 4 branch commits eat slot numbers
        nb.merge(_batch(spark, [(f"n{j}", 200 + j, "I", "y")]), f"nb{j}")
    up.merge(_batch(spark, [("m1", 100, "I", "z")]), "m1")
    assert c.lag() == 1  # one upstream commit, not five slots
    c.sync()
    assert c.lag() == 0


def test_aggview_catches_up_across_fast_forward(spark, tmp_root):
    """A view maintained on main catches up through a published branch's
    commits: versions jump (global slots), so the view's pre-image version
    must come from each commit's parent pointer, not post_v - 1."""
    import datetime as dt

    from pyspark.sql import types as T

    from data_pipelines_spark.lake.aggview import AggView

    schema = T.StructType(
        [
            T.StructField("op", T.StringType()),
            T.StructField("url", T.StringType()),
            T.StructField("warc_ts", T.TimestampType()),
            T.StructField("offset", T.LongType()),
            T.StructField("lang", T.StringType()),
            T.StructField("n_tokens", T.LongType()),
        ]
    )

    def rows(data):
        return spark.createDataFrame(
            [(op, u, dt.datetime(2025, 1, d), o, lg, n) for op, u, d, o, lg, n in data],
            schema,
        )

    t = LakeTable.create(spark, os.path.join(tmp_root, "t"), key="url", n_buckets=4)
    view = AggView.create(
        spark,
        os.path.join(tmp_root, "v"),
        {"lang": "lang"},
        {"tokens": "n_tokens"},
        ["lang", "n_tokens"],
    )
    t.merge(rows([("I", "u1", 1, 1, "en", 10), ("I", "u2", 1, 2, "de", 20)]), "b0")
    view.update_all(t)
    t.create_branch("staging")
    b = t.branch("staging")
    b.merge(rows([("I", "u3", 2, 3, "en", 5)]), "s1")
    b.merge(rows([("U", "u2", 2, 4, "de", 25), ("D", "u1", 2, 5, None, None)]), "s2")
    t.fast_forward("staging")
    assert view.update_all(t) == 2  # the two staged batches
    got = {r.lang: (r.cnt, r.tokens) for r in view.read().collect()}
    assert got == {"en": (1, 5), "de": (1, 25)}
    # and across a REBASE publish (replayed commits, fresh versions)
    t.create_branch("s2b")
    b2 = t.branch("s2b")
    b2.merge(rows([("I", "u4", 3, 6, "fr", 7)]), "r1")
    t.merge(rows([("I", "u5", 3, 7, "en", 9)]), "m1")  # diverge
    t.publish("s2b", mode="rebase")
    view.update_all(t)
    got = {r.lang: (r.cnt, r.tokens) for r in view.read().collect()}
    assert got == {"en": (2, 14), "de": (1, 25), "fr": (1, 7)}


def test_cascade_syncs_through_published_branch(spark, tmp_root):
    """Bronze→silver cascade over an upstream that publishes via branches:
    the sync walk follows parent pointers past foreign slot numbers."""
    from data_pipelines_spark.lake.cascade import Cascade

    up = _mk(spark, tmp_root)
    down = LakeTable.create(
        spark, os.path.join(tmp_root, "down"), key="url", n_buckets=4
    )
    c = Cascade(up, down)
    c.sync()
    assert down.read().count() == 2
    up.create_branch("staging")
    b = up.branch("staging")
    b.merge(_batch(spark, [("u3", 3, "I", "c")]), "s1")
    b.compact()  # reorg inside the branch lineage
    b.merge(_batch(spark, [("u2", 9, "D", None)]), "s2")
    up.fast_forward("staging")
    c.sync()
    assert {r.url for r in down.read().collect()} == {"u1", "u3"}
    # marker is at the branch head; a further main commit keeps syncing
    up.merge(_batch(spark, [("u6", 6, "I", "f")]), "m2")
    c.sync()
    assert {r.url for r in down.read().collect()} == {"u1", "u3", "u6"}


def test_pipeline_branch_wap_flow(spark, tmp_root):
    """PipelineConfig(branch=...): batches stage on the branch; a validation
    gate reads the staged state; fast_forward publishes; a re-attached
    pipeline (restart) reuses the branch and its ledger."""
    from data_pipelines_spark.streaming.pipeline import CdcPipeline, PipelineConfig

    root = os.path.join(tmp_root, "wap")
    cfg = PipelineConfig(root, n_buckets=4, decode=False, branch="staging")
    pipe = CdcPipeline(spark, cfg)

    def ev(rows):
        return spark.createDataFrame(
            rows, "url string, offset long, op string, html binary"
        ).withColumn("warc_ts", F.to_timestamp(F.lit("2024-01-01 00:00:00")))

    pipe.process_batch(ev([("u1", 1, "I", b"x"), ("u2", 2, "I", b"y")]), 0)
    main = LakeTable.load(spark, root)
    assert main.schema() is None  # nothing published: main is still empty
    assert pipe.table.read().count() == 2
    # restart: same config reattaches to the existing branch + ledger
    pipe2 = CdcPipeline(spark, cfg)
    st = pipe2.process_batch(ev([("u1", 1, "I", b"x"), ("u2", 2, "I", b"y")]), 0)
    assert st.skipped_duplicate_batch
    pipe2.process_batch(ev([("u3", 3, "I", b"z")]), 1)
    # audit gate passes → publish
    assert pipe2.table.read().count() == 3
    main = LakeTable.load(spark, root)
    head = main.fast_forward("staging")
    assert main.current_version() == head
    assert main.read().count() == 3

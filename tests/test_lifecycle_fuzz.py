"""Seeded lifecycle fuzz: random interleavings of merge / compact /
sorted-compact / rebucket / vacuum / predicate DML (delete_where,
update_where at random sequences — the LWW roulette) / branch
write-audit-publish (stage→publish-or-reject, fast-forward or rebase) /
snapshot GC (``expire_snapshots`` with a random window, also while a
branch is staged) against a pure-python LWW model.

The per-surface tests pin each operation alone; bugs hide in COMPOSITION
(a rebucket between a delta merge and a sorted compact, a vacuum over a
mixed base+delta layout, zone-map reads spanning all of it). Each seed
draws a random program, applies it, and after EVERY action asserts the
table's full state — and a zone-map-exercising ``read(min_seq_ts=...)``
— equals the model. Deterministic: ``random.Random(seed)``, no wall
clock, so a failure replays exactly.

Vacuum watermark contract (table.py ``vacuum_tombstones``): the generator
only vacuums with a bound <= the minimum event time of all NOT-yet-merged
events, the same "no older event can arrive" promise a deployment makes.
"""

import datetime as dt
import os
import random

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_pipelines_spark.lake import LakeTable

SCHEMA = T.StructType(
    [
        T.StructField("op", T.StringType()),
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("offset", T.LongType()),
        T.StructField("lang", T.StringType()),
    ]
)

BASE = dt.datetime(2025, 1, 1)


def _gen_events(rng: random.Random, n: int):
    """Out-of-order-within-a-window event stream: event times advance in a
    sliding window so a vacuum watermark at the window floor is sound."""
    events = []
    for i in range(n):
        key = f"k{rng.randrange(24)}"
        op = rng.choices(["I", "U", "D"], weights=[5, 3, 2])[0]
        # time advances ~1 minute per event, jittered ±5 within the window
        ts = BASE + dt.timedelta(minutes=i + rng.randrange(-5, 6))
        lang = rng.choice(["en", "de", "fr", None])
        events.append((op, key, ts, i, lang))
    # duplicate deliveries: re-append ~10% of rows verbatim
    for i in sorted(rng.sample(range(n), n // 10)):
        events.append(events[i])
    rng.shuffle(events)
    return events


def _model_apply(model: dict, batch):
    for op, key, ts, off, lang in batch:
        seq = (ts, off)
        cur = model.get(key)
        if cur is None or seq >= cur[0]:
            model[key] = (seq, op == "D", lang)


def _model_live(model):
    return {
        (k, s[0][0], s[0][1], s[2]) for k, s in model.items() if not s[1]
    }


def _table_live(table, min_ts=None):
    df = table.read(min_seq_ts=min_ts) if min_ts else table.read()
    return {(r.url, r.warc_ts, r.offset, r.lang) for r in df.collect()}


# FUZZ_SEEDS deepens the sweep without editing the suite (CI default: 4)
@pytest.mark.parametrize(
    "seed", range(1, 1 + int(os.environ.get("FUZZ_SEEDS", "4")))
)
def test_random_lifecycle_program_matches_model(spark, tmp_root, seed):
    rng = random.Random(seed)
    events = _gen_events(rng, 120)
    # split into 6 chronologically-ordered-by-generation batches (the
    # shuffle above already injected out-of-order arrival inside each)
    nb = 6
    step = len(events) // nb
    batches = [events[i * step:(i + 1) * step] for i in range(nb - 1)]
    batches.append(events[(nb - 1) * step:])

    table = LakeTable.create(
        spark, os.path.join(tmp_root, f"fz{seed}"), key="url", n_buckets=4,
        overwrite=True,
    )
    table.compact_threshold = 3  # let auto-compaction interleave too
    table.compact_stagger = 2
    table.ledger_keep = 4  # exactly-once retention trims under the program too
    table.key_bloom_rows = 64  # serving profile: fuzz delta-bloom pruning too
    model: dict = {}
    actions = []
    bid = 0
    for i, batch in enumerate(batches):
        table.merge(spark.createDataFrame(batch, SCHEMA), batch_id=f"m{i}")
        _model_apply(model, batch)
        actions.append(f"merge[{len(batch)}]")

        # one random maintenance action between merges
        choice = rng.randrange(10)
        bid += 1
        if choice == 0:
            table.compact(batch_id=f"c{bid}")
            actions.append("compact")
        elif choice == 1:
            # one of the two clustered layouts: seq-sorted (incremental
            # consumers) or key-sorted (point-lookup serving) — the
            # read_keys probe below then fuzzes key-zone-map pruning
            # against the model over every mixed layout the program hits
            if rng.random() < 0.5:
                table.compact(
                    batch_id=f"cs{bid}", sort_by_seq=True,
                    target_file_rows=rng.choice([3, 7, 16]),
                )
                actions.append("compact_sorted")
            else:
                table.compact(
                    batch_id=f"cs{bid}", sort_by_key=True,
                    target_file_rows=rng.choice([3, 7, 16]),
                )
                actions.append("compact_keysorted")
        elif choice == 2:
            n_new = rng.choice([2, 3, 6, 8])
            table.rebucket(
                n_new, batch_id=f"rb{bid}",
                sort_by_seq=rng.random() < 0.5, target_file_rows=5,
            )
            actions.append(f"rebucket{n_new}")
        elif choice == 3:
            # sound watermark: below every event still to arrive
            future = [e[2] for b in batches[i + 1:] for e in b]
            if future:
                bound = min(future)
                table.vacuum_tombstones(f"v{bid}", str(bound))
                # model: tombstones below the bound are dead state
                for k in [
                    k for k, s in model.items() if s[1] and s[0][0] < bound
                ]:
                    del model[k]
                actions.append("vacuum")
        # choice == 4: no maintenance this round
        elif choice == 5:
            # predicate delete with a RANDOM sequence: the tombstone may
            # outrank the stored winner (row dies) or lose LWW (no-op) —
            # and may itself lose to later arrivals; the model applies the
            # same D events and must agree either way
            lang = rng.choice(["en", "de", "fr"])
            dts = BASE + dt.timedelta(minutes=rng.randrange(0, len(events)))
            doff = 10_000 + bid
            table.delete_where(
                F.col("lang") == lang, batch_id=f"dw{bid}",
                seq={"warc_ts": dts, "offset": doff},
                predicate_columns=["lang"],
            )
            matched = [k for k, s in model.items() if not s[1] and s[2] == lang]
            _model_apply(model, [("D", k, dts, doff, None) for k in matched])
            actions.append(f"delete_where[{lang}]")
        elif choice == 6:
            # predicate update, same random-seq LWW roulette
            lang = rng.choice(["en", "de", "fr"])
            new_lang = rng.choice(["pt", "it"])
            dts = BASE + dt.timedelta(minutes=rng.randrange(0, len(events)))
            doff = 20_000 + bid
            table.update_where(
                F.col("lang") == lang, {"lang": new_lang},
                batch_id=f"uw{bid}", seq={"warc_ts": dts, "offset": doff},
            )
            matched = [k for k, s in model.items() if not s[1] and s[2] == lang]
            _model_apply(model, [("U", k, dts, doff, new_lang) for k in matched])
            actions.append(f"update_where[{lang}->{new_lang}]")
        elif choice == 7:
            # INSERT OVERWRITE: resync from the model itself (restore-from-
            # source). Live rows re-land with their stored seqs, ~half the
            # tombstones are carried (the rest are dropped — a later stale
            # event may then resurrect the key, and the model agrees),
            # and one random live key is dropped outright (source removal).
            drop = rng.choice(sorted(model) + [None])
            rows = [
                ("D" if dead else "I", k, seq_[0], seq_[1], lang_)
                for k, (seq_, dead, lang_) in sorted(model.items())
                if k != drop and (not dead or rng.random() < 0.5)
            ]
            table.overwrite(
                spark.createDataFrame(rows, SCHEMA), batch_id=f"ow{bid}"
            )
            model.clear()
            _model_apply(model, rows)
            actions.append(f"overwrite[{len(rows)}]")
        elif choice == 8:
            # write-audit-publish roulette: stage 1-2 extra batches on a
            # branch (sometimes compacting mid-branch), sometimes advance
            # main first (forcing a REBASE publish over diverged lineages),
            # then publish or reject. A published branch's events all land
            # (model applies them); a rejected branch leaves no trace; the
            # rest of the program (zone maps, lookups, vacuum, rebucket)
            # then runs over whatever lineage the publish produced.
            # Timestamps stay inside the current arrival window so the
            # vacuum watermark contract holds for published events too.
            bname = f"br{bid}"
            table.create_branch(bname)
            bh = table.branch(bname)
            staged = []
            for j in range(rng.choice([1, 2])):
                ev = [
                    (
                        rng.choices(["I", "U", "D"], weights=[4, 3, 2])[0],
                        f"k{rng.randrange(24)}",
                        BASE + dt.timedelta(minutes=i * step + rng.randrange(-5, 6)),
                        30_000 + 100 * bid + 10 * j + x,
                        rng.choice(["en", "de", "fr", None]),
                    )
                    for x in range(rng.choice([2, 4]))
                ]
                bh.merge(spark.createDataFrame(ev, SCHEMA), batch_id=f"{bname}s{j}")
                staged.extend(ev)
                if rng.random() < 0.3:
                    bh.compact(batch_id=f"{bname}c{j}")
            if rng.random() < 0.5:  # main keeps moving: publish must rebase
                ev_m = [
                    (
                        "I",
                        f"k{rng.randrange(24)}",
                        BASE + dt.timedelta(minutes=i * step + rng.randrange(-5, 6)),
                        40_000 + 100 * bid,
                        rng.choice(["en", "de"]),
                    )
                ]
                table.merge(spark.createDataFrame(ev_m, SCHEMA), batch_id=f"bm{bid}")
                _model_apply(model, ev_m)
            if rng.random() < 0.5:  # GC while staged: publish must survive
                table.expire_snapshots(keep_last=rng.randint(1, 4))
                actions.append("gc_staged")
            if rng.random() < 0.7:
                table.publish(bname, mode="rebase")
                _model_apply(model, staged)
                actions.append(f"wap_publish[{len(staged)}]")
            else:
                actions.append("wap_reject")
            table.drop_branch(bname)
        elif choice == 9:
            keep = rng.randint(1, 4)
            table.expire_snapshots(keep_last=keep)
            actions.append(f"gc{keep}")

        assert _table_live(table) == _model_live(model), actions
        # zone-map-exercising freshness read over whatever mixed layout
        # the program produced (deltas + plain/sorted base + rebucket)
        cut = BASE + dt.timedelta(minutes=rng.randrange(0, len(events)))
        got = _table_live(table, min_ts=str(cut))
        want = {r for r in _model_live(model) if r[1] >= cut}
        assert got == want, actions
        # point-lookup serving path over the same mixed layout: probe keys
        # spanning live, tombstoned, and never-seen ids (k24+ don't exist)
        probe = [f"k{rng.randrange(30)}" for _ in range(5)]
        got_pl = {
            (r.url, r.warc_ts, r.offset, r.lang)
            for r in table.read_keys(probe).collect()
        }
        want_pl = {r for r in _model_live(model) if r[0] in set(probe)}
        assert got_pl == want_pl, actions

    # the final state also survives a reload in a fresh handle
    t2 = LakeTable.load(spark, table.root)
    assert _table_live(t2) == _model_live(model), actions

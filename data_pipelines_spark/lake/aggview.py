"""Incrementally-maintained materialized aggregates over a :class:`LakeTable`
— CDC view maintenance, the canonical downstream consumer of a change-capture
engine (the reference's per-run count/stat reports recomputed from the full
mirror DB, e.g. ``boxing/validate``'s global counts, become a view the ingest
keeps current per micro-batch instead of re-scanning the table).

Semantics: the view materializes ``SELECT <groups>, count(*) AS cnt,
agg(<measure>)… FROM table_final_state GROUP BY <groups>`` and is updated
per committed merge batch from that batch's *net effect* (post-image minus
pre-image of the touched keys), never by re-aggregating the whole table.
Measures are declared as ``"agg:expr"`` strings (a bare ``"expr"`` means
``sum``) and fall into two maintenance classes:

* ``sum`` / ``avg`` — SUM-decomposable: maintained purely from signed
  deltas (avg stores an exact ``(sum, non-null count)`` pair and divides
  at read time, presented as double). Per-batch cost is O(batch) + two
  bucket-pruned touched-key reads.
* ``min`` / ``max`` / ``recompute`` — NOT retractable from deltas (the
  reference's own freshness stat is ``MAX(scraped_at)``,
  boxing/database/metadata.py:182): maintained by *recomputing the touched
  groups exactly*. Each update adds one column-pruned scan of the
  post-version table, semi-joined (broadcast) to the batch's touched
  groups — group members on untouched keys live in arbitrary buckets, so
  this scan cannot be bucket-pruned; that is the inherent cost of
  non-retractable aggregates (Flink's retractable MAX keeps a per-group
  value multiset in keyed state; here the table IS that state, re-read for
  touched groups only). Recomputed values are absolute, stamped with the
  commit's table version (``applied_v``), and read latest-wins via
  ``max_by`` — untouched groups keep their older rows. Views with no such
  measure pay none of this. ``recompute:<agg expr>`` generalizes the class
  to ANY aggregate SQL expression over the source columns
  (``"recompute:count(DISTINCT lang)"``, ``"recompute:max_by(url,
  offset)"``) — the expression must be a deterministic aggregate (plain
  ``first()`` without a deterministic ordering is order-dependent and will
  not replay stably).

Storage is merge-on-read for aggregates, mirroring the main table's design:
each batch appends tiny signed delta rows ``(groups…, cnt, measures…)``
under ``deltas/batch_id=<b>/``; reading the view folds all committed deltas
with one ``groupBy(groups).sum()`` over O(n_batches × n_groups) rows, and
:meth:`compact` periodically collapses them to one row per group. There is
no read-modify-write of view state on the update path, so updates from
concurrent-looking retries can never double-apply or half-apply.

Exactly-once follows the engine-wide ledger discipline (lake/table.py,
operators/incremental.py): a batch's delta partition is written with dynamic
partition overwrite FIRST and its ledger marker LAST; reads filter to
marked batches, so a crash-retried update overwrites its own partial files
invisibly and re-marks. :meth:`update` is idempotent per ``batch_id``.

Scale shape (the 100 TB story): per-batch cost is O(batch) + two
bucket-pruned, column-pruned snapshot reads restricted to the batch's keys —
the unavoidable before-image cost of exact retraction on update/delete
streams (Flink does the same lookup against keyed RocksDB state; here the
key-bucketed table IS the keyed state). Touched keys come from the commit's
own delta files (``change_log``, O(batch) — never a table scan), touched
buckets from their hash (bounded by ``n_buckets``), and the pre/post scans
read only ``key + seq + source_columns`` column chunks from only those
buckets. The view itself never exceeds O(n_groups) live rows.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from data_pipelines_spark.functions.hashing import bucket_id
from data_pipelines_spark.lake.table import (
    ChangeLogUnavailableError,
    LakeTable,
    lake_writer,
)

_AGG_KINDS = ("sum", "avg", "min", "max", "recompute")


def _parse_measures(measures: dict[str, str]) -> list[tuple[str, str, str]]:
    """``"agg:expr"`` → (name, agg, expr); a bare expression means sum.
    Only a leading token that is exactly one of sum/avg/min/max/recompute
    counts as an agg prefix, so expressions containing ':' elsewhere stay
    intact. For ``recompute`` the expr is a FULL aggregate expression
    (evaluated per touched group); for every other kind it is a row
    expression."""
    out = []
    for name, spec in measures.items():
        agg, sep, expr = spec.partition(":")
        if sep and agg.strip().lower() in _AGG_KINDS and expr.strip():
            out.append((name, agg.strip().lower(), expr.strip()))
        else:
            out.append((name, "sum", spec))
    return out


class AggView:
    """A persistent incrementally-maintained GROUP BY view over a LakeTable.

    ``group_cols`` / ``measures`` are name→SQL-expression maps evaluated
    against the source table's rows; measure values may carry an agg prefix
    (``"max:scraped_at"``, ``"avg:length(text)"`` — bare means sum).
    ``source_columns`` lists the physical columns those expressions read
    (the pre/post scans prune to exactly key + seq + these). All three are
    persisted in ``meta.json`` at :meth:`create` so :meth:`load` reopens
    the identical view definition.
    """

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        group_cols: dict[str, str],
        measures: dict[str, str],
        source_columns: list[str],
    ):
        if not group_cols:
            raise ValueError("at least one group column is required")
        self.spark = spark
        self.root = root
        self.group_cols = dict(group_cols)
        self.measures = dict(measures)
        self.source_columns = list(source_columns)
        self._parsed = _parse_measures(self.measures)
        #: the recompute-touched-groups maintenance class: min/max plus any
        #: declared `recompute:` aggregate (count_distinct, max_by, …)
        self._minmax = [
            (n, a, e)
            for n, a, e in self._parsed
            if a in ("min", "max", "recompute")
        ]
        # physical delta columns backing each sum-decomposable measure
        self._sum_cols: list[tuple[str, str]] = []  # (storage col, row expr)
        self._avg_pairs: list[tuple[str, str, str, str]] = []  # (name, sum, n, expr)
        for n, a, e in self._parsed:
            if a == "sum":
                self._sum_cols.append((n, e))
            elif a == "avg":
                self._sum_cols.append((f"{n}__s", e))
                self._avg_pairs.append((n, f"{n}__s", f"{n}__n", e))
        # every physical delta column must be unique: group names, the
        # engine columns, each measure's storage column(s)
        phys = list(group_cols) + ["cnt", "batch_id", "applied_v"]
        phys += [s for s, _ in self._sum_cols]
        phys += [nn for _, _, nn, _e in self._avg_pairs]
        phys += [n for n, _, _ in self._minmax]
        bad = {n for n in phys if phys.count(n) > 1}
        if bad:
            raise ValueError(f"reserved/colliding column names: {sorted(bad)}")
        self._deltas = os.path.join(root, "deltas")
        self._ledger_dir = os.path.join(root, "_ledger")
        os.makedirs(self._ledger_dir, exist_ok=True)

    # ------------------------------------------------------------- lifecycle

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        group_cols: dict[str, str],
        measures: dict[str, str],
        source_columns: list[str],
    ) -> "AggView":
        view = cls(spark, root, group_cols, measures, source_columns)
        meta = os.path.join(root, "meta.json")
        if os.path.exists(meta):
            raise FileExistsError(f"AggView already exists at {root}")
        os.makedirs(root, exist_ok=True)
        with open(meta, "w") as f:
            json.dump(
                {
                    "group_cols": view.group_cols,
                    "measures": view.measures,
                    "source_columns": view.source_columns,
                },
                f,
            )
        return view

    @classmethod
    def load(cls, spark: SparkSession, root: str) -> "AggView":
        with open(os.path.join(root, "meta.json")) as f:
            meta = json.load(f)
        return cls(
            spark,
            root,
            meta["group_cols"],
            meta["measures"],
            meta["source_columns"],
        )

    # ------------------------------------------------------------- ledger

    def _marker(self, batch_id) -> str:
        return os.path.join(self._ledger_dir, f"{batch_id}.json")

    def committed_batches(self) -> list[str]:
        return sorted(
            f[: -len(".json")]
            for f in os.listdir(self._ledger_dir)
            if f.endswith(".json")
        )

    def _absorbed(self) -> set[str]:
        out: set[str] = set()
        for b in self.committed_batches():
            with open(self._marker(b)) as f:
                out.update(json.load(f).get("absorbs", []))
        return out

    def is_committed(self, batch_id) -> bool:
        return os.path.exists(self._marker(str(batch_id))) or str(batch_id) in self._absorbed()

    def _stored_schema(self) -> StructType | None:
        """Read schema = the schema of the LATEST-applied batch (schema only
        evolves by widening/adding, so the newest superset reads every older
        delta partition). committed_batches() sorts lexicographically —
        batch '9' after '10' — so order by each marker's recorded
        table_version (mtime as the tiebreak for markers without one)."""
        best: tuple[int, float, dict] | None = None
        for b in self.committed_batches():
            path = self._marker(b)
            with open(path) as f:
                m = json.load(f)
            if m.get("schema") is None:
                continue
            rank = (int(m.get("table_version", -1)), os.path.getmtime(path), m)
            if best is None or rank[:2] > best[:2]:
                best = rank
        return StructType.fromJson(best[2]["schema"]) if best else None

    # ------------------------------------------------------------- update

    @property
    def _fold_cols(self) -> list[str]:
        """Delta storage columns folded by SUM at read/compact time."""
        return [s for s, _ in self._sum_cols] + [
            nn for _, _, nn, _e in self._avg_pairs
        ]

    def _contrib(self, rows: DataFrame, sign) -> DataFrame:
        """Signed per-group contribution of a set of table rows (the
        SUM-decomposable measures only — min/max are recomputed, not
        delta-folded; see :meth:`_minmax_recompute`). ``sign`` is ±1 or a
        per-row Column (the fused path tags each row with its sign)."""
        sgn = F.lit(sign) if isinstance(sign, int) else sign
        groups = [F.expr(e).alias(n) for n, e in self.group_cols.items()]
        return rows.groupBy(*groups).agg(*self._contrib_aggs(sgn))

    def _fused_delta(self, table: LakeTable, pre: DataFrame, log: DataFrame) -> DataFrame:
        """Both signed contributions from ONE pre-image read + the commit's
        own change-log rows — no post-snapshot scan. The batch's log rows are
        its per-key LWW winners, so plain LWW replays as: the batch row
        stands iff its sequence tuple >= the stored pre winner's (ties are
        re-deliveries of identical content); a winning 'D' drops the key.
        ``pre`` is read WITH tombstones: a stored tombstone contributes
        nothing but its sequence still defeats a stale batch row (the
        resurrection edge out-of-order deletes exist to prevent). Guarded by
        the caller: a batch carrying seq-bump rows ('B') falls back to the
        post-snapshot read, because a bump's materialization may come from a
        stored content row that the RESOLVED pre image no longer shows
        (lww_resolve_bumps' hash-matched payload)."""
        from data_pipelines_spark.lake.table import DELETED_COL

        key, seqs = table.key, list(table.seq_cols)
        pcols = [c for c in pre.columns if c != DELETED_COL]
        left = log.select(*pcols, "op").alias("l")
        j = left.join(pre.alias("p"), F.col(f"l.{key}") == F.col(f"p.{key}"), "left")
        lseq = F.struct(*[F.col(f"l.{s}") for s in seqs])
        pseq = F.struct(*[F.col(f"p.{s}") for s in seqs])
        batch_wins = F.col(f"p.{key}").isNull() | (lseq >= pseq)
        p_live = F.col(f"p.{key}").isNotNull() & ~F.col(f"p.{DELETED_COL}")
        lrow = F.struct(*[F.col(f"l.{c}").alias(c) for c in pcols])
        prow = F.struct(*[F.col(f"p.{c}").alias(c) for c in pcols])
        post_side = F.when(batch_wins & (F.col("l.op") != F.lit("D")), lrow).when(
            ~batch_wins & p_live, prow
        )
        pre_side = F.when(p_live, prow)
        pair = F.array(
            F.struct(F.lit(1).alias("_sign"), post_side.alias("r")),
            F.struct(F.lit(-1).alias("_sign"), pre_side.alias("r")),
        )
        rows = (
            j.select(F.explode(pair).alias("x"))
            .select(F.col("x._sign").alias("_sign"), "x.r.*")
            .where(F.col(key).isNotNull())
        )
        return rows.groupBy(
            *[F.expr(e).alias(n) for n, e in self.group_cols.items()]
        ).agg(*self._contrib_aggs(F.col("_sign")))

    def _contrib_aggs(self, sgn) -> list:
        aggs = [F.sum(sgn).cast("long").alias("cnt")]
        aggs += [F.sum(F.expr(e) * sgn).alias(s) for s, e in self._sum_cols]
        aggs += [
            F.sum(F.when(F.expr(e).isNotNull(), sgn).otherwise(F.lit(0)))
            .cast("long")
            .alias(nn)
            for _n, _s, nn, e in self._avg_pairs
        ]
        return aggs

    def _recompute_agg(self, n: str, a: str, e: str):
        """The per-group aggregate for one recompute-class measure: min/max
        wrap a row expression; ``recompute`` is itself an aggregate SQL
        expression and is evaluated as written."""
        if a in ("min", "max"):
            return (F.min if a == "min" else F.max)(F.expr(e)).alias(n)
        return F.expr(e).alias(n)

    def _minmax_recompute(self, table: LakeTable, version: int, touched_groups: DataFrame) -> DataFrame:
        """Exact recompute-class measures (min/max/recompute) per touched
        group at ``version``: one column-pruned table scan,
        broadcast-semi-joined to the touched groups (null-safe — a NULL
        group value is a real group). Cannot be bucket-pruned: group
        members on untouched keys live in arbitrary buckets. The semi-join
        keeps the RAW source rows (recompute expressions like
        ``count(DISTINCT lang)`` aggregate over them directly); group
        expressions are evaluated inline in both the join condition and the
        final groupBy."""
        gnames = list(self.group_cols)
        rows = table.read(version=version, columns=self.source_columns)
        probe = F.broadcast(
            touched_groups.select(*[F.col(n).alias(f"__g_{n}") for n in gnames])
        )
        cond = None
        for n, e in self.group_cols.items():
            c = F.expr(e).eqNullSafe(probe[f"__g_{n}"])
            cond = c if cond is None else cond & c
        matched = rows.join(probe, cond, "left_semi")
        return matched.groupBy(
            *[F.expr(e).alias(n) for n, e in self.group_cols.items()]
        ).agg(*[self._recompute_agg(n, a, e) for n, a, e in self._minmax])

    def _attach_minmax(
        self, delta: DataFrame, table: LakeTable, version: int
    ) -> DataFrame:
        """Left-join the recomputed min/max values (absolute, not signed)
        onto the batch's touched-group delta rows and stamp ``applied_v``
        so reads resolve latest-wins per group. A touched group with no
        surviving rows gets NULLs here — correct, since ``read``'s
        ``cnt > 0`` filter drops it until it is re-added (at which point a
        newer recompute row wins)."""
        gnames = list(self.group_cols)
        mm = self._minmax_recompute(table, version, delta.select(*gnames).distinct())
        cond = None
        for n in gnames:
            c = delta[n].eqNullSafe(mm[n])
            cond = c if cond is None else cond & c
        joined = delta.join(mm, cond, "left").select(
            *[delta[c] for c in delta.columns],
            *[mm[n] for n, _a, _e in self._minmax],
        )
        return joined.withColumn("applied_v", F.lit(int(version)).cast("long"))

    def update(self, table: LakeTable, batch_id: int | str) -> bool:
        """Fold one committed merge batch's net effect into the view.

        Returns False (no-op) when ``batch_id`` was already applied here.
        The batch must already be committed to ``table`` — the touched-key
        set is derived from that commit's own delta files.

        Sequence-tie contract: the fused fast path resolves a batch row
        whose full sequence tuple EQUALS the stored pre-image winner's in
        favor of the batch row (a tie is a re-delivery of identical
        content). This matches the table's LWW only under the engine-wide
        unique-tiebreaker contract — ``seq_cols`` must end in a per-key
        unique column (the log offset, as every pipeline here configures).
        Feeding a table whose sequence tuples can genuinely collide with
        DIFFERENT payloads would let the replayed post-image diverge from
        the merge's arbitrary tie winner; such a table is outside the
        engine's LWW contract everywhere, not just here.

        A ``LakeTable.rollback`` commit is itself a foldable batch (the
        snapshot diff reverts the view), but a batch REPLAYED after a
        rollback reuses its original batch id at a NEW table version — its
        old delta partition cannot simply be replaced (the rollback delta
        already netted against it), so that case fails loud: ``rebuild()``
        the view, which re-baselines and re-marks every ledger batch.
        """
        bid = str(batch_id)
        tl = table.ledger()
        if bid not in tl:
            raise ValueError(f"batch {bid!r} is not committed to the source table")
        post_v = tl[bid]
        marker = self._marker(bid)
        if os.path.exists(marker):
            with open(marker) as f:
                seen_v = json.load(f).get("table_version")
            if seen_v is not None and seen_v != post_v:
                raise ValueError(
                    f"batch {bid!r} was re-committed at v{post_v} after a "
                    f"rollback (view applied it at v{seen_v}) — rebuild() "
                    "the view to re-baseline"
                )
            return False
        if bid in self._absorbed():
            return False
        # the pre-image version is the commit's PARENT snapshot — version
        # slots are global, so arithmetic (post_v - 1) could name another
        # lineage's snapshot entirely
        pre_v = table._snapshot(post_v)["parent"]

        key = table.key
        log = None
        try:
            log = table.change_log(pre_v, post_v)
            touched = log.select(key).distinct()
        except ChangeLogUnavailableError:
            # overwrite / backfill / rollback commits carry no delta rows;
            # the snapshot diff still yields the touched keys
            # (O(affected buckets), not O(batch))
            touched = table.changes(pre_v, post_v).select(key).distinct()
        # the touched-key frame can be referenced several times below (the
        # layout-fallback bucket probe + the pre/post semi-joins) and Spark
        # does not CSE repeated plan subtrees — persist it (materialized by
        # the bucket collect on the fallback path; lazily deduped within the
        # single write job on the manifest fast path, where it is referenced
        # at most twice and is O(batch) to recompute anyway)
        touched = touched.persist()
        keys = F.broadcast(touched)
        # touched-bucket pruning must use EACH version's own layout: across a
        # rebucket pre_v and post_v disagree on n_buckets, and hashing the
        # keys with the current layout would prune away the very files that
        # hold them (silently losing contributions).
        #
        # Fast path — zero Spark jobs: when pre and post share a layout, the
        # commit's own manifest diff names every bucket it wrote, and any key
        # whose state changed MUST live in such a bucket (an untouched bucket's
        # files are identical across the two versions), so those bucket ids
        # are a safe superset of the touched keys' buckets under BOTH
        # versions. Falls back to hashing the touched keys (bounded collect,
        # ≤ n_buckets values, cached per layout) across layout changes or
        # when the commit added no manifest.
        nb_by_v = {
            v: int(table._snapshot(v)["n_buckets"])
            for v in (pre_v, post_v)
            if os.path.exists(os.path.join(table._meta_dir, f"v{v}.json"))
        }
        manifest_bkts: list[int] | None = None
        batch_has_bumps = True  # conservative until the manifest diff proves not
        if nb_by_v.get(pre_v) == nb_by_v.get(post_v) and pre_v in nb_by_v:
            prior = set(table._snapshot(pre_v)["manifests"])
            new_manifests = [
                m for m in table._snapshot(post_v)["manifests"] if m not in prior
            ]
            if new_manifests:
                touched_b: set[int] = set()
                batch_has_bumps = False
                for name in new_manifests:
                    files = table._load_manifest(name)["files"]
                    touched_b.update(int(b) for b in files)
                    if any(fe.get("bumps") for fl in files.values() for fe in fl):
                        batch_has_bumps = True
                manifest_bkts = sorted(touched_b)
        bkt_cache: dict[int, list[int]] = {}

        def bkts_for(v: int) -> list[int]:
            nb = int(table._snapshot(v)["n_buckets"])
            if manifest_bkts is not None and nb == nb_by_v.get(post_v):
                return manifest_bkts
            if nb not in bkt_cache:
                bkt_cache[nb] = [
                    r["b"]
                    for r in touched.select(bucket_id(F.col(key), nb).alias("b"))
                    .distinct()
                    .collect()
                ]
            return bkt_cache[nb]

        def state(v: int, include_tombstones: bool = False) -> DataFrame:
            try:
                rows = table.read(
                    version=v,
                    buckets=bkts_for(v),
                    columns=self.source_columns,
                    include_tombstones=include_tombstones,
                )
            except (ValueError, FileNotFoundError):
                # pre-data snapshot: no schema yet → empty state
                return None
            return rows.join(keys, key, "left_semi")

        use_fused = log is not None and not batch_has_bumps
        pre = state(pre_v, include_tombstones=use_fused)
        if use_fused:
            # fused fast path: ONE snapshot read (pre image) — the post image
            # replays from the commit's own change-log rows (see _fused_delta)
            if pre is None:
                delta = self._contrib(log.where(F.col("op") != F.lit("D")), 1)
            else:
                delta = self._fused_delta(table, pre, log)
        else:
            post = state(post_v)
            delta = self._contrib(post, 1)
            if pre is not None:
                delta = (
                    delta.unionByName(self._contrib(pre, -1))
                    .groupBy(*self.group_cols)
                    .agg(
                        F.sum("cnt").alias("cnt"),
                        *[F.sum(c).alias(c) for c in self._fold_cols],
                    )
                )
        pinned = None
        if self._minmax:
            # min/max may change even when every signed sum nets to zero
            # (a value shrank within the same group), so EVERY touched
            # group keeps its row — it carries the recomputed absolutes.
            # The delta subtree (it embeds both snapshot reads) is referenced
            # by the group probe AND the final join; Spark does not CSE
            # repeated subtrees, so pin the tiny per-group frame.
            pinned = delta.persist()
            delta = self._attach_minmax(pinned, table, post_v)
        else:
            zero = (F.col("cnt") == 0) & F.lit(True)
            for c in self._fold_cols:
                zero = zero & (F.col(c).isNull() | (F.col(c) == 0))
            delta = delta.where(~zero)
        delta = delta.withColumn("batch_id", F.lit(bid))

        (
            lake_writer(delta).mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(self._deltas)
        )
        touched.unpersist()
        if pinned is not None:
            pinned.unpersist()
        schema = StructType([f for f in delta.schema.fields if f.name != "batch_id"])
        with open(self._marker(bid), "w") as f:
            json.dump({"table_version": post_v, "schema": schema.jsonValue()}, f)
        return True

    def update_all(self, table: LakeTable) -> int:
        """Apply every table batch this view hasn't seen, in commit order.
        The catch-up path after a view outage or a fresh view over an
        existing table. Returns the number of batches applied.

        Fails loud if the table's ``ledger_keep`` retention already trimmed
        batches this view never applied — those batch ids are gone from the
        ledger, so silent catch-up would leave the view stale forever; the
        remedy is :meth:`rebuild` (full refresh re-baselines and re-marks).
        """
        floor = table.ledger_floor()
        if floor is not None:
            # batches are applied in commit order, so the view is caught up
            # through the highest table_version its markers record; any
            # trimmed entry above that point is lost history the ledger can
            # no longer name
            applied_v = -1
            for b in self.committed_batches():
                with open(self._marker(b)) as f:
                    applied_v = max(applied_v, json.load(f).get("table_version", -1))
            if applied_v < floor:
                raise ValueError(
                    f"table ledger was trimmed through v{floor} "
                    f"(ledger_keep retention) but this view last applied "
                    f"v{applied_v} — the trimmed batch ids can no longer be "
                    "enumerated for catch-up; use rebuild() for a full "
                    "refresh"
                )
        n = 0
        for bid, _v in sorted(table.ledger().items(), key=lambda kv: kv[1]):
            if self.update(table, bid):
                n += 1
        return n

    # ------------------------------------------------------------- read

    def _delta_rows(self) -> DataFrame | None:
        absorbed = self._absorbed()
        live = [b for b in self.committed_batches() if b not in absorbed]
        if not live:
            return None
        schema = self._stored_schema()
        if schema is None:
            return None
        # a committed batch may have written ZERO delta rows (pure seq-bump
        # or all-LWW-loser batches): dynamic overwrite emits no files then,
        # so the directory may not even exist yet — and with no partition
        # dirs on disk the batch_id partition column cannot be discovered,
        # so it must be part of the explicit read schema
        os.makedirs(self._deltas, exist_ok=True)
        from pyspark.sql.types import StringType, StructField

        full = StructType(list(schema.fields) + [StructField("batch_id", StringType())])
        df = self.spark.read.schema(full).parquet(self._deltas)
        return df.where(F.col("batch_id").isin(live))

    def _fold_aggs(self) -> list:
        """Aggregations that collapse delta rows to one row per group:
        SUM for the signed columns, latest-wins (``max_by`` on the stamping
        version) for recomputed min/max, MAX for the stamp itself. The
        struct wrapper keeps a legitimately-NULL latest value from losing
        to an older non-NULL one."""
        aggs = [F.sum("cnt").alias("cnt")]
        aggs += [F.sum(c).alias(c) for c in self._fold_cols]
        for n, _a, _e in self._minmax:
            aggs.append(
                F.max_by(F.struct(F.col(n).alias("v")), F.col("applied_v"))["v"].alias(n)
            )
        if self._minmax:
            aggs.append(F.max("applied_v").alias("applied_v"))
        return aggs

    def read(self) -> DataFrame:
        """Current view state: one row per live group. O(batches × groups)
        delta rows folded by one aggregation — compaction keeps that small.
        avg measures present as double (their storage pair stays exact)."""
        deltas = self._delta_rows()
        if deltas is None:
            raise ValueError("view has no committed batches yet")
        folded = (
            deltas.groupBy(*self.group_cols)
            .agg(*self._fold_aggs())
            .where(F.col("cnt") > 0)
        )
        out = [F.col(n) for n in self.group_cols] + [F.col("cnt")]
        for n, a, _e in self._parsed:
            if a == "avg":
                _, s, nn, _e2 = next(p for p in self._avg_pairs if p[0] == n)
                out.append(
                    F.when(
                        F.col(nn) > 0, F.col(s).cast("double") / F.col(nn)
                    ).alias(n)
                )
            else:
                out.append(F.col(n))
        return folded.select(*out)

    # ------------------------------------------------------------- rebuild

    def rebuild(self, table: LakeTable) -> None:
        """Full refresh: recompute the aggregate from the table's CURRENT
        state and absorb every prior delta partition. The escape hatch for
        changes the incremental path cannot see — a :meth:`LakeTable.
        backfill` rewrites column values without advancing sequences, so no
        delta batch ever reports them; after one, rebuild any view whose
        measures read the backfilled column. Also marks every batch in the
        table's ledger as applied, so subsequent :meth:`update_all` resumes
        incrementally from here."""
        version = table.current_version()
        cid = f"rebuild-{version}"
        if self.is_committed(cid):
            return
        rows = table.read(version=version, columns=self.source_columns)
        folded = self._contrib(rows, 1)
        if self._minmax:
            # full-state pass: recompute-class measures computed directly in
            # the same aggregation shape as a recompute row, stamped at this
            # version
            groups = [F.expr(e).alias(n) for n, e in self.group_cols.items()]
            mm = rows.groupBy(*groups).agg(
                *[self._recompute_agg(n, a, e) for n, a, e in self._minmax]
            )
            cond = None
            for n in self.group_cols:
                c = folded[n].eqNullSafe(mm[n])
                cond = c if cond is None else cond & c
            folded = folded.join(mm, cond, "left").select(
                *[folded[c] for c in folded.columns],
                *[mm[n] for n, _a, _e in self._minmax],
            ).withColumn("applied_v", F.lit(int(version)).cast("long"))
        folded = folded.withColumn("batch_id", F.lit(cid))
        (
            lake_writer(folded).mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(self._deltas)
        )
        absorbed = sorted(
            set(self.committed_batches()) | set(map(str, table.ledger()))
        )
        schema = StructType([f for f in folded.schema.fields if f.name != "batch_id"])
        with open(self._marker(cid), "w") as f:
            json.dump(
                {"absorbs": absorbed, "schema": schema.jsonValue(),
                 "table_version": version},
                f,
            )
        for b in absorbed:
            if b != cid:
                try:
                    os.remove(self._marker(b))
                except FileNotFoundError:
                    pass

    # ------------------------------------------------------------- compact

    def compact(self) -> bool:
        """Fold all live delta partitions into one consolidated partition
        (one row per group), absorbing their markers — the view-side analog
        of the table's delta compaction. Idempotent: no-op when ≤1 live
        partition exists. Crash-safe: the consolidated partition is written
        first, its marker (carrying ``absorbs``) last; absorbed markers are
        deleted after, and a crash between leaves reads correct because
        ``absorbs`` masks them."""
        absorbed = self._absorbed()
        live = [b for b in self.committed_batches() if b not in absorbed]
        if len(live) <= 1:
            return False
        cid = f"viewcompact-{max(live)}"
        if self.is_committed(cid):
            return False
        folded = (
            self._delta_rows()
            .groupBy(*self.group_cols)
            .agg(*self._fold_aggs())
            .withColumn("batch_id", F.lit(cid))
        )
        (
            lake_writer(folded).mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(self._deltas)
        )
        schema = StructType([f for f in folded.schema.fields if f.name != "batch_id"])
        # carry the catch-up watermark forward: the consolidated marker must
        # still prove how far this view has applied (update_all's
        # ledger_floor guard reads it) after the absorbed markers are gone
        maxv = -1
        for b in live:
            try:
                with open(self._marker(b)) as f:
                    maxv = max(maxv, json.load(f).get("table_version", -1))
            except FileNotFoundError:
                pass
        doc = {"absorbs": live, "schema": schema.jsonValue()}
        if maxv >= 0:
            doc["table_version"] = maxv
        with open(self._marker(cid), "w") as f:
            json.dump(doc, f)
        for b in live:
            try:
                os.remove(self._marker(b))
            except FileNotFoundError:
                pass
        return True

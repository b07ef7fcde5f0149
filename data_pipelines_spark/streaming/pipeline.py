"""The CDC ingest pipeline: change-stream tail → decode → LWW → MERGE.

Structured-Streaming-native replacement for the reference's imperative
pipeline loop (``boxing/run_pipeline.py:42-51`` load →
``boxing/load/to_staging_mirror_db.py:379-395``): one declarative lineage per
microbatch —

    readStream(change log)                       # checkpointed offsets
      → decode (vectorized pandas UDFs: html→text, lang fill)
      → repartition by key                       # co-locate for the merge join
      → LakeTable.merge (LWW dedup + keyed upsert + tombstone deletes)
      → commit summary in the snapshot           # offset span, counts, bytes

Exactly-once: the streaming checkpoint makes batch ids stable across retries,
and ``LakeTable.merge`` skips batch ids already in the snapshot ledger, so a
re-delivered microbatch is a no-op — replay from any checkpoint converges to
the same table state (proved by tests/test_replay.py).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pipelines_spark.extract.html import html_to_text
from data_pipelines_spark.lake import LakeTable, MergeStats

@dataclass
class PipelineConfig:
    table_root: str
    key: str = "url"
    seq_cols: tuple[str, ...] = ("warc_ts", "offset")
    n_buckets: int = 16
    decode: bool = True
    extract_fields: bool = False  # add the wide-struct page-field extraction
    change_filter: bool = False  # hash-unchanged re-scrapes → seq-bump deltas
    salt_dedup: int = 0  # >1: two-phase salted dedup against hot-key skew
    near_dup_threshold: float | None = None  # near-dup-on-ingest Jaccard cutoff
    near_dup_retract: bool = False  # deletes/rewrites retract old index content
    #: exactly-once ledger retention window in commits (None = unbounded);
    #: size beyond the source's re-delivery horizon — see LakeTable.ledger_keep
    ledger_keep: int | None = None
    #: serving profile: stamp per-file key Bloom filters on delta files with
    #: ≤ this many rows so read_keys prunes un-compacted deltas (opt-in,
    #: costs ~5% of merge wall) — see LakeTable.key_bloom_rows
    key_bloom_rows: int | None = None
    #: write-audit-publish: commit every batch to this branch instead of
    #: main (created at the current head on first use; re-attaching after a
    #: restart reuses the existing branch and its exactly-once ledger).
    #: Readers of the table's CURRENT see nothing until
    #: ``table.fast_forward(branch)`` publishes — see LakeTable.branch
    branch: str | None = None


class CdcPipeline:
    """Drives change batches into a :class:`LakeTable`; each commit's
    snapshot summary is the per-batch record (:meth:`throughput_report`)."""

    def __init__(self, spark: SparkSession, cfg: PipelineConfig):
        if cfg.extract_fields and not cfg.decode:
            raise ValueError(
                "extract_fields=True requires decode=True (extraction runs "
                "inside the decode stage)"
            )
        self.spark = spark
        self.cfg = cfg
        self.table = LakeTable.create(
            spark,
            cfg.table_root,
            key=cfg.key,
            seq_cols=cfg.seq_cols,
            n_buckets=cfg.n_buckets,
        )
        # tune MAIN first: branch handles are copies and inherit, and a
        # rebase publish merges onto main — which must carry the same
        # serving blooms / ledger retention as the staged commits did
        # (tuning only the branch copy silently ran publishes at class
        # defaults)
        self.table.ledger_keep = cfg.ledger_keep
        self.table.key_bloom_rows = cfg.key_bloom_rows
        #: the un-branched (main-head) handle — publish/reject target when
        #: ``cfg.branch`` routes the pipeline's commits through a branch
        self.main_table = self.table
        if cfg.branch is not None:
            if cfg.branch not in self.table.branches():
                self.table.create_branch(cfg.branch)
            self.table = self.table.branch(cfg.branch)
        #: incrementally-maintained aggregate views (lake.aggview.AggView),
        #: folded forward after every commit — see :meth:`attach_view`
        self.views: list = []
        self.near_dup = None
        if cfg.near_dup_threshold is not None:
            from data_pipelines_spark.operators.incremental import MinHashIndex

            self.near_dup = MinHashIndex(
                spark,
                os.path.join(cfg.table_root, "_mhidx"),
                threshold=cfg.near_dup_threshold,
            )

    # ------------------------------------------------------------- transform

    def decode(self, batch: DataFrame) -> DataFrame:
        """Vectorized decode: extracted ``text`` (byte-identical invariant) and
        ``lang`` backfill from the page itself when the stream omits it.

        All pandas/Arrow — no per-row Python (input_hint invariant). Deletes
        (null html) pass through with null text.
        """
        out = batch.withColumn("text", html_to_text(F.col("html")))
        out = out.withColumn(
            "lang",
            F.coalesce(
                F.col("lang"),
                F.regexp_extract(F.col("html").cast("string"), 'lang="([a-z]{2})"', 1),
            ),
        )
        # F1 content fingerprint stored at ingest — makes the next batch's
        # change filter a (key, hash) column-pruned scan instead of re-reading
        # page bytes (reference: boxing/database/metadata.py:37-39). Rows
        # with no html (deletes, seq bumps) keep any hash they carried — a
        # bump's hash is its link to the content it observed.
        from data_pipelines_spark.functions.hashing import content_hash

        carried = (
            F.col("content_hash")
            if "content_hash" in batch.columns
            else F.lit(None).cast("string")
        )
        out = out.withColumn(
            "content_hash", F.coalesce(content_hash(F.col("html")), carried)
        )
        if self.cfg.extract_fields:
            # reference load path §3.1: extract (wide struct, parse-once) +
            # bout history (UDTF analog) carried as nested columns; schema
            # evolution adds them to the table on first sight.
            from data_pipelines_spark.extract.html import extract_bouts, extract_page_fields

            out = out.withColumn("fields", extract_page_fields(F.col("html")))
            out = out.withColumn("bouts", extract_bouts(F.col("html")))
        return out

    # ----------------------------------------------------------------- merge

    def change_filtered(self, batch: DataFrame) -> DataFrame:
        """§3.2 pre-MERGE change filter: updates whose content hash equals
        the stored hash for that key are reduced to **sequence-bump deltas**
        (op='B': key + sequence + the observed hash, payload NULL) — the
        page bytes never reach the dedup shuffle, the decode UDF, or the
        delta files (the reference's ``check-changes`` loop as ONE join:
        F1 hash → J2 lookup → F2 compare).

        Why a bump instead of a plain drop: the bump advances the stored
        sequence, so an out-of-order delete with a sequence between the
        stored row and the skipped re-scrape can no longer kill the key
        (the resurrection edge the reference's skip has). Read-side
        resolution materializes bump winners from the content row matching
        the carried hash (``operators.lww.lww_resolve_bumps``); compaction
        folds bumps back into plain rows.

        The state side is the (key, content_hash) column-pruned read of every
        bucket, so building the filter launches no Spark job. Reading buckets
        the batch does not touch is correct because the join is by key;
        routing to the touched buckets first would cost a distinct over the
        batch (2 jobs) and prune only a batch with fewer distinct keys than
        buckets.
        """
        from data_pipelines_spark.functions.hashing import content_hash

        snap_schema = self.table.schema()
        if snap_schema is None or "content_hash" not in [f.name for f in snap_schema.fields]:
            return batch
        state = self.table.read(columns=["content_hash"]).select(
            F.col(self.cfg.key), F.col("content_hash").alias("_stored_hash")
        )
        joined = batch.join(state, on=self.cfg.key, how="left")
        # NULL-safe: a row with NULL html/op must pass through, not vanish
        # into three-valued-logic limbo.
        unchanged = F.coalesce(
            (F.col("op") != "D")
            & F.col("_stored_hash").isNotNull()
            & (content_hash(F.col("html")) == F.col("_stored_hash")),
            F.lit(False),
        )
        keep = {self.cfg.key, *self.cfg.seq_cols}
        bump_cols = []
        for c in batch.columns:
            if c == "op":
                bump_cols.append(F.lit("B").alias("op"))
            elif c in keep:
                bump_cols.append(F.col(c))
            elif c == "content_hash":
                bump_cols.append(F.col("_stored_hash").alias("content_hash"))
            else:
                bump_cols.append(F.lit(None).cast(batch.schema[c].dataType).alias(c))
        if "content_hash" not in batch.columns:
            bump_cols.append(F.col("_stored_hash").alias("content_hash"))
        bumps = joined.where(unchanged).select(*bump_cols)
        passed = joined.where(~unchanged).drop("_stored_hash")
        if "content_hash" not in batch.columns:
            passed = passed.withColumn("content_hash", F.lit(None).cast("string"))
        return passed.unionByName(bumps)

    def _near_dup_filter(self, batch: DataFrame, batch_id) -> DataFrame:
        """Near-dup dedup ON the ingest path: a document whose extracted text
        has Jaccard ≥ ``near_dup_threshold`` against any previously ingested
        document (earlier batch, or smaller key in-batch) is dropped before
        it reaches the merge — the persistent :class:`MinHashIndex` under
        ``<table_root>/_mhidx`` is the seen-content store, signed O(batch)
        per microbatch, never re-reading the corpus.

        Only LWW winners are signed (one signature per key per batch, and
        the merge would discard superseded versions anyway); deletes and
        seq-bumps pass through untouched. A re-scrape of the SAME key is
        never self-blocked (the index excludes seen_id == new_id), so LWW
        updates flow normally. The index commit is idempotent per batch_id
        and happens before the table merge: a crash between the two replays
        the recorded kept set on re-delivery, and the merge ledger remains
        the outer exactly-once boundary. The index only ever over-records
        (content observed but whose merge failed) — safe for dedup, and
        deterministic under replay.

        When ``decode=True`` the winners are decoded HERE (the signer needs
        ``text``) and the merge's transform stage is skipped — decode still
        runs exactly once per surviving version.
        """
        from data_pipelines_spark.operators.lww import lww_latest

        key = self.cfg.key
        if self.cfg.near_dup_retract:
            # Overwrite-on-rescrape semantics (reference rescrape loop,
            # boxing/load/to_staging_mirror_db.py:125-186): every key this
            # batch deletes ('D') or rewrites ('U') first RETRACTS its old
            # content from the index's seen set, so dead versions stop
            # suppressing future near-dups and stop growing the store; the
            # batch's own winners re-join the seen set at a later epoch
            # (retract-then-reingest is ordered by the store's epoch
            # ledger). Plain inserts retract nothing — an all-'I' batch
            # writes an EMPTY retraction partition, which store reads skip
            # driver-side (no files → no hide-set join), so the
            # un-compacted hide set is bounded by actual deletes/rewrites,
            # not corpus size. Idempotent per batch: the retraction has its
            # own ledger marker. (Edge: an 'I' re-delivered for an
            # already-live key upserts the table via LWW but does NOT
            # retract — CDC insert semantics; rescrapes arrive as 'U'.)
            self.near_dup.retract(
                batch.where(F.col("op").isin("D", "U"))
                .select(F.col(key).alias("id"))
                .distinct(),
                f"{batch_id}-retract",
            )
        is_doc = F.col("op").isin("I", "U") & F.col("html").isNotNull()
        docs = batch.where(is_doc)
        others = batch.where(~is_doc)
        winners = lww_latest(docs, key, list(self.cfg.seq_cols))
        sign_col, drop_after = "text", False
        if self.cfg.decode:
            winners = self.decode(winners)
        elif "text" not in winners.columns:
            winners = winners.withColumn("_sign_text", html_to_text(F.col("html")))
            sign_col, drop_after = "_sign_text", True
        kept = self.near_dup.process_batch(
            winners, batch_id, text_col=sign_col, id_col=key
        )
        if drop_after:
            kept = kept.drop("_sign_text")
        return kept.unionByName(others, allowMissingColumns=True)

    def process_batch(self, batch: DataFrame, batch_id: int | str) -> MergeStats:
        """foreachBatch body: LWW dedup → decode winners → merge.

        Decode runs *after* the dedup (``transform_after_dedup``): the UDF
        never sees duplicate deliveries or superseded versions, and the dedup
        shuffle carries raw payload only. No extra repartition: the dedup's
        own groupBy(key) shuffle already co-locates rows for the merge.

        With ``near_dup_threshold`` set, the batch first passes the
        :meth:`_near_dup_filter` stage (which decodes the winners itself).
        """
        if self.cfg.change_filter:
            batch = self.change_filtered(batch)
        transform = self.decode if self.cfg.decode else None
        if self.near_dup is not None:
            batch = self._near_dup_filter(batch, batch_id)
            transform = None
        stats = self.table.merge(
            batch,
            batch_id=batch_id,
            transform_after_dedup=transform,
            salt_dedup=self.cfg.salt_dedup,
        )
        # maintain attached views even on a skipped duplicate: a crash between
        # the merge commit and the view update re-delivers the batch with the
        # merge as a ledger no-op, but the view still has to catch up — and
        # AggView.update is itself idempotent per batch_id, so the steady
        # state double-applies nothing.
        for view in self.views:
            view.update(self.table, batch_id)
        return stats

    def publish_branch(self, mode: str = "ff") -> int:
        """Publish this pipeline's staging branch into main (see
        ``LakeTable.publish``): ``'ff'`` pointer-swaps, ``'rebase'`` also
        handles a main that advanced since the fork (replays the staged
        batches exactly-once under their original ids). The pipeline keeps
        committing on the same branch afterwards — a later publish picks up
        only what's new (already-published batch ids skip)."""
        if self.cfg.branch is None:
            raise ValueError("pipeline has no staging branch (cfg.branch)")
        return self.main_table.publish(self.cfg.branch, mode=mode)

    def reject_branch(self) -> dict:
        """Reject this pipeline's staging branch: nothing staged reaches
        main, AND the near-dup index (when configured) stops treating the
        staged content as seen — without it, a rejected batch's pages would
        keep suppressing future near-dups they themselves never shipped
        (the audit gate would silently censor the corpus).

        Index repair is the standard retract-then-reingest: every key the
        staged commits inserted/rewrote is retracted (epoch-ordered hide +
        purge at the next index compact), then the keys' CURRENT published
        winners — content that was legitimately seen before the branch —
        re-join the seen set at a later epoch. Both steps carry
        deterministic ``reject:<branch>:<head>`` batch ids, so a crash
        mid-reject resumes idempotently. Cost: O(staged changes) for the
        retraction + one broadcast-semi-joined read of main for the
        re-sign (the reject path is rare; staged key sets are batch-sized).

        Ends by dropping the branch and re-forking it at the current main
        head, so the pipeline immediately re-stages on a clean lineage.
        Returns a small stats dict."""
        if self.cfg.branch is None:
            raise ValueError("pipeline has no staging branch (cfg.branch)")
        name = self.cfg.branch
        refs = self.main_table._branch_refs()
        if name not in refs:  # crash after a completed reject: re-fork only
            self.main_table.create_branch(name)
            self.table = self._branch_handle(name)
            return {"branch": name, "staged_commits": 0, "retracted": False}
        head, fork = refs[name]
        chain = self.main_table._chain(head, stop=fork)
        # -1: partially expired staging metadata; the retraction below
        # (change_log) fails loud if it actually needs the missing snapshots
        staged_commits = (
            len(chain) - 1 if chain and chain[-1]["version"] == fork else -1
        )
        retracted = False
        if self.near_dup is not None and head != fork:
            key = self.cfg.key
            staged_keys = (
                self.table.change_log(fork, head)
                .where(F.col("op").isin("I", "U"))
                .select(F.col(key).alias("id"))
                .distinct()
            )
            self.near_dup.retract(staged_keys, f"reject:{name}:{head}")
            if self.main_table.schema() is not None:
                live = self.main_table.read().join(
                    F.broadcast(staged_keys.withColumnRenamed("id", key)),
                    key,
                    "semi",
                )
                sign_col = "text"  # mirror _near_dup_filter's signer input
                if "text" not in live.columns and "html" in live.columns:
                    live = live.withColumn(
                        "_sign_text", html_to_text(F.col("html"))
                    )
                    sign_col = "_sign_text"
                if sign_col in live.columns:
                    self.near_dup.process_batch(
                        live.where(F.col(sign_col).isNotNull()),
                        f"reject-resign:{name}:{head}",
                        text_col=sign_col,
                        id_col=key,
                    )
            retracted = True
        self.main_table.drop_branch(name)
        self.main_table.create_branch(name)
        self.table = self._branch_handle(name)
        return {
            "branch": name,
            "head": head,
            "fork": fork,
            "staged_commits": staged_commits,
            "retracted": retracted,
        }

    def _branch_handle(self, name: str):
        """Branch handle — inherits the pipeline's table tuning from the
        (already-tuned) main handle it copies."""
        return self.main_table.branch(name)

    def attach_view(self, view) -> None:
        """Attach an :class:`~data_pipelines_spark.lake.aggview.AggView` to be
        incrementally maintained after every commit (including re-delivered
        duplicates — see :meth:`process_batch`). Views attached late catch up
        themselves via ``view.update_all(pipe.table)``."""
        self.views.append(view)

    def delete_where(
        self,
        predicate,
        batch_id: int,
        seq: dict,
        predicate_columns: list[str] | None = None,
    ) -> MergeStats:
        """Predicate delete through the FULL pipeline: the matched set
        (:meth:`LakeTable.delete_where_frame`) commits as an ordinary CDC
        batch via :meth:`process_batch`, so every attached side-structure
        tracks in the same exactly-once step — the near-dup/ANN index
        retracts the dead content (``near_dup_retract=True``) and aggregate
        views maintain incrementally. Table-level ``LakeTable.delete_where``
        reaches the same final table state but bypasses those structures."""
        return self.process_batch(
            self.table.delete_where_frame(predicate, seq, predicate_columns),
            batch_id,
        )

    def update_where(
        self, predicate, set: dict, batch_id: int, seq: dict
    ) -> MergeStats:
        """Predicate update through the FULL pipeline (see
        :meth:`delete_where`): with ``near_dup_retract=True`` the matched
        keys' OLD content retracts and the rewritten rows re-join the seen
        set in the same batch (retract-then-reingest epoch ordering); with
        ``decode=True`` derived columns (text, lang) re-derive from the
        rewritten html — set source columns, not derived ones, on decoding
        pipelines."""
        return self.process_batch(
            self.table.update_where_frame(predicate, set, seq), batch_id
        )

    def throughput_report(self) -> DataFrame:
        """Per-batch ingest metrics — the engine's analog of the reference's
        run-rate instrumentation (``boxing/scrapers/boxrec/boxer.py:122-133,
        239-251``): one row per merge commit on this pipeline's head chain,
        in commit order — rows in, upserts/deletes, bytes written, buckets
        touched, offset span, commit version. Read from the commit summaries
        in :meth:`LakeTable.history`, so every merge counts however it was
        committed, and a rejected branch's batches are off the chain. A
        driver-side Arrow table: a local relation, no Spark job."""
        import pyarrow as pa

        merges = [h for h in self.table.history() if h["operation"] == "merge"]
        sums = [h["summary"] for h in merges]
        buckets = [list(m["buckets"].values()) for m in sums]
        rows_in = [sum(r for r, _ in b) for b in buckets]
        deleted = [sum(t for _, t in b) for b in buckets]

        def span(k):  # longs for offsets, strings for timestamp tie columns
            arr = pa.array([m[k] for m in sums])
            return arr.cast(pa.int64()) if pa.types.is_null(arr.type) else arr

        long = pa.int64()
        return self.spark.createDataFrame(pa.table({
            "batch_id": pa.array([m["batch_id"] for m in sums], pa.string()),
            "rows_in": pa.array(rows_in, long),
            "rows_upserted": pa.array([i - d for i, d in zip(rows_in, deleted)], long),
            "rows_deleted": pa.array(deleted, long),
            "bytes_written": pa.array([m["bytes"] for m in sums], long),
            "buckets_touched": pa.array([len(b) for b in buckets], long),
            "offset_min": span("seq_min"),
            "offset_max": span("seq_max"),
            "commit_version": pa.array([h["version"] for h in merges], long),
        }))

    # ------------------------------------------------------------- streaming

    def run_stream(
        self,
        source_dir: str,
        checkpoint_dir: str,
        source_schema,
        max_files_per_trigger: int = 1,
        stateful_filter: bool = False,
        watermark: str = "30 minutes",
        fmt: str = "parquet",
    ):
        """Tail the change-log directory as a file-source stream.

        ``availableNow`` trigger: drains everything currently in the log in
        ``maxFilesPerTrigger``-sized microbatches then stops — deterministic
        for tests; a production deployment would use a processing-time
        trigger (or a Kafka source) with the identical foreachBatch body.

        ``stateful_filter=True`` inserts the watermark-bounded
        ``streaming_lww_filter`` (applyInPandasWithState) upstream of the
        MERGE: duplicates and stale updates are absorbed in the state store
        before they cost a shuffle, with per-key state expiring past the
        watermark. The merge's ledger remains the exactly-once boundary.

        ``fmt`` selects the wire format of the log segments (parquet
        native; json/csv with base64 page bodies — see
        ``sources.read_change_stream``).
        """
        from data_pipelines_spark.sources import read_change_stream

        stream = read_change_stream(
            self.spark, source_dir, source_schema, fmt=fmt,
            max_files_per_trigger=max_files_per_trigger,
        )
        if stateful_filter:
            from data_pipelines_spark.streaming.stateful import streaming_lww_filter

            stream = streaming_lww_filter(
                stream,
                key=self.cfg.key,
                ts_col=self.cfg.seq_cols[0],
                offset_col=self.cfg.seq_cols[-1],
                watermark=watermark,
            )
        return (
            stream.writeStream.foreachBatch(
                lambda df, bid: self.process_batch(df, bid)
            )
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )

    def run_batches(self, changes: DataFrame, n_batches: int, start_batch_id: int = 0):
        """Batch-mode replay: slice the log into offset ranges and merge each.

        Used by the equivalence tests to prove batch slicing is irrelevant to
        the final state (same result for any n_batches).
        """
        lo_hi = changes.agg(F.min("offset"), F.max("offset")).collect()[0]
        lo, hi = lo_hi[0], lo_hi[1]
        if lo is None:
            return []
        step = max(1, (hi - lo + 1) // n_batches)
        out = []
        for i in range(n_batches):
            a = lo + i * step
            b = hi + 1 if i == n_batches - 1 else lo + (i + 1) * step
            sl = changes.where((F.col("offset") >= a) & (F.col("offset") < b))
            out.append(self.process_batch(sl, batch_id=start_batch_id + i))
        return out

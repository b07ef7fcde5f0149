"""Snapshot-based Parquet lake table with merge-on-read MERGE + compaction.

The engine's stand-in for an Iceberg v2 table (no Iceberg jar in this
environment): Parquet data files hash-bucketed by key, JSON snapshot metadata,
atomic commit by pointer swap, time travel by snapshot version, additive
schema evolution with per-file schema ids, and an idempotent keyed MERGE with
last-writer-wins conflict resolution — the Spark-native replacement for the
reference's row-by-row ``INSERT ... ON CONFLICT DO UPDATE`` upsert loop
(``boxing/load/to_data_lake.py:149-170``) and ``INSERT OR REPLACE`` LWW
staging write (``boxing/load/to_staging_mirror_db.py:125-186``).

Scale design (targets a 1000-executor cluster over ~100 TB):

- **Merge-on-read writes, copy-on-write compaction.** A MERGE appends the
  deduped batch as *delta* files to the affected buckets — O(batch) work,
  no read of existing data, no join. Readers resolve base + deltas with one
  LWW reduction. When a bucket accumulates ``compact_threshold + (bucket %
  compact_stagger)`` delta files it is compacted (base+deltas → new base) in
  a follow-up commit — the per-bucket stagger keeps steady-state batches
  compacting ~1/stagger of the buckets instead of all at once. Ingest cost
  is therefore independent of table size; read amplification is bounded by
  ``compact_threshold + compact_stagger - 1``.
- **Partition pruning**: both deltas and compaction touch only the hash
  buckets present in the batch. ``n_buckets`` is the scale knob — 16
  locally, thousands in production.
- **Bounded driver state**: the only ``collect()``s are per-bucket
  aggregates (bounded by ``n_buckets``); no row-level driver loops.
- **LWW across batches**: rows carry their event sequence (e.g.
  ``(warc_ts, offset)``); a stale update arriving after a newer row loses.
  Deletes are kept as sequence-carrying tombstones so an out-of-order
  update can never resurrect a deleted key; ``vacuum_tombstones``
  garbage-collects them past the watermark.
- **Exactly-once**: every commit records its ``batch_id`` in the snapshot's
  ledger; re-delivery of a batch (foreachBatch retry, stream replay) is
  detected and skipped. Data files are written before the metadata pointer
  moves (write-audit-publish), so a crash mid-commit leaves the table on
  the previous consistent snapshot.

Concurrent writers (optimistic concurrency, the Iceberg commit-retry
analog) and writable branches share ONE commit protocol:

- **Slot.** A commit takes a global version slot — the next integer above
  every snapshot file on disk — by exclusive create of ``v{N}.json``.
- **Swap.** It then moves its head's pointer file (``CURRENT`` or a
  branch ref) with the check and the replace done under an exclusive
  ``flock`` on ``metadata/LOCK``. The kernel drops the lock when a process
  dies, so a crash leaves no stale lock.
- **Retry.** A writer whose head moved unlinks its own snapshot file and
  manifests, rebases metadata-only onto the new head and retries
  (``commit_retries``): LWW delta merges commute with any commit and always
  rebase; rewrite commits (compact / overwrite / vacuum / backfill)
  revalidate their read set (the rewritten buckets' file lists must be
  untouched) and fail loud otherwise; rebucket / rollback never rebase. A
  taken slot on an unmoved head — another lineage's commit, or the orphan
  snapshot of a writer that crashed before its swap — just retries on a
  fresh number, and :meth:`LakeTable.expire_snapshots` deletes the orphan.

Writable branches (Iceberg refs — the write-audit-publish primitive):
``create_branch`` forks a movable head into the same snapshot DAG;
``branch(name)`` returns a handle with the FULL table surface scoped to
that head; ``fast_forward`` publishes by pointer swap (ancestry-checked,
ledger rides with the snapshot so exactly-once crosses the publish). Each
branch ref records its fork next to its head, so a rebase publish, a
reject and retention find the staged segment without walking main.
Version numbers on one lineage are monotone but not consecutive, so every
chain walk (history, change_log, retention) follows ``parent`` pointers.
"""

from __future__ import annotations

import base64
import contextlib
import fcntl
import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass, field
from datetime import datetime
from hashlib import blake2b

from pyspark.sql import Column, DataFrame, DataFrameWriter, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_pipelines_spark.functions.hashing import bucket_id

_BUCKET_COL = "_bucket"
DELETED_COL = "_deleted"
BUMP_COL = "_bump"

#: zstd level of every lake data file. perfbench's lakes (seed 1,
#: local[4]) against parquet-java's default level 3: serve_and_follow
#: -5.5% at 6, -9.5% at 9, -10.3% at 12; bulk_decode -5.8%, -10.4%,
#: -10.9%. A hot rewrite of either bronze took 1.2-1.6x level 3's wall
#: at 9 and 6-9x at 12, for 0.5-1.6% fewer bytes than 9.
#: The saving is in html and text; content_hash (SHA-256 hex, a third of
#: the bytes) does not compress at any level.
ZSTD_LEVEL = 9


def lake_writer(df: DataFrame) -> DataFrameWriter:
    """``df.write`` in the lake's file format: zstd at :data:`ZSTD_LEVEL`,
    whatever the session's parquet codec says. Every lake data file (table
    commits, view deltas, index stores) is written through it, so a table
    written under another session gets the same codec and level."""
    return (
        df.write.option("compression", "zstd")
        .option("parquet.compression.codec.zstd.level", str(ZSTD_LEVEL))
    )


class ConcurrentCommitError(RuntimeError):
    """Another writer moved the snapshot pointer between read and commit."""


class ChangeLogUnavailableError(RuntimeError):
    """change_log() cannot reconstruct row-level deltas for this version
    range (an overwrite / backfill / rollback folded them into rewritten
    files). ``changes()`` always works."""


class SchemaEvolutionError(ValueError):
    """Incompatible schema change (dropped column, narrowed/retyped column)."""


@dataclass
class MergeStats:
    batch_id: int | str
    rows_in: int = 0
    rows_upserted: int = 0
    rows_deleted: int = 0
    rows_noop: int = 0
    buckets_touched: int = 0
    files_written: int = 0
    bytes_written: int = 0
    committed_version: int | None = None
    skipped_duplicate_batch: bool = False
    schema_evolved: bool = False
    compacted_buckets: int = 0
    per_bucket: dict[int, dict[str, int]] = field(default_factory=dict)
    seq_min: object = None  # min/max of the last seq column in the batch
    seq_max: object = None


# numeric widenings we accept silently (Iceberg-compatible set)
_WIDENINGS = {
    ("integer", "long"),
    ("short", "integer"),
    ("short", "long"),
    ("byte", "short"),
    ("byte", "integer"),
    ("byte", "long"),
    ("float", "double"),
    ("date", "timestamp"),
}


def _is_widening(old: T.DataType, new: T.DataType) -> bool:
    return (old.typeName(), new.typeName()) in _WIDENINGS


def _as_nullable(dt: T.DataType) -> T.DataType:
    """Recursively drop NOT NULL constraints (struct/array/map included).

    Table schemas are stored fully nullable: parquet round trips lose
    nullability anyway, and a batch whose inferred schema carries non-null
    inner fields (e.g. struct aliases built from literals) would otherwise
    make the read-side ``_align`` cast fail with DATATYPE_MISMATCH when
    casting the (nullable) file schema to the (non-null) table schema.
    """
    if isinstance(dt, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _as_nullable(f.dataType), True) for f in dt.fields]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_as_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_as_nullable(dt.keyType), _as_nullable(dt.valueType), True)
    return dt


def _json_bound(v):
    """A footer min/max made JSON-safe for the commit summary: timestamps
    in the zone-map format, numbers and strings as they are."""
    if isinstance(v, datetime):
        return _seq_bound_py(v)
    return v if v is None or isinstance(v, (int, float, str)) else str(v)


def _seq_bound_py(v) -> str | None:
    """Canonical zone-map bound for a timestamp read from parquet footers /
    user arguments: fixed-width session-TZ (UTC) format with microseconds,
    so lexicographic compare == temporal compare and JSON round-trips
    losslessly (naive datetimes are already session-TZ/UTC)."""
    if v is None:
        return None
    if isinstance(v, str):
        return v
    return f"{v:%Y-%m-%d %H:%M:%S}.{v.microsecond:06d}"


#: stored key zone-map bounds are truncated to this many characters —
#: manifest entries stay small no matter how long the urls get
_KEY_BOUND_LEN = 64


def _key_bounds_py(lo, hi):
    """Iceberg-style truncated string bounds for a per-file key zone map
    (BinaryTruncator semantics): the lower bound is a plain prefix (a prefix
    is ≤ the full string), the upper bound is the prefix with its last
    codepoint incremented (making it ≥ every string sharing the prefix).
    Returns ``(lo, hi)`` where either side may be ``None`` when no sound
    bound is representable; non-string keys pass through untruncated."""
    if not isinstance(lo, str) or not isinstance(hi, str):
        return lo, hi
    lo_b = lo[:_KEY_BOUND_LEN]
    if len(hi) <= _KEY_BOUND_LEN:
        return lo_b, hi
    p = hi[:_KEY_BOUND_LEN]
    for i in range(len(p) - 1, -1, -1):
        c = ord(p[i]) + 1
        if 0xD800 <= c <= 0xDFFF:  # never emit a lone surrogate
            c = 0xE000
        if c <= 0x10FFFF:
            return lo_b, p[:i] + chr(c)
    return lo_b, None  # un-incrementable prefix: keep only the lower bound


def _blind_stat_paths(schema: T.StructType, keep) -> list[str]:
    """Parquet column paths of every string/binary leaf outside ``keep``
    (top-level names), nested leaves included — struct fields as ``a.b``,
    array elements as ``a.list.element``, map entries as
    ``a.key_value.key``/``.value`` (Spark's standard Parquet layout).
    These are the columns written without min/max footer statistics."""

    def leaves(dt: T.DataType, path: str):
        if isinstance(dt, (T.StringType, T.BinaryType)):
            yield path
        elif isinstance(dt, T.StructType):
            for f in dt.fields:
                yield from leaves(f.dataType, f"{path}.{f.name}")
        elif isinstance(dt, T.ArrayType):
            yield from leaves(dt.elementType, f"{path}.list.element")
        elif isinstance(dt, T.MapType):
            yield from leaves(dt.keyType, f"{path}.key_value.key")
            yield from leaves(dt.valueType, f"{path}.key_value.value")

    return [
        p for f in schema.fields if f.name not in keep
        for p in leaves(f.dataType, f.name)
    ]


#: above this many keys the capped filter degrades below ~10 bits/key and
#: stops pruning — builds are skipped instead of paying for a useless bloom
_BLOOM_MAX_ROWS = (1 << 20) // 10


def _bloom_params(n: int) -> tuple[int, int]:
    """Bloom sizing: ~10 bits/key with k=7 probes → ~1% false-positive
    rate; m capped at 2^20 bits (128 KiB raw) so a single manifest entry
    stays bounded no matter how many keys a file carries."""
    m = 64
    while m < n * 10 and m < (1 << 20):
        m <<= 1
    return m, 7


def _bloom_positions(key: str, m: int, k: int) -> list[int]:
    # double hashing over one blake2b digest: deterministic across
    # processes/hosts (PYTHONHASHSEED-immune — replay determinism)
    d = blake2b(key.encode("utf-8"), digest_size=16).digest()
    h1 = int.from_bytes(d[:8], "big")
    h2 = int.from_bytes(d[8:], "big") | 1
    return [(h1 + i * h2) % m for i in range(k)]


def _key_bloom_build(keys) -> tuple[str, int, int]:
    """Build a key Bloom filter → (base64 bits, m, k) for a manifest entry."""
    m, k = _bloom_params(len(keys))
    bits = bytearray(m >> 3)
    for key in keys:
        for p in _bloom_positions(key, m, k):
            bits[p >> 3] |= 1 << (p & 7)
    return base64.b64encode(bytes(bits)).decode("ascii"), m, k


def _key_bloom_may_contain(b64: str, m: int, k: int, keys) -> bool:
    """True when ANY of ``keys`` may be in the filter (no false negatives)."""
    bits = base64.b64decode(b64)
    return any(
        all(
            bits[p >> 3] & (1 << (p & 7))
            for p in _bloom_positions(key, m, k)
        )
        for key in keys
    )


class LakeTable:
    """A keyed, snapshot-versioned Parquet table.

    Layout::

        root/
          data/v{N}-{uuid}/_bucket={b}/part-*.parquet   # files of commit N
          metadata/v{N}.json                            # snapshot N
          metadata/m{N}-{uuid}.json                     # commit N's manifest
          metadata/CURRENT                              # atomic pointer
          metadata/BRANCH-{name}                        # "<head> <fork>"
          metadata/LOCK                                 # flock per pointer swap

    Snapshot JSON: schema registry (``schemas``: schema_id → StructType
    json), the ordered manifest chain (per-bucket file lists live in the
    immutable per-commit manifests — Iceberg's snapshot → manifest shape,
    so commit metadata is O(files changed), not O(table files); the chain
    auto-consolidates past ``MANIFEST_SQUASH``), the commit ledger
    (batch_id → version), and the commit's own ``summary`` (see
    :meth:`history`).
    """

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        key: str = "url",
        seq_cols: tuple[str, ...] = ("warc_ts", "offset"),
        n_buckets: int = 16,
        compact_threshold: int = 8,
        compact_stagger: int = 4,
    ):
        self.spark = spark
        self.root = root
        self.key = key
        self.seq_cols = tuple(seq_cols)
        self.n_buckets = n_buckets
        #: bucket b compacts at compact_threshold + (b % compact_stagger)
        #: delta files (stagger ≤ 1 disables the spread), so steady-state
        #: batches compact ~1/stagger of the buckets instead of all at once;
        #: worst-case read amplification is threshold + stagger - 1.
        self.compact_threshold = compact_threshold
        self.compact_stagger = max(1, compact_stagger)
        #: exactly-once ledger retention: keep entries for the last N commits
        #: only (None = unbounded). The ledger rides inside every snapshot
        #: JSON, so without retention a 10^6-microbatch stream makes every
        #: commit serialize/parse a million-entry dict driver-side — the one
        #: snapshot component not already bounded (manifests squash, bucket
        #: stats are O(n_buckets)). Contract mirrors ``vacuum_tombstones`` /
        #: the index store's ``expire_replay``: size the window beyond the
        #: source's maximum re-delivery horizon (checkpointed foreachBatch
        #: replays only the LAST batch, so even a tiny window is sound
        #: there). A re-delivery older than the window is undetectable —
        #: but a re-applied MERGE batch is also VALUE-idempotent under LWW
        #: (same winners, duplicate delta rows resolve away), so the failure
        #: mode is wasted files, not wrong answers. Trimmed entries raise the
        #: monotone ``ledger_floor`` snapshot field for observability.
        self.ledger_keep: int | None = None
        #: per-file key Bloom filters for the point-lookup serving path
        #: (OPT-IN, the serving profile alongside ``sort_by_key`` compaction
        #: — default off because stamping costs ~5% of merge wall at the
        #: 1M-event bench shape, a tax an ingest-only table shouldn't pay):
        #: when set, delta files with ≤ this many rows (string keys only)
        #: get a bloom stamped into their manifest entry at merge time, so
        #: ``read_keys`` can skip recent UN-sorted deltas whose key RANGE
        #: spans everything (the zone map can't prune those; the bloom can).
        #: Built driver-side from the file's own key column in the existing
        #: footer-stats thread pool — bounded by the row cap, no extra Spark
        #: job; larger files rely on zone maps + compaction.
        self.key_bloom_rows: int | None = None
        #: optimistic concurrency (Iceberg commit-retry analog): when the
        #: version-slot CAS is lost to a concurrent writer, rebase the commit
        #: metadata onto the new current snapshot (data files are reused
        #: verbatim) and retry up to this many times. 0 restores strict
        #: single-writer refusal. Rebase is proven safe per operation — see
        #: :meth:`_rebase` for the commute/validation rules.
        self.commit_retries: int = 4
        self._meta_dir = os.path.join(root, "metadata")
        self._data_dir = os.path.join(root, "data")
        self._manifest_cache: dict[tuple, dict] = {}
        #: which head this handle reads and commits against: "CURRENT" (main)
        #: or "BRANCH-<name>" for a handle returned by :meth:`branch`. Every
        #: state read (`_snapshot()`), commit base, ledger check, and the
        #: final pointer CAS flow through this one pointer file, so a branch
        #: handle gets the FULL table surface (merge/read/compact/changes/
        #: views) scoped to its branch with no other special-casing.
        self._pointer = "CURRENT"
        self._branch_name: str | None = None

    # ------------------------------------------------------------------ setup

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        key: str = "url",
        seq_cols: tuple[str, ...] = ("warc_ts", "offset"),
        n_buckets: int = 16,
        compact_threshold: int = 8,
        compact_stagger: int = 4,
        overwrite: bool = False,
    ) -> "LakeTable":
        t = cls(
            spark, root, key=key, seq_cols=seq_cols, n_buckets=n_buckets,
            compact_threshold=compact_threshold, compact_stagger=compact_stagger,
        )
        if os.path.exists(t._meta_dir):
            if not overwrite:
                return cls.load(spark, root)
            shutil.rmtree(root)
        os.makedirs(t._meta_dir, exist_ok=True)
        os.makedirs(t._data_dir, exist_ok=True)
        snap = {
            "version": 0,
            "parent": None,
            "key": key,
            "seq_cols": list(seq_cols),
            "n_buckets": n_buckets,
            "current_schema_id": None,
            "schemas": {},
            "manifests": [],
            "ledger": {},
            "summary": {},
        }
        t._write_snapshot(snap)
        t._swap_pointer(expected=None, new_version=0)
        return t

    @classmethod
    def load(cls, spark: SparkSession, root: str) -> "LakeTable":
        t = cls(spark, root)
        snap = t._snapshot()
        t.key = snap["key"]
        t.seq_cols = tuple(snap["seq_cols"])
        t.n_buckets = snap["n_buckets"]
        return t

    # ------------------------------------------------------- snapshot plumbing

    #: manifest-chain length that triggers a consolidation rewrite — keeps
    #: snapshot JSON and resolution cost bounded at O(squash) regardless of
    #: commit count (the Iceberg rewrite-manifests analog, automatic)
    MANIFEST_SQUASH = 64

    def current_version(self) -> int:
        return self._read_ref(self._pointer)[0]

    def _read_ref(self, fn: str) -> tuple[int, int | None]:
        """``(head, fork)`` of a pointer file: ``CURRENT`` holds a head, a
        branch ref ``"<head> <fork>"`` (see :meth:`create_branch`)."""
        with open(os.path.join(self._meta_dir, fn)) as f:
            parts = f.read().split()
        return int(parts[0]), (int(parts[1]) if len(parts) > 1 else None)

    def _write_ref(self, fn: str, head: int, fork: int | None) -> None:
        path = os.path.join(self._meta_dir, fn)
        tmp = path + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            f.write(str(head) if fork is None else f"{head} {fork}")
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)

    # ------------------------------------------------------------- manifests
    #
    # Per-commit file lists live in immutable manifest files
    # (metadata/m{version}-{uuid}.json), not in the snapshot JSON — a commit
    # writes O(files changed in this commit) metadata, so commit cost stops
    # growing with table size (the Iceberg snapshot → manifest shape).
    # Snapshot JSON carries only the ordered manifest path list.

    def _write_manifest(self, version: int, append: bool, files: dict) -> str:
        name = f"m{version}-{uuid.uuid4().hex[:8]}.json"
        path = os.path.join(self._meta_dir, name)
        tmp = path + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump({"append": append, "files": files}, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)
        return name

    def _load_manifest(self, name: str) -> dict:
        with open(os.path.join(self._meta_dir, name)) as f:
            return json.load(f)

    def _resolve_files(self, snap: dict) -> dict[str, list[dict]]:
        """Materialize the per-bucket file lists for a snapshot from its
        manifest chain, in order (append extends a bucket's list; replace
        resets every bucket the manifest mentions). Cached per (version,
        manifest chain) — manifests are immutable and their names unique, so
        a cache entry can never outlive its snapshot file (a lost commit
        attempt, or a slot number reused after GC deleted the highest
        snapshot)."""
        ck = (snap["version"], tuple(snap["manifests"]))
        cached = self._manifest_cache.get(ck)
        if cached is not None:
            return cached
        files: dict[str, list[dict]] = {}
        for name in snap["manifests"]:
            m = self._load_manifest(name)
            for b, fl in m["files"].items():
                if m["append"]:
                    files.setdefault(b, [])
                    files[b] = files[b] + fl
                else:
                    files[b] = list(fl)
        self._manifest_cache[ck] = files
        return files

    def _resolve_version(self, version: int | str | None) -> int | None:
        """Ref name → version (tags, then branch heads); ints and None pass
        through. Every version-taking surface (read/read_keys/changes/
        change_log/rollback) resolves through here, so refs work anywhere a
        version does."""
        if isinstance(version, str):
            refs = self.tags()
            if version in refs:
                return refs[version]
            heads = self.branches()
            if version in heads:
                return heads[version]
            raise KeyError(f"unknown tag or branch {version!r}")
        return version

    def _snapshot(self, version: int | str | None = None) -> dict:
        version = self._resolve_version(version)
        v = self.current_version() if version is None else version
        with open(os.path.join(self._meta_dir, f"v{v}.json")) as f:
            return json.load(f)

    # ---------------------------------------------------------- named refs
    #
    # Iceberg tag analog: an immutable name → snapshot-version pin, stored
    # in one atomically-replaced metadata file. Tags flow through every
    # version-taking read surface (read / read_keys / changes take the tag
    # name where they take a version) and expire_snapshots RETAINS tagged
    # versions' metadata and data files until the tag is dropped — the
    # audit/release use case ("the corpus we trained run X on").

    def _refs_path(self) -> str:
        return os.path.join(self._meta_dir, "refs.json")

    def tags(self) -> dict[str, int]:
        """Named snapshot refs: tag name → pinned version."""
        p = self._refs_path()
        if not os.path.exists(p):
            return {}
        with open(p) as f:
            return {k: int(v) for k, v in json.load(f).items()}

    def _write_refs(self, refs: dict[str, int]) -> None:
        p = self._refs_path()
        tmp = p + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(refs, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, p)

    def create_tag(self, name: str, version: int | None = None) -> int:
        """Pin a snapshot under ``name`` (default: the current version).
        Tags are immutable refs — re-tagging an existing name to a different
        version refuses (``drop_tag`` first); re-creating it at the SAME
        version is an idempotent no-op. Returns the pinned version."""
        v = self.current_version() if version is None else int(version)
        self._snapshot(v)  # must exist (and not be expired)
        if name in self.branches():
            raise ValueError(f"{name!r} is already a branch (refs share a namespace)")
        refs = self.tags()
        if name in refs and refs[name] != v:
            raise ValueError(
                f"tag {name!r} already pins v{refs[name]} (drop_tag first)"
            )
        refs[name] = v
        self._write_refs(refs)
        return v

    def drop_tag(self, name: str) -> int:
        """Remove a tag; its snapshot becomes expirable again. Returns the
        version the tag pinned."""
        refs = self.tags()
        if name not in refs:
            raise KeyError(f"unknown tag {name!r}")
        v = refs.pop(name)
        self._write_refs(refs)
        return v

    # ------------------------------------------------------ writable branches
    #
    # Iceberg branch analog — the write-audit-publish (WAP) primitive: a
    # branch is a named MOVABLE head into the same snapshot DAG (tags are the
    # immutable pins). ``branch(name)`` returns a full LakeTable handle whose
    # pointer file is the branch head, so EVERY table operation — merge,
    # compact, delete_where, schema evolution, change_log, AggView
    # maintenance, the exactly-once ledger — runs against the branch with
    # identical semantics, while ``CURRENT`` (and its readers) never see the
    # staged commits. ``fast_forward`` is the publish step: if this handle's
    # head is an ancestor of the branch head, the pointer advances to it —
    # no data or metadata is rewritten, and the branch commits' ledger
    # entries arrive with the snapshot, so a re-delivered batch stays
    # exactly-once across the publish boundary.
    #
    # Version slots are global (see :meth:`_alloc_slot`), so version
    # numbers on one lineage are monotone but NOT consecutive; every chain
    # walk in the engine (change_log, history, is_ancestor, retention)
    # follows ``parent`` pointers, never arithmetic.

    _BRANCH_PREFIX = "BRANCH-"

    def _branch_file(self, name: str) -> str:
        return os.path.join(self._meta_dir, self._BRANCH_PREFIX + name)

    @staticmethod
    def _check_ref_name(name: str) -> None:
        import re

        if not re.fullmatch(r"[A-Za-z0-9._-]+", name or ""):
            raise ValueError(
                f"invalid ref name {name!r} (allowed: letters, digits, . _ -)"
            )
        # names matching the pointer-file tmp pattern would be written but
        # then filtered out by branches() — visible on disk, invisible to
        # every reader and to GC pinning
        if name.endswith(".tmp") or ".tmp-" in name:
            raise ValueError(f"invalid ref name {name!r} (reserved tmp pattern)")

    def branches(self) -> dict[str, int]:
        """Writable branch refs: name → head snapshot version."""
        return {n: head for n, (head, _) in self._branch_refs().items()}

    def _branch_refs(self) -> dict[str, tuple[int, int | None]]:
        """Branch name → ``(head, fork)``."""
        out: dict[str, tuple[int, int | None]] = {}
        if not os.path.isdir(self._meta_dir):
            return out
        for fn in os.listdir(self._meta_dir):
            if fn.startswith(self._BRANCH_PREFIX) and not fn.endswith(".tmp") \
                    and ".tmp-" not in fn:
                try:
                    out[fn[len(self._BRANCH_PREFIX):]] = self._read_ref(fn)
                except FileNotFoundError:
                    # dropped between listdir and open (concurrent
                    # drop_branch / reject) — a consistent after-view
                    continue
        return out

    def create_branch(self, name: str, version: int | str | None = None) -> int:
        """Fork a writable branch at ``version`` (default: this handle's
        head). Exclusive-create: re-creating an existing branch at the SAME
        head is an idempotent no-op (pipeline restart); at a different
        version it refuses. Returns the branch's head version.

        The ref records its **fork** next to its head: the newest commit
        the branch shares with main. It starts at ``version`` and moves up
        to the published head when main fast-forwards to the branch, so
        ``publish(mode='rebase')``, a reject and snapshot retention find
        the staged segment (head down to fork) on the branch's own chain
        without walking main's history."""
        self._check_ref_name(name)
        if name in self.tags():
            raise ValueError(f"{name!r} is already a tag (refs share a namespace)")
        v = (
            self.current_version()
            if version is None
            else self._resolve_version(version)
        )
        self._snapshot(v)  # must exist (and not be expired)
        path = self._branch_file(name)
        tmp = path + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            f.write(f"{v} {v}")
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, path)
        except FileExistsError:
            head = self._read_ref(os.path.basename(path))[0]
            if head != v:
                raise ValueError(
                    f"branch {name!r} already exists at v{head} "
                    f"(drop_branch first)"
                ) from None
        finally:
            os.unlink(tmp)
        return v

    def drop_branch(self, name: str) -> int:
        """Remove a branch ref; its snapshots lose their pin (metadata and
        files become expirable by :meth:`expire_snapshots` where no other
        ref retains them). Returns the head version it pointed at."""
        try:
            with self._lock():  # never between a publish's read and rewrite
                head = self._read_ref(self._BRANCH_PREFIX + name)[0]
                os.unlink(self._branch_file(name))
        except FileNotFoundError:  # also covers a concurrent drop's unlink
            raise KeyError(f"unknown branch {name!r}") from None
        return head

    def branch(self, name: str) -> "LakeTable":
        """A full table handle scoped to ``name``: reads resolve at the
        branch head, commits CAS the branch pointer. Shares the manifest
        cache with this handle (safe: :meth:`_resolve_files` keys it by
        version AND manifest chain, so a slot number reused after GC never
        serves another snapshot's files)."""
        import copy as _copy

        if name not in self.branches():
            raise KeyError(f"unknown branch {name!r}")
        h = _copy.copy(self)
        h._pointer = self._BRANCH_PREFIX + name
        h._branch_name = name
        return h

    def is_ancestor(self, ancestor: int, descendant: int) -> bool:
        """True iff ``ancestor`` is on ``descendant``'s parent chain (or
        equal). Walks ``parent`` pointers — correct across branch lineages
        where version numbers interleave."""
        v: int | None = descendant
        while v is not None and v >= ancestor:
            if v == ancestor:
                return True
            v = self._snapshot(v).get("parent")
        return False

    def fast_forward(self, name: str) -> int:
        """Publish a branch: advance THIS handle's head to the branch head.

        Refuses unless the current head is an ancestor of the branch head
        (a true fast-forward — the staged commits already build on
        everything published here). Pointer-swap only: no data or metadata
        moves, and the branch's ledger entries ride in with its snapshot,
        so exactly-once holds across the publish (a batch re-delivered to
        the published head is detected as a duplicate). On divergence,
        re-stage the work on a fresh branch from the current head."""
        heads = self.branches()
        if name not in heads:
            raise KeyError(f"unknown branch {name!r}")
        head = heads[name]
        cur = self.current_version()
        if head == cur:
            return cur
        if not self.is_ancestor(cur, head):
            raise ConcurrentCommitError(
                f"cannot fast-forward: v{cur} is not an ancestor of branch "
                f"{name!r} head v{head} — the lineages diverged (publish("
                "mode='rebase') replays the staged batches, or fork a new "
                "branch from the current head and re-stage)"
            )
        self._swap_pointer(
            expected=cur, new_version=head,
            publish=name if self._branch_name is None else None,
        )
        return head

    def publish(self, name: str, mode: str = "ff") -> int:
        """Publish branch ``name`` into this handle's head.

        ``mode='ff'`` is :meth:`fast_forward` (atomic pointer swap; refuses
        on divergence). ``mode='rebase'`` also handles divergence — the
        Iceberg WAP cherry-pick analog: the branch's staged MERGE commits
        since its recorded fork (see :meth:`create_branch`) are replayed
        onto the current head as fresh commits, **reusing their original
        batch ids**, so each replay is
        exactly-once against this head's ledger (a batch that already
        landed here — a previous partial publish, or a commit shared via an
        earlier fast-forward — skips). Sound because LWW delta merges
        commute: the final state is the per-key sequence maximum over all
        events regardless of arrival order, and seq-bump batches carry the
        same guarantee through the bump-resolution read path. Reorg commits
        (compact/vacuum) carry no logical change and are skipped; explicit
        schema-update commits re-apply under the batch id
        ``rebase:<branch>:<version>:<batch_id>`` (so a same-named update
        already on this head cannot mask them); fold-into-base commits on the
        branch (overwrite / rollback / backfill) cannot be replayed row-wise
        and refuse loud. Rebase publish is batch-atomic,
        not all-or-nothing: a crash mid-way leaves a prefix published —
        rerun to complete (the ledger skips what landed). Cost: O(changes
        on the branch), never O(table) — each commit's rows come from its
        own delta files via :meth:`change_log`. The branch ref itself is
        left in place (drop it, or keep staging on it and publish again —
        already-published batches keep skipping)."""
        if mode == "ff":
            return self.fast_forward(name)
        if mode != "rebase":
            raise ValueError(f"unknown publish mode {mode!r}")
        refs = self._branch_refs()
        if name not in refs:
            raise KeyError(f"unknown branch {name!r}")
        head, fork = refs[name]
        cur = self.current_version()
        if head == cur or self.is_ancestor(cur, head):
            return self.fast_forward(name)
        b = self.branch(name)
        chain = self._chain(head, stop=fork)
        if not chain or chain[-1]["version"] != fork:
            raise ConcurrentCommitError(
                f"staged snapshots of branch {name!r} between v{fork} and "
                f"v{head} were expired — re-stage on a fresh branch "
                "(expire_snapshots retains the staged segment of a LIVE "
                "branch; this one was trimmed earlier)"
            )
        for s in reversed(chain[:-1]):
            op = s.get("operation")
            sv = s["version"]
            bid = s["summary"]["batch_id"]
            if op in ("compact", "vacuum", "rebucket"):
                continue  # physical reorganizations: no logical change
            if op == "schema-update":
                # namespaced id: schema updates commonly share the default
                # id, which this head's ledger may already hold from its own
                # post-fork update — reusing it would skip the replay
                sch = self.schema_from_snap(s)
                if sch is not None:
                    self.update_schema(sch, batch_id=f"rebase:{name}:{sv}:{bid}")
                continue
            if op != "merge":
                raise ConcurrentCommitError(
                    f"branch commit v{sv} is a {op!r} — its changes were "
                    "folded into rewritten files and cannot be replayed "
                    "row-wise; re-stage on a fresh branch"
                )
            rows = b.change_log(s["parent"], sv).drop("_commit_version")
            self.merge(rows, batch_id=bid)
        return self.current_version()

    def _write_snapshot(self, snap: dict) -> None:
        """Exclusive-create of the version file — the slot CAS: ``os.link``
        fails with EEXIST if the slot is taken, so exactly one writer can
        ever own version N."""
        path = os.path.join(self._meta_dir, f"v{snap['version']}.json")
        tmp = path + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(snap, f)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, path)
        except FileExistsError:
            raise ConcurrentCommitError(
                f"snapshot v{snap['version']} already exists — "
                "lost the commit race to a concurrent writer"
            ) from None
        finally:
            os.unlink(tmp)

    @contextlib.contextmanager
    def _lock(self):
        """Exclusive ``flock`` on ``metadata/LOCK``. Each ``open`` is its
        own lock, so two handles in one process exclude each other too; the
        kernel releases it when the holder dies."""
        with open(os.path.join(self._meta_dir, "LOCK"), "a") as lock:
            fcntl.flock(lock, fcntl.LOCK_EX)
            yield

    def _swap_pointer(
        self, expected: int | None, new_version: int, publish: str | None = None
    ) -> None:
        """Atomic last-step commit: move this handle's head pointer to
        ``new_version``, refusing if it no longer points at ``expected``.
        The check and the tmp-write + rename run under :meth:`_lock`, so no
        other writer can move any head between them. A branch ref keeps its
        fork; ``publish`` names a branch whose fork moves up to
        ``new_version`` because main now holds it (a fast-forward)."""
        with self._lock():
            if expected is not None:
                actual = self.current_version()
                if actual != expected:
                    raise ConcurrentCommitError(
                        f"expected snapshot v{expected}, found v{actual}"
                    )
            fork = self._read_ref(self._pointer)[1] if self._branch_name else None
            self._write_ref(self._pointer, new_version, fork)
            if publish is not None:
                ref = self._BRANCH_PREFIX + publish
                try:
                    self._write_ref(ref, self._read_ref(ref)[0], new_version)
                except FileNotFoundError:
                    pass  # dropped before the lock: nothing left to track

    def _snapshot_versions(self) -> set[int]:
        """Versions of every snapshot file on disk, on any lineage."""
        out = set()
        for fn in os.listdir(self._meta_dir):
            if fn.startswith("v") and fn.endswith(".json") and fn[1:-5].isdigit():
                out.add(int(fn[1:-5]))
        return out

    def _alloc_slot(self, base_version: int) -> int:
        """Version slot for the next commit: the next integer above every
        snapshot file on disk, so commits on different heads never contend
        for a number except in a true race, which the slot CAS resolves by
        retrying on a fresh number. O(metadata-dir listing), bounded by
        snapshot retention."""
        return max({base_version, *self._snapshot_versions()}) + 1

    # ---------------------------------------------------------------- schema

    def schema(self, version: int | None = None) -> T.StructType | None:
        return self.schema_from_snap(self._snapshot(version))

    @staticmethod
    def schema_from_snap(snap: dict) -> T.StructType | None:
        sid = snap["current_schema_id"]
        if sid is None:
            return None
        # normalize BOTH sides of every schema comparison/alignment: tables
        # written before nullability normalization may have persisted
        # non-null inner fields, which would otherwise make the next merge
        # raise a spurious SchemaEvolutionError against the (normalized)
        # batch schema
        return _as_nullable(T.StructType.fromJson(snap["schemas"][str(sid)]))

    def _evolve_schema(self, snap: dict, batch_schema: T.StructType) -> tuple[T.StructType, bool]:
        """Merge the batch schema into the table schema (additive + widening).

        New columns append as nullable; ``_WIDENINGS`` promote in place;
        anything else that conflicts raises ``SchemaEvolutionError``. Mirrors
        the reference's migration gate
        (``boxing/database/fetch_and_update_schema.py:89-94``,
        ``validators/schema_validator.py:25-72``): additive migrations pass,
        incompatible ones are refused before any data moves.
        """
        batch_schema = _as_nullable(batch_schema)
        current = self.schema_from_snap(snap)
        if current is None:
            return batch_schema, True
        by_name = {f.name: f for f in current.fields}
        changed = False
        new_fields = list(current.fields)
        for bf in batch_schema.fields:
            cf = by_name.get(bf.name)
            if cf is None:
                new_fields.append(T.StructField(bf.name, bf.dataType, True))
                changed = True
            elif cf.dataType == bf.dataType:
                continue
            elif _is_widening(cf.dataType, bf.dataType):
                idx = [f.name for f in new_fields].index(bf.name)
                new_fields[idx] = T.StructField(bf.name, bf.dataType, True)
                changed = True
            elif _is_widening(bf.dataType, cf.dataType):
                continue  # batch is narrower: cast up on align, no table change
            else:
                raise SchemaEvolutionError(
                    f"incompatible change for column '{bf.name}': "
                    f"{cf.dataType.simpleString()} -> {bf.dataType.simpleString()}"
                )
        return T.StructType(new_fields), changed

    def _align(self, df: DataFrame, target: T.StructType) -> DataFrame:
        """Project ``df`` onto ``target`` schema: cast matches, NULL-fill gaps."""
        cols = []
        have = {f.name for f in df.schema.fields}
        for f in target.fields:
            if f.name in have:
                cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
            else:
                cols.append(F.lit(None).cast(f.dataType).alias(f.name))
        return df.select(*cols)

    def _phys_schema(self, logical: T.StructType, kind: str) -> T.StructType:
        """On-disk schema per file kind: base rows carry ``_deleted``, delta
        rows carry the CDC ``op`` they arrived with."""
        extra = (
            T.StructField(DELETED_COL, T.BooleanType(), False)
            if kind == "base"
            else T.StructField("op", T.StringType(), True)
        )
        return T.StructType(list(logical.fields) + [extra])

    # ------------------------------------------------------------------ reads

    def read(
        self,
        version: int | str | None = None,
        buckets: list[int] | None = None,
        include_tombstones: bool = False,
        columns: list[str] | None = None,
        min_seq_ts=None,
        key_filter: list | None = None,
    ) -> DataFrame:
        """Current (or time-travel) table state as a DataFrame. ``version``
        also takes a tag name (see :meth:`create_tag`).

        Files are grouped by (writer schema id, kind); each group is read
        with its exact schema, aligned to the snapshot schema, unioned, and —
        only when deltas are present — LWW-resolved to one winner per key.
        Tombstones (deleted keys retained for LWW) are filtered unless asked.

        ``columns`` prunes the projection to key + seq + the named columns —
        the parquet scans then read only those column chunks (the same
        column-pruning a pushed-down ``select`` would get), which keeps
        key/hash-only scans cheap at any table size.

        ``min_seq_ts`` (str or datetime, session-TZ/UTC) returns only keys
        whose LWW winner has ``seq_cols[0] >= min_seq_ts`` — the "rows fresh
        since T" incremental-consumer scan. Files whose zone map proves
        ``ts_max < min_seq_ts`` are skipped entirely (never scanned), which
        is sound under LWW: the winner is the per-key sequence MAXIMUM, so a
        skipped file can hold neither an emitted winner (its rows all fail
        the predicate) nor a row that outranks one (every emitted row already
        outranks everything below the bound). Skipping is disabled while
        un-compacted seq-bump files exist (a kept bump may need a payload row
        that lives below the bound); the row filter still applies.

        ``key_filter`` is an I/O pruning HINT for point lookups: files whose
        ``key_min``/``key_max`` zone map excludes every listed key are
        skipped. It does NOT filter rows — the caller (:meth:`read_keys`)
        applies the exact ``key IN (...)`` predicate after resolution. The
        skip is sound for any value of the hint because every LWW/bump
        resolution is per-key (one key's winner never depends on another
        key's rows): a file containing none of the hinted keys cannot change
        any hinted key's resolved row, and non-hinted keys in the output are
        filtered by the caller. Files without key bounds are always read.
        """
        snap = self._snapshot(version)
        target = self.schema_from_snap(snap)
        if target is None:
            raise ValueError("table has no schema yet (no data committed)")
        # do any loaded delta files contain seq-bump rows (op='B')? Only then
        # is the (costlier) bump-aware resolution engaged — compaction
        # materializes bumps away, so steady-state reads stay on the plain
        # single-aggregation path.
        snap_files = self._resolve_files(snap)
        has_bumps = any(
            fe.get("bumps")
            for b, files in snap_files.items()
            if buckets is None or int(b) in buckets
            for fe in files
        )
        hash_col = "content_hash"
        drop_hash_after = False
        if columns is not None:
            need = {self.key, *self.seq_cols, *columns}
            if has_bumps and hash_col not in need:
                # bump materialization joins on the hash; the column is
                # dropped again below so the projection the caller asked
                # for never flaps with un-compacted bump state
                need.add(hash_col)
                drop_hash_after = True
            target = T.StructType([f for f in target.fields if f.name in need])
        # zone-map file skipping for min_seq_ts (see docstring for the LWW
        # soundness argument; bumps force the conservative full file set)
        bound = _seq_bound_py(min_seq_ts)
        skip_files = bound is not None and not has_bumps
        has_bumps = has_bumps and hash_col in [f.name for f in target.fields]
        groups: dict[tuple[int, str], list[str]] = {}
        for b, files in snap_files.items():
            if buckets is not None and int(b) not in buckets:
                continue
            for fe in files:
                if (
                    skip_files
                    and fe.get("ts_max") is not None
                    and fe["ts_max"] < bound
                ):
                    continue
                if key_filter is not None and not self._key_range_hits(
                    fe, key_filter
                ):
                    continue
                groups.setdefault((fe["schema_id"], fe["kind"]), []).append(
                    os.path.join(self.root, fe["path"])
                )
        out_schema = self._phys_schema(target, "base")
        has_delta = any(kind == "delta" for (_, kind) in groups)
        if not groups:
            df = self.spark.createDataFrame([], out_schema)
        else:
            parts = []
            for (sid, kind), paths in sorted(groups.items()):
                file_schema = self._phys_schema(
                    T.StructType.fromJson(snap["schemas"][str(sid)]), kind
                )
                part = self.spark.read.schema(file_schema).parquet(*paths)
                have = {f.name for f in part.schema.fields}
                cols = [
                    (F.col(f.name).cast(f.dataType) if f.name in have else F.lit(None).cast(f.dataType)).alias(f.name)
                    for f in target.fields
                ]
                cols.append(
                    F.col(DELETED_COL)
                    if kind == "base"
                    else (F.col("op") == F.lit("D")).alias(DELETED_COL)
                )
                if has_bumps:
                    cols.append(
                        F.lit(False).alias(BUMP_COL)
                        if kind == "base"
                        else (F.col("op") == F.lit("B")).alias(BUMP_COL)
                    )
                parts.append(part.select(*cols))
            df = parts[0]
            for p in parts[1:]:
                df = df.unionByName(p)
        if has_delta:
            if has_bumps:
                from data_pipelines_spark.operators.lww import lww_resolve_bumps

                df = lww_resolve_bumps(
                    df, self.key, self.seq_cols,
                    bump_col=BUMP_COL, deleted_col=DELETED_COL, hash_col=hash_col,
                )
                if drop_hash_after:
                    df = df.drop(hash_col)
            else:
                from data_pipelines_spark.operators.lww import lww_latest

                df = lww_latest(df, self.key, self.seq_cols)
        if not include_tombstones:
            df = df.where(~F.col(DELETED_COL)).drop(DELETED_COL)
        if bound is not None:
            # post-resolution freshness predicate: the winner itself must be
            # >= the bound (file skipping above is only an I/O optimization)
            df = df.where(
                F.col(self.seq_cols[0]) >= F.lit(bound).cast("timestamp")
            )
        return df

    @staticmethod
    def _key_range_hits(fe: dict, keys: list) -> bool:
        """True when file entry ``fe`` may contain one of ``keys`` per its
        key zone map and (when present) its key Bloom filter (missing or
        partial bounds read conservatively; a bound/key type mismatch —
        e.g. after a key-column type evolution — also reads the file rather
        than risking a false skip)."""
        lo, hi = fe.get("key_min"), fe.get("key_max")
        if lo is not None or hi is not None:
            try:
                if not any(
                    (lo is None or lo <= k) and (hi is None or k <= hi)
                    for k in keys
                ):
                    return False
            except TypeError:
                return True
        # the range may hit — consult the bloom (no false negatives: every
        # key actually in the file was inserted at write time)
        b64 = fe.get("kbf")
        if b64 is not None and all(isinstance(k, str) for k in keys):
            return _key_bloom_may_contain(b64, fe["kbf_m"], fe["kbf_k"], keys)
        return True

    def read_keys(
        self,
        keys,
        version: int | None = None,
        columns: list[str] | None = None,
        include_tombstones: bool = False,
    ) -> DataFrame:
        """Point lookup: current (or time-travel) rows for an explicit key
        list — the serving path ("give me the row for url X") that must NOT
        scan the table.

        Each key's bucket is ``pmod(xxhash64(key), n_buckets)`` under the
        requested version's OWN layout (rebucket changes ``n_buckets``
        per-snapshot), folded by Spark while planning over a local relation
        of the keys — no Spark job, no table scan. The snapshot read is
        then pruned to those bucket directories only, and the ``key IN
        (...)`` predicate is applied under the LWW resolution: it references
        only the grouping key, so Catalyst pushes it through the aggregate
        into the parquet scan (``PushedFilters: In(key, ...)`` — row groups
        whose key range misses prune at the footer). Cost is
        O(|keys|/n_buckets of the table) I/O upper-bounded by the pruned
        buckets, independent of total table size — at 100 TB a k-key lookup
        touches at most k bucket directories.

        Within the pruned buckets, files whose ``key_min``/``key_max`` zone
        map (stamped at write time, Iceberg-style truncated string bounds)
        excludes every requested key are skipped driver-side before the scan
        is even planned. After a key-clustered compaction
        (``compact(sort_by_key=True, target_file_rows=N)``) a bucket's base
        files cover non-overlapping key ranges, so a k-key lookup opens
        ~one base file per key instead of the bucket's whole base — at
        100 TB that is the difference between touching GBs and touching MBs.

        Recent UN-sorted delta files — whose key range spans everything, so
        the zone map cannot prune them — are skipped via their per-file key
        Bloom filter (stamped at merge time for files ≤ ``key_bloom_rows``
        rows; no false negatives), so lookup cost stays ~k files even under
        continuous ingest, not k files plus every delta since the last
        compaction.

        ``keys`` is a bounded serving request (an explicit list, not a
        DataFrame); for joining against a large key set use
        ``read(columns=...)`` with a join instead.
        """
        keys = list(dict.fromkeys(keys))  # dedupe, keep order irrelevant
        snap = self._snapshot(version)
        target = self.schema_from_snap(snap)
        if target is None:
            raise ValueError("table has no schema yet (no data committed)")
        if not keys:
            return self.read(
                version=version, buckets=[], columns=columns,
                include_tombstones=include_tombstones,
            )
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_type

        n = int(snap["n_buckets"])
        key_field = next(f for f in target.fields if f.name == self.key)
        # an Arrow-built frame is a local relation, so Spark evaluates the
        # bucket projection while planning and the collect runs no job (a
        # Python list would be a Python-RDD job, .distinct() an aggregate
        # job). The keys carry the key field's type: xxhash64 of an int
        # differs from that of a long.
        kdf = self.spark.createDataFrame(
            pa.table({self.key: pa.array(keys, type=to_arrow_type(key_field.dataType))}),
            T.StructType([key_field]),
        )
        bks = sorted({r[0] for r in kdf.select(bucket_id(F.col(self.key), n)).collect()})
        df = self.read(
            version=version, buckets=bks, columns=columns,
            include_tombstones=include_tombstones, key_filter=keys,
        )
        return df.where(F.col(self.key).isin(keys))

    # ------------------------------------------------------------ change feed

    def changes(self, from_version: int | str, to_version: int | str | None = None) -> DataFrame:
        """Net row-level change feed between two snapshots (CDC-out).

        Snapshot-diff semantics (the general path — works across ANY commit
        mix: merges, overwrite, backfill, compaction, vacuum, schema
        evolution):
        full-outer-join the live states at the two versions on the key and
        classify each key by its sequence tuple —

        - ``I``: key live at ``to`` only (post-image emitted)
        - ``U``: live at both, sequence advanced (post-image emitted; a
          seq-bump re-scrape therefore shows as ``U`` with unchanged payload,
          faithfully reporting the stored-sequence advance)
        - ``D``: key live at ``from`` only (pre-image emitted)

        No-op keys (identical sequence) are dropped. A key deleted and
        re-inserted inside the range nets to ``U``; inserted-then-deleted
        nets to nothing — net effect, not the event-by-event log (that is
        ``change_log``). Columns added by schema evolution inside the range
        are NULL-backfilled on the pre side. Cost: two (column-pruned,
        zone-mapped) snapshot scans + one key-hash shuffle join — both sides
        arrive bucket-clustered from the same layout, and AQE handles the
        skewed-domain keys like any other join in the engine.
        """
        from_version = self._resolve_version(from_version)
        to_version = self._resolve_version(to_version)
        to_v = self.current_version() if to_version is None else to_version
        if from_version > to_v:
            raise ValueError(f"from_version {from_version} > to_version {to_v}")
        if self.schema(to_v) is None:
            raise ValueError(f"snapshot v{to_v} has no schema (empty table)")
        post = self.read(version=to_v)
        if self.schema(from_version) is None:
            pre = self.spark.createDataFrame([], post.schema)
        else:
            pre = self.read(version=from_version)
        have = {f.name for f in pre.schema.fields}
        pre = pre.select(
            *[
                (
                    F.col(f.name).cast(f.dataType)
                    if f.name in have
                    else F.lit(None).cast(f.dataType)
                ).alias(f.name)
                for f in post.schema.fields
            ]
        )
        a, b = pre.alias("a"), post.alias("b")
        joined = b.join(a, F.col(f"a.{self.key}") == F.col(f"b.{self.key}"), "full_outer")
        a_seq = F.struct(*[F.col(f"a.{s}") for s in self.seq_cols])
        b_seq = F.struct(*[F.col(f"b.{s}") for s in self.seq_cols])
        ct = (
            F.when(F.col(f"a.{self.key}").isNull(), F.lit("I"))
            .when(F.col(f"b.{self.key}").isNull(), F.lit("D"))
            .when(a_seq != b_seq, F.lit("U"))
        )
        out = [
            F.when(ct == "D", F.col(f"a.{f.name}"))
            .otherwise(F.col(f"b.{f.name}"))
            .alias(f.name)
            for f in post.schema.fields
        ]
        out.append(ct.alias("_change_type"))
        return joined.select(*out).where(F.col("_change_type").isNotNull())

    def change_log(self, from_version: int | str, to_version: int | str | None = None) -> DataFrame:
        """Event-level log of the changes applied in ``(from, to]`` — the
        binlog-out surface a downstream CDC consumer tails.

        O(changes in range), never O(table): reads ONLY the delta files
        appended by merge commits in the range (identified from the per-commit
        manifests), with each row tagged ``_commit_version``. Compaction,
        tombstone vacuum and schema-update commits are physical/metadata
        reorganizations — they contribute no rows and are skipped, so the log
        stays available across the steady-state auto-compaction cadence.
        Overwrite, backfill and rollback commits carry no delta rows and
        raise :class:`ChangeLogUnavailableError` (use :meth:`changes`).

        Rows are the post-dedup batch contents: per-key LWW winners of each
        batch with their arrival ``op`` (``I``/``U``/``D``/``B`` seq-bump).
        Columns are aligned to the ``to`` snapshot's schema (NULL-backfill
        for columns a file's writer schema predates). The files of expired
        range snapshots may already be GC'd — expire retention bounds how far
        back the log reaches, exactly like Iceberg's changelog reads.
        """
        from_version = self._resolve_version(from_version)
        to_version = self._resolve_version(to_version)
        to_v = self.current_version() if to_version is None else to_version
        if from_version > to_v:
            raise ValueError(f"from_version {from_version} > to_version {to_v}")
        final_schema = self.schema(to_v)
        out_fields = [
            T.StructField("_commit_version", T.LongType(), False),
            T.StructField("op", T.StringType(), True),
        ] + (list(final_schema.fields) if final_schema is not None else [])
        prev_snap = self._snapshot(from_version)
        prev_paths = {
            os.path.normpath(fe["path"])
            for fl in self._resolve_files(prev_snap).values()
            for fe in fl
        }
        # walk the to→from parent chain: versions are monotone but NOT
        # consecutive on a lineage once branches allocate global slots, and
        # slot numbers in between may belong to other lineages entirely —
        # the chain is defined by parent pointers, never arithmetic
        chain: list[tuple[int, dict]] = []
        v: int | None = to_v
        while v != from_version:
            snap_w = self._snapshot(v)
            chain.append((v, snap_w))
            v = snap_w.get("parent")
            if v is None or v < from_version:
                raise ValueError(
                    f"v{from_version} is not an ancestor of v{to_v} — the "
                    "range spans divergent lineages (use changes() between "
                    "explicit snapshots instead)"
                )
        chain.reverse()
        added: list[tuple[int, dict]] = []
        for v, snap_v in chain:
            op = snap_v.get("operation")
            cur_list = [fe for fl in self._resolve_files(snap_v).values() for fe in fl]
            cur_paths = {os.path.normpath(fe["path"]) for fe in cur_list}
            new = [fe for fe in cur_list if os.path.normpath(fe["path"]) not in prev_paths]
            if op == "merge":
                added.extend((v, fe) for fe in new)
            elif op in ("compact", "vacuum", "schema-update", "rebucket"):
                pass  # physical/metadata reorganizations: no logical deltas
            elif op == "rollback":
                raise ChangeLogUnavailableError(
                    f"v{v} is a rollback/restore; the range's net row-level "
                    "effect is a state reversion, not a delta append — use "
                    "changes() for the snapshot diff"
                )
            elif op == "backfill":
                raise ChangeLogUnavailableError(
                    f"v{v} is a column backfill; values changed inside "
                    "rewritten base files with no delta rows — use changes()"
                )
            elif op == "overwrite":
                raise ChangeLogUnavailableError(
                    f"v{v} is an INSERT OVERWRITE; the whole state was "
                    "replaced with no delta rows — use changes()"
                )
            else:
                raise ChangeLogUnavailableError(
                    f"v{v} has unknown commit operation {op!r} — use changes()"
                )
            prev_paths = cur_paths
        if not added or final_schema is None:
            return self.spark.createDataFrame([], T.StructType(out_fields))
        groups: dict[tuple[int, int], list[str]] = {}
        for v, fe in added:
            groups.setdefault((v, fe["schema_id"]), []).append(
                os.path.join(self.root, fe["path"])
            )
        snap_to = self._snapshot(to_v)
        parts = []
        for (v, sid), paths in sorted(groups.items()):
            file_schema = self._phys_schema(
                T.StructType.fromJson(snap_to["schemas"][str(sid)]), "delta"
            )
            part = self.spark.read.schema(file_schema).parquet(*paths)
            have = {f.name for f in part.schema.fields}
            cols = [F.lit(v).cast("long").alias("_commit_version"), F.col("op")]
            cols += [
                (
                    F.col(f.name).cast(f.dataType)
                    if f.name in have
                    else F.lit(None).cast(f.dataType)
                ).alias(f.name)
                for f in final_schema.fields
            ]
            parts.append(part.select(*cols))
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        return df

    # ------------------------------------------------------------------ merge

    def merge(
        self,
        batch_df: DataFrame,
        batch_id: int | str,
        transform_after_dedup=None,
        salt_dedup: int = 0,
    ) -> MergeStats:
        """Apply one CDC batch: keyed upsert + delete with LWW resolution.

        ``batch_df`` columns: ``op`` ('I'/'U'/'D') + key + seq cols + payload.
        The batch is deduped to one winner per key (max sequence) first;
        cross-batch ordering is resolved at read/compaction time by comparing
        stored sequences. Re-delivered ``batch_id``s are skipped via the
        snapshot ledger (exactly-once).

        The deduped batch is appended as delta files — O(batch) work, no
        read of existing data — and buckets past ``compact_threshold`` are
        compacted.

        ``transform_after_dedup`` (df → df) runs expensive derivations (e.g.
        html→text decode UDFs) on the deduped winners only — losers and
        duplicate deliveries never reach the UDF, and the dedup shuffle moves
        the raw payload, not payload+derived columns. It may add columns
        (schema evolution applies) but must not alter key/seq/op.
        """
        stats = MergeStats(batch_id=batch_id)
        base_version = self.current_version()
        snap = self._snapshot(base_version)

        if str(batch_id) in snap["ledger"]:
            stats.skipped_duplicate_batch = True
            stats.committed_version = snap["ledger"][str(batch_id)]
            return stats

        seq = F.struct(*[F.col(c) for c in self.seq_cols])
        # ONE shuffle serves dedup AND write layout: repartition by the hash
        # bucket, then groupBy (bucket, key) — bucket = f(key), so same-key
        # rows are already co-located and Catalyst adds no second exchange
        # (HashPartitioning(_bucket) satisfies ClusteredDistribution(_bucket,
        # key)). The partial max_by runs AFTER the explicit repartition (the
        # plan is Exchange → partial_max_by), so every duplicate delivery
        # crosses the shuffle with its payload and a hot key lands whole in
        # one task: salt_dedup below is the only hot-key pre-reduction.
        batch_cols = [f.name for f in batch_df.schema.fields]
        width = max(1, min(self.n_buckets, 256))
        payload = F.struct(*[c for c in batch_cols if c != self.key])
        if salt_dedup > 1:
            # skew defense (north-rule "salted url-hash buckets"): a hot key
            # is first reduced across `salt_dedup` tasks — shuffle 1 on
            # (key, salt) spreads its duplicates and max_by pre-aggregates
            # map-side — then the tiny per-(key,salt) winner set takes the
            # bucket shuffle. Costs one extra (small) exchange; use when a
            # single key can dominate a batch.
            salt = F.pmod(F.xxhash64(*[F.col(c) for c in self.seq_cols]), F.lit(salt_dedup))
            pre = (
                batch_df.groupBy(F.col(self.key), salt.alias("_salt"))
                .agg(F.max_by(payload, seq).alias("_w"))
                .select(self.key, "_w.*")
            )
            pre_cols = [f.name for f in pre.schema.fields]
            batch_df = pre
            payload = F.struct(*[c for c in pre_cols if c != self.key])
        deduped = (
            batch_df.withColumn(_BUCKET_COL, bucket_id(F.col(self.key), self.n_buckets))
            .repartition(width, F.col(_BUCKET_COL))
            .groupBy(_BUCKET_COL, self.key)
            .agg(F.max_by(payload, seq).alias("_w"))
            .select(_BUCKET_COL, self.key, "_w.*")
        )
        if transform_after_dedup is not None:
            deduped = transform_after_dedup(deduped)
        payload_schema = T.StructType(
            [f for f in deduped.schema.fields if f.name not in ("op", _BUCKET_COL)]
        )
        table_schema, evolved = self._evolve_schema(snap, payload_schema)
        stats.schema_evolved = evolved and snap["current_schema_id"] is not None
        return self._merge_delta(deduped, stats, base_version, snap, table_schema)

    def _merge_delta(self, deduped, stats, base_version, snap, table_schema):
        # single-job path: write the deltas, derive every stat from the
        # written files' footers driver-side (no pre-agg job, no persist)
        to_write = self._align(
            deduped, T.StructType(
                list(self._phys_schema(table_schema, "delta").fields)
                + [T.StructField(_BUCKET_COL, T.IntegerType(), False)]
            ),
        )
        commit_dir = self._new_commit_dir(base_version)
        # already hash-partitioned by _bucket from the dedup shuffle — write
        # directly (no second exchange); each task writes only its buckets.
        self._write_files(to_write, commit_dir)
        new_files = self._list_written(commit_dir, snap, table_schema, stats, kind="delta")
        if not new_files:  # empty batch: ledger-only commit, no orphan dir
            shutil.rmtree(commit_dir, ignore_errors=True)
            return self._commit(snap, base_version, {}, stats, table_schema, append=False, operation="merge")
        self._stats_from_footers(new_files, stats, kind="delta")
        out = self._commit(snap, base_version, new_files, stats, table_schema, append=True, operation="merge")

        # compaction policy: any bucket with too many delta files gets
        # rewritten (base+deltas -> new base) in a follow-up commit. The
        # threshold is staggered by bucket id (+0..3) so in steady state each
        # batch compacts ~1/4 of the buckets instead of all of them at once —
        # at cluster scale this keeps the ingest latency profile flat rather
        # than spiking every `compact_threshold` batches.
        new_snap = self._snapshot(out.committed_version)
        over = [
            int(b)
            for b, files in self._resolve_files(new_snap).items()
            if sum(1 for fe in files if fe["kind"] == "delta")
            >= self.compact_threshold + (int(b) % self.compact_stagger)
        ]
        if over:
            try:
                c = self.compact(buckets=over, batch_id=f"{stats.batch_id}:compact")
                stats.compacted_buckets = len(over)
                stats.committed_version = c.committed_version
            except ConcurrentCommitError:
                # the MERGE is already committed; auto-compaction is an
                # optimization, so under multi-writer contention (another
                # writer appended to a bucket mid-rewrite) skip it — the
                # next batch over threshold re-triggers it
                pass
        return stats

    def _stats_from_footers(
        self, new_files: dict[str, list[dict]], stats: MergeStats, kind: str
    ) -> None:
        """Account the files a commit just wrote — driver-side parquet
        metadata only, never a Spark job. Every write path uses it (merge
        deltas and the base files of every rewrite), so all manifest zone
        maps come from the footers written under :meth:`_write_files`.

        Per file: rows from the footer; the ``ts_min``/``ts_max`` zone map of
        the first seq column and the ``key_min``/``key_max`` zone map from
        row-group statistics; tombstones from reading ONLY the file's small
        ``_deleted`` (base) or dictionary-encoded ``op`` (delta) column.
        Delta files also get the ``bumps`` flag and, under
        ``key_bloom_rows``, a key Bloom filter. Per-bucket rows/tombstones go
        to ``stats.per_bucket``; a delta commit also fills the batch counts
        and the tie column's span. All O(files written).
        """
        from concurrent.futures import ThreadPoolExecutor

        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        tie = self.seq_cols[-1]
        ts = self.seq_cols[0]
        flag = "op" if kind == "delta" else DELETED_COL

        def one_file(args):
            b, fe = args
            f = pq.ParquetFile(os.path.join(self.root, fe["path"]))
            md = f.metadata
            paths = [md.schema.column(i).path for i in range(md.num_columns)]

            def bounds(col):
                # min/max over row groups; a row group with values but no
                # bounds (stats disabled, or over parquet-mr's 4096-byte
                # cutoff) leaves the whole file unbounded, never too narrow
                if col not in paths:
                    return None, None
                idx = paths.index(col)
                lo = hi = None
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(idx).statistics
                    if st is not None and st.has_min_max:
                        lo = st.min if lo is None else min(lo, st.min)
                        hi = st.max if hi is None else max(hi, st.max)
                    elif not (
                        st is not None and st.has_null_count
                        and st.null_count == md.row_group(rg).num_rows
                    ):
                        return None, None
                return lo, hi

            lo, hi = bounds(tie)
            # per-file zone map on the first seq column (timestamps are
            # written as TIMESTAMP_MICROS so footer stats exist) — lets
            # read(min_seq_ts=...) skip whole files
            ts_lo, ts_hi = bounds(ts)
            if isinstance(ts_hi, datetime):
                fe["ts_min"] = _seq_bound_py(ts_lo)
                fe["ts_max"] = _seq_bound_py(ts_hi)
            # per-file KEY zone map (parquet-mr's own string statistics are
            # exact; ours truncate for the manifest) — read_keys skips files
            # whose key range misses every looked-up key
            k_lo, k_hi = bounds(self.key)
            if k_hi is not None and isinstance(k_hi, (str, int)):
                fe["key_min"], fe["key_max"] = _key_bounds_py(k_lo, k_hi)
            # per-file key BLOOM (small delta files only): an un-sorted
            # delta's key RANGE spans most of the key space, so the zone map
            # above rarely prunes it — the bloom lets read_keys skip it
            # anyway. One bounded column read in this already-threadpooled
            # footer pass; no Spark job.
            if (
                kind == "delta"
                and self.key_bloom_rows is not None
                and self.key in paths
                and 0 < md.num_rows
                <= min(self.key_bloom_rows, _BLOOM_MAX_ROWS)
            ):
                py = f.read(columns=[self.key]).column(0).to_pylist()
                if all(isinstance(x, str) for x in py):
                    fe["kbf"], fe["kbf_m"], fe["kbf_k"] = _key_bloom_build(
                        set(py)
                    )
            dead = 0
            if flag in paths:
                col = f.read(columns=[flag]).column(0)
                if kind == "delta":
                    dead = int(pc.sum(pc.equal(col, "D")).as_py() or 0)
                    # flag files carrying seq-bump rows so read() engages
                    # the bump-aware resolution only when it has to
                    if int(pc.sum(pc.equal(col, "B")).as_py() or 0) > 0:
                        fe["bumps"] = True
                else:
                    dead = int(pc.sum(col).as_py() or 0)
            return b, md.num_rows, dead, lo, hi

        work = [(b, fe) for b, files in new_files.items() for fe in files]
        if not work:
            return
        # footer opens are I/O-latency-bound — a thread pool turns ~10 ms ×
        # n_files of serial driver time into one round trip
        with ThreadPoolExecutor(max_workers=min(16, len(work))) as ex:
            results = list(ex.map(one_file, work))
        per_b: dict[int, dict[str, int]] = {}
        lo = hi = None
        for b, rows, dead, flo, fhi in results:
            p = per_b.setdefault(int(b), {"rows": 0, "tombstones": 0})
            p["rows"] += rows
            p["tombstones"] += dead
            if flo is not None:
                lo = flo if lo is None else min(lo, flo)
                hi = fhi if hi is None else max(hi, fhi)
        stats.per_bucket.update(per_b)
        if kind == "delta":
            stats.rows_in = sum(p["rows"] for p in per_b.values())
            stats.rows_deleted = sum(p["tombstones"] for p in per_b.values())
            stats.rows_upserted = stats.rows_in - stats.rows_deleted
            stats.buckets_touched = len(new_files)
            stats.seq_min, stats.seq_max = lo, hi

    def overwrite(self, batch_df: DataFrame, batch_id: int | str) -> MergeStats:
        """INSERT OVERWRITE: replace the table's ENTIRE logical state with the
        batch in one exactly-once commit (the bulk-reload / restore-from-
        source surface; Delta ``INSERT OVERWRITE`` / ``replaceWhere`` on the
        whole table). Rows use the merge wire format (``op`` + key + seq +
        payload); ``op='D'`` rows land as sequence-carrying tombstones so a
        late stale event still can't resurrect a key after the overwrite.
        The batch is LWW-deduped per key like a merge, additive schema
        evolution applies, and the commit writes a replace manifest covering
        every old AND new bucket — prior state is unreferenced, not erased
        (time travel to it still works until ``expire_snapshots``).

        Unlike ``merge``, the result does NOT depend on the prior state —
        stored sequences are irrelevant, so this is the one primitive that
        can move a table "backwards" (e.g. resyncing a downstream cascade
        after an upstream rollback). ``change_log`` is unavailable across it
        (no delta rows); use ``changes()`` for the net row diff.
        """
        stats = MergeStats(batch_id=batch_id)
        base_version = self.current_version()
        snap = self._snapshot(base_version)
        if str(batch_id) in snap["ledger"]:
            stats.skipped_duplicate_batch = True
            stats.committed_version = snap["ledger"][str(batch_id)]
            return stats
        seq = F.struct(*[F.col(c) for c in self.seq_cols])
        batch_cols = [f.name for f in batch_df.schema.fields]
        payload = F.struct(*[c for c in batch_cols if c != self.key])
        width = max(1, min(self.n_buckets, 256))
        deduped = (
            batch_df.withColumn(_BUCKET_COL, bucket_id(F.col(self.key), self.n_buckets))
            .repartition(width, F.col(_BUCKET_COL))
            .groupBy(_BUCKET_COL, self.key)
            .agg(F.max_by(payload, seq).alias("_w"))
            .select(_BUCKET_COL, self.key, "_w.*")
        )
        payload_schema = T.StructType(
            [f for f in deduped.schema.fields if f.name not in ("op", _BUCKET_COL)]
        )
        table_schema, evolved = self._evolve_schema(snap, payload_schema)
        stats.schema_evolved = evolved and snap["current_schema_id"] is not None
        phys = self._phys_schema(table_schema, "base")
        rows = self._align(
            deduped.withColumn(DELETED_COL, F.col("op") == F.lit("D")).drop("op"),
            phys,
        ).withColumn(_BUCKET_COL, bucket_id(F.col(self.key), self.n_buckets))
        commit_dir = self._new_commit_dir(base_version)
        self._write_partitioned(rows, commit_dir, self.n_buckets)
        new_files = self._list_written(commit_dir, snap, table_schema, stats, kind="base")
        self._stats_from_footers(new_files, stats, kind="base")
        # replace EVERY bucket: old-layout keys with no new files must be
        # explicitly cleared or their files survive manifest resolution
        for b in set(self._resolve_files(snap)) | {str(b) for b in range(self.n_buckets)}:
            new_files.setdefault(str(b), [])
            stats.per_bucket.setdefault(int(b), {"rows": 0, "tombstones": 0})
        stats.buckets_touched = len(new_files)
        return self._commit(
            snap, base_version, new_files, stats, table_schema,
            append=False, operation="overwrite",
        )

    # --------------------------------------------------- predicate DML sugar

    def _seq_values(self, seq: dict, target: T.StructType) -> list[Column]:
        """Validate + render a caller-supplied sequence mapping: exactly one
        entry per seq column, each cast to the table's column type."""
        missing = [c for c in self.seq_cols if c not in seq]
        extra = [c for c in seq if c not in self.seq_cols]
        if missing or extra:
            raise ValueError(
                f"seq must map exactly the table's seq columns "
                f"{list(self.seq_cols)} (missing={missing}, unexpected={extra})"
            )
        out = []
        for c in self.seq_cols:
            v = seq[c]
            col = v if isinstance(v, Column) else F.lit(v)
            out.append(col.cast(target[c].dataType).alias(c))
        return out

    def delete_where(
        self,
        predicate: Column | str,
        batch_id: int | str,
        seq: dict,
        predicate_columns: list[str] | None = None,
    ) -> MergeStats:
        """Predicate delete — SQL ``DELETE FROM t WHERE ...`` over the lake
        table (the GDPR/domain-purge surface): tombstone every live key whose
        LWW-resolved row matches ``predicate``, as ONE exactly-once CDC batch
        through the standard merge path (ledger-checked ``batch_id``, same
        single-exchange plan, tombstones survive until ``vacuum_tombstones``).

        ``seq`` maps each of the table's seq columns to the sequence the
        tombstones carry (Column or literal) — the delete is an ordinary CDC
        event and participates in normal LWW: it beats stored winners with a
        strictly smaller sequence tuple, loses to anything newer, and a later
        re-insert with a higher sequence resurrects the key exactly as any
        CDC delete would. Supply a sequence beyond the stream position being
        superseded (the caller knows its watermark); replay determinism is
        the caller's values, never wall-clock.

        ``predicate_columns`` prunes the matched-set scan to key + seq + the
        named columns (the predicate may only reference those) — at 100 TB
        a purge predicate usually touches one or two columns and the scan
        should read just their chunks. Cost: one LWW-resolved read of the
        live table (inherent to predicate DML on a merge-on-read table —
        the predicate applies to resolved winners, not raw deltas) feeding
        O(matched) tombstone rows through merge.
        """
        return self.merge(
            self.delete_where_frame(predicate, seq, predicate_columns), batch_id
        )

    def delete_where_frame(
        self,
        predicate: Column | str,
        seq: dict,
        predicate_columns: list[str] | None = None,
    ) -> DataFrame:
        """The CDC batch :meth:`delete_where` merges — op='D' tombstones for
        every live key matching ``predicate`` — as a DataFrame, for callers
        that route DML through a richer commit path (``CdcPipeline.
        delete_where`` feeds it to ``process_batch`` so the attached near-dup
        index retracts and aggregate views maintain)."""
        target = self.schema_from_snap(self._snapshot())
        if target is None:
            raise ValueError("table has no schema yet (no data committed)")
        pred = F.expr(predicate) if isinstance(predicate, str) else predicate
        live = self.read(columns=predicate_columns)
        seq_exprs = self._seq_values(seq, target)
        payload = [
            F.lit(None).cast(f.dataType).alias(f.name)
            for f in target.fields
            if f.name != self.key and f.name not in self.seq_cols
        ]
        return live.where(pred).select(
            F.lit("D").alias("op"), F.col(self.key), *seq_exprs, *payload
        )

    def update_where(
        self,
        predicate: Column | str,
        set: dict,
        batch_id: int | str,
        seq: dict,
    ) -> MergeStats:
        """Predicate update — SQL ``UPDATE t SET ... WHERE ...``: rewrite the
        named payload columns of every live row matching ``predicate`` (set
        expressions may reference the row's current columns, e.g.
        ``{"lang": F.upper(F.col("lang"))}``), carried as full-row 'U' events
        with the caller-supplied ``seq`` through the standard exactly-once
        merge. Unnamed payload columns carry the current value forward (LWW
        replaces whole rows); a ``set`` name NOT yet in the table schema is
        additive schema evolution (new column set for matched rows, NULL
        elsewhere). Same LWW interplay and cost shape as
        :meth:`delete_where`, except the matched-set scan always reads full
        rows (unreferenced columns must be carried)."""
        return self.merge(self.update_where_frame(predicate, set, seq), batch_id)

    def update_where_frame(
        self, predicate: Column | str, set: dict, seq: dict
    ) -> DataFrame:
        """The CDC batch :meth:`update_where` merges (op='U' full rows), as a
        DataFrame — see :meth:`delete_where_frame` for why callers want it."""
        target = self.schema_from_snap(self._snapshot())
        if target is None:
            raise ValueError("table has no schema yet (no data committed)")
        pred = F.expr(predicate) if isinstance(predicate, str) else predicate
        names = {f.name for f in target.fields}
        bad = [k for k in set if k == self.key or k in self.seq_cols]
        if bad:
            raise ValueError(
                f"set may only name payload columns of the table; bad: {bad}"
            )
        set_exprs = {
            k: (v if isinstance(v, Column) else F.lit(v)) for k, v in set.items()
        }
        live = self.read()
        seq_exprs = self._seq_values(seq, target)
        payload = [
            (set_exprs[f.name] if f.name in set_exprs else F.col(f.name))
            .cast(f.dataType)
            .alias(f.name)
            for f in target.fields
            if f.name != self.key and f.name not in self.seq_cols
        ]
        # names NOT in the table schema are additive evolution: the merge
        # detects the new column and NULL-backfills unmatched rows, exactly
        # as any CDC batch carrying a new field would ("set a new column for
        # matched rows"; full-table computed backfill is `backfill()`)
        payload += [
            set_exprs[k].alias(k) for k in set if k not in names
        ]
        return live.where(pred).select(
            F.lit("U").alias("op"), F.col(self.key), *seq_exprs, *payload
        )

    # ------------------------------------------------------------ compaction

    def compact(
        self,
        buckets: list[int] | None = None,
        batch_id: int | str = "compact",
        sort_by_seq: bool = False,
        sort_by_key: bool = False,
        target_file_rows: int | None = None,
    ) -> MergeStats:
        """Rewrite base+delta files of ``buckets`` into fresh base files.

        Resolution is the same LWW the readers apply, so compaction never
        changes query results — it trades read amplification for one
        bucket-pruned rewrite. Tombstones are preserved (see
        ``vacuum_tombstones`` for reclaiming them past the watermark).

        ``sort_by_seq=True`` additionally clusters each bucket's rewrite by
        the sequence columns and, with ``target_file_rows``, splits it into
        fixed-size files — each covering a contiguous, non-overlapping seq
        range, so the per-file ts zone map lets ``read(min_seq_ts=...)``
        skip cold files instead of scanning whole buckets (the Delta
        ``OPTIMIZE``-with-sort analog; at 100 TB a bucket's base is GBs and
        an incremental consumer reads only the files its bound touches). A
        physical layout change only: same rows, same LWW winners, sequences
        untouched — state-invisible to every logical surface, like
        :meth:`rebucket`.

        ``sort_by_key=True`` clusters each bucket's rewrite by the KEY
        instead — with ``target_file_rows`` each file covers a contiguous,
        non-overlapping key range and the per-file ``key_min``/``key_max``
        zone map lets :meth:`read_keys` open ~one file per looked-up key
        (the serving-optimized layout; choose it for tables whose hot path
        is point lookups, ``sort_by_seq`` for incremental consumers — the
        two clusterings are mutually exclusive per rewrite).
        """
        if sort_by_seq and sort_by_key:
            raise ValueError(
                "sort_by_seq and sort_by_key are mutually exclusive — one "
                "rewrite produces one physical clustering"
            )
        return self._rewrite_buckets(
            buckets, batch_id, "compact", None,
            sort_by_seq=sort_by_seq, sort_by_key=sort_by_key,
            target_file_rows=target_file_rows,
        )

    def backfill(
        self,
        column: str,
        expr,
        batch_id: int | str = "backfill",
        buckets: list[int] | None = None,
    ) -> MergeStats:
        """Compute values for a column's NULL rows from the rows themselves —
        the second half of "schema-update + column backfill": after
        :meth:`update_schema` adds a column, old rows read as NULL until this
        rewrites them (e.g. ``backfill("lang", regexp_extract(html, ...))``
        derives the new field from stored page bytes).

        One bucket-pruned CoW rewrite (the compaction machinery). Sequences
        are untouched, so LWW outcomes cannot change; tombstones and
        payload-free rows keep their NULLs (only live rows are filled);
        already-non-NULL values are never overwritten — backfill is
        idempotent in VALUE as well as per ``batch_id`` via the ledger.

        CDC-out visibility caveat (pinned by tests): because sequences are
        untouched, the sequence-based :meth:`changes` diff reports NOTHING
        for a backfill, and :meth:`change_log` refuses across it (no delta
        rows exist). Downstream consumers that must observe the new values —
        e.g. an :class:`~data_pipelines_spark.lake.aggview.AggView` whose
        measures read the backfilled column — should ``rebuild()`` after a
        backfill, or the caller should express the backfill as an ordinary
        merge (op='U' with advanced sequence) when stream visibility matters
        more than replay-neutral sequences.
        """
        schema = self.schema()
        if schema is None or column not in [f.name for f in schema.fields]:
            raise ValueError(f"column {column!r} is not in the table schema")
        if column == self.key or column in self.seq_cols:
            raise ValueError(f"{column!r} is a key/sequence column")
        fill = F.expr(expr) if isinstance(expr, str) else expr

        def transform(df: DataFrame) -> DataFrame:
            keep = F.col(DELETED_COL) | F.col(column).isNotNull()
            return df.withColumn(
                column, F.when(keep, F.col(column)).otherwise(fill)
            )

        return self._rewrite_buckets(buckets, batch_id, "backfill", transform)

    def rebucket(
        self,
        n_buckets: int,
        batch_id: int | str | None = None,
        sort_by_seq: bool = False,
        sort_by_key: bool = False,
        target_file_rows: int | None = None,
    ) -> MergeStats:
        """Bucket-layout evolution: rewrite the whole table under a new
        bucket count — the knob a table turns when it outgrows its layout
        (16 buckets is wrong at 100 TB; Iceberg calls this partition-spec
        evolution, here the spec is ``pmod(xxhash64(key), n_buckets)``).

        One full CoW rewrite (LWW-resolved, tombstones kept, same machinery
        as :meth:`compact`), committing a snapshot that records the NEW
        ``n_buckets`` — subsequent merges/reads/compactions use the new
        layout, while time travel to older versions still resolves their
        own (old-layout) file lists. A physical reorganization only:
        sequence-based CDC surfaces see no logical change, and
        ``change_log`` skips it like a compaction. Ledger-idempotent.

        ``buckets=`` pruning arguments are layout-relative: after a
        rebucket, bucket ids passed to :meth:`read` for PRE-rebucket
        versions mean the OLD layout (the snapshot's own file keys).

        ``sort_by_seq`` / ``sort_by_key`` / ``target_file_rows``: same
        clustered file layouts as :meth:`compact` — a full-table rewrite is
        exactly when a re-cluster is cheapest.
        """
        if n_buckets < 1:
            raise ValueError("n_buckets must be ≥ 1")
        if sort_by_seq and sort_by_key:
            raise ValueError(
                "sort_by_seq and sort_by_key are mutually exclusive — one "
                "rewrite produces one physical clustering"
            )
        bid = f"rebucket-{n_buckets}" if batch_id is None else batch_id
        stats = MergeStats(batch_id=bid)
        base_version = self.current_version()
        snap = self._snapshot(base_version)
        if str(bid) in snap["ledger"]:
            stats.skipped_duplicate_batch = True
            stats.committed_version = snap["ledger"][str(bid)]
            self.n_buckets = snap["n_buckets"]
            return stats
        table_schema = self.schema_from_snap(snap)
        if table_schema is None:
            raise ValueError("table has no data yet — set n_buckets at create()")
        old_buckets = [int(b) for b in self._resolve_files(snap)]
        stats.buckets_touched = len(old_buckets)
        resolved = self.read(version=base_version, include_tombstones=True)
        resolved = resolved.withColumn(
            _BUCKET_COL, bucket_id(F.col(self.key), n_buckets)
        )
        commit_dir = self._new_commit_dir(base_version)
        self._write_partitioned(
            resolved, commit_dir, n_buckets,
            sort_seq=sort_by_seq, sort_key=sort_by_key,
            max_file_rows=target_file_rows,
        )
        # the committed snapshot carries the new layout
        snap_new = dict(snap, n_buckets=n_buckets)
        new_files = self._list_written(commit_dir, snap_new, table_schema, stats, kind="base")
        self._stats_from_footers(new_files, stats, kind="base")
        for b in range(n_buckets):
            new_files.setdefault(str(b), [])
            stats.per_bucket.setdefault(b, {"rows": 0, "tombstones": 0})
        # shrink-rebucket: old-layout bucket keys >= n_buckets must be
        # explicitly CLEARED in the replace manifest, or their base files
        # survive _resolve_files and every row they hold is duplicated
        # (all-'base' file lists skip LWW resolution entirely on read)
        for b in old_buckets:
            new_files.setdefault(str(b), [])
        out = self._commit(
            snap_new, base_version, new_files, stats, table_schema,
            append=False, operation="rebucket",
        )
        self.n_buckets = n_buckets
        return out

    def _rewrite_buckets(
        self, buckets, batch_id, operation, transform,
        sort_by_seq: bool = False, sort_by_key: bool = False,
        target_file_rows: int | None = None,
    ) -> MergeStats:
        """Shared CoW rewrite: LWW-resolve the buckets (tombstones kept),
        optionally transform, rewrite as fresh base files, ledger-commit."""
        stats = MergeStats(batch_id=batch_id)
        base_version = self.current_version()
        snap = self._snapshot(base_version)
        if str(batch_id) in snap["ledger"]:
            stats.skipped_duplicate_batch = True
            stats.committed_version = snap["ledger"][str(batch_id)]
            return stats
        table_schema = self.schema_from_snap(snap)
        if table_schema is None:
            return stats
        if buckets is None:
            buckets = [int(b) for b in self._resolve_files(snap)]
        stats.buckets_touched = len(buckets)
        resolved = self.read(version=base_version, buckets=buckets, include_tombstones=True)
        if transform is not None:
            resolved = transform(resolved)
        resolved = resolved.withColumn(_BUCKET_COL, bucket_id(F.col(self.key), self.n_buckets))
        commit_dir = self._new_commit_dir(base_version)
        self._write_partitioned(
            resolved, commit_dir, len(buckets),
            sort_seq=sort_by_seq, sort_key=sort_by_key,
            max_file_rows=target_file_rows,
        )
        new_files = self._list_written(commit_dir, snap, table_schema, stats, kind="base")
        for b in buckets:
            new_files.setdefault(str(b), [])
        self._stats_from_footers(new_files, stats, kind="base")
        for b in buckets:
            stats.per_bucket.setdefault(b, {"rows": 0, "tombstones": 0})
        return self._commit(snap, base_version, new_files, stats, table_schema, append=False, operation=operation)

    # -------------------------------------------------------- write plumbing

    def _new_commit_dir(self, base_version: int) -> str:
        return os.path.join(
            self.root, "data", f"v{base_version + 1}-{uuid.uuid4().hex[:8]}"
        )

    def _write_partitioned(
        self,
        df: DataFrame,
        commit_dir: str,
        n_buckets_hint: int,
        sort_seq: bool = False,
        sort_key: bool = False,
        max_file_rows: int | None = None,
    ) -> None:
        out = df.repartition(max(1, min(n_buckets_hint, 64)), F.col(_BUCKET_COL))
        if sort_key:
            # Cluster each bucket by the KEY: with ``max_file_rows`` each
            # rolled file covers a contiguous, non-overlapping key range, so
            # the per-file key zone map (_stats_from_footers) lets read_keys
            # open ~one file per looked-up key. Same required-ordering trick
            # as the seq clustering below.
            out = out.sortWithinPartitions(F.col(_BUCKET_COL), F.col(self.key))
        elif sort_seq:
            # Cluster each bucket by its sequence columns: with
            # ``max_file_rows`` the writer rolls a new file every N rows, so
            # each file covers a CONTIGUOUS, non-overlapping seq range — the
            # per-file ts zone map (_stats_from_footers) then lets
            # ``read(min_seq_ts=...)`` skip most of a bucket's base files
            # instead of scanning the whole bucket. Leading the sort with the
            # bucket column satisfies the partitioned writer's required
            # ordering, so no second sort is planned.
            out = out.sortWithinPartitions(
                F.col(_BUCKET_COL), *[F.col(c) for c in self.seq_cols]
            )
        self._write_files(out, commit_dir, max_file_rows)

    def _write_files(
        self, df: DataFrame, commit_dir: str, max_file_rows: int | None = None
    ) -> None:
        """The one data-file write of every commit: ``_bucket``-partitioned
        parquet under ``commit_dir``, in the lake's file format
        (:func:`lake_writer`) with the lake's footer policy. Min/max
        statistics stay on the key, the sequence columns and every
        non-byte-array column; every other string/binary leaf (page html and
        text, hashes, ``op``, nested strings) is written without them. No
        reader prunes on those columns, and parquet-mr keeps their full
        min/max in each footer whenever the pair fits in 4096 bytes — a
        third of a small delta file on ~1 KB pages. :meth:`read_keys` and
        ``read(min_seq_ts=...)`` prune on the retained columns only."""
        writer = lake_writer(df).partitionBy(_BUCKET_COL).mode("overwrite")
        for path in _blind_stat_paths(df.schema, {self.key, *self.seq_cols}):
            writer = writer.option(
                f"parquet.column.statistics.enabled#{path}", "false"
            )
        if max_file_rows is not None:
            writer = writer.option("maxRecordsPerFile", int(max_file_rows))
        writer.parquet(commit_dir)

    def _list_written(self, commit_dir, snap, table_schema, stats, kind) -> dict[str, list[dict]]:
        sid = self._next_schema_id(snap, table_schema)
        new_files: dict[str, list[dict]] = {}
        for entry in sorted(os.listdir(commit_dir)):
            if not entry.startswith(f"{_BUCKET_COL}="):
                continue
            b = entry.split("=", 1)[1]
            bdir = os.path.join(commit_dir, entry)
            flist = []
            for fn in sorted(os.listdir(bdir)):
                if fn.endswith(".parquet"):
                    fp = os.path.join(bdir, fn)
                    fe = {
                        "path": os.path.relpath(fp, self.root),
                        "schema_id": sid,
                        "kind": kind,
                        "bytes": os.path.getsize(fp),
                    }
                    flist.append(fe)
                    stats.files_written += 1
                    stats.bytes_written += fe["bytes"]
            new_files[b] = flist
        return new_files

    def _next_schema_id(self, snap: dict, table_schema: T.StructType) -> int:
        for sid, sj in snap["schemas"].items():
            if T.StructType.fromJson(sj) == table_schema:
                return int(sid)
        return (max((int(s) for s in snap["schemas"]), default=-1)) + 1

    #: operations whose result depends on state a rebase cannot revalidate:
    #: rebucket changes the layout every other commit's buckets key off;
    #: rollback would silently discard whatever landed concurrently.
    _REBASE_UNSAFE = ("rebucket", "rollback")

    def _commit(
        self,
        snap: dict,
        base_version: int,
        file_updates: dict[str, list[dict]],
        stats: MergeStats,
        table_schema: T.StructType,
        append: bool,
        operation: str = "merge",
    ) -> MergeStats:
        """Commit with optimistic-concurrency retry (Iceberg's commit loop):
        on losing the slot CAS or the pointer swap, :meth:`_rebase`
        revalidates the commit against the head's new snapshot and rebuilds
        its metadata — the already-written data files are reused verbatim,
        so a retry is metadata-only (no Spark job reruns)."""
        retries = max(0, int(self.commit_retries))
        for attempt in range(retries + 1):
            try:
                return self._commit_attempt(
                    snap, base_version, file_updates, stats, table_schema,
                    append, operation,
                )
            except ConcurrentCommitError:
                if attempt >= retries:
                    raise
                rebased = self._rebase(
                    snap, base_version, file_updates, stats, table_schema,
                    append, operation,
                )
                if rebased is None:  # batch_id landed concurrently
                    stats.skipped_duplicate_batch = True
                    stats.committed_version = self._snapshot()["ledger"][
                        str(stats.batch_id)
                    ]
                    return stats
                snap, base_version, file_updates, table_schema = rebased
        raise AssertionError("unreachable")

    def _rebase(
        self,
        snap: dict,
        base_version: int,
        file_updates: dict[str, list[dict]],
        stats: MergeStats,
        table_schema: T.StructType,
        append: bool,
        operation: str,
    ):
        """Revalidate + rebuild a lost commit against the head's new
        snapshot. Returns ``(snap, base_version, file_updates,
        table_schema)`` for the retry, ``None`` if the batch_id turned out
        to be a concurrent duplicate delivery, or raises
        ``ConcurrentCommitError`` when the commit cannot be PROVEN safe:

        - **unmoved head**: the slot was taken by another lineage's commit
          or a crashed writer's orphan — the commit is still valid as-is
          and retries on a fresh slot;
        - **append commits** (delta merge / schema-update) commute with any
          commit under LWW — the delta is a pure function of the batch, so
          the rebase equals running the merge after the winner sequentially;
        - **rewrite commits** (compact / overwrite / backfill / vacuum)
          were computed FROM the base file set, so every bucket they replace
          must be byte-identical between old and new base (read-set
          validation) — concurrent appends to OTHER buckets are inherited;
        - **rebucket / rollback** never rebase (``_REBASE_UNSAFE``);
        - concurrent schema evolution re-unions (additive schemas merge
          commutatively; a genuine conflict raises ``SchemaEvolutionError``)
          and the written files' ``schema_id`` stamps are re-pointed at the
          written schema's id under the NEW snapshot's registry.
        """
        new_base = self.current_version()
        if new_base == base_version:
            return snap, base_version, file_updates, table_schema
        new_snap = self._snapshot(new_base)
        if str(stats.batch_id) in new_snap["ledger"]:
            return None
        if operation in self._REBASE_UNSAFE:
            raise ConcurrentCommitError(
                f"{operation} cannot be rebased over concurrent commit "
                f"v{new_base} — rerun against the current snapshot"
            )
        if new_snap["n_buckets"] != snap["n_buckets"]:
            raise ConcurrentCommitError(
                "concurrent bucket-layout change (rebucket) — rerun "
                "against the new layout"
            )
        if not append and file_updates:
            old_f = self._resolve_files(self._snapshot(base_version))
            new_f = self._resolve_files(new_snap)
            dirty = [
                b for b in file_updates
                if old_f.get(b, []) != new_f.get(b, [])
            ]
            if dirty:
                raise ConcurrentCommitError(
                    f"read-set conflict: concurrent commit touched "
                    f"rewritten bucket(s) {sorted(dirty)[:8]} — rerun "
                    f"{operation} against the current snapshot"
                )
        final_schema, _ = self._evolve_schema(new_snap, table_schema)
        snap2 = json.loads(json.dumps(new_snap))
        if file_updates:
            sid_w = self._next_schema_id(snap2, table_schema)
            snap2["schemas"][str(sid_w)] = table_schema.jsonValue()
            file_updates = {
                b: [dict(fe, schema_id=sid_w) for fe in fl]
                for b, fl in file_updates.items()
            }
        return snap2, new_base, file_updates, final_schema

    def _commit_attempt(
        self,
        snap: dict,
        base_version: int,
        file_updates: dict[str, list[dict]],
        stats: MergeStats,
        table_schema: T.StructType,
        append: bool,
        operation: str = "merge",
    ) -> MergeStats:
        new_snap = json.loads(json.dumps(snap))  # deep copy
        new_snap["version"] = self._alloc_slot(base_version)
        new_snap["parent"] = base_version
        # commit kind (Iceberg snapshot `operation` analog): lets readers
        # distinguish logical changes (merge / overwrite) from physical
        # reorganizations (compact / vacuum / schema-update) — change_log()
        # relies on this to skip reorganizations instead of refusing them
        new_snap["operation"] = operation
        schema_id = self._next_schema_id(snap, table_schema)
        new_snap["schemas"][str(schema_id)] = table_schema.jsonValue()
        new_snap["current_schema_id"] = schema_id
        attempt_manifests: list[str] = []
        if file_updates:
            # file lists go into an immutable per-commit manifest, NOT the
            # snapshot — commit metadata cost is O(files in this commit)
            name = self._write_manifest(new_snap["version"], append, file_updates)
            attempt_manifests.append(name)
            new_snap["manifests"] = new_snap["manifests"] + [name]
        if len(new_snap["manifests"]) > self.MANIFEST_SQUASH:
            # consolidation rewrite: collapse base + chain into one replace
            # manifest (bounds snapshot size and resolution cost; amortized
            # O(table files / MANIFEST_SQUASH) per commit)
            full = self._resolve_files(new_snap)
            name = self._write_manifest(new_snap["version"], False, full)
            attempt_manifests.append(name)
            new_snap["manifests"] = [name]
        # what THIS commit did (Delta's per-commit operationMetrics): set on
        # every commit, never inherited from the copied parent, so the log
        # is the one record of each batch — metadata-only commits carry an
        # empty one
        new_snap["summary"] = {
            "batch_id": str(stats.batch_id),
            "files": stats.files_written,
            "bytes": stats.bytes_written,
            "buckets": {
                str(b): [p["rows"], p["tombstones"]]
                for b, p in sorted(stats.per_bucket.items())
            },
            "seq_min": _json_bound(stats.seq_min),
            "seq_max": _json_bound(stats.seq_max),
        }
        new_snap["ledger"][str(stats.batch_id)] = new_snap["version"]
        if self.ledger_keep is not None:
            # the retention window is "the last N commits ON THIS LINEAGE" —
            # with branches allocating global slots, version arithmetic
            # (version - N) would count the OTHER lineages' commit rate
            # against this lineage's window, silently shrinking the
            # exactly-once horizon. A bounded per-snapshot list of this
            # lineage's recent commit versions gives the true floor; until
            # the window has tracked N commits the Nth-back version is
            # unknowable, so nothing is trimmed (strictly conservative —
            # a table enabling retention late just trims N commits later).
            recent = list(new_snap.get("lineage_recent", []))
            recent.append(new_snap["version"])
            recent = recent[-self.ledger_keep:]
            new_snap["lineage_recent"] = recent
            floor = recent[0] - 1 if len(recent) >= self.ledger_keep else None
            dropped = (
                []
                if floor is None
                else [b for b, v in new_snap["ledger"].items() if v <= floor]
            )
            if dropped:
                for b in dropped:
                    del new_snap["ledger"][b]
                new_snap["ledger_floor"] = max(
                    new_snap.get("ledger_floor", -1), floor
                )
        # a lost slot CAS or pointer swap leaves this attempt's files
        # unreferenced forever — unlink them before the caller rebases
        mine = [os.path.join(self._meta_dir, n) for n in attempt_manifests]
        try:
            self._write_snapshot(new_snap)
            mine.append(os.path.join(self._meta_dir, f"v{new_snap['version']}.json"))
            self._swap_pointer(expected=base_version, new_version=new_snap["version"])
        except ConcurrentCommitError:
            for path in mine:
                try:
                    os.unlink(path)
                except OSError:
                    pass
            raise
        stats.committed_version = new_snap["version"]
        return stats

    # ------------------------------------------------------------- maintenance

    def vacuum_tombstones(self, batch_id: int | str, older_than: str) -> MergeStats:
        """Full compaction that also drops tombstones with seq ts < bound.

        The watermark analog: once no event older than ``older_than`` can
        arrive, its tombstones can't lose an LWW comparison and are dead state.
        """
        stats = MergeStats(batch_id=batch_id)
        base_version = self.current_version()
        snap = self._snapshot(base_version)
        if str(batch_id) in snap["ledger"]:
            stats.skipped_duplicate_batch = True
            return stats
        table_schema = self.schema_from_snap(snap)
        if table_schema is None:
            return stats
        ts_col = self.seq_cols[0]
        buckets = [int(b) for b in self._resolve_files(snap)]
        stats.buckets_touched = len(buckets)
        kept = (
            self.read(version=base_version, include_tombstones=True)
            .where(~F.col(DELETED_COL) | (F.col(ts_col) >= F.lit(older_than)))
            .withColumn(_BUCKET_COL, bucket_id(F.col(self.key), self.n_buckets))
        )
        commit_dir = self._new_commit_dir(base_version)
        self._write_partitioned(kept, commit_dir, max(len(buckets), 1))
        new_files = self._list_written(commit_dir, snap, table_schema, stats, kind="base")
        for b in buckets:
            new_files.setdefault(str(b), [])
        self._stats_from_footers(new_files, stats, kind="base")
        for b in buckets:
            stats.per_bucket.setdefault(b, {"rows": 0, "tombstones": 0})
        return self._commit(snap, base_version, new_files, stats, table_schema, append=False, operation="vacuum")

    def ledger(self) -> dict[str, int]:
        return dict(self._snapshot()["ledger"])

    def ledger_floor(self) -> int | None:
        """Highest version whose ledger entries were trimmed by
        ``ledger_keep`` retention (None = nothing ever trimmed): batch ids
        committed at or below this version can no longer be recognized as
        duplicates."""
        return self._snapshot().get("ledger_floor")

    def _chain(
        self, v: int | None, limit: int | None = None, stop: int | None = None
    ) -> list[dict]:
        """Snapshots on ``v``'s parent chain, newest first: the first
        ``limit`` of them, or down to and including ``stop``. Ends early
        where expired metadata cuts the chain."""
        out: list[dict] = []
        while v is not None and (limit is None or len(out) < limit):
            try:
                s = self._snapshot(v)
            except FileNotFoundError:
                break
            out.append(s)
            if v == stop:
                break
            v = s.get("parent")
        return out

    def expire_snapshots(
        self, keep_last: int = 10, orphan_grace_s: float | None = None
    ) -> dict:
        """Snapshot GC (Iceberg's ``expireSnapshots`` analog). Retention
        follows ``parent`` pointers, never version ranges (slot numbers
        interleave across lineages):

        - every head (main and each branch) keeps the last ``keep_last``
          commits on its own chain, metadata and data files;
        - tags stay pinned until ``drop_tag``;
        - each live branch keeps its staged segment down to and including
          its recorded fork (see :meth:`create_branch`), so
          ``publish(mode='rebase')`` and a reject can replay or retract it
          however long it stages.

        Every snapshot file in none of those sets is deleted (main's
        history past its window, a dropped branch's lineage, a crashed
        writer's orphan slot), then every manifest and data file no
        surviving snapshot references — including orphan commit
        directories left by crashes before the pointer swap. A snapshot
        file that survives GC is therefore always fully readable. Without
        this, a 10^10-event stream accrues unbounded metadata and dead
        delta/base files (every compaction strands its inputs). Idempotent
        (re-running deletes nothing new).

        **Concurrent writers** (``commit_retries``): a writer mid-commit has
        written its data files, manifest and snapshot file but not yet moved
        its head — all unreferenced, so default GC would delete them out
        from under the commit. Either quiesce writers around GC, or pass
        ``orphan_grace_s``: unreferenced files younger than the grace window
        (by mtime) are spared, exactly Iceberg's ``remove_orphan_files
        (older_than=...)`` contract — size it well beyond the longest
        in-flight commit (e.g. 3600). A snapshot file spared this way keeps
        its manifests and data files too. The grace check is maintenance-only
        wall-clock; table state and replay stay deterministic. Returns
        {files_deleted, bytes_deleted, snapshots_expired, dirs_removed,
        manifests_deleted}.
        """
        cutoff = None if orphan_grace_s is None else time.time() - orphan_grace_s

        def collectable(path: str) -> bool:  # outside the grace window
            return cutoff is None or os.path.getmtime(path) <= cutoff

        refs = self._branch_refs()
        heads = {self.current_version(), self._read_ref("CURRENT")[0]}
        retain = set(self.tags().values())
        for h in heads | {h for h, _ in refs.values()}:
            retain.update(s["version"] for s in self._chain(h, limit=max(1, keep_last)))
        for h, fork in refs.values():
            retain.update(s["version"] for s in self._chain(h, stop=fork))
        stats = {"files_deleted": 0, "bytes_deleted": 0, "snapshots_expired": 0, "dirs_removed": 0, "manifests_deleted": 0}
        # snapshot files on no retained chain (incl. orphan slots) go first:
        # a crash after this step leaves only unreferenced files behind
        survivors = set(retain)
        for v in self._snapshot_versions() - retain:
            p = os.path.join(self._meta_dir, f"v{v}.json")
            if collectable(p):
                os.remove(p)
                stats["snapshots_expired"] += 1
            else:
                survivors.add(v)
        referenced: set[str] = set()
        live_manifests: set[str] = set()
        for v in survivors:
            try:  # a pin on an already-expired snapshot
                snap = self._snapshot(v)
                resolved = self._resolve_files(snap)
            except FileNotFoundError:
                continue
            live_manifests.update(snap["manifests"])
            for files in resolved.values():
                referenced.update(os.path.normpath(fe["path"]) for fe in files)
        # data files no surviving snapshot references (incl. crash orphans)
        for dirpath, _dirnames, filenames in os.walk(self._data_dir, topdown=False):
            for fn in filenames:
                fp = os.path.join(dirpath, fn)
                rel = os.path.normpath(os.path.relpath(fp, self.root))
                if rel not in referenced and collectable(fp):
                    stats["bytes_deleted"] += os.path.getsize(fp)
                    os.remove(fp)
                    stats["files_deleted"] += 1
            if not os.listdir(dirpath) and os.path.normpath(dirpath) != os.path.normpath(self._data_dir):
                os.rmdir(dirpath)
                stats["dirs_removed"] += 1
        # manifests no surviving snapshot references
        for fn in os.listdir(self._meta_dir):
            if fn.startswith("m") and fn.endswith(".json") and fn not in live_manifests:
                mp = os.path.join(self._meta_dir, fn)
                if collectable(mp):
                    os.remove(mp)
                    stats["manifests_deleted"] += 1
        return stats

    def update_schema(self, new_schema: T.StructType, batch_id: int | str = "schema-update") -> MergeStats:
        """Explicit schema evolution: commit a metadata-only snapshot with the
        merged (additive/widened) schema — the engine's `schema-validate` +
        migration-apply gate (``boxing/run_pipeline.py:120-122``,
        ``fetch_and_update_schema.py:89-94``). Existing files are untouched;
        readers NULL-backfill added columns on alignment. Incompatible
        changes raise ``SchemaEvolutionError`` before anything moves.
        """
        stats = MergeStats(batch_id=batch_id)
        base_version = self.current_version()
        snap = self._snapshot(base_version)
        if str(batch_id) in snap["ledger"]:
            stats.skipped_duplicate_batch = True
            stats.committed_version = snap["ledger"][str(batch_id)]
            return stats
        merged, changed = self._evolve_schema(snap, new_schema)
        stats.schema_evolved = changed
        return self._commit(snap, base_version, {}, stats, merged, append=True, operation="schema-update")

    def rollback(self, to_version: int | str, batch_id: int | str | None = None) -> MergeStats:
        """RESTORE the table to an earlier snapshot as a NEW commit — the
        Delta ``RESTORE`` / Iceberg rollback analog, roll-forward style: no
        snapshot file is rewritten and history is preserved, the new version
        simply references the old snapshot's manifests and schema
        (metadata-only, zero data movement; the restored files still exist
        unless :meth:`expire_snapshots` already GC'd that version — then this
        raises ``FileNotFoundError`` before anything changes).

        The commit ledger also reverts to the target snapshot's (plus this
        rollback's own entry): batches undone by the rollback are no longer
        marked applied, so replaying them re-applies cleanly instead of being
        skipped as duplicates — exactly-once is exactly-once onto the current
        state line. Idempotent per ``batch_id`` like every commit path.
        """
        to_version = self._resolve_version(to_version)
        base_version = self.current_version()
        if to_version >= base_version:
            raise ValueError(
                f"rollback target v{to_version} is not older than current v{base_version}"
            )
        bid = f"rollback-{to_version}" if batch_id is None else batch_id
        stats = MergeStats(batch_id=bid)
        cur = self._snapshot(base_version)
        if str(bid) in cur["ledger"]:
            stats.skipped_duplicate_batch = True
            stats.committed_version = cur["ledger"][str(bid)]
            return stats
        old = self._snapshot(to_version)  # FileNotFoundError if expired
        schema = self.schema_from_snap(old)
        if schema is None:
            raise ValueError(f"v{to_version} has no schema (pre-data snapshot)")
        out = self._commit(
            old, base_version, {}, stats, schema, append=True, operation="rollback"
        )
        # the restore reverts layout metadata too: a rollback across a
        # rebucket must put subsequent merges back on the restored layout
        self.n_buckets = old["n_buckets"]
        return out

    def history(self) -> list[dict]:
        """Snapshot log (oldest→newest): version, parent, schema id, batch
        ids committed at that version, and each commit's own ``summary``
        (files, bytes, per-bucket ``[rows, tombstones]``, tie-column span)
        — Iceberg's snapshot history analog, also the audit trail for
        replay verification and the source of the pipeline's throughput
        report."""
        return [
            {
                "version": s["version"],
                "parent": s["parent"],
                "operation": s.get("operation"),
                "schema_id": s["current_schema_id"],
                "batches": [b for b, ver in s["ledger"].items() if ver == s["version"]],
                "summary": s["summary"],
            }
            # ends where expire_snapshots() removed older snapshots
            for s in reversed(self._chain(self.current_version()))
        ]

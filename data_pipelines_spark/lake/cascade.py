"""Cascading CDC: drive a downstream LakeTable from an upstream table's own
change log — the medallion (bronze → silver) composition.

The reference's pipeline is itself a cascade: the raw-html lake feeds the
staging mirror, which feeds the publish tier, each hop re-applying row
upserts downstream (``boxing/load/to_staging_mirror_db.py:263-267`` reads
the lake tier; ``boxing/database/deploy/preview.py`` re-applies staging to
the publish tier). Here the hop is CDC-native: every upstream MERGE commit
becomes exactly one downstream batch, pulled from
:meth:`LakeTable.change_log` (O(changes), never O(table)) and applied
through the standard LWW merge — so the downstream tier inherits
out-of-order protection, tombstones, schema evolution and exactly-once
from the same machinery, and the two tiers converge to the same LWW state
for the shared keys regardless of sync cadence.

Exactly-once across crashes needs no extra protocol: the downstream batch
id is the deterministic ``cascade:<upstream_version>``, so a re-delivered
hop is skipped by the downstream snapshot ledger; the resume marker is
just an optimization (crash between commit and marker write → the next
sync re-applies the version and the ledger skips it).

Scale shape: each hop is one delta-merge job over ONE upstream commit's
delta files — the downstream per-batch floor equals the upstream's, and a
lagging cascade catching up over k commits runs k bounded jobs rather than
one unbounded table diff. Upstream commits that fold changes into base
files (overwrite, rollback, backfill) have no delta rows — the
cascade surfaces :class:`ChangeLogUnavailableError` and the remedy is
:meth:`Cascade.rebuild` (same contract as ``AggView.rebuild`` after a
backfill). Upstream ``expire_snapshots`` retention bounds how far back a
lagging cascade can catch up; beyond it, rebuild.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_pipelines_spark.lake.table import LakeTable, MergeStats


class CascadeLagError(RuntimeError):
    """The upstream versions this cascade still needs are gone (expired)."""


class Cascade:
    """One upstream→downstream hop of a table cascade.

    ``transform`` (df → df, optional) runs on each hop's change rows before
    the downstream merge — the silver-tier projection/enrichment. It may
    filter rows and add columns (downstream schema evolution applies) but
    must preserve ``op``, the key and the sequence columns; sequences pass
    through untouched, so downstream LWW replays upstream order exactly.
    A FILTERING transform must let ``op='D'`` rows through (tombstone
    payloads are NULL, so a payload predicate silently drops them and
    upstream deletes stop propagating) — gate predicates with
    ``(F.col("op") == "D") | predicate``.
    """

    def __init__(
        self,
        upstream: LakeTable,
        downstream: LakeTable,
        transform=None,
    ):
        if (upstream.key, upstream.seq_cols) != (downstream.key, downstream.seq_cols):
            raise ValueError(
                "cascade requires identical key/sequence columns on both "
                f"tables (upstream {upstream.key}/{upstream.seq_cols}, "
                f"downstream {downstream.key}/{downstream.seq_cols})"
            )
        self.upstream = upstream
        self.downstream = downstream
        self.transform = transform
        self._marker_path = os.path.join(
            downstream.root, "_cascade", "marker.json"
        )

    # ------------------------------------------------------------- marker

    def applied_upstream_version(self) -> int:
        """Highest upstream version applied downstream (0 = nothing yet)."""
        try:
            with open(self._marker_path) as f:
                return int(json.load(f)["upstream_version"])
        except (FileNotFoundError, KeyError, ValueError):
            return 0

    def _write_marker(self, version: int) -> None:
        os.makedirs(os.path.dirname(self._marker_path), exist_ok=True)
        tmp = self._marker_path + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(
                {"upstream_version": version, "upstream_root": self.upstream.root},
                f,
            )
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self._marker_path)

    # --------------------------------------------------------------- sync

    def sync(self, to_version: int | str | None = None) -> list[MergeStats]:
        """Apply every upstream commit in ``(applied, to_version]`` downstream,
        one exactly-once batch per upstream MERGE commit (reorganization
        commits — compact/vacuum/rebucket/schema-update — carry no logical
        change and only advance the marker). Idempotent: re-running after a
        crash re-offers already-applied versions and the downstream ledger
        skips them."""
        from data_pipelines_spark.lake.table import ChangeLogUnavailableError

        to_v = self.upstream._resolve_version(to_version)
        if to_v is None:
            to_v = self.upstream.current_version()
        start = self.applied_upstream_version()
        if start > to_v:
            raise ValueError(
                f"downstream is at upstream v{start}, beyond requested v{to_v}"
            )
        # walk the upstream parent chain (NOT version arithmetic: on a
        # branch-enabled upstream version slots are global, so numbers in
        # (start, to_v] may belong to other lineages and v-1 is not the
        # commit's pre-image)
        chain: list[tuple[int, dict]] = []
        v = to_v
        while v != start:
            try:
                s = self.upstream._snapshot(v)
            except FileNotFoundError as e:
                raise CascadeLagError(
                    f"upstream v{v} metadata/files expired before this "
                    "cascade caught up — rebuild() the downstream table "
                    "(size upstream expire_snapshots retention beyond the "
                    "sync cadence)"
                ) from e
            chain.append((v, s))
            p = s.get("parent")
            if p is None or p < start:
                raise ValueError(
                    f"upstream v{start} is not an ancestor of v{to_v} — "
                    "the sync range spans divergent lineages"
                )
            v = p
        out: list[MergeStats] = []
        for v, snap_v in reversed(chain):
            op = snap_v.get("operation")
            if op in ("compact", "vacuum", "schema-update", "rebucket"):
                # physical/metadata reorganizations carry no logical
                # change — advance the marker with zero downstream jobs
                self._write_marker(v)
                continue
            try:
                batch = self.upstream.change_log(snap_v["parent"], v)
            except FileNotFoundError as e:
                raise CascadeLagError(
                    f"upstream v{v} metadata/files expired before this "
                    "cascade caught up — rebuild() the downstream table "
                    "(size upstream expire_snapshots retention beyond the "
                    "sync cadence)"
                ) from e
            except ChangeLogUnavailableError:
                raise  # fold-into-base commit upstream: rebuild() is the remedy
            rows = batch.drop("_commit_version")
            if self.transform is not None:
                rows = self.transform(rows)
            out.append(self.downstream.merge(rows, batch_id=f"cascade:{v}"))
            self._write_marker(v)
        return out

    # ------------------------------------------------------------ rebuild

    def rebuild(self) -> MergeStats:
        """Full re-sync via downstream ``INSERT OVERWRITE``: replace the
        downstream state with the transformed upstream CURRENT state
        (tombstones carried, sequences untouched) — the remedy after a
        fold-into-base upstream commit (backfill / rollback / overwrite) or
        expired lag. Because overwrite does not consult the downstream's
        stored sequences, this converges even when the
        downstream is "ahead" (upstream rolled back) — the one case a
        merge-based rebuild could never fix. Exactly-once per upstream
        version via the deterministic batch id."""
        u_version = self.upstream.current_version()
        state = self.upstream.read(include_tombstones=True)
        from data_pipelines_spark.lake.table import DELETED_COL

        rows = state.select(
            F.when(F.col(DELETED_COL), F.lit("D")).otherwise(F.lit("U")).alias("op"),
            *[c for c in state.columns if c != DELETED_COL],
        )
        if self.transform is not None:
            rows = self.transform(rows)
        stats = self.downstream.overwrite(
            rows, batch_id=f"cascade-rebuild:{u_version}"
        )
        self._write_marker(u_version)
        return stats

    # ------------------------------------------------------------- status

    def lag(self) -> int:
        """Upstream commits not yet applied downstream — counted along the
        upstream parent chain (slot subtraction would overcount on a
        branch-enabled upstream, where other lineages burn slot numbers).
        If the chain's metadata was partially expired, returns the commits
        counted before the gap (a lower bound; sync fails loud there)."""
        start = self.applied_upstream_version()
        n = 0
        v: int | None = self.upstream.current_version()
        try:
            while v is not None and v > start:
                n += 1
                v = self.upstream._snapshot(v).get("parent")
        except FileNotFoundError:
            pass
        return n


def chain(tables: list[LakeTable], transforms: list | None = None) -> list[Cascade]:
    """Convenience: link N tables into a bronze→silver→gold… chain."""
    transforms = transforms or [None] * (len(tables) - 1)
    return [
        Cascade(tables[i], tables[i + 1], transforms[i])
        for i in range(len(tables) - 1)
    ]

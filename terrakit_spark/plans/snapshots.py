"""Snapshot-committed Parquet tables with per-partition lineage — the
engine's checkpoint/resume layer (north rule: "resumable from checkpoint
with per-partition lineage + metrics").

Semantics mirror Iceberg's snapshot model (and upgrade the reference's
file-presence idempotence: shapefiles are not overwritten,
/root/reference/terrakit/transform/labels.py:117-121, and its append-only
metadata JSON with step_order + atomic tmp+rename,
/root/reference/terrakit/general_utils/curation_metadata.py:46-99):

- a table is a directory; every commit writes data files under
  data/snap=<id>/ and then atomically renames a JSON manifest into
  _snapshots/. Readers see ONLY data referenced by committed manifests, so
  a crashed writer leaves invisible orphans, never a torn table.
- each manifest records the step name, wall-clock, row count, and
  per-partition row counts (the lineage metrics table).
- resume = anti-join of the input's partition keys against the committed
  partition keys; only unprocessed partitions are computed.

When a real Iceberg catalog is on the classpath the same call sites can
write through `writeTo(...)`; this layer keeps the semantics testable in a
jar-less environment."""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass
class Snapshot:
    snapshot_id: int
    step: str
    step_order: int
    committed_at: float
    n_rows: int
    partition_col: str | None
    partition_rows: dict[str, int]
    data_dir: str
    # column -> type, recorded at commit; older manifests lack it (None)
    schema: dict[str, str] | None = None


class SnapshotTable:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(os.path.join(root, "_snapshots"), exist_ok=True)
        os.makedirs(os.path.join(root, "data"), exist_ok=True)

    # ------------------------------------------------------------ manifests
    def snapshots(self) -> list[Snapshot]:
        out = []
        sdir = os.path.join(self.root, "_snapshots")
        for f in sorted(os.listdir(sdir)):
            if not f.endswith(".json"):
                continue
            with open(os.path.join(sdir, f)) as fh:
                j = json.load(fh)
            out.append(Snapshot(**j))
        return out

    def next_snapshot_id(self) -> int:
        snaps = self.snapshots()
        return (max(s.snapshot_id for s in snaps) + 1) if snaps else 0

    # ------------------------------------------------------------ commit
    def commit(self, df: DataFrame, step: str, partition_col: str | None = None) -> Snapshot:
        """Write df as a new snapshot. Data first, manifest last (atomic
        rename) — the commit point is the rename. The written data is read
        back with df's known schema (no inference job) by ONE query: the
        per-partition group-by, whose counts sum to n_rows, or a count()
        without a partition column.

        The data dir carries a fresh uuid suffix so commit is
        crash-retryable: a writer that dies after writing data but before
        the manifest rename leaves an orphan dir that no manifest references
        and no retry ever collides with (retries get a new uuid)."""
        schema = dict(df.dtypes)
        prev = [sn for sn in self.snapshots() if sn.schema is not None]
        if prev:
            # Iceberg-style evolution guard (checked BEFORE any data write):
            # adding columns is fine, but a committed column may never
            # change type or disappear — readers union every snapshot's
            # data files.
            last = prev[-1].schema
            broken = {c: (t, schema.get(c)) for c, t in last.items() if schema.get(c) != t}
            if broken:
                raise ValueError(
                    f"incompatible schema change vs snapshot {prev[-1].snapshot_id}: {broken}"
                )
        sid = self.next_snapshot_id()
        data_dir = os.path.join(self.root, "data", f"snap={sid}-{uuid.uuid4().hex[:8]}")
        df.write.mode("errorifexists").parquet(data_dir)

        committed = df.sparkSession.read.schema(df.schema).parquet(data_dir)
        if partition_col is None:
            n_rows, part_rows = committed.count(), {}
        else:
            part_rows = {str(k): n for k, n in committed.groupBy(partition_col).count().collect()}
            n_rows = sum(part_rows.values())

        manifest = Snapshot(
            snapshot_id=sid,
            step=step,
            step_order=len(self.snapshots()),  # curation_metadata.py:75-82 semantics
            committed_at=time.time(),
            n_rows=n_rows,
            partition_col=partition_col,
            partition_rows=part_rows,
            data_dir=data_dir,
            schema=schema,
        )
        tmp = os.path.join(self.root, "_snapshots", f".tmp-{uuid.uuid4().hex}.json")
        with open(tmp, "w") as fh:
            json.dump(manifest.__dict__, fh)
        # Optimistic concurrency (Iceberg-style commit CAS): link() fails
        # with EEXIST if another writer claimed this snapshot id — rename()
        # would silently CLOBBER the winner's manifest and orphan its data.
        # On conflict, retry with the next id (same data dir, new manifest).
        while True:
            final = os.path.join(self.root, "_snapshots", f"{manifest.snapshot_id:012d}.json")
            try:
                os.link(tmp, final)
                break
            except FileExistsError:
                manifest.snapshot_id = self.next_snapshot_id()
                manifest.step_order = len(self.snapshots())
                with open(tmp, "w") as fh:
                    json.dump(manifest.__dict__, fh)
        os.unlink(tmp)
        return manifest

    # ------------------------------------------------------------ read
    def read(self, spark: SparkSession, as_of: int | None = None) -> DataFrame | None:
        """Read the committed table; with ``as_of`` only snapshots with
        snapshot_id <= as_of are visible (Iceberg time-travel semantics).
        The latest visible manifest's schema (by the evolution guard, a
        superset of every earlier one) is passed to the reader, so a read
        launches no job and a column added by a later snapshot reads as
        NULL in earlier files; manifests without a schema infer it."""
        snaps = [s for s in self.snapshots() if as_of is None or s.snapshot_id <= as_of]
        if not snaps:
            return None
        reader = spark.read
        if snaps[-1].schema is not None:
            reader = reader.schema(", ".join(f"`{c.replace('`', '``')}` {t}" for c, t in snaps[-1].schema.items()))
        return reader.parquet(*[s.data_dir for s in snaps])

    def remove_orphans(self, grace_seconds: float = 3600.0) -> list[str]:
        """Iceberg-maintenance analogue (remove_orphan_files): delete data
        dirs no manifest references — the leftovers of crashed writers.

        An unreferenced dir is only *proven* orphaned for a writer that has
        already died: a LIVE writer may have finished its data write but not
        yet linked its manifest (the exact window the link-CAS commit
        supports). Like Iceberg's ``older_than`` default, dirs whose mtime
        is within ``grace_seconds`` are therefore skipped — only dirs old
        enough that no in-flight commit can still claim them are removed.
        Pass ``grace_seconds=0`` only when no writer can be live (tests,
        single-writer offline maintenance)."""
        import shutil

        referenced = {os.path.basename(s.data_dir) for s in self.snapshots()}
        cutoff = time.time() - grace_seconds
        removed = []
        ddir = os.path.join(self.root, "data")
        for name in sorted(os.listdir(ddir)):
            path = os.path.join(ddir, name)
            if name not in referenced and os.path.getmtime(path) <= cutoff:
                shutil.rmtree(path)
                removed.append(name)
        return removed

    def committed_partitions(self) -> set[str]:
        keys: set[str] = set()
        for s in self.snapshots():
            keys.update(s.partition_rows.keys())
        return keys

    def lineage_df(self, spark: SparkSession) -> DataFrame:
        rows = [
            (s.snapshot_id, s.step, s.step_order, float(s.committed_at), s.n_rows, json.dumps(s.partition_rows))
            for s in self.snapshots()
        ]
        return spark.createDataFrame(
            rows, "snapshot_id long, step string, step_order int, committed_at double, n_rows long, partition_rows string"
        )


def run_with_resume(
    spark: SparkSession,
    input_df: DataFrame,
    partition_col: str,
    stage_fn,
    table: SnapshotTable,
    step: str,
) -> tuple[Snapshot | None, int]:
    """Process only partitions not yet committed (anti-join on lineage).
    Returns (new snapshot or None, number of partitions processed)."""
    done = table.committed_partitions()
    if done:
        done_df = spark.createDataFrame([(k,) for k in done], f"{partition_col}_done string")
        remaining = input_df.join(
            done_df,
            input_df[partition_col].cast("string") == done_df[f"{partition_col}_done"],
            "left_anti",
        )
    else:
        remaining = input_df
    n_parts = remaining.select(partition_col).distinct().count()
    if n_parts == 0:
        return None, 0
    out = stage_fn(remaining)
    snap = table.commit(out, step=step, partition_col=partition_col)
    return snap, n_parts

"""Snapshot commit/read/resume semantics (north rule: resumable from
checkpoint with per-partition lineage + row-count metrics)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from terrakit_spark.plans.snapshots import SnapshotTable, run_with_resume


def test_commit_read_and_lineage(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "tbl"))
    df1 = spark.range(10).withColumn("p", (F.col("id") % 2).cast("string"))
    s1 = t.commit(df1, step="stage1", partition_col="p")
    assert s1.snapshot_id == 0 and s1.n_rows == 10
    assert s1.partition_rows == {"0": 5, "1": 5}

    df2 = spark.range(10, 16).withColumn("p", F.lit("2"))
    s2 = t.commit(df2, step="stage1", partition_col="p")
    assert s2.step_order == 1

    got = t.read(spark)
    assert got.count() == 16
    lin = t.lineage_df(spark).collect()
    assert [r.step_order for r in lin] == [0, 1]


def test_commit_reads_back_with_one_query_and_read_runs_none(spark, tmp_path):
    """Beyond its write, a partitioned commit runs exactly the per-partition
    group-by over the written files (no schema inference, no count); a
    read launches no job."""
    from tests.util import jobs_launched

    df = spark.range(10).withColumn("p", (F.col("id") % 2).cast("string"))
    path = str(tmp_path / "plain")
    _, write = jobs_launched(spark, lambda: df.write.parquet(path))
    _, back = jobs_launched(spark, lambda: spark.read.schema(df.schema).parquet(path).groupBy("p").count().collect())
    t = SnapshotTable(str(tmp_path / "tbl"))
    snap, commit = jobs_launched(spark, lambda: t.commit(df, step="s", partition_col="p"))
    assert commit == write + back and snap.n_rows == 10
    got, read = jobs_launched(spark, lambda: t.read(spark))
    assert read == 0 and got.count() == 10


def test_crashed_writer_invisible(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "tbl"))
    t.commit(spark.range(5).withColumn("p", F.lit("a")), step="s", partition_col="p")
    # simulate a crash: data written but no manifest
    orphan = os.path.join(str(tmp_path / "tbl"), "data", "snap=99")
    spark.range(100).write.parquet(orphan)
    assert t.read(spark).count() == 5  # orphan invisible


def test_crashed_commit_is_retryable(spark, tmp_path):
    """A writer that died after writing data (no manifest) must not block
    the retry: retries write under a fresh uuid-suffixed dir, never
    colliding with the orphan."""
    t = SnapshotTable(str(tmp_path / "tbl"))
    t.commit(spark.range(5).withColumn("p", F.lit("a")), step="s", partition_col="p")
    # simulate: next commit (sid=1) wrote its data dir, then crashed
    orphan = os.path.join(str(tmp_path / "tbl"), "data", "snap=1-deadbeef")
    spark.range(100).write.parquet(orphan)
    s = t.commit(spark.range(7).withColumn("p", F.lit("b")), step="s", partition_col="p")
    assert s.snapshot_id == 1
    assert t.read(spark).count() == 12  # orphan still invisible


def test_remove_orphans(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "tbl"))
    t.commit(spark.range(5).withColumn("p", F.lit("a")), step="s", partition_col="p")
    orphan = os.path.join(str(tmp_path / "tbl"), "data", "snap=1-deadbeef")
    spark.range(100).write.parquet(orphan)
    # a fresh orphan could belong to a live writer mid-commit: the default
    # grace window must protect it
    assert t.remove_orphans() == []
    assert os.path.exists(orphan)
    removed = t.remove_orphans(grace_seconds=0)
    assert removed == ["snap=1-deadbeef"]
    assert not os.path.exists(orphan)
    assert t.read(spark).count() == 5  # committed data untouched
    assert t.remove_orphans(grace_seconds=0) == []  # idempotent


def test_resume_skips_committed_partitions(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "tbl"))
    inp = spark.range(100).withColumn("p", (F.col("id") % 4).cast("string"))

    calls = []

    def stage(df):
        calls.append(1)
        return df.withColumn("out", F.col("id") * 2)

    snap, n = run_with_resume(spark, inp.filter("p IN ('0','1')"), "p", stage, t, "s")
    assert n == 2 and snap.n_rows == 50

    # second run over the FULL input: only partitions 2,3 processed
    snap2, n2 = run_with_resume(spark, inp, "p", stage, t, "s")
    assert n2 == 2 and snap2.n_rows == 50
    assert t.read(spark).count() == 100

    # third run: nothing left
    snap3, n3 = run_with_resume(spark, inp, "p", stage, t, "s")
    assert snap3 is None and n3 == 0


def test_time_travel_read(spark, tmp_path):
    from terrakit_spark.plans.snapshots import SnapshotTable

    t = SnapshotTable(str(tmp_path / "tt"))
    t.commit(spark.range(3).withColumn("p", F.lit("a")), step="s1", partition_col="p")
    t.commit(spark.range(4).withColumn("p", F.lit("b")), step="s2", partition_col="p")
    assert t.read(spark).count() == 7
    assert t.read(spark, as_of=0).count() == 3
    assert t.read(spark, as_of=99).count() == 7


def test_schema_evolution_guard(spark, tmp_path):
    """Adding columns is allowed (reads use the latest manifest's schema,
    so earlier snapshots' rows get NULLs); changing a committed column's
    type or dropping it is refused at commit time."""
    import pytest

    t = SnapshotTable(str(tmp_path / "tbl"))
    t.commit(spark.range(3).withColumn("p", F.lit("a")), step="s", partition_col="p")
    # widening: extra column ok
    t.commit(
        spark.range(3).withColumn("p", F.lit("b")).withColumn("extra", F.lit(1.5)),
        step="s",
        partition_col="p",
    )
    got = t.read(spark)
    assert got.columns == ["id", "p", "extra"]
    assert sorted((r.p, r.extra) for r in got.collect()) == [("a", None)] * 3 + [("b", 1.5)] * 3
    # type change on a committed column -> refused, nothing committed
    bad = spark.range(3).withColumn("p", F.lit(7))  # p was string
    with pytest.raises(ValueError, match="incompatible schema change"):
        t.commit(bad, step="s", partition_col="p")
    assert len(t.snapshots()) == 2


def test_concurrent_commit_does_not_clobber(spark, tmp_path):
    """If another writer claims the same snapshot id between our id pick
    and the manifest publish, the commit must NOT overwrite that manifest
    (which would orphan the winner's data) — it retries with the next id."""
    import json

    t = SnapshotTable(str(tmp_path / "tbl"))
    t.commit(spark.range(3).withColumn("p", F.lit("a")), step="s", partition_col="p")
    # simulate a racing writer that already published snapshot id 1
    racer = os.path.join(str(tmp_path / "tbl"), "_snapshots", f"{1:012d}.json")
    racer_dir = os.path.join(str(tmp_path / "tbl"), "data", "snap=1-racer")
    spark.range(7).withColumn("p", F.lit("r")).write.parquet(racer_dir)
    with open(racer, "w") as fh:
        json.dump(
            dict(
                snapshot_id=1, step="racer", step_order=1, committed_at=0.0,
                n_rows=7, partition_col="p", partition_rows={"r": 7},
                data_dir=racer_dir, schema={"id": "bigint", "p": "string"},
            ),
            fh,
        )
    s = t.commit(spark.range(5).withColumn("p", F.lit("b")), step="s", partition_col="p")
    assert s.snapshot_id == 2  # bumped past the racer, nothing clobbered
    snaps = {sn.snapshot_id: sn.step for sn in t.snapshots()}
    assert snaps == {0: "s", 1: "racer", 2: "s"}
    assert t.read(spark).count() == 3 + 7 + 5


def test_iceberg_probe_seam(spark):
    """iceberg_jar() finds no jar in this container -> the snapshot layer
    is the active checkpoint path and no iceberg catalog is configured.
    When a jar is provisioned ($SPARK_GRAFT_ICEBERG_JAR) the session wires
    a hadoop catalog named 'iceberg' and the writeTo test below runs."""
    from terrakit_spark.session import iceberg_jar

    jar = iceberg_jar()
    if jar is None:
        assert spark.conf.get("spark.sql.catalog.iceberg", None) is None
    else:
        assert spark.conf.get("spark.sql.catalog.iceberg", None) is not None


def test_iceberg_writeto_roundtrip(spark):
    from terrakit_spark.session import iceberg_jar

    import pytest

    if iceberg_jar() is None or spark.conf.get("spark.sql.catalog.iceberg", None) is None:
        pytest.skip("no iceberg-spark-runtime jar in this container")
    spark.range(10).writeTo("iceberg.probe_t").createOrReplace()
    assert spark.table("iceberg.probe_t").count() == 10
    assert spark.sql("SELECT count(*) FROM iceberg.probe_t.snapshots").collect()[0][0] >= 1

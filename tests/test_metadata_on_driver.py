"""Table manifests and epoch ledgers are read and written on the driver.

Covers the driver-side metadata path of ``sources/snapshots.py`` and the
epoch ledger of ``streaming/pipeline.py``: how many Spark jobs the
metadata operations launch, that ledgers and manifests written by the
earlier Spark-job writers read the same through the pyarrow readers, and
that crash leftovers (hidden temporary files, a stale manifest directory)
are never read as committed state.
"""

from __future__ import annotations

import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import StructType

from demo_bigdata_spark.sources import snapshots as S
from demo_bigdata_spark.streaming.pipeline import (
    _read_parquet_if_exists,
    commit_epoch,
    committed_view,
    epoch_already_applied,
    ledger_epochs,
)


def _kv(spark, rows):
    return spark.createDataFrame(rows, "k long, v string")


def _keys(spark, path):
    return sorted(r["k"] for r in S.read_table(spark, path).collect())


def _jobs(spark, fn):
    """(result, number of Spark jobs ``fn`` launched), counted with the
    status tracker under a job group of its own."""
    sc = spark.sparkContext
    group = f"jobcount-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _old_spark_commit(spark, path, snap, entries, with_meta=True):
    """The Spark-job manifest writer tables used to be committed with
    (``_SUCCESS`` and ``.crc`` files included), then the pointer swap."""
    rows = [(f, k, e, i, m) for i, (f, k, e, m) in enumerate(entries)]
    ddl = "file string, kind string, epoch_id long, seq int, meta string"
    if not with_meta:  # the pre-stats manifest layout
        rows = [r[:4] for r in rows]
        ddl = "file string, kind string, epoch_id long, seq int"
    spark.createDataFrame(rows, ddl).coalesce(1).write.mode("overwrite").parquet(
        S._manifest_path(path, snap)
    )
    S._swap_pointer(path, snap)


def test_metadata_operations_launch_no_spark_jobs(spark, tmp_path):
    path = str(tmp_path / "t")
    S.create_table(spark, path, _kv(spark, [(1, "a")]), stats_cols=["k"])
    batch = _kv(spark, [(2, "b"), (3, "c")])

    snap, n = _jobs(spark, lambda: S.append_snapshot_epoch(spark, path, batch, 0))
    assert snap == 2 and n == 1  # the data-file write only
    replay, n = _jobs(spark, lambda: S.append_snapshot_epoch(spark, path, batch, 0))
    assert replay is None and n == 0
    assert _keys(spark, path) == [1, 2, 3]

    ledger = str(tmp_path / "t_epochs")
    _, n = _jobs(spark, lambda: commit_epoch(spark, ledger, 4))
    assert n == 0
    applied, n = _jobs(spark, lambda: epoch_already_applied(spark, ledger, 4))
    assert applied and n == 0
    missing, n = _jobs(spark, lambda: epoch_already_applied(spark, ledger, 5))
    assert not missing and n == 0


def test_spark_written_ledger_reads_the_same(spark, tmp_path):
    ledger = str(tmp_path / "rows_epochs")
    for e in (0, 1):
        spark.createDataFrame([(e,)], "epoch_id long").write.mode("append").parquet(
            ledger
        )
    names = os.listdir(ledger)
    assert "_SUCCESS" in names and any(n.endswith(".crc") for n in names)

    assert ledger_epochs(ledger) == [0, 1]
    assert epoch_already_applied(spark, ledger, 1)
    assert not epoch_already_applied(spark, ledger, 2)
    commit_epoch(spark, ledger, 2)  # a mixed ledger: Spark and pyarrow files
    assert ledger_epochs(ledger) == [0, 1, 2]
    both = spark.read.parquet(ledger)
    assert dict(both.dtypes) == {"epoch_id": "bigint"}
    assert sorted(r["epoch_id"] for r in both.collect()) == [0, 1, 2]

    rows = str(tmp_path / "rows")
    spark.createDataFrame(
        [(i, i % 4) for i in range(8)], "doc_id long, epoch_id long"
    ).write.parquet(rows)
    view = committed_view(spark, rows, ledger, ["doc_id", "epoch_id"], "x long")
    assert sorted(r["doc_id"] for r in view.collect()) == [0, 1, 2, 4, 5, 6]


def test_manifests_read_alike_across_writers(spark, tmp_path):
    from demo_bigdata_spark.sources.snapshot_cdc import (
        _infer_ddl,
        _SnapshotAppendsStreamReader,
    )

    path = str(tmp_path / "t")
    S.create_table(spark, path, _kv(spark, [(1, "a"), (2, "b")]))
    old_files = S._write_files(_kv(spark, [(3, "c")]), path, "data")
    old_entries = S._manifest_entries(path, 1) + [
        (f, "data", 7, None) for f in old_files
    ]
    _old_spark_commit(spark, path, 2, old_entries)
    names = os.listdir(S._manifest_path(path, 2))
    assert "_SUCCESS" in names and any(n.endswith(".crc") for n in names)

    # a Spark-written manifest through the pyarrow reader
    assert S._manifest_entries(path, 2) == old_entries
    assert _keys(spark, path) == [1, 2, 3]
    assert S.append_snapshot_epoch(spark, path, _kv(spark, [(9, "z")]), 7) is None
    n1 = len(S._manifest_rows(path, 1))
    assert {h["snapshot"]: h["data"] for h in S.snapshot_history(spark, path)} == {
        1: n1,
        2: n1 + len(old_files),
    }

    # a pyarrow-written manifest through Spark (table_files) and the CDC source
    assert S.append_snapshot_epoch(spark, path, _kv(spark, [(4, "d")]), 8) == 3
    (mfile,) = S._visible_files(S._manifest_path(path, 3))
    schema = pq.read_schema(mfile)
    assert schema.field("epoch_id").type == pa.int64()
    assert schema.field("seq").type == pa.int32()
    files = S.table_files(spark, path)
    assert dict(files.dtypes) == {
        "file": "string",
        "kind": "string",
        "epoch_id": "bigint",
        "seq": "int",
        "meta": "string",
    }
    assert [r.asDict() for r in files.collect()] == S._manifest_rows(path, 3)
    new_files = [r["file"] for r in S._manifest_rows(path, 3) if r["epoch_id"] == 8]
    reader = _SnapshotAppendsStreamReader(
        {"path": path}, StructType.fromDDL("k long, v string")
    )
    window = reader.partitions({"snap": 1}, {"snap": 3})
    assert [p.file for p in window] == old_files + new_files
    assert _infer_ddl(path) == "`k` bigint, `v` string"

    # pre-stats manifests (no meta column) still read, with meta None
    _old_spark_commit(spark, path, 4, S._manifest_entries(path, 3), with_meta=False)
    assert all(r["meta"] is None for r in S._manifest_rows(path, 4))
    assert _keys(spark, path) == [1, 2, 3, 4]


def test_crash_leftovers_are_invisible(spark, tmp_path):
    # a commit that died between the temporary file and its rename
    ledger = str(tmp_path / "l_epochs")
    os.makedirs(ledger)
    leftover = pa.table({"epoch_id": pa.array([5], pa.int64())})
    pq.write_table(leftover, os.path.join(ledger, ".part-x.parquet.tmp"))
    assert ledger_epochs(ledger) is None
    assert _read_parquet_if_exists(spark, ledger) is None
    commit_epoch(spark, ledger, 0)
    assert ledger_epochs(ledger) == [0]
    assert [r["epoch_id"] for r in spark.read.parquet(ledger).collect()] == [0]

    path = str(tmp_path / "t")
    S.create_table(spark, path, _kv(spark, [(1, "a")]))
    bogus = S._write_files(_kv(spark, [(99, "x")]), path, "data")
    pq.write_table(
        pa.table(
            {
                "file": bogus,
                "kind": ["data"],
                "epoch_id": pa.array([-1], pa.int64()),
                "seq": pa.array([1], pa.int32()),
                "meta": pa.array([None], pa.string()),
            }
        ),
        os.path.join(S._manifest_path(path, 1), ".part-y.parquet.tmp"),
    )
    assert len(S._manifest_rows(path, 1)) == 1
    assert _keys(spark, path) == [1]


def test_stale_manifest_is_replaced_before_the_pointer_swap(
    spark, tmp_path, monkeypatch
):
    path = str(tmp_path / "t")
    S.create_table(spark, path, _kv(spark, [(1, "a")]))
    S.append_snapshot(spark, path, _kv(spark, [(2, "b")]))
    S.rollback(path, 1)  # snapshot 2's manifest is now stale
    base = {r["file"] for r in S._manifest_rows(path, 1)}
    stale = {r["file"] for r in S._manifest_rows(path, 2)} - base

    def crash(*_):
        raise RuntimeError("crash before the pointer swap")

    # the crashed writer's claims are stolen by the redo below
    advance = S._advance_ref
    monkeypatch.setattr(S, "_STALE_CLAIM_SECONDS", 0.0)
    monkeypatch.setattr(S, "_advance_ref", crash)
    with pytest.raises(RuntimeError, match="pointer swap"):
        S.append_snapshot(spark, path, _kv(spark, [(3, "c")]))
    assert S.current_snapshot(path) == 1
    assert _keys(spark, path) == [1]
    rewritten = {r["file"] for r in S._manifest_rows(path, 2)}
    assert len(S._visible_files(S._manifest_path(path, 2))) == 1
    assert base < rewritten and stale.isdisjoint(rewritten)

    monkeypatch.setattr(S, "_advance_ref", advance)
    assert S.append_snapshot(spark, path, _kv(spark, [(3, "c")])) == 2
    assert _keys(spark, path) == [1, 3]


def test_upsert_stream_fails_on_unreadable_target(spark, tmp_path):
    from demo_bigdata_spark.streaming.pipeline import write_upsert_stream

    src = str(tmp_path / "src")
    _kv(spark, [(1, "a"), (2, "b")]).write.parquet(src)
    target = str(tmp_path / "target")
    os.makedirs(target)
    with open(os.path.join(target, "part-0.parquet"), "wb") as f:
        f.write(b"not a parquet file")
    stream = spark.readStream.schema("k long, v string").parquet(src)
    q = write_upsert_stream(stream, target, str(tmp_path / "ckpt"), ["k"], 1)
    try:
        with pytest.raises(Exception):
            q.processAllAvailable()
    finally:
        q.stop()
    assert os.listdir(target) == ["part-0.parquet"]  # never overwritten
    with open(os.path.join(target, "part-0.parquet"), "rb") as f:
        assert f.read() == b"not a parquet file"

"""Checkpoint-grade filesystem plumbing (engine_spark/fsio.py).

The streaming state stores (BloomDedupStore epochs, the incremental
stores' epoch logs) must run against the same substrate as the Spark
checkpoint dir — hdfs://, s3a://, file:// or a bare local path — not
only a POSIX mount (round-7 advice). These tests drive every store operation through
an explicit ``file:///``-scheme Hadoop path, which exercises the exact
JVM FileSystem code path a cluster deployment uses (LocalFileSystem is
checksummed, so .crc side-files also prove the listing filters hold).
"""

from __future__ import annotations

import os

import pytest

from engine_spark.fsio import HadoopFS


def test_hadoopfs_roundtrip_file_scheme(spark, tmp_path):
    base = f"file://{tmp_path}/fsroot"
    fs = HadoopFS(spark, base)
    fs.mkdirs(f"{base}/a/b")
    fs.write_bytes(f"{base}/a/b/blob", b"\x00payload\xff")
    assert fs.read_bytes(f"{base}/a/b/blob") == b"\x00payload\xff"
    assert fs.exists(f"{base}/a/b/blob")
    # rename is the atomic-publish primitive: refuses existing targets
    assert fs.rename(f"{base}/a/b", f"{base}/a/pub")
    assert not fs.exists(f"{base}/a/b")
    assert fs.read_bytes(f"{base}/a/pub/blob") == b"\x00payload\xff"
    names = dict(fs.list_names(f"{base}/a"))
    assert names.get("pub") is True
    fs.mkdirs(f"{base}/a/b")
    assert fs.rename(f"{base}/a/b", f"{base}/a/pub") is False
    fs.delete(f"{base}/a")
    assert not fs.exists(f"{base}/a/pub/blob")


def test_hadoopfs_bare_local_path_resolves(spark, tmp_path):
    """Bare paths go through fs.defaultFS (file:/// in local mode), so
    existing callers with plain paths keep working unchanged."""
    fs = HadoopFS(spark, str(tmp_path))
    fs.write_bytes(str(tmp_path / "x"), b"ok")
    assert (tmp_path / "x").read_bytes() == b"ok"
    assert fs.read_bytes(str(tmp_path / "x")) == b"ok"


def test_bloom_store_over_file_scheme(spark, tmp_path):
    """Full BloomDedupStore lifecycle (epoch commit, cross-epoch dedup,
    crash replay, compaction) through a file:///-scheme Hadoop path —
    proves the store is os.rename-free and runs where the checkpoint
    dir runs."""
    from engine_spark.datapipe.bloom import BloomDedupStore

    state = f"file://{tmp_path}/state"
    store = BloomDedupStore(spark, state)
    b1 = spark.createDataFrame(
        [(1, "alpha"), (2, "beta")], "doc_id long, text string"
    )
    b2 = spark.createDataFrame(
        [(3, "ALPHA"), (4, "gamma")], "doc_id long, text string"
    )
    b3 = spark.createDataFrame(
        [(5, "gamma"), (6, "delta")], "doc_id long, text string"
    )
    r1 = {r.doc_id: r.is_dup for r in store.process_batch(b1, 0).collect()}
    r2 = {r.doc_id: r.is_dup for r in store.process_batch(b2, 1).collect()}
    assert r1 == {1: False, 2: False}
    assert r2 == {3: True, 4: False}
    # crash replay of epoch 1: identical answer, no state growth
    local_hash_dir = tmp_path / "state" / "hashes"
    before = sorted(os.listdir(local_hash_dir))
    replay = {r.doc_id: r.is_dup for r in store.process_batch(b2, 1).collect()}
    assert replay == r2
    assert sorted(os.listdir(local_hash_dir)) == before
    r3 = {r.doc_id: r.is_dup for r in store.process_batch(b3, 2).collect()}
    assert r3 == {5: True, 6: False}
    # compact epochs 0..1 into one dir, then answers are unchanged
    assert store.compact(1) == 2
    dirs = [d for d in os.listdir(local_hash_dir) if d.startswith("epoch-")]
    assert sorted(dirs) == ["epoch-0000000001-c", "epoch-0000000002"]
    b4 = spark.createDataFrame(
        [(7, "beta"), (8, "delta"), (9, "epsilon")],
        "doc_id long, text string",
    )
    r4 = {r.doc_id: r.is_dup for r in store.process_batch(b4, 3).collect()}
    assert r4 == {7: True, 8: True, 9: False}


def test_bloom_null_text_is_total_and_never_dup(spark, tmp_path):
    """NULL text rows (a crawled corpus always has some) must not crash
    the vectorized probe and carry no content identity: never dups, and
    never persisted to state (round-7 advice)."""
    from engine_spark.datapipe.bloom import BloomDedupStore, bloom_dedup

    corpus = spark.createDataFrame(
        [(100, "seen"), (101, None)], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [(1, "seen"), (2, None), (3, None), (4, "fresh")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.is_dup for r in bloom_dedup(batch, corpus).collect()}
    assert got == {1: True, 2: False, 3: False, 4: False}

    store = BloomDedupStore(spark, str(tmp_path / "state"))
    r1 = {
        r.doc_id: r.is_dup
        for r in store.process_batch(batch, 0).collect()
    }
    assert r1 == {1: False, 2: False, 3: False, 4: False}
    # nulls were not committed: a later null row is still not a dup
    b2 = spark.createDataFrame(
        [(10, None), (11, "seen")], "doc_id long, text string"
    )
    r2 = {r.doc_id: r.is_dup for r in store.process_batch(b2, 1).collect()}
    assert r2 == {10: False, 11: True}
    committed = spark.read.parquet(f"{store.hash_dir}/epoch-0000000000")
    assert committed.filter("full is null").count() == 0


def test_merged_ids_sidecar_corruption_aborts_compaction(spark, tmp_path):
    """EpochLog.merged_ids: a plain epoch WITHOUT a _stats.json sidecar
    falls back to its own id, but a corrupted/unreadable sidecar on an
    EXISTING file must propagate — silently dropping a -c victim's
    merged set would un-commit those epochs and let a stream replay
    re-ingest them (ADVICE r11)."""
    import json

    import pytest

    from engine_spark.fsio import EpochLog, HadoopFS

    root = str(tmp_path / "epochs")
    fs = HadoopFS(spark, root)
    log = EpochLog(fs, root)
    # plain epoch, no sidecar -> falls back to {eid}
    fs.write_bytes(f"{log.path(1)}/part.parquet", b"x")
    # -c epoch with a valid sidecar -> contributes its merged set
    fs.write_bytes(
        f"{log.path(2, compacted=True)}/_stats.json",
        json.dumps({"epochs": [0, 2]}).encode(),
    )
    victims = [(1, log.path(1)), (2, log.path(2, compacted=True))]
    assert log.merged_ids(victims) == {0, 1, 2}
    # corrupt the sidecar: must raise, not fall back to {2}
    fs.write_bytes(f"{log.path(2, compacted=True)}/_stats.json", b"{not json")
    with pytest.raises(json.JSONDecodeError):
        log.merged_ids(victims)

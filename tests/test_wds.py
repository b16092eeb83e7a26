"""WebDataset sharded-tar sink/scan (sources/wds.py): byte-exact
payload + metadata roundtrip, NULL-payload normalization, deterministic
shard bytes under re-write, multiple whole shards per task, and the
shard-count layout contract."""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile

from pyspark.sql import Row

from mevi_spark.sources.wds import (
    SAMPLE_SCHEMA,
    read_wds_shards,
    write_wds_shards,
)


def _mk_samples(spark, n=40, payload=lambda i: bytes([i % 251]) * (i + 1)):
    rows = [
        Row(
            doc_id=i,
            media_type=("image", "audio", "video")[i % 3],
            payload=payload(i),
            width=i % 16 + 4,
            height=i % 8 + 2,
            n_frames=i % 7 + 1,
        )
        for i in range(n)
    ]
    return spark.createDataFrame(rows, SAMPLE_SCHEMA)


def _roundtrip(spark, df, n_shards):
    root = tempfile.mkdtemp(prefix="mevi_wds_t_")
    out = os.path.join(root, "shards")
    try:
        manifest = write_wds_shards(df, out, n_shards).collect()
        back = read_wds_shards(spark, out).collect()
        tars = sorted(f for f in os.listdir(out) if f.endswith(".tar"))
        return manifest, back, tars, [
            hashlib.md5(open(os.path.join(out, t), "rb").read()).hexdigest()
            for t in tars
        ]
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_wds_roundtrip_exact(spark):
    df = _mk_samples(spark)
    manifest, back, tars, _ = _roundtrip(spark, df, n_shards=4)
    # every sample survives with payload bytes and metadata intact
    got = {r.doc_id: r for r in back}
    assert len(got) == 40
    for r in df.collect():
        b = got[r.doc_id]
        assert bytes(b.payload) == bytes(r.payload)
        assert (b.media_type, b.width, b.height, b.n_frames) == (
            r.media_type,
            r.width,
            r.height,
            r.n_frames,
        )
    # 4 shards, doc_id % 4 assignment, manifest counts add up
    assert len(tars) == 4
    assert sum(m.n_samples for m in manifest) == 40
    assert all(m.n_samples == 10 for m in manifest)


def test_wds_null_payload_normalizes_to_empty(spark):
    df = _mk_samples(spark, n=6, payload=lambda i: None if i % 2 else b"x")
    _, back, _, _ = _roundtrip(spark, df, n_shards=2)
    for r in back:
        expect = b"" if r.doc_id % 2 else b"x"
        assert bytes(r.payload) == expect


def test_wds_shard_bytes_deterministic(spark):
    """Same rows -> byte-identical tars (zeroed tar metadata + key-sorted
    samples), which is what makes the tmp-then-replace publish safely
    replayable."""
    df = _mk_samples(spark)
    _, _, _, md5s_a = _roundtrip(spark, df, n_shards=4)
    _, _, _, md5s_b = _roundtrip(spark, df.repartition(7), n_shards=4)
    assert md5s_a == md5s_b


def test_wds_many_shards_per_task(spark):
    """More shards than upstream partitions: the streaming writer must
    close/open across shard boundaries within one task."""
    df = _mk_samples(spark, n=30).coalesce(1)
    manifest, back, tars, _ = _roundtrip(spark, df, n_shards=10)
    assert len(tars) == 10
    assert len(back) == 30
    assert sorted(m.shard_id for m in manifest) == list(range(10))


def _file_md5s(d):
    return {
        f: hashlib.md5(open(os.path.join(d, f), "rb").read()).hexdigest()
        for f in os.listdir(d)
        if f.endswith(".tar")
    }


def test_wds_append_batches_never_rewrite_published_shards(spark):
    """Append-only maintenance: a later batch adds NEW shard files and
    leaves every published tar untouched (same inode, same mtime, same
    bytes); the union of shards reads back as the full sample set."""
    from mevi_spark.sources.wds import append_wds_shards

    df = _mk_samples(spark, 24)
    b1 = df.filter("doc_id < 12")
    b2 = df.filter("doc_id >= 12")
    root = tempfile.mkdtemp(prefix="mevi_wds_app_")
    out = os.path.join(root, "shards")
    try:
        append_wds_shards(b1, out, batch_id=0, shards_per_batch=3).collect()
        before = {
            f: (os.stat(os.path.join(out, f)).st_ino,
                os.stat(os.path.join(out, f)).st_mtime_ns)
            for f in os.listdir(out)
        }
        md5_before = _file_md5s(out)
        append_wds_shards(b2, out, batch_id=1, shards_per_batch=3).collect()
        after_names = set(os.listdir(out))
        # batch-0 files untouched, batch-1 files new
        for f, stat in before.items():
            st = os.stat(os.path.join(out, f))
            assert (st.st_ino, st.st_mtime_ns) == stat, f
        assert {f for f in after_names if "-b000000001-" in f}
        got = {
            (r.doc_id, bytes(r.payload))
            for r in read_wds_shards(spark, out).collect()
        }
        want = {(r.doc_id, bytes(r.payload)) for r in df.collect()}
        assert got == want
        # a REPLAYED batch republishes byte-identical files (no-op):
        # pin EVERY shard's bytes before the replay, then compare
        md5_pre_replay = _file_md5s(out)
        append_wds_shards(b2, out, batch_id=1, shards_per_batch=3).collect()
        md5_replay = _file_md5s(out)
        assert md5_replay == md5_pre_replay
        for f, h in md5_before.items():
            assert md5_replay[f] == h
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_wds_incremental_stream_equals_one_shot(spark):
    """The streaming wrapper drained over file-sliced input yields a
    shard set whose samples equal the one-shot write_wds_shards of the
    same corpus, and the manifest union accounts for every sample."""
    from mevi_spark.sources.wds import wds_store

    df = _mk_samples(spark, 30)
    root = tempfile.mkdtemp(prefix="mevi_wds_inc_")
    try:
        for i, pred in enumerate(("doc_id < 15", "doc_id >= 15")):
            df.filter(pred).coalesce(1).write.mode("overwrite").parquet(
                f"{root}/in/s{i:02d}"
            )
        stream = (
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{root}/in/s*")
        )
        store = wds_store(f"{root}/out", shards_per_batch=3)
        store.start(stream, f"{root}/ckpt").awaitTermination()
        one_shot = os.path.join(root, "oneshot")
        write_wds_shards(df, one_shot, n_shards=3).collect()
        got = sorted(
            (r.doc_id, bytes(r.payload), r.media_type)
            for r in read_wds_shards(
                spark, f"{root}/out/shards"
            ).collect()
        )
        want = sorted(
            (r.doc_id, bytes(r.payload), r.media_type)
            for r in read_wds_shards(spark, one_shot).collect()
        )
        assert got == want
        man = store.state(spark)
        assert sum(r.n_samples for r in man.collect()) == 30
    finally:
        shutil.rmtree(root, ignore_errors=True)

"""WebDataset-style sharded-tar sink + scan for multimodal samples.

The de-facto sequential-access format for large-scale multimodal
training (Aizman et al., "High Performance I/O For Large Scale Deep
Learning", IEEE BigData 2019; the public ``webdataset`` library): a
dataset is N POSIX tar files ("shards"), each holding consecutive
samples, each sample a group of member files sharing a basename key —
``000000042.json`` (metadata) + ``000000042.bin`` (payload). The shard
— not the sample — is the unit of parallelism: a trainer (or a Spark
task) streams whole shards sequentially, which is what object stores
and spinning disks are good at.

The reference pipeline is text-only TSV (``MEVI/main_utils.py:188-213``);
this sink is part of the beyond-reference multimodal tier
(``operators/multimodal.py``) — the materialization format its opaque
``binary`` payload column would actually ship to trainers in.

Spark-first shape, sized for 100 TB:

* **write** — ONE shuffle: hash-repartition on ``shard_id`` (every row
  of a shard colocates; a task may own several whole shards) +
  ``sortWithinPartitions(shard, key)`` so samples arrive
  grouped-and-ordered. The Arrow ``mapInPandas`` writer then STREAMS
  members into the open tar handle as batches arrive — memory is
  O(arrow batch), never O(shard) — and emits one manifest row per
  shard. No driver merge, no collect; the driver only mkdirs.
* **deterministic bytes** — tar members carry fixed
  mtime=0/uid=gid=0/mode=0644 and samples are key-sorted, so a shard's
  bytes are a pure function of its rows (same idempotent-commit
  discipline as ``sources/packed.py``): re-running the sink over the
  same input yields byte-identical shards, which makes the tmp-then-
  ``os.replace`` publish safely retryable under task re-execution.
* **read** — the driver does ONE cheap listing (the shard manifest),
  then ``repartition(n_shards)`` hands each task whole tar files to
  stream sequentially; samples come back Arrow-batched. At cluster
  scale the listing is thousands of paths, not billions of rows.
"""

from __future__ import annotations

import io
import json
import os
import tarfile
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

#: columns every WDS sample row carries (metadata riding next to the
#: opaque payload, exactly the multimodal table layout).
SAMPLE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("media_type", StringType()),
        StructField("payload", BinaryType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_frames", IntegerType()),
    ]
)

_MANIFEST_SCHEMA = StructType(
    [
        StructField("shard_id", LongType()),
        StructField("path", StringType()),
        StructField("n_samples", LongType()),
        StructField("n_bytes", LongType()),
    ]
)

_META_COLS = ("doc_id", "media_type", "width", "height", "n_frames")


def _sample_key(doc_id: int) -> str:
    return f"{doc_id:012d}"


def _add_member(tar: tarfile.TarFile, name: str, data: bytes) -> None:
    info = tarfile.TarInfo(name=name)
    info.size = len(data)
    info.mtime = 0
    info.uid = info.gid = 0
    info.uname = info.gname = ""
    info.mode = 0o644
    tar.addfile(info, io.BytesIO(data))


class _ShardWriter:
    """Streams one shard's members into a tmp tar, publishes on close.

    ``os.replace`` is atomic on a POSIX filesystem; because shard bytes
    are deterministic (sorted samples, zeroed tar metadata), a replayed
    task re-publishes identical bytes — last-writer-wins is a no-op.
    """

    def __init__(self, out_dir: str, shard_id: int, stem: str | None = None):
        self.shard_id = shard_id
        stem = stem or f"shard-{shard_id:06d}"
        self.final = os.path.join(out_dir, f"{stem}.tar")
        self.tmp = self.final + f".inprogress-{os.getpid()}"
        self.tar = tarfile.open(self.tmp, "w")
        self.n_samples = 0

    def add(self, meta: dict, payload: bytes | None) -> None:
        key = _sample_key(int(meta["doc_id"]))
        meta = {k: (v.item() if hasattr(v, "item") else v) for k, v in meta.items()}
        _add_member(
            self.tar,
            f"{key}.json",
            json.dumps(meta, sort_keys=True).encode("utf-8"),
        )
        _add_member(self.tar, f"{key}.bin", bytes(payload or b""))
        self.n_samples += 1

    def close(self) -> dict:
        self.tar.close()
        os.replace(self.tmp, self.final)
        return {
            "shard_id": self.shard_id,
            "path": self.final,
            "n_samples": self.n_samples,
            "n_bytes": os.path.getsize(self.final),
        }


def write_wds_shards(
    samples: DataFrame, out_dir: str, n_shards: int
) -> DataFrame:
    """Write ``samples`` (SAMPLE_SCHEMA columns) as ``n_shards`` tar
    shards under ``out_dir``; returns the (small) shard manifest as a
    DataFrame. Shard assignment is ``doc_id % n_shards`` — deterministic
    and stable under re-runs, unlike ``spark_partition_id``.
    """
    os.makedirs(out_dir, exist_ok=True)

    def write_partition(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        open_writer: _ShardWriter | None = None
        done: list[dict] = []
        for pdf in batches:
            cols = [pdf[c].to_numpy() for c in _META_COLS]
            shards = pdf["_shard"].to_numpy()
            payloads = pdf["payload"].to_numpy()
            for i in range(len(pdf)):
                sid = int(shards[i])
                if open_writer is not None and open_writer.shard_id != sid:
                    done.append(open_writer.close())
                    open_writer = None
                if open_writer is None:
                    open_writer = _ShardWriter(out_dir, sid)
                open_writer.add(
                    {c: col[i] for c, col in zip(_META_COLS, cols)},
                    payloads[i],
                )
        if open_writer is not None:
            done.append(open_writer.close())
        if done:
            yield pd.DataFrame(done)

    staged = (
        samples.withColumn(
            "_shard", (F.col("doc_id") % F.lit(n_shards)).cast("long")
        )
        .repartition(n_shards, "_shard")
        .sortWithinPartitions("_shard", "doc_id")
    )
    return staged.mapInPandas(write_partition, _MANIFEST_SCHEMA)


def read_wds_shards(spark: SparkSession, out_dir: str) -> DataFrame:
    """Scan tar shards back into SAMPLE_SCHEMA rows. One driver-side
    listing; each task streams whole tar files sequentially (the WDS
    access pattern object stores are fastest at) and yields samples in
    Arrow batches of ``batch_rows``.
    """
    paths = sorted(
        os.path.join(out_dir, f)
        for f in os.listdir(out_dir)
        if f.endswith(".tar")
    )
    if not paths:
        raise FileNotFoundError(f"no .tar shards under {out_dir}")

    def read_shards(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        batch_rows = 1024
        buf: list[dict] = []
        for pdf in batches:
            for path in pdf["path"]:
                with tarfile.open(path, "r") as tar:
                    pending_meta: dict | None = None
                    pending_key: str | None = None
                    for member in tar:
                        key, ext = member.name.rsplit(".", 1)
                        data = tar.extractfile(member).read()
                        if ext == "json":
                            pending_meta = json.loads(data)
                            pending_key = key
                        elif ext == "bin":
                            if pending_key != key or pending_meta is None:
                                raise ValueError(
                                    f"orphan payload member {member.name} in {path}"
                                )
                            buf.append({**pending_meta, "payload": data})
                            pending_meta = pending_key = None
                        if len(buf) >= batch_rows:
                            yield pd.DataFrame(buf)
                            buf = []
        if buf:
            yield pd.DataFrame(buf)

    frame = spark.createDataFrame(
        [(p,) for p in paths], StructType([StructField("path", StringType())])
    ).repartition(len(paths))
    return frame.mapInPandas(read_shards, SAMPLE_SCHEMA)


# ---------------------------------------------------------------------------
# round-10: incremental shard maintenance (append-only, never rewrite)

#: shards-per-batch namespace width inside the global shard_id
_BATCH_STRIDE = 1_000_000


def append_wds_shards(
    samples: DataFrame, out_dir: str, batch_id: int, shards_per_batch: int
) -> DataFrame:
    """Append one micro-batch of samples as NEW tar shards — published
    shards are immutable, the WDS operational contract (trainers
    stream shards by name; a rewritten tar invalidates any reader
    mid-stream). Same discipline as ``sources/packed.py``'s
    ``append_packed_sequences``: the batch is the unit of idempotent
    re-execution.

    Shard naming is replay-deterministic:
    ``shard-b<batch_id:09>-<sid:06>.tar`` with ``sid = doc_id %
    shards_per_batch`` — a crashed batch's replay regenerates the SAME
    shard names with byte-identical content (sorted samples, zeroed
    tar metadata), so its ``os.replace`` publishes are no-ops and no
    cross-batch coordination is needed. The reported manifest
    ``shard_id`` is ``batch_id·10⁶ + sid`` (globally unique without a
    registry lookup).

    100 TB shape: identical to :func:`write_wds_shards` per batch —
    ONE shard-keyed shuffle of the BATCH (never the corpus), streaming
    executor-side tar writer, O(arrow-batch) memory. The cumulative
    dataset is the union of every batch's shards;
    :func:`read_wds_shards` needs only the directory listing.
    """
    os.makedirs(out_dir, exist_ok=True)
    bid = int(batch_id)
    stride = int(shards_per_batch)
    if stride > _BATCH_STRIDE:
        # the global manifest shard_id is batch_id*_BATCH_STRIDE + sid;
        # a larger per-batch shard count would silently collide
        # shard_ids across batches while file stems stay distinct
        raise ValueError(
            f"shards_per_batch={stride} exceeds the shard_id stride "
            f"{_BATCH_STRIDE}; manifest keys would collide across batches"
        )

    def write_partition(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        open_writer: _ShardWriter | None = None
        done: list[dict] = []
        for pdf in batches:
            cols = [pdf[c].to_numpy() for c in _META_COLS]
            shards = pdf["_shard"].to_numpy()
            payloads = pdf["payload"].to_numpy()
            for i in range(len(pdf)):
                sid = int(shards[i])
                if open_writer is not None and open_writer.shard_id != (
                    bid * _BATCH_STRIDE + sid
                ):
                    done.append(open_writer.close())
                    open_writer = None
                if open_writer is None:
                    open_writer = _ShardWriter(
                        out_dir,
                        bid * _BATCH_STRIDE + sid,
                        stem=f"shard-b{bid:09d}-{sid:06d}",
                    )
                open_writer.add(
                    {c: col[i] for c, col in zip(_META_COLS, cols)},
                    payloads[i],
                )
        if open_writer is not None:
            done.append(open_writer.close())
        if done:
            yield pd.DataFrame(done)

    staged = (
        samples.withColumn(
            "_shard", (F.col("doc_id") % F.lit(stride)).cast("long")
        )
        .repartition(stride, "_shard")
        .sortWithinPartitions("_shard", "doc_id")
    )
    return staged.mapInPandas(write_partition, _MANIFEST_SCHEMA)


def wds_store(output_dir: str, shards_per_batch: int = 4):
    """Streaming WDS maintenance: each micro-batch lands as new
    immutable shards under ``<output_dir>/shards`` plus its manifest
    rows in the partial store at ``<output_dir>/manifest``
    (``streaming/incremental.py::PartialStore`` — deterministic
    content, so a crashed batch's re-run overwrites its own shards and
    manifest dir with identical bytes, never duplicates). The current
    manifest is the store's state (manifest rows are immutable facts,
    so the merge kernel is the identity union); its compaction folds
    drained per-batch manifest dirs into one published base, bounding
    directory growth under long ingest. Readers of the DATA need only
    :func:`read_wds_shards` over the shards dir."""
    from mevi_spark.streaming.incremental import PartialStore

    shards_dir = os.path.join(output_dir, "shards")
    return PartialStore(
        os.path.join(output_dir, "manifest"),
        lambda batch, bid: append_wds_shards(
            batch, shards_dir, bid, shards_per_batch
        ),
        lambda df: df,
    )

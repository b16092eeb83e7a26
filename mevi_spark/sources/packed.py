"""Packed-sequence writer: materialize fixed-length token blocks.

``sequence_pack`` (``plans/pipeline_ops.py``) computes the doc→sequence
MAP — where each document lands when every document's tokens are laid
end-to-end in ``doc_id`` order and cut into ``seq_len``-token training
sequences. This module materializes what that map describes: the
actual ``(seq_id, tokens)`` block table a training job consumes.

Block policy: every sequence holds exactly ``seq_len`` tokens except
the FINAL one, which is emitted partial (its true length, unpadded) —
padding/dropping is the trainer's choice, and an unpadded tail keeps
the table lossless (gapless, complete coverage: concatenating blocks
in ``seq_id`` order reproduces the corpus token stream exactly).

Plan shape at 100 TB:

* the global token offset is the shared two-pass value-bucket prefix
  sum (:func:`mevi_spark.operators.cumsum.bucketed_cum_before`) —
  parallel, driver state bounded at 2·parallelism entries;
* each doc then fans out to the sequences it SPANS — ``array_size ≤
  n_tok/seq_len + 1`` — carrying only the token slice that lands in
  each sequence. Shuffle row count is the span count
  (≈ |docs| + total_tokens/seq_len), not the token count; payload is
  the tokens themselves, which any packer must move exactly once;
* ONE shuffle keyed on ``seq_id`` assembles blocks (sort_array on the
  in-sequence offset, flatten) — per-group state is one sequence
  (seq_len tokens);
* the sink range-partitions by ``seq_id`` and sorts within partitions,
  so the written layout is globally ordered contiguous block ranges —
  a training loader reads sequential row groups, no shuffle at read
  time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from mevi_spark.operators.cumsum import bucketed_cum_before


def pack_sequences(
    docs: DataFrame,
    seq_len: int,
    id_col: str = "doc_id",
    tokens_col: str = "toks",
) -> DataFrame:
    """``(seq_id long, tokens array<string>, n_tokens long)`` blocks:
    the docs' token arrays laid end-to-end in ``id_col`` order, cut to
    ``seq_len``. Docs with empty token arrays are skipped (they occupy
    no positions in the stream — same rule as ``sequence_pack``)."""
    if seq_len <= 0:
        raise ValueError("seq_len must be positive")
    L = int(seq_len)
    base = docs.select(
        F.col(id_col).alias("_id"),
        F.col(tokens_col).alias("_toks"),
        F.size(tokens_col).cast("long").alias("_n"),
    ).filter(F.col("_n") > 0)
    with_cum = bucketed_cum_before(base, "_id", "_n", out_col="_c")
    spark = docs.sparkSession
    if with_cum is None:
        return spark.createDataFrame(
            [], "seq_id long, tokens array<string>, n_tokens long"
        )
    # fan each doc out to the sequences it spans; per span, the slice
    # of this doc's tokens that lands there and its offset in-sequence
    c, n = F.col("_c"), F.col("_n")

    def span(s):
        lo = F.greatest(c, s * L)          # global start of this piece
        hi = F.least(c + n, (s + 1) * L)   # global end (exclusive)
        return F.struct(
            s.alias("seq_id"),
            (lo - s * L).alias("off"),
            F.slice(
                F.col("_toks"), (lo - c + 1).cast("int"), (hi - lo).cast("int")
            ).alias("piece"),
        )

    spans = with_cum.select(
        F.explode(
            F.transform(
                F.sequence(
                    F.expr(f"_c div {L}"), F.expr(f"(_c + _n - 1) div {L}")
                ),
                span,
            )
        ).alias("sp")
    ).select("sp.seq_id", "sp.off", "sp.piece")
    # one seq_id-keyed shuffle; struct sort orders by off (first field)
    return (
        spans.groupBy("seq_id")
        .agg(
            F.flatten(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("off", "piece"))),
                    lambda x: x["piece"],
                )
            ).alias("tokens")
        )
        .select(
            "seq_id", "tokens", F.size("tokens").cast("long").alias("n_tokens")
        )
    )


def write_packed_sequences(
    docs: DataFrame,
    out_dir: str,
    seq_len: int,
    id_col: str = "doc_id",
    tokens_col: str = "toks",
    target_rows_per_file: int = 65536,
) -> None:
    """Materialize the packed block table to parquet at ``out_dir``:
    globally ordered by ``seq_id`` via range partitioning + in-partition
    sort, ``target_rows_per_file`` blocks per output file — sequential
    reads for the training loader, deterministic layout run-to-run."""
    packed = pack_sequences(docs, seq_len, id_col, tokens_col)
    # size the layout from ONE cheap token-length aggregation — never
    # by counting `packed`, which would execute the whole span fan-out
    # + seq-keyed shuffle a second time just to learn nparts
    total = docs.agg(
        F.sum(F.greatest(F.size(tokens_col), F.lit(0)))
    ).first()[0] or 0
    n_seqs = -(-int(total) // int(seq_len))
    nparts = max(1, -(-n_seqs // int(target_rows_per_file)))
    (
        packed.repartitionByRange(nparts, "seq_id")
        .sortWithinPartitions("seq_id")
        .write.mode("overwrite")
        .parquet(out_dir)
    )


_FP_MARKER = "_BATCH_FP"


def _write_marker(out_dir: str, fp: str) -> None:
    """Commit marker, written ATOMICALLY (tmp + rename): a plain
    open/write crashed mid-write would leave a committed-looking dir
    whose fingerprint never matches, defeating replay detection."""
    import os

    tmp = os.path.join(out_dir, f".{_FP_MARKER}.tmp")
    with open(tmp, "w") as fh:
        fh.write(fp)
    os.rename(tmp, os.path.join(out_dir, _FP_MARKER))


def _committed_subdirs(state_dir: str) -> list[tuple[int, str]]:
    """``(batch index, path)`` of the batch subdirs that finished BOTH
    the parquet write (_SUCCESS) and the fingerprint marker — the
    commit point of an append. A dir missing either is a crashed
    attempt: invisible to readers, and the next append overwrites it
    in place."""
    import os

    from mevi_spark.streaming.incremental import PartialStore

    return [
        (b, full)
        for b, full in PartialStore.batch_dirs(state_dir)
        if os.path.exists(os.path.join(full, "_SUCCESS"))
        and os.path.exists(os.path.join(full, _FP_MARKER))
    ]


def _batch_fingerprint(base) -> str:
    """Deterministic id-set fingerprint of an append batch (count,
    min, max, hash-sum over ids) — one batch-sized aggregation. Under
    the append contract (ids strictly ascend across batches) two
    DIFFERENT consecutive batches can never collide, so fingerprint
    equality with the latest committed batch identifies a replay."""
    from pyspark.sql import functions as F

    r = base.agg(
        F.count("*").alias("c"),
        F.min("_id").alias("mn"),
        F.max("_id").alias("mx"),
        F.sum(F.pmod(F.xxhash64("_id"), F.lit(1_000_000_007))).alias("s"),
    ).first()
    return f"{r['c']}:{r['mn']}:{r['mx']}:{r['s']}"


def read_packed_state(spark, state_dir: str) -> DataFrame:
    """The current packed-block table of an append-maintained state
    (:func:`append_packed_sequences`): union of the batch subdirs,
    with a seq_id claimed by two batches resolved to the LATEST batch
    (exactly the tail-re-pack case — the superseded partial is the
    only possible duplicate). One window over block rows (state-sized,
    not token-sized: the frame carries arrays, the shuffle key is
    seq_id)."""
    from pyspark.sql import Window, functions as F

    subs = _committed_subdirs(state_dir)
    if not subs:
        raise FileNotFoundError(f"no packed state under {state_dir}")
    frames = [
        spark.read.parquet(d).withColumn("_b", F.lit(b)) for b, d in subs
    ]
    allb = frames[0]
    for fr in frames[1:]:
        allb = allb.unionByName(fr)
    w = Window.partitionBy("seq_id").orderBy(F.col("_b").desc())
    return (
        allb.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("seq_id", "tokens", "n_tokens")
    )


def append_packed_sequences(
    spark,
    state_dir: str,
    docs: DataFrame,
    seq_len: int,
    id_col: str = "doc_id",
    tokens_col: str = "toks",
) -> int:
    """Incrementally extend a packed-block state with newly-arrived
    documents: ONLY the tail partial block re-packs; every full block
    ever written is immutable — the operational form of the packer at
    100 TB, where re-running :func:`pack_sequences` over the whole
    corpus per ingest batch is exactly what a pipeline cannot afford.

    Contract: appended ``id_col`` values sort AFTER every previously
    packed id (append-ordered corpus — the same doc-order contract the
    batch packer keys on). Each call writes one ``b<n>`` subdir
    holding the blocks this batch produced (the re-packed tail
    included); :func:`read_packed_state` resolves the one possible
    seq_id overlap (the superseded tail) to the latest batch. Returns
    this batch's index.

    Crash/replay safety (the at-least-once caller): a subdir is
    COMMITTED only once both the parquet ``_SUCCESS`` and the
    fingerprint marker exist — a crash mid-write leaves an
    uncommitted dir that readers ignore and the retry overwrites in
    place; a RETRY of an already-committed batch is detected by
    fingerprint equality with the latest committed subdir (under the
    ascending-id contract only a replay can repeat the id set) and
    returns that batch's index without appending again. Two
    consecutive EMPTY appends share a fingerprint, so the second is
    also treated as a no-op replay — semantically identical states.
    Proven in ``tests/test_packed.py``.

    Tail discovery reads ONLY the latest committed subdir (every
    append writes its own tail there) — a block-sized read, never a
    state scan.
    """
    import os

    from pyspark.sql import functions as F

    from mevi_spark.streaming.incremental import PartialStore

    os.makedirs(state_dir, exist_ok=True)
    subs = _committed_subdirs(state_dir)
    L = int(seq_len)
    base = docs.select(
        F.col(id_col).alias("_id"), F.col(tokens_col).alias("_toks")
    ).filter(F.size("_toks") > 0)
    fp = _batch_fingerprint(base)
    if subs:
        last_idx, last_dir = subs[-1]
        with open(os.path.join(last_dir, _FP_MARKER)) as fh:
            if fh.read().strip() == fp:
                return last_idx  # replayed batch: already applied
    tail_seq, tail_toks = 0, []
    # walk back past empty batch subdirs (an empty append still claims
    # an index for replay-idempotence) to the newest subdir with rows
    for _, d in reversed(subs):
        rows = (
            spark.read.parquet(d)
            .orderBy(F.col("seq_id").desc())
            .limit(1)
            .collect()
        )
        if rows:
            tail_row = rows[0]
            if tail_row.n_tokens < L:
                tail_seq = int(tail_row.seq_id)
                tail_toks = list(tail_row.tokens)
            else:
                tail_seq, tail_toks = int(tail_row.seq_id) + 1, []
            break
    batch_idx = len(subs)
    out_dir = PartialStore.batch_dir(state_dir, batch_idx)
    mn = base.agg(F.min("_id")).first()[0]
    if mn is None and not tail_toks:
        # nothing to pack; still claim a batch index for idempotence
        spark.createDataFrame(
            [], "seq_id long, tokens array<string>, n_tokens long"
        ).write.mode("overwrite").parquet(out_dir)
        _write_marker(out_dir, fp)
        return batch_idx
    pseudo_id = (int(mn) - 1) if mn is not None else 0
    stream = base
    if tail_toks:
        tail_df = spark.createDataFrame(
            [(pseudo_id, tail_toks)], "_id long, _toks array<string>"
        )
        stream = tail_df.unionByName(base)
    packed = pack_sequences(stream, L, id_col="_id", tokens_col="_toks")
    out = packed.select(
        (F.col("seq_id") + F.lit(tail_seq)).alias("seq_id"),
        "tokens",
        "n_tokens",
    )
    out.repartitionByRange(1, "seq_id").sortWithinPartitions(
        "seq_id"
    ).write.mode("overwrite").parquet(out_dir)
    _write_marker(out_dir, fp)
    return batch_idx

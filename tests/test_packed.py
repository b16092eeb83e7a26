"""Packed-sequence writer properties: gapless coverage (the blocks in
seq_id order reproduce the corpus token stream exactly), fixed block
length with a true-length final partial, layout ordering, and
run-to-run determinism."""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import functions as F

from mevi_spark.plans.plan_facts import plan_facts
from mevi_spark.sources.packed import pack_sequences, write_packed_sequences

L = 7  # deliberately not a divisor of the fixture's token count


def _docs(spark):
    rows = [
        (10, "a b c d e"),            # 5 tokens
        (11, ""),                      # empty: occupies no positions
        (12, "f"),                     # 1 token
        (13, " ".join(f"t{i}" for i in range(17))),  # spans 3+ blocks
        (14, "x y z"),                 # 3 tokens
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    return df.select("doc_id", F.split(F.col("text"), " ").alias("toks")).withColumn(
        "toks", F.filter("toks", lambda t: t != "")
    )


def _expected_stream(rows):
    toks = []
    for _id, text in sorted(rows):
        toks.extend([t for t in text.split(" ") if t])
    return toks


def test_pack_sequences_gapless_and_exact(spark):
    docs = _docs(spark)
    rows = [(10, "a b c d e"), (11, ""), (12, "f"),
            (13, " ".join(f"t{i}" for i in range(17))), (14, "x y z")]
    stream = _expected_stream(rows)
    got = {r.seq_id: r.tokens for r in pack_sequences(docs, L).collect()}
    n_total = len(stream)
    n_seqs = -(-n_total // L)
    # contiguous ids, every block full except the last, exact content
    assert set(got) == set(range(n_seqs))
    rebuilt = []
    for s in range(n_seqs):
        want_len = L if s < n_seqs - 1 else n_total - L * (n_seqs - 1)
        assert len(got[s]) == want_len
        rebuilt.extend(got[s])
    assert rebuilt == stream


def test_write_packed_sequences_layout_and_determinism(spark):
    docs = _docs(spark)
    base = tempfile.mkdtemp(prefix="mevi_test_packed_")
    try:
        write_packed_sequences(docs, f"{base}/one", L)
        write_packed_sequences(docs, f"{base}/two", L)
        one = spark.read.parquet(f"{base}/one")
        # schema + totals: sum of block lengths == total tokens (gapless)
        assert dict(one.dtypes) == {
            "seq_id": "bigint", "tokens": "array<string>", "n_tokens": "bigint",
        }
        n_total = docs.select(F.sum(F.size("toks"))).first()[0]
        assert one.agg(F.sum("n_tokens")).first()[0] == n_total
        # deterministic across runs, block for block
        a = {r.seq_id: r.tokens for r in one.collect()}
        b = {
            r.seq_id: r.tokens
            for r in spark.read.parquet(f"{base}/two").collect()
        }
        assert a == b
    finally:
        shutil.rmtree(base, ignore_errors=True)


from hypothesis import HealthCheck, given, settings, strategies as st

_doc = st.tuples(
    st.integers(min_value=0, max_value=500),        # doc_id (unique-by)
    st.integers(min_value=0, max_value=23),         # token count
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    st.lists(_doc, min_size=1, max_size=12, unique_by=lambda d: d[0]),
    st.integers(min_value=1, max_value=9),
)
def test_pack_sequences_property_gapless(spark, docs, seq_len):
    """For ANY doc set and block length: ids contiguous from 0, every
    block full except the last, and the concatenation in seq_id order
    reproduces the token stream in doc_id order exactly."""
    rows = [
        (did, [f"d{did}t{i}" for i in range(n)]) for did, n in docs
    ]
    df = spark.createDataFrame(rows, "doc_id long, toks array<string>")
    stream = [t for _, ts in sorted(rows) for t in ts]
    got = {r.seq_id: r.tokens for r in pack_sequences(df, seq_len).collect()}
    if not stream:
        assert got == {}
        return
    n_seqs = -(-len(stream) // seq_len)
    assert set(got) == set(range(n_seqs))
    rebuilt = [t for s in range(n_seqs) for t in got[s]]
    assert rebuilt == stream
    assert all(len(got[s]) == seq_len for s in range(n_seqs - 1))


def test_pack_sequences_single_shuffle(spark):
    """Plan property: assembling blocks costs ONE seq_id-keyed exchange
    on top of the prefix-sum's bucket window exchange — no join, no
    cartesian (the span fan-out is an explode, not a join)."""
    docs = _docs(spark)
    facts = plan_facts(pack_sequences(docs, L))
    assert not facts.joins
    # exchanges: one for the per-bucket window sort, one for groupBy
    assert len(facts.shuffles) <= 2
    assert {s.partitioning for s in facts.shuffles} <= {"HashPartitioning"}


def test_append_packed_equals_batch_and_blocks_immutable(spark):
    """Appending batches (ids ascending) must converge to the one-shot
    batch pack; every FULL block, once written, is byte-identical in
    the final state (only the tail re-packs); replaying the last
    append (crash recovery) leaves the state unchanged."""
    import os

    from mevi_spark.sources.packed import (
        append_packed_sequences,
        read_packed_state,
    )

    rows = [
        (did, [f"d{did}t{i}" for i in range(n)])
        for did, n in [(1, 5), (2, 9), (3, 1), (4, 16), (5, 4), (6, 11)]
    ]
    df = spark.createDataFrame(rows, "doc_id long, toks array<string>")
    want = {
        r.seq_id: r.tokens for r in pack_sequences(df, L).collect()
    }
    base = tempfile.mkdtemp(prefix="mevi_test_packapp_")
    state = f"{base}/s"
    seen_full: dict[int, list] = {}
    for lo, hi in ((1, 2), (3, 3), (4, 6)):
        append_packed_sequences(
            spark, state,
            df.filter((F.col("doc_id") >= lo) & (F.col("doc_id") <= hi)), L,
        )
        cur = {
            r.seq_id: r.tokens
            for r in read_packed_state(spark, state).collect()
        }
        for sid, toks in cur.items():
            if len(toks) == L:
                # a full block never changes once it exists
                assert seen_full.setdefault(sid, toks) == toks
    assert cur == want
    # replay the final batch: idempotent (same subdir overwritten)
    subs = sorted(d for d in os.listdir(state) if d.startswith("b"))
    import shutil as _sh

    _sh.rmtree(f"{state}/{subs[-1]}")
    append_packed_sequences(
        spark, state, df.filter(F.col("doc_id") >= 4), L
    )
    again = {
        r.seq_id: r.tokens for r in read_packed_state(spark, state).collect()
    }
    assert again == want
    shutil.rmtree(base, ignore_errors=True)


def test_append_replay_of_committed_batch_is_noop(spark):
    """The reproduced round-8 finding: retrying a batch that ALREADY
    committed (caller crashed before recording success) must not
    append its tokens a second time — the fingerprint check returns
    the committed index and the state is unchanged."""
    from mevi_spark.sources.packed import (
        append_packed_sequences,
        read_packed_state,
    )

    rows = [(d, [f"d{d}t{i}" for i in range(6)]) for d in (1, 2, 3, 4)]
    df = spark.createDataFrame(rows, "doc_id long, toks array<string>")
    base = tempfile.mkdtemp(prefix="mevi_test_packrpl_")
    state = f"{base}/s"
    try:
        i0 = append_packed_sequences(
            spark, state, df.filter(F.col("doc_id") <= 2), L
        )
        i1 = append_packed_sequences(
            spark, state, df.filter(F.col("doc_id") > 2), L
        )
        before = {
            r.seq_id: r.tokens
            for r in read_packed_state(spark, state).collect()
        }
        # full replay of the committed second batch: no-op, same index
        i1b = append_packed_sequences(
            spark, state, df.filter(F.col("doc_id") > 2), L
        )
        assert i1b == i1 and i1 == i0 + 1
        after = {
            r.seq_id: r.tokens
            for r in read_packed_state(spark, state).collect()
        }
        assert after == before
        assert sum(len(t) for t in after.values()) == 24  # not 36
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_append_crashed_partial_dir_is_invisible_and_overwritten(spark):
    """A batch dir missing its commit marker (crash between the
    parquet write and the marker) must be ignored by readers and
    overwritten in place by the retry."""
    import os

    from mevi_spark.sources.packed import (
        _FP_MARKER,
        append_packed_sequences,
        read_packed_state,
    )

    rows = [(d, [f"d{d}t{i}" for i in range(6)]) for d in (1, 2, 3, 4)]
    df = spark.createDataFrame(rows, "doc_id long, toks array<string>")
    base = tempfile.mkdtemp(prefix="mevi_test_packcrash_")
    state = f"{base}/s"
    try:
        append_packed_sequences(
            spark, state, df.filter(F.col("doc_id") <= 2), L
        )
        append_packed_sequences(
            spark, state, df.filter(F.col("doc_id") > 2), L
        )
        want = {
            r.seq_id: r.tokens
            for r in read_packed_state(spark, state).collect()
        }
        # simulate the crash: strip the second batch's commit marker
        os.remove(os.path.join(state, "b000000001", _FP_MARKER))
        partial = {
            r.seq_id: r.tokens
            for r in read_packed_state(spark, state).collect()
        }
        assert sum(len(t) for t in partial.values()) == 12  # batch 1 only
        # retry lands on the SAME index and restores the full state
        idx = append_packed_sequences(
            spark, state, df.filter(F.col("doc_id") > 2), L
        )
        assert idx == 1
        got = {
            r.seq_id: r.tokens
            for r in read_packed_state(spark, state).collect()
        }
        assert got == want
    finally:
        shutil.rmtree(base, ignore_errors=True)

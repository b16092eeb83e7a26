"""The benchmark's workloads: how each sets up, what one op runs, and how
its outputs are checked against references computed outside Spark.

Each workload object lives for one run. ``stage`` prepares the session
after the inputs are written, ``op`` runs one op through a
:class:`probe.Tracer` and returns its fetched outputs with the number of
input rows it completed, ``check`` tells whether one op's outputs are
correct, and ``op_counts`` returns the per-layer counts of a traced op,
read from Spark's SQL metrics and the streaming progress reports.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pandas as pd

import generate as G
from probe import PlanNode, Tracer

K_TOP = 10
CUTOFFS = (1, 5, 10)
# rank fusion parameters: the reference's tuned defaults, also
# fuse_runs' defaults
ALPHA, BETA, GAMMA = 0.6, 0.03, 0.02
TOL = 1e-9


def _sizes(cfg: dict) -> G.Sizes:
    fields = G.Sizes.__dataclass_fields__
    return G.Sizes(**{k: v for k, v in cfg.items() if k in fields})


def _close(a, b) -> bool:
    a, b = np.asarray(a, dtype=np.float64), np.asarray(b, dtype=np.float64)
    return a.shape == b.shape and bool(
        np.all(np.abs(a - b) <= TOL * np.maximum(1.0, np.abs(b)))
    )


def ranked_lists_match(got: pd.DataFrame, ref_scores: dict, score_col: str, k: int) -> bool:
    """``got``: ``(query_id, doc_id, <score_col>, rank)`` top-k rows.
    ``ref_scores[q]``: ``{doc_id: reference score}`` over every candidate
    of query ``q``. Correct when each query has ranks 1..k (or all its
    candidates when fewer), each returned score equals the reference
    score of its doc, scores fall with rank, and the returned scores are
    the k best reference scores — so equal scores may order either way."""
    if set(got["query_id"]) != set(ref_scores):
        return False
    for q, rows in got.groupby("query_id"):
        rows = rows.sort_values("rank")
        ref = ref_scores[q]
        n = min(k, len(ref))
        if list(rows["rank"]) != list(range(1, n + 1)):
            return False
        if rows["doc_id"].nunique() != n or not set(rows["doc_id"]) <= set(ref):
            return False
        mine = np.array([ref[d] for d in rows["doc_id"]])
        if not _close(rows[score_col].to_numpy(), mine):
            return False
        if np.any(np.diff(mine) > TOL * np.maximum(1.0, np.abs(mine[1:]))):
            return False
        best = np.sort(np.fromiter(ref.values(), dtype=np.float64))[::-1][:n]
        if not _close(np.sort(mine)[::-1], best):
            return False
    return True


def join_rows(nodes: list[PlanNode], keys: str, condition: str = "") -> int:
    """Output rows of the joins among ``nodes`` whose join keys start
    with ``keys`` (and whose description contains ``condition``)."""
    return sum(
        n.rows
        for n in nodes
        if n.name.endswith("Join")
        and n.desc.startswith(f"{n.name} [{keys}#")
        and condition in n.desc
    )


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def frames_equal(a: pd.DataFrame, b: pd.DataFrame) -> bool:
    """Same columns (case-insensitive) and the same multiset of rows,
    numbers compared exactly after conversion to float64."""
    a = a.rename(columns=str.lower)
    b = b.rename(columns=str.lower)
    if sorted(a.columns) != sorted(b.columns) or len(a) != len(b):
        return False
    cols = sorted(a.columns)

    def canon(df):
        out = df[cols].copy()
        for c in cols:
            if out[c].dtype == bool or out[c].dtype.kind in "iuf":
                out[c] = out[c].astype("float64")
        return out.sort_values(cols).reset_index(drop=True)

    ca, cb = canon(a), canon(b)
    for c in cols:
        if ca[c].dtype.kind == "f" or cb[c].dtype.kind == "f":
            try:
                va = ca[c].to_numpy(dtype="float64")
                vb = cb[c].to_numpy(dtype="float64")
            except (TypeError, ValueError):
                return False
            if not np.array_equal(va, vb, equal_nan=True):
                return False
        elif not (ca[c].fillna("\0").astype(str) == cb[c].fillna("\0").astype(str)).all():
            return False
    return True


class RetrievalSweep:
    """One op is one request: a fresh seeded batch of query vectors
    (noisy copies of corpus vectors, each query's positive being the
    vector it copies) through the five steps of the query path."""

    name = "retrieval_sweep"

    def __init__(self, cfg: dict, seed: int, data_dir: str, work: str):
        self.sizes = _sizes(cfg)
        self.seed = seed
        self.data_dir = data_dir
        self.work = work
        self.nq = cfg["queries_per_request"]
        self.beams = cfg["num_beams"]

    def generated(self, tables: dict) -> None:
        emb = tables["embeddings"]
        self.x = np.stack(emb["embedding"].to_numpy(zero_copy_only=False)).astype(np.float64)
        self.labels = emb["label"].to_numpy().astype(np.int64)
        k = self.sizes.clusters
        self.centroids = np.stack([self.x[self.labels == c].mean(0) for c in range(k)])
        self.cluster_size = np.bincount(self.labels, minlength=k)

    def stage(self, spark) -> None:
        """The coarse codebook (label-mean centroids, trained once
        offline) as beam entries, and the corpus written in the
        cluster-partitioned layout the fine step reads."""
        from pyspark.sql import functions as F

        from mevi_spark.operators.rerank import write_partitioned_embeddings

        emb = spark.read.parquet(os.path.join(self.data_dir, "embeddings.parquet"))
        self.docs = emb.select(
            F.col("vec_id").alias("doc_id"), F.col("embedding").alias("doc_vec")
        )
        self.mapping = emb.select(
            F.col("vec_id").alias("doc_id"), F.col("label").cast("long").alias("code_flat")
        )
        layout = os.path.join(self.work, "fine_layout")
        write_partitioned_embeddings(
            emb.select(
                F.col("vec_id").alias("doc_id"),
                F.col("label").cast("long").alias("code_flat"),
                F.col("embedding").alias("doc_vec"),
            ),
            layout,
            "code_flat",
        )
        self.part = spark.read.parquet(layout).select(
            "doc_id", F.col("code_flat").cast("long").alias("code_flat"), "doc_vec"
        )
        self.entries = {
            0: [(c, [float(v) for v in self.centroids[c]]) for c in range(len(self.centroids))]
        }

    def queries(self, i: int):
        rng = np.random.default_rng([self.seed, i + 1])
        src = rng.integers(0, len(self.x), self.nq)
        qv = (self.x[src] + 0.3 * rng.normal(size=(self.nq, self.x.shape[1]))).astype(np.float32)
        qid = np.arange(self.nq, dtype=np.int64) + (i + 1) * self.nq
        return qid, qv, src

    def op(self, spark, i: int, tr):
        from pyspark.sql import functions as F

        from mevi_spark.operators.beam import rq_beam_search
        from mevi_spark.operators.ensemble import fuse_runs
        from mevi_spark.operators.metrics import evaluate_run
        from mevi_spark.operators.rerank import coarse_to_fine
        from mevi_spark.operators.topk import exact_topk_join

        qid, qv, src = self.queries(i)
        qs = spark.createDataFrame(
            pd.DataFrame({"query_id": qid, "query_vec": list(qv)}),
            "query_id long, query_vec array<float>",
        )
        ann, ann_pd = tr.call(
            "operators.topk.exact_topk_join.s",
            lambda: exact_topk_join(qs, self.docs, k=K_TOP),
            persist=True,
        )
        coarse, coarse_pd = tr.call(
            "operators.beam.rq_beam_search.s",
            lambda: rq_beam_search(
                qs, None, levels=1, num_beams=self.beams,
                k_per_level=len(self.centroids), entries_by_level=self.entries,
            ).select("query_id", "code_flat", F.col("beam_rank").alias("coarse_rank")),
            persist=True,
        )
        fine, fine_pd = tr.call(
            "operators.rerank.coarse_to_fine.s",
            lambda: coarse_to_fine(qs, coarse, self.part, k=K_TOP),
            persist=True,
        )
        fused, fused_pd = tr.call(
            "operators.ensemble.fuse_runs.s",
            lambda: fuse_runs(ann, coarse, self.mapping, k=K_TOP, fine_run=fine),
            persist=True,
        )

        def evaluate():
            run = fused.groupBy("query_id").agg(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("rank", "doc_id"))),
                    lambda s: s["doc_id"],
                ).alias("preds")
            )
            gt = spark.createDataFrame(
                pd.DataFrame({"query_id": qid, "gt_ids": [[int(s)] for s in src]}),
                "query_id long, gt_ids array<long>",
            )
            return evaluate_run(run, gt, cutoffs=CUTOFFS, query_col="query_id")

        _, eval_pd = tr.call("operators.metrics.evaluate_run.s", evaluate)
        for df in (ann, coarse, fine, fused):
            df.unpersist()
        out = {"i": i, "ann": ann_pd, "coarse": coarse_pd, "fine": fine_pd,
               "fused": fused_pd, "eval": eval_pd}
        return out, len(qid)

    def plant_error(self, out: dict) -> None:
        out["fine"].loc[out["fine"].index[0], "doc_id"] = -1

    # -- checks ------------------------------------------------------------

    def check(self, out: dict, con) -> bool:
        qid, qv, src = self.queries(out["i"])
        q64 = qv.astype(np.float64)
        scores = q64 @ self.x.T
        ref = {int(q): dict(enumerate(scores[j])) for j, q in enumerate(qid)}
        if not ranked_lists_match(out["ann"], ref, "score", K_TOP):
            return False
        coarse = out["coarse"]
        raw = q64 @ self.centroids.T
        row_of = {int(q): j for j, q in enumerate(qid)}
        for q, rows in coarse.groupby("query_id"):
            rows = rows.sort_values("coarse_rank")
            if list(rows["coarse_rank"]) != list(range(1, self.beams + 1)):
                return False
            r = raw[row_of[q]]
            codes = rows["code_flat"].to_numpy()
            got = r[codes]
            cut = np.sort(r)[::-1][self.beams - 1]
            if len(set(codes)) != self.beams or np.any(np.diff(got) > TOL) or got.min() < cut - TOL:
                return False
        if set(coarse["query_id"]) != set(qid):
            return False
        if not self._fine_matches(out, qid, qv, con):
            return False
        return self._fused_matches(out, qid) and self._eval_matches(out, qid, src)

    def _fine_matches(self, out, qid, qv, con) -> bool:
        """The fine path replayed in DuckDB: expand each predicted
        cluster to its members, score by dot product, keep the best
        score per (query, doc), rank with ties broken by doc id."""
        qdf = pd.DataFrame({"query_id": qid, "qv": [list(map(float, v)) for v in qv]})
        cdf = out["coarse"][["query_id", "code_flat"]]
        con.register("qdf", qdf)
        con.register("cdf", cdf)
        ref = con.sql(
            f"""
            WITH s AS (
              SELECT c.query_id, d.vec_id AS doc_id,
                     MAX(list_dot_product(q.qv::DOUBLE[], d.embedding::DOUBLE[])) AS score
              FROM cdf c
              JOIN emb d ON d.label = c.code_flat
              JOIN qdf q ON q.query_id = c.query_id
              GROUP BY 1, 2)
            SELECT query_id, doc_id, score,
                   ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
            FROM s QUALIFY rank <= {K_TOP}
            """
        ).df()
        con.unregister("qdf")
        con.unregister("cdf")
        got = out["fine"][["query_id", "doc_id", "rank", "score"]]
        key = ["query_id", "rank"]
        a = got.sort_values(key).reset_index(drop=True)
        b = ref.sort_values(key).reset_index(drop=True)
        return (
            len(a) == len(b)
            and (a["query_id"].to_numpy() == b["query_id"].to_numpy()).all()
            and (a["doc_id"].to_numpy() == b["doc_id"].to_numpy()).all()
            and _close(a["score"], b["score"])
        )

    def _fused_matches(self, out, qid) -> bool:
        """Rank fusion replayed: the fine run overwrites the dense run
        per (query, doc); the fused score adds α/(β·cluster_rank+1),
        with the query's cluster count as rank and a (1−γα) penalty for
        a doc outside the predicted clusters."""
        coarse_rank = {}
        ncl = {}
        for r in out["coarse"].itertuples():
            coarse_rank[(r.query_id, r.code_flat)] = r.coarse_rank - 1
            ncl[r.query_id] = ncl.get(r.query_id, 0) + 1
        merged: dict = {}
        for run in (out["ann"], out["fine"]):
            for r in run.itertuples():
                merged[(r.query_id, r.doc_id)] = r.score
        ref: dict = {int(q): {} for q in qid}
        for (q, d), s in merged.items():
            crank = coarse_rank.get((q, int(self.labels[d])))
            if crank is None:
                fused = (s + ALPHA / (BETA * float(ncl.get(q, 0)) + 1.0)) * (1.0 - GAMMA * ALPHA)
            else:
                fused = s + ALPHA / (BETA * float(crank) + 1.0)
            ref[int(q)][d] = fused
        return ranked_lists_match(out["fused"], ref, "fused_score", K_TOP)

    def _eval_matches(self, out, qid, src) -> bool:
        fused = out["fused"].sort_values(["query_id", "rank"])
        preds = {q: list(g["doc_id"]) for q, g in fused.groupby("query_id")}
        ev = out["eval"].sort_values("k")
        if list(ev["k"]) != list(CUTOFFS):
            return False
        for row in ev.itertuples():
            hits, rr = [], []
            for q, s in zip(qid, src):
                p = preds.get(int(q), [])[: row.k]
                pos = p.index(s) if s in p else None
                hits.append(0.0 if pos is None else 1.0)
                rr.append(0.0 if pos is None else 1.0 / (pos + 1))
            if row.n_queries != len(qid):
                return False
            if not _close([row.recall, row.mrr, row.hitrate], [np.mean(hits), np.mean(rr), np.mean(hits)]):
                return False
        return True

    def checker(self):
        con = duckdb.connect()
        con.sql(
            "CREATE VIEW emb AS SELECT * FROM "
            f"'{os.path.join(self.data_dir, 'embeddings.parquet')}'"
        )
        return con

    # -- traced counts -----------------------------------------------------

    def op_counts(self, out: dict, tr) -> dict[str, float]:
        """Candidates the fine step scored: the rows out of its join of
        the predicted clusters with their members."""
        layer = "operators.rerank.coarse_to_fine.s"
        cands = join_rows(tr.plan_nodes(layer)[layer], "code_flat")
        return {
            "operators.rerank.coarse_to_fine.candidates_per_query": cands / self.nq,
            "operators.rerank.coarse_to_fine.kept_frac": _ratio(len(out["fine"]), cands),
        }


CURATION_STEPS = (
    ("operators.dedup.dedup_exact.s", "dedup_exact"),
    ("operators.dedup.dedup_minhash.s", "dedup_minhash_pairs"),
    ("plans.pipeline_ops.text_quality_stats.s", "text_quality_stats"),
    ("operators.dedup.semantic_dedup.s", "semantic_dedup"),
    ("plans.pipeline_ops.bloom_decontaminate.s", "bloom_decontaminate"),
)


class CurationBatch:
    """One op is one curation job over the seeded corpus: the five
    registered curation queries, each result fetched, then the session's
    cached frames released as a job would before the next one."""

    name = "curation_batch"

    def __init__(self, cfg: dict, seed: int, data_dir: str, work: str):
        self.sizes = _sizes(cfg)
        self.data_dir = data_dir

    def generated(self, tables: dict) -> None:
        self.rows = sum(t.num_rows for t in tables.values())

    def stage(self, spark) -> None:
        from mevi_spark.plans import registry

        self.queries = registry.get_queries()

    def op(self, spark, i: int, tr):
        from mevi_spark.plans.retrieval import clear_session_caches

        out = {}
        for layer, name in CURATION_STEPS:
            _, out[name] = tr.call(layer, lambda n=name: self.queries[n](spark, self.data_dir))
        clear_session_caches(spark)
        return out, self.rows

    def plant_error(self, out: dict) -> None:
        sd = out["semantic_dedup"]
        sd.loc[sd.index[0], "kept"] = 1 - sd.loc[sd.index[0], "kept"]

    def checker(self):
        from mevi_spark.plans import registry

        oracles = registry.get_oracles()
        con = duckdb.connect()
        for t in ("documents", "embeddings"):
            con.sql(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{os.path.join(self.data_dir, t + '.parquet')}'"
            )
        self.expected = {name: con.sql(oracles[name]).df() for _, name in CURATION_STEPS}
        return con

    def check(self, out: dict, con) -> bool:
        return all(frames_equal(out[name], self.expected[name]) for _, name in CURATION_STEPS)

    def op_counts(self, out: dict, tr) -> dict[str, float]:
        """MinHash: rows out of the band-key join (candidate pairs) and
        the share the Jaccard verify keeps. SemDeDup: rows out of the
        within-cluster pair join, whose condition holds the cosine
        test. Bloom: rows that pass the probe filter on the corpus side
        and the share the exact verify join confirms."""
        nodes = tr.plan_nodes(
            "operators.dedup.dedup_minhash.s",
            "operators.dedup.semantic_dedup.s",
            "plans.pipeline_ops.bloom_decontaminate.s",
        )
        cands = join_rows(nodes["operators.dedup.dedup_minhash.s"], "band")
        pairs = join_rows(nodes["operators.dedup.semantic_dedup.s"], "code", "_cc")
        bloom = nodes["plans.pipeline_ops.bloom_decontaminate.s"]
        positives = sum(
            n.rows
            for n in bloom
            if n.name == "Filter" and "blooma" in n.desc
            and any(c.name == "Generate" and "[doc_id" in c.desc for c in n.children)
        )
        return {
            "operators.dedup.dedup_minhash.candidate_pairs": cands,
            "operators.dedup.dedup_minhash.verified_frac": _ratio(len(out["dedup_minhash_pairs"]), cands),
            "operators.dedup.semantic_dedup.pair_join_rows": pairs,
            "functions.bloom.bloom_probe.verified_frac": _ratio(join_rows(bloom, "g"), positives),
        }


SEMDEDUP_LAYER = "streaming.incremental_semdedup.commit_s"
NEARDUP_LAYER = "streaming.incremental_neardup.commit_s"
READ_LAYER = "streaming.state_read.s"
# the batch operators' settings, which the maintained state must match
SEMDEDUP_THRESHOLD = 0.95
MINHASH = {"num_hashes": 12, "bands": 4, "threshold": 0.5}


def semdedup_reference(x: np.ndarray, ids: np.ndarray, cents: np.ndarray):
    """SemDeDup's answer (``operators.dedup.semantic_dedup``) in NumPy:
    each row goes to its nearest centroid (lowest code on a tie), and a
    row is pruned when a same-cluster row with cosine at least the
    threshold has a lower centroid cosine, or an equal one and a lower
    id. Returns ``(code, kept)``. Row-wise sums keep equal rows' centroid
    cosines bit-equal, as the duplicate tie-break needs."""
    code = np.argmin((cents * cents).sum(1)[None, :] - 2.0 * x @ cents.T, axis=1)
    c = cents[code]
    den = np.sqrt((x * x).sum(1)) * np.sqrt((c * c).sum(1))
    cc = np.where(den == 0, 0.0, (x * c).sum(1) / np.where(den == 0, 1.0, den))
    unit = x / np.linalg.norm(x, axis=1, keepdims=True)
    kept = np.ones(len(x), dtype=np.int64)
    for k in np.unique(code):
        m = np.flatnonzero(code == k)
        near = unit[m] @ unit[m].T >= SEMDEDUP_THRESHOLD
        a_cc, a_id = cc[m][:, None], ids[m][:, None]
        b_cc, b_id = cc[m][None, :], ids[m][None, :]
        beaten = near & ((b_cc < a_cc) | ((b_cc == a_cc) & (b_id < a_id)))
        np.fill_diagonal(beaten, False)
        kept[m[beaten.any(1)]] = 0
    return code, kept


class IngestStream:
    """One op lands one slice of new rows (plus re-delivered ones) in
    the input directories, drains it through the maintained SemDeDup
    and MinHash near-dup state, each with ``availableNow`` and a
    persistent checkpoint, and then reads the published state, as a
    reader would right after the commit.

    The first half of the generated rows is the corpus ingested during
    setup; the slices come from the second half, which holds every
    planted duplicate, so each slice brings copies of ingested rows."""

    name = "ingest_stream"

    def __init__(self, cfg: dict, seed: int, data_dir: str, work: str):
        self.sizes = _sizes(cfg)
        self.seed = seed
        self.data_dir = data_dir
        self.work = work
        self.slice_rows = cfg["slice_rows"]
        self.redeliver = cfg["redeliver_frac"]
        self.next_slice = 1
        self.landed_bytes = 0
        self.inodes_before: set = set()

    def generated(self, tables: dict) -> None:
        self.tables = tables
        emb = tables["embeddings"]
        x = np.stack(emb["embedding"].to_numpy(zero_copy_only=False)).astype(np.float64)
        labels = emb["label"].to_numpy()
        # the fixed codebook, trained offline: the label means
        self.centroids = [
            (c, [float(v) for v in x[labels == c].mean(0)]) for c in range(self.sizes.clusters)
        ]
        n = min(self.sizes.n_vectors, self.sizes.n_docs)
        self.base_rows = n // 2
        self.max_ops = (n - self.base_rows) // self.slice_rows
        # rows of slice j (slice 0 is the setup corpus), re-deliveries
        # drawn from the rows landed before it
        self.slices = [np.arange(self.base_rows)]
        for j in range(1, self.max_ops + 1):
            lo = self.base_rows + (j - 1) * self.slice_rows
            rng = np.random.default_rng([self.seed, j])
            again = rng.choice(lo, size=round(self.redeliver * self.slice_rows), replace=False)
            self.slices.append(np.concatenate([np.arange(lo, lo + self.slice_rows), again]))

    def _dir(self, *parts) -> str:
        return os.path.join(self.work, "ingest", *parts)

    def _land(self, j: int) -> None:
        """Write slice ``j`` of each table into its input directory,
        under a hidden name first, so a stream never lists a partial
        file."""
        import pyarrow.parquet as pq

        for table, sub in (("embeddings", "in_vec"), ("documents", "in_doc")):
            rows = self.tables[table].take(self.slices[j])
            if table == "documents":
                rows = rows.select(["doc_id", "text"])
            tmp = self._dir(sub, f".s{j:05d}.parquet")
            pq.write_table(rows, tmp)
            self.landed_bytes += os.path.getsize(tmp)
            os.rename(tmp, self._dir(sub, f"s{j:05d}.parquet"))

    def stage(self, spark) -> None:
        """Create the input directories and ingest the setup corpus."""
        for sub in ("in_vec", "in_doc"):
            os.makedirs(self._dir(sub), exist_ok=True)
        self.cents = spark.createDataFrame(
            [(c, v) for c, v in self.centroids], "code long, centroid array<double>"
        )
        self.vec_schema = "vec_id long, embedding array<float>, label int"
        self.doc_schema = "doc_id long, text string"
        self._land(0)
        self._drain(spark, Tracer(spark, False, "setup"))

    def _drain(self, spark, tr) -> None:
        from mevi_spark.streaming.incremental import (
            incremental_neardup,
            incremental_semdedup,
            stream_parquet_source,
        )

        tr.stream(SEMDEDUP_LAYER, lambda: incremental_semdedup(
            stream_parquet_source(spark, self._dir("in_vec"), self.vec_schema),
            self.cents, self._dir("semdedup"), self._dir("ckpt_semdedup"),
            threshold=SEMDEDUP_THRESHOLD,
        ))
        tr.stream(NEARDUP_LAYER, lambda: incremental_neardup(
            stream_parquet_source(spark, self._dir("in_doc"), self.doc_schema),
            self._dir("neardup"), self._dir("ckpt_neardup"), **MINHASH,
        ))

    def op(self, spark, i: int, tr):
        j = self.next_slice
        self.next_slice += 1
        if tr.enabled:
            self.inodes_before = set(self._state_files())
            self.landed_bytes = 0
        self._land(j)
        self._drain(spark, tr)

        def read():
            scored = spark.read.parquet(self._dir("semdedup", "scored"))
            pairs = spark.read.parquet(self._dir("neardup", "pairs"))
            return (
                scored.select("_id", "code", "kept").toPandas(),
                pairs.select("id_a", "id_b", "jaccard").toPandas(),
            )

        scored, pairs = tr.timed(READ_LAYER, read)
        return {"slice": j, "scored": scored, "pairs": pairs}, 2 * len(self.slices[j])

    def plant_error(self, out: dict) -> None:
        sc = out["scored"]
        sc.loc[sc.index[0], "kept"] = 1 - sc.loc[sc.index[0], "kept"]

    # -- checks ------------------------------------------------------------

    def checker(self):
        from mevi_spark.plans import registry

        self.minhash_oracle = registry.get_oracles()["dedup_minhash_pairs"]
        return duckdb.connect()

    def check(self, out: dict, con) -> bool:
        """The state after slice j against the batch operators' answers
        over the distinct rows of slices 0..j: SemDeDup replayed in
        NumPy, near-dup pairs from the registered DuckDB oracle of
        ``dedup_minhash_pairs`` (it plants copies at ids of 100000 and
        up; the pairs among the landed ids are the batch answer, since a
        pair's verdict depends on its two documents only)."""
        ids = np.unique(np.concatenate(self.slices[: out["slice"] + 1]))
        emb = self.tables["embeddings"].take(ids)
        x = np.stack(emb["embedding"].to_numpy(zero_copy_only=False)).astype(np.float64)
        code, kept = semdedup_reference(x, ids, np.array([c for _, c in self.centroids]))
        want_sd = pd.DataFrame({"_id": ids, "code": code, "kept": kept})
        docs = self.tables["documents"].take(ids).select(["doc_id", "text"]).to_pandas()
        con.register("documents", docs)
        want_nd = con.sql(
            f"SELECT * FROM ({self.minhash_oracle}) WHERE id_a < 100000 AND id_b < 100000"
        ).df()
        con.unregister("documents")
        got_nd = out["pairs"].assign(jaccard=out["pairs"]["jaccard"].round(6))
        return frames_equal(out["scored"], want_sd) and frames_equal(got_nd, want_nd)

    # -- traced counts -----------------------------------------------------

    def _state_files(self) -> dict:
        """``(device, inode) -> bytes`` of every file of the live
        published tables (each a link to its current version) and of
        the checkpoints; hard-linked files count once."""
        roots = [self._dir("ckpt_semdedup"), self._dir("ckpt_neardup")]
        for top in ("semdedup", "neardup"):
            for entry in os.listdir(self._dir(top)):
                path = self._dir(top, entry)
                if os.path.islink(path):
                    roots.append(os.path.realpath(path))
        files = {}
        for root in roots:
            for dirpath, _dirs, names in os.walk(root):
                for name in names:
                    st = os.stat(os.path.join(dirpath, name))
                    files[(st.st_dev, st.st_ino)] = st.st_size
        return files

    def op_counts(self, out: dict, tr) -> dict[str, float]:
        """Micro-batch phases from the queries' progress reports; rows
        the SemDeDup commit rewrote into its scored state (Spark's
        count of rows written, read from the plan of the write); state
        size and the bytes this op added to it, from the file system."""
        def phase(layer, key):
            return sum(p["durationMs"].get(key, 0) for p in tr.progress[layer]) / 1000.0

        written_rows = sum(
            n.rows
            for n in tr.plan_nodes(SEMDEDUP_LAYER)[SEMDEDUP_LAYER]
            if "InsertIntoHadoopFsRelationCommand" in n.name and "scored" in n.desc
        )
        files = self._state_files()
        new_bytes = sum(size for key, size in files.items() if key not in self.inodes_before)
        return {
            "streaming.incremental_semdedup.add_batch_s": phase(SEMDEDUP_LAYER, "addBatch"),
            "streaming.incremental_semdedup.wal_commit_s": phase(SEMDEDUP_LAYER, "walCommit"),
            "streaming.incremental_semdedup.rows_rescored_per_input_row": _ratio(
                written_rows, len(self.slices[out["slice"]])
            ),
            "streaming.incremental_neardup.add_batch_s": phase(NEARDUP_LAYER, "addBatch"),
            "streaming.state_bytes_written_per_input_byte": _ratio(new_bytes, self.landed_bytes),
            "streaming.state_bytes": sum(files.values()),
            "streaming.state_files": len(files),
        }


WORKLOADS = {w.name: w for w in (RetrievalSweep, CurationBatch, IngestStream)}

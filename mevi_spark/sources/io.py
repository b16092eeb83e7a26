"""Sources & sinks (SURVEY.md §2.1).

The reference's file zoo — TSV (S1/S2), np.memmap matrices (S3), pickle
caches (S4), per-rank TSV shards merged by rank 0 (S5/S6) — collapses to
two Spark-native ideas:

* **Parquet** for every large artifact (embeddings, mappings, clusters,
  runs). Spark writes sharded files natively, so the reference's
  rank-shard-then-merge dance (``MEVI/main_models.py:190-273``,
  ``MEVI/generate.py:152-187``) disappears.
* **Schema-explicit TSV readers** for interop with the reference's text
  formats (corpus/queries/qrels/run files).

All readers take explicit schemas — never ``inferSchema`` (a full extra
pass over 100 TB).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from mevi_spark import schemas

# Scan-frame memo: ``spark.read.parquet`` costs ~0.1 s of driver work
# (file listing + footer schema read + py4j) per call, and a bench/gate
# session re-reads the same immutable testdata tables dozens of times.
# DataFrames are immutable plan handles, so reusing one across queries
# changes nothing about execution; stored ON the session object so the
# memo's lifetime is exactly the session's.
def _table_cache(spark: SparkSession) -> dict:
    """Per-session scan-frame memo, stored ON the session (see
    operators/cache.py::session_attached — a weak-keyed module map
    leaks here because cached DataFrames strongly reference their
    session)."""
    from mevi_spark.operators.cache import session_attached

    return session_attached(spark, "_mevi_table_cache", dict)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver-generated testdata table (TESTDATA.md), memoized
    per (session, dir, name).

    The ``events`` table stores ``ts`` as parquet TIMESTAMP(NANOS), which
    Spark 4 refuses to read as a timestamp. We read it as long nanos
    (``spark.sql.legacy.parquet.nanosAsLong`` — set here at runtime so
    sessions not built by :func:`mevi_spark.session.get_spark` work too)
    and convert losslessly to a micros timestamp with integer division
    (the testdata has zero sub-microsecond bits; float division would
    lose precision at 1.7e18 ns).
    """
    per_session = _table_cache(spark)
    hit = per_session.get((sf_dir, name))
    if hit is not None:
        return hit
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    per_session[(sf_dir, name)] = df
    return df


def scan_parquet(spark: SparkSession, path: str) -> DataFrame:
    """A memoized parquet scan FRAME for an arbitrary path — the same
    plan-handle-only treatment ``load_table`` gives the testdata
    tables: building the frame costs ~0.1 s of listing + footer +
    py4j per call, execution-time file listing still happens on every
    job, so nothing about execution is cached. Callers must pass
    VERSIONED paths (the staged layouts, whose names embed the source
    mtime) or schema-stable append locations — the memo pins the
    schema read at first call, which is exactly right for immutable
    artifacts and wrong for a path whose schema can change."""
    per_session = _table_cache(spark)
    hit = per_session.get(("__path__", path))
    if hit is None:
        hit = spark.read.parquet(path)
        per_session[("__path__", path)] = hit
    return hit


def spread_small_scan(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Redistribute a scan whose planned split count is below the
    cluster's default parallelism — opt-in, for expression-heavy
    per-row stages over bounded inputs.

    Parquet scans parallelize at row-group granularity; a
    single-row-group file plans as ONE task, so heavy per-row work
    downstream (regex tokenization, per-shingle md5) runs on one core.
    A round-robin repartition of such a bounded input costs one small
    exchange and buys full-width execution.

    NOT applied by default in :func:`load_table`: measured at sf0.1,
    the extra exchange is a net LOSS for shuffle-light queries (the
    scan task is cheap; the exchange + extra AQE stage round-trips are
    not). Use it only where the per-row expression work dominates the
    stage.

    Scale guard: the check reads the PLANNED split count
    (:func:`planned_partitions`: no job, no codegen). At production
    scale the file listing exceeds parallelism, the branch is not
    taken, and no exchange enters the plan.
    """
    width = spark.sparkContext.defaultParallelism
    n = planned_partitions(df)
    if n is None:
        # a shape the plan walk does not model: under AQE this runs
        # the input's shuffle stages to learn their coalesced width
        n = df.rdd.getNumPartitions()
    if n < width:
        return df.repartition(width)
    return df


def planned_partitions(df: DataFrame) -> int | None:
    """The partition count ``df.rdd`` would report, read from the
    physical plan without building the RDD (which, under AQE, runs
    every shuffle stage of the input, and always compiles its
    generated code). Modelled: file scans (their planned splits),
    projections and filters over them, unions of those (the sum), and
    a repartition to an explicit count (AQE never coalesces it).
    ``None`` for any other shape."""

    def count(node, in_union: bool) -> int | None:
        name = node.getClass().getSimpleName()
        if name == "FileSourceScanExec":
            return node.inputRDD().getNumPartitions()
        if name in ("ProjectExec", "FilterExec"):
            return count(node.child(), in_union)
        if name == "UnionExec":
            kids = node.children()
            parts = [count(kids.apply(i), True) for i in range(kids.size())]
            return None if None in parts else sum(parts)
        if (
            name == "ShuffleExchangeExec"
            and not in_union
            and node.shuffleOrigin().toString() == "REPARTITION_BY_NUM"
        ):
            return node.outputPartitioning().numPartitions()
        return None

    return count(df._jdf.queryExecution().sparkPlan(), False)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Read all testdata tables and register them as temp views."""
    out: dict[str, DataFrame] = {}
    for name in schemas.TESTDATA_TABLES:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


# --- reference TSV formats --------------------------------------------------


def read_corpus_tsv(spark: SparkSession, path: str) -> DataFrame:
    """S1: corpus scan ``(doc_id, title, content)`` with ``fillna('')``.

    Mirrors ``MEVI/main_utils.py:188-213`` (pandas ``read_csv(sep='\\t')``
    + ``fillna('')``).
    """
    df = spark.read.csv(
        path,
        sep="\t",
        schema="doc_id LONG, title STRING, content STRING",
        header=False,
    )
    return df.na.fill({"title": "", "content": ""})


def read_queries_train_tsv(spark: SparkSession, path: str) -> DataFrame:
    """S2: train pairs ``(query, doc_id)`` — ``MEVI/main_utils.py:114-127``."""
    return spark.read.csv(
        path, sep="\t", schema="query STRING, doc_id LONG", header=False
    ).na.drop(subset=["query"])


def read_queries_dev_tsv(spark: SparkSession, path: str) -> DataFrame:
    """S2: dev rows ``(query, doc_ids)`` where doc_ids is comma-joined.

    The reference parses with a ``comma_split`` converter
    (``MEVI/main_utils.py:237, 264-278``).
    """
    raw = spark.read.csv(
        path, sep="\t", schema="query STRING, doc_ids_csv STRING", header=False
    )
    return raw.select(
        "query",
        F.split(F.col("doc_ids_csv"), ",").cast("array<long>").alias("doc_ids"),
    )


def read_qrels_tsv(spark: SparkSession, path: str) -> DataFrame:
    """qrels 4-column form ``(qid, iteration, doc_id, rel)`` —
    ``dataprocess/msmarco_passage/prepare_origin.py:38-48``."""
    return spark.read.csv(
        path,
        sep="\t",
        schema="qid LONG, iteration INT, doc_id LONG, rel INT",
        header=False,
    )


def read_run_tsv(spark: SparkSession, path: str, with_clusters: bool = False) -> DataFrame:
    """Run-file scan ``(query, clusters?, preds, scores)``.

    The reference writes ``(query, '', preds_csv, scores_csv)``
    (``MEVI/faiss_search.py:71-77``) and parses with positional templates
    (``MEVI/ensemble_marco.py:92-111, 164-166``). Cluster lists are
    python-literal ``[[...]]`` strings; we parse them with ``from_json``
    (F2 in SURVEY §2.8).
    """
    raw = spark.read.csv(
        path,
        sep="\t",
        schema="query STRING, clusters_raw STRING, preds_csv STRING, scores_csv STRING",
        header=False,
    )
    out = raw.select(
        "query",
        (
            F.from_json(F.col("clusters_raw"), "array<array<int>>")
            if with_clusters
            else F.lit(None).cast("array<array<int>>")
        ).alias("clusters"),
        F.split(F.col("preds_csv"), ",").cast("array<long>").alias("preds"),
        F.split(F.col("scores_csv"), ",").cast("array<double>").alias("scores"),
    )
    return out


def write_run_tsv(run: DataFrame, path: str) -> None:
    """Run-file sink (S5). One Spark write replaces the reference's
    per-rank tmp files + rank-0 merge (``MEVI/main_models.py:190-273``)."""
    out = run.select(
        "query",
        F.coalesce(F.to_json("clusters"), F.lit("")).alias("clusters_raw"),
        F.concat_ws(",", F.col("preds").cast("array<string>")).alias("preds_csv"),
        F.concat_ws(",", F.col("scores").cast("array<string>")).alias("scores_csv"),
    )
    out.write.mode("overwrite").csv(path, sep="\t")


# ---------------------------------------------------------------------------
# JSONL corpus sink/scan — the lingua franca format of LLM training
# corpora (one JSON object per line, gzip-splittable when uncompressed,
# schema carried per record). Not a reference format (the reference is
# TSV-only, MEVI/main_utils.py:188-213); added because a pipeline that
# exchanges corpora with the outside world speaks JSONL first.


def write_corpus_jsonl(df: DataFrame, path: str) -> None:
    """Executor-side sharded JSONL write (Spark's native json sink —
    one file per partition, no driver merge; at 100 TB the sink scales
    with parallelism like every other sink here)."""
    df.write.mode("overwrite").json(path)


def read_corpus_jsonl(
    spark: SparkSession, path: str, schema: str
) -> DataFrame:
    """Scan a JSONL directory with an EXPLICIT schema — schema
    inference is a full extra pass over the data (at 100 TB, a full
    extra 100 TB read), so the scan takes the DDL string and goes
    straight to parsing. Corrupt lines DROP (``DROPMALFORMED`` — the
    default PERMISSIVE mode would instead emit an all-null row per
    corrupt line, a phantom-row hazard for downstream counts; FAILFAST
    is the strict variant when ingest should halt on corruption).
    Missing fields in well-formed lines still land as nulls."""
    return (
        spark.read.schema(schema)
        .option("mode", "DROPMALFORMED")
        .json(path)
    )

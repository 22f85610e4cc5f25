"""SparkSession factory tuned for the ER workload.

Local-mode defaults mirror what we would submit to a real cluster via
``spark-submit --py-files`` (see ``plans/submit.py``): AQE on (runtime
re-planning + skew-join splitting), Arrow on (every pandas UDF crosses the
JVM/Python boundary in columnar batches), UTC session timezone (oracle
comparison against DuckDB's naive-UTC timestamps), and shuffle partitions
sized to cores rather than the 200 default.
"""

from __future__ import annotations

import os
import warnings

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

DEFAULT_SHUFFLE_PARTITIONS = 32

# Runtime-settable SQL confs the engine's correctness/perf contract depends
# on. The driver's correctness harness (and any embedding application)
# passes an ARBITRARY SparkSession into queries(); these are applied onto
# that session at battery entry (plans/queries.load -> ensure_session) so
# the engine does not silently depend on how the caller built its session:
#   * UTC session timezone — timestamp parity with the DuckDB oracle's
#     naive-UTC semantics;
#   * InferFiltersFromGenerate exclusion — measured 6-13x on the
#     shingle/minhash family (rationale at get_spark below);
#   * Arrow — every pandas UDF crosses the JVM/Python boundary batched;
#   * reliable-checkpoint GC — iterative CC/closure checkpoints are
#     deleted once their RDD is collected instead of accumulating in the
#     (possibly tmpfs) checkpoint dir for the session lifetime.
RUNTIME_SQL_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.optimizer.excludedRules": (
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    ),
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
}


def ensure_checkpoint_dir(spark: SparkSession) -> None:
    """Guarantee a reliable-checkpoint dir on the session BEFORE any
    `Dataset.checkpoint()` call (iterative CC / transitive closure /
    multi-consumer stage barriers all require one).

    The driver contract hands queries() an arbitrary session
    (__spark_entry__.py), so every checkpointing operator calls this on the
    session it actually received rather than assuming get_spark() built it.

    Fallback policy (cluster-safety): a driver-local tempdir is only a
    correct checkpoint root in local mode, where driver == executors. On a
    real cluster each executor would write blocks to its OWN file:/tmp and
    reads would fail or silently see partial data — so for non-local
    masters we refuse to guess and demand shared storage (HDFS/S3) via
    SPARK_GRAFT_CHECKPOINT_DIR / setCheckpointDir.
    """
    sc = spark.sparkContext
    if sc.getCheckpointDir() is not None:
        return
    ckpt = os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
    if not ckpt:
        if not sc.master.startswith("local"):
            raise RuntimeError(
                "No checkpoint directory configured and master is "
                f"'{sc.master}' (non-local): a driver-local tempdir would "
                "be invisible to executors. Set SPARK_GRAFT_CHECKPOINT_DIR "
                "or call spark.sparkContext.setCheckpointDir() with a "
                "shared filesystem path (HDFS/S3) before running iterative "
                "operators."
            )
        import tempfile

        ckpt = os.path.join(
            tempfile.gettempdir(), f"spark-graft-ckpt-{os.getpid()}"
        )
    sc.setCheckpointDir(ckpt)


def ensure_session(spark: SparkSession) -> SparkSession:
    """Idempotently apply the engine's runtime contract to a session the
    caller (driver harness, notebook, test) built without get_spark():
    runtime SQL confs + reliable-checkpoint dir + checkpoint GC. Static
    confs (driver memory, broadcast threshold defaults) keep whatever the
    caller chose — only correctness-bearing, runtime-settable knobs are
    forced."""
    marker = "spark.tabiya.sessionReady"
    try:
        if spark.conf.get(marker, None) == "true":
            return spark
    except Exception:  # pragma: no cover - conf API always supports get
        pass
    for k, v in RUNTIME_SQL_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception as exc:  # non-runtime conf on some builds
            warnings.warn(f"could not set {k}={v}: {exc}", stacklevel=2)
    # NO ensure_checkpoint_dir here: only the checkpointing operators
    # (connected_components / transitive_ancestors / _materialize_stage)
    # actually need one, and they each call it themselves. Demanding a
    # checkpoint dir at first table read would fail EVERY query — including
    # plain scans/aggregations that never checkpoint — on a cluster session
    # without SPARK_GRAFT_CHECKPOINT_DIR configured.
    spark.conf.set(marker, "true")
    return spark


def arrow_frame(
    spark: SparkSession, rows: list, schema: StructType | str
) -> DataFrame:
    """DataFrame of driver-made ``rows`` (tuples), built from one Arrow table.

    Spark turns an Arrow table into a ``LocalRelation`` on the driver (a
    JVM-side RDD past ``spark.sql.execution.arrow.localRelationThreshold``);
    no Python worker is involved. ``createDataFrame(<list>)`` ships pickled
    rows through
    ``SparkContext.parallelize``, which starts a second pool of Python
    workers next to the Arrow UDF pool, only to hand a few rows to the JVM.
    ``schema`` is a StructType or a DDL string; values are cast to it.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


def get_spark(
    app_name: str = "tabiya-er-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env) or ``local[*]``.
    On a real cluster the same conf block ships unchanged; nothing here is
    local-only except the master fallback.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE", DEFAULT_SHUFFLE_PARTITIONS)
        )

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # AQE: runtime coalescing of small shuffle partitions + skew-join
        # splitting. The north rule demands explicit skew handling; AQE is
        # the built-in half (salting in operators/blocking.py is the other).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow: all pandas UDF traffic is columnar-batched.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Split small local files into >= cores scan partitions; on a real
        # cluster input splits dominate and this floor is a no-op.
        .config("spark.sql.files.minPartitionNum", str(shuffle_partitions))
        .config("spark.sql.leafNodeDefaultParallelism", str(shuffle_partitions))
        # 64 MB broadcast ceiling (default 10 MB): the ER feature table
        # (rid, tokens, name_key, 64-dim embedding) measures ~40 MB per 50k
        # records — under 10 MB Spark sort-merge-joins 15M candidate pairs
        # against it (measured 218s); broadcast-hash does it in 23s. On a
        # real cluster executors have GBs; 64 MB is a conservative ceiling,
        # and genuinely large dimensions still fall back to SMJ via AQE.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config(
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
            str(64 * 1024 * 1024),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        # Iterative connected-components checkpoints truncate lineage here.
        .config("spark.checkpoint.compress", "true")
        # GC reliable-checkpoint data once its RDD is collected: iterative
        # CC/closure supersede their per-iteration checkpoints immediately,
        # and long batteries would otherwise accumulate corpus-sized files
        # in the checkpoint dir (tmpfs in the bench harness) for the whole
        # session lifetime.
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        # InferFiltersFromGenerate infers `size(x)>0 AND isnotnull(x)` from
        # every explode and pushes it below exchanges, INLINING the generator
        # input expression into the filter. Our generator inputs are expensive
        # computed columns (tokenize->shingle trees), so the rule re-evaluates
        # them 3x per row on the pre-shuffle (often single-split) side —
        # measured 6-13x slowdown on the shingle/minhash family at sf0.1.
        # Exploded shingle arrays are never null/empty here, so the inferred
        # filter buys nothing.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # Reliable checkpoint dir for the iterative operators (connected
    # components / transitive closure): their per-iteration lineage
    # truncation must be a RELIABLE checkpoint — localCheckpoint stores
    # blocks on executors only, so one lost executor after truncation kills
    # the job unrecoverably on a real cluster. Point
    # SPARK_GRAFT_CHECKPOINT_DIR at durable shared storage (HDFS/S3) when
    # submitting; ensure_checkpoint_dir refuses a driver-local tempdir
    # fallback on non-local masters.
    ensure_checkpoint_dir(spark)
    return spark

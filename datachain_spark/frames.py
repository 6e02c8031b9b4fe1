"""Plan-time helpers shared by the lake layer, the operators and the query
builders: input size from the file index, driver-local frames, and the
size-aware scan spread. None of them runs a Spark job."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# Input bytes per task of a spread scan (spread). Measured at local[4] on a
# 4-core VM over the 9 spread queries of the driver file (median of 5 runs
# per query, summed). On 65 KB documents / 194 KB embeddings, spreading
# every scan to 4 tasks saved no wall time (8.56 vs 8.81 s) and cost 13%
# more process CPU. On 595 KB / 799 KB, wall time went 11.0 s unspread ->
# 9.0 s (2 tasks per documents scan) -> 8.2 s (3) -> 8.3 s (4) while CPU
# rose 13.2 -> 15.2 -> 15.9 -> 17.1 s: a task holding less than ~200 KB
# does not repay its share of the exchange. 256 KiB gives those inputs 3
# and 4 tasks and leaves any input under 256 KiB unspread.
SPREAD_TASK_TARGET_BYTES = 256 * 1024


def input_bytes(df: DataFrame) -> int | None:
    """Bytes of the files `df` reads, from the file indexes Spark built
    when the frame was created — no job, no listing. None when any leaf of
    the plan is not a file scan (in-memory frames, RDD-backed
    `foreachBatch` sources): their size is unknown before a job runs."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    total = 0
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() != "LogicalRelation":
            return None
        rel = leaf.relation()
        if rel.getClass().getSimpleName() != "HadoopFsRelation":
            return None
        total += int(rel.sizeInBytes())
    return total


def local_frame(
    spark: SparkSession, schema: T.StructType, columns: dict[str, list] | None = None
) -> DataFrame:
    """A driver-local frame built from an Arrow table (empty unless
    `columns` are given). Spark plans it as a LocalRelation, so collecting
    an expression over it is a LocalTableScan: no job and no Python worker.
    A list of tuples would go through `parallelize` — a 4-task job through
    pyspark.daemon on every call."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    data = columns or {f.name: [] for f in schema.fields}
    return spark.createDataFrame(pa.Table.from_pydict(data, schema=to_arrow_schema(schema)), schema)


def spread(df: DataFrame, *keys: str) -> DataFrame:
    """Hash-repartition a scan on `keys` so its per-row work runs on
    P = min(defaultParallelism, ceil(input bytes / SPREAD_TASK_TARGET_BYTES))
    tasks. Spark gives a scan one task per input split, and a single-file,
    single-row-group parquet table is one split however large, so every
    scan-fused per-row expression (tokenizing, gram hashing, signatures)
    would run on one core. The exchange costs a stage and a task per
    partition, which only an input of several target sizes repays, so
    smaller inputs keep their scan partitioning; so does an input that
    already has P or more splits. When the size is unknown (a leaf that
    is not a file scan), P is defaultParallelism. Deterministic: a hash
    of the row key, never a round-robin."""
    n = df.sparkSession.sparkContext.defaultParallelism
    nbytes = input_bytes(df)
    p = n if nbytes is None else min(n, -(-nbytes // SPREAD_TASK_TARGET_BYTES))
    if p > 1 and df.rdd.getNumPartitions() < p:
        return df.repartition(p, *keys)
    return df

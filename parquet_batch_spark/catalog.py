"""Table catalog over the driver's parquet testdata layout.

One parquet file (or directory of files) per table under a scale-factor
directory. On a real deployment these would be partitioned/bucketed
table roots; the loader is path-based so the same code serves both.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table as a DataFrame (lazy; schema from parquet footer).

    ``events.ts`` has shipped as BOTH parquet TIMESTAMP(NANOS) (rounds
    1-3) and TIMESTAMP(MICROS) (round 4) — the generator is outside
    our control, so the loader normalizes EITHER encoding to
    ``timestamp_ntz`` at µs precision: nanos arrive as a raw long
    (``spark.sql.legacy.parquet.nanosAsLong``) and are truncated with
    integer division — exactly what DuckDB's reader does — while
    micros arrive as a native timestamp and only need the ntz cast
    (session tz pinned to UTC first, so the cast is wall-clock
    exact).
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    if name == "events":
        # The caller may hand us a session without our factory configs
        # (the driver builds its own); both confs are runtime-settable.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(table_path(sf_dir, name))
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn(
                "ts",
                F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz"),
            )
        elif ts_type != "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    return df


def shared_stage(build):
    """Memoize a shared stage ``build(spark, sf_dir, *params)`` — the one
    home for state several operators reuse in a run (table counts, LSH
    candidates, the segment-edge graph, IVF seeds).  The key is the
    session (hashed by identity), ``sf_dir`` and the params; a DataFrame
    result is ``localCheckpoint``-ed once, plain data is kept as is.
    ``__wrapped__`` is the raw build (plan audits) and ``cache_clear()``
    forgets every entry (cold-recompute tests)."""

    def stage(spark: SparkSession, sf_dir: str, *params):
        out = build(spark, sf_dir, *params)
        return out.localCheckpoint() if isinstance(out, DataFrame) else out

    return functools.update_wrapper(functools.cache(stage), build)


@shared_stage
def count_table(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Row count of a source table (parquet footer metadata — one cheap
    job per session, free afterwards). Several operators derive plan
    constants from corpus size (LSH code width, IVF cell count, the
    shingle document-frequency cap)."""
    return load(spark, sf_dir, name).count()


def fan_out(df: DataFrame, spark: SparkSession, *cols: str) -> DataFrame:
    """Widen a small scan feeding a computation-heavy derivation.

    A few-MB parquet file arrives as ONE input split, so an expensive
    per-row derivation (shingling, hashing, vector math) would run on a
    single core; repartitioning to the cluster's parallelism costs a
    tiny shuffle of the raw rows.  The split count is Spark's own: the
    ``inputRDD()`` partitions of the planned ``FileSourceScanExec``
    leaves (FilePartition packing under the live ``spark.sql.files.*``
    confs; planning launches no job).  At 100 TB it is >> cores and this
    is a no-op; a plan with no file scan counts 0 and is spread.

    Pass key columns when downstream groups/joins on them: hash
    partitioning on the key lets Catalyst elide the next shuffle.
    """
    target = spark.sparkContext.defaultParallelism
    leaves = df._jdf.queryExecution().sparkPlan().collectLeaves()
    splits = sum(
        leaf.inputRDD().getNumPartitions()
        for leaf in (leaves.apply(i) for i in range(leaves.size()))
        if leaf.getClass().getSimpleName() == "FileSourceScanExec"
    )
    if splits >= target:
        return df
    return df.repartition(target, *cols) if cols else df.repartition(target)

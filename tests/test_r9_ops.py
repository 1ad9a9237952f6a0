"""Round-9 guards: fan_out tracks overridden spark.sql.files.* values
(ADVICE r8), and the Expand-free exact stats profile (VERDICT r8 #7
trim)."""

from __future__ import annotations


def test_pack_estimate_tracks_overridden_read_confs(spark, tmp_path):
    """With spark.sql.files.maxPartitionBytes overridden, fan_out's
    decision still follows Spark's ACTUAL packing (a hard-coded
    128 MiB/4 MiB would skip a needed spread or add a redundant one):
    ``fan_out(df) is df`` exactly when the scan has at least
    ``defaultParallelism`` partitions, under the default and the
    ``2m`` override."""
    from pyspark.sql import functions as F

    from parquet_batch_spark.catalog import fan_out

    target = spark.sparkContext.defaultParallelism
    path = str(tmp_path / "t")
    spark.range(1_500_000).select(
        F.col("id"), F.sha2(F.col("id").cast("string"), 256).alias("pad")
    ).coalesce(1).write.parquet(path)
    key = "spark.sql.files.maxPartitionBytes"
    prev = spark.conf.get(key)
    counts = []
    try:
        for value in (prev, "2m"):
            spark.conf.set(key, value)
            df = spark.read.parquet(path)
            counts.append(df.rdd.getNumPartitions())
            assert (fan_out(df, spark) is df) == (counts[-1] >= target), counts
    finally:
        spark.conf.set(key, prev)
    # and the override genuinely changed the packing vs defaults
    assert counts[1] > counts[0], counts


def test_stats_profile_exact_plans_without_expand(spark, sf_dir):
    """r9 trim (VERDICT r8 #7): the EXACT profile now uses the same
    union-of-single-distinct-branches topology as the approx sibling —
    no EXPAND (the old one-agg form replicated every fact row once per
    distinct aggregate, a x5 blow-up), one pruned column per branch
    scan."""
    import re

    from parquet_batch_spark.operators.warehouse import table_stats_profile

    plan = (
        table_stats_profile(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Expand" not in plan
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert len(schemas) == 4
    assert all(s.count(":") == 1 for s in schemas), schemas


def test_hash_seed_cells_memoized_per_sf_dir(spark, sf_dir):
    """r9: the coarse-quantizer training collect is shared by four
    registered ops — the centroid matrix must be computed once per
    sf_dir (identity-stable across calls) and stay correct (k rows,
    consistent with _ivf_k of the corpus count)."""
    from parquet_batch_spark.catalog import count_table
    from parquet_batch_spark.operators.similarity import (
        _cell_seeds,
        _hash_seed_cells,
        _ivf_k,
    )

    _cell_seeds.cache_clear()
    _, cents1, k1 = _hash_seed_cells(spark, sf_dir)
    _, cents2, k2 = _hash_seed_cells(spark, sf_dir)
    assert cents1 is cents2 and k1 == k2
    assert _cell_seeds.cache_info().misses == 1
    assert k1 == _ivf_k(count_table(spark, sf_dir, "embeddings"))
    assert cents1.shape[0] == k1


def test_segment_edges_memoized_and_checkpointed(spark, sf_dir):
    """r9: nine graph consumers share the segment-sharing edge table —
    it must materialize once per (session, sf_dir) and return the same
    DataFrame object on re-call; its ``__wrapped__`` build must return
    the raw (un-memoized) plan with the same rows."""
    from parquet_batch_spark.operators.llm_prep import segment_edges

    segment_edges.cache_clear()
    e1 = segment_edges(spark, sf_dir)
    e2 = segment_edges(spark, sf_dir)
    assert e1 is e2
    rows = e1.count()
    assert rows > 0
    raw = segment_edges.__wrapped__(spark, sf_dir)
    assert raw is not e1
    assert raw.count() == rows

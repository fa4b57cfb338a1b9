"""Job-count gates: a catalog read costs no Spark job to list the table."""

from __future__ import annotations

from pyspark.sql import functions as F

from knowledgegraph_spark import query as Q
from knowledgegraph_spark.config import MAX_BUCKETS
from knowledgegraph_spark.sources.catalog import Catalog

THRESHOLD = "spark.sql.sources.parallelPartitionDiscovery.threshold"


def _job_descriptions(spark, group: str, fn) -> list[str]:
    """Run ``fn`` under its own job group; the descriptions of its jobs."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    store = sc._jsc.sc().statusStore()
    out = []
    for j in sorted(sc.statusTracker().getJobIdsForGroup(group)):
        d = store.job(j).description()
        out.append(d.get() if d.isDefined() else "")
    return out


def _listing_jobs(descriptions: list[str]) -> list[str]:
    return [d for d in descriptions if d.startswith("Listing leaf files")]


def test_catalog_read_starts_no_listing_job(spark, tmp_path):
    assert int(spark.conf.get(THRESHOLD)) >= MAX_BUCKETS
    cat = Catalog(spark, str(tmp_path / "wh"))
    ents = spark.range(300).select(
        F.concat(F.lit("e"), F.col("id").cast("string")).alias("name"),
        F.lit("Person").alias("type"),
        F.pmod(F.xxhash64("id"), F.lit(64)).cast("int").alias("bucket"),
    )
    cat.write(ents, "entity_nodes", partition_by=["bucket"])
    assert len(cat.partition_values("entity_nodes", "bucket")) == 64

    def query():
        assert len(Q.entity_details(cat.read("entity_nodes"), "e7").collect()) == 1

    jobs = _job_descriptions(spark, "catalog-read", query)
    assert jobs and not _listing_jobs(jobs), jobs

    # the gate sees the job it guards against: at Spark's default threshold
    # the same read lists the 64 bucket directories with a Spark job
    default = spark.conf.get(THRESHOLD)
    spark.conf.set(THRESHOLD, "32")
    try:
        jobs = _job_descriptions(spark, "catalog-read-default", query)
    finally:
        spark.conf.set(THRESHOLD, default)
    assert len(_listing_jobs(jobs)) == 1, jobs


def test_bucket_counts_are_bounded(spark, tmp_path):
    """The threshold covers every table only while no layout exceeds
    MAX_BUCKETS: an explicit bucket count above it is refused up front."""
    import pytest

    from knowledgegraph_spark.admin import compact_ledger, ledger_buckets_for
    from knowledgegraph_spark.plans.pipeline import run_pipeline

    assert ledger_buckets_for(10**12) == MAX_BUCKETS
    cat = Catalog(spark, str(tmp_path / "wh"))
    with pytest.raises(ValueError, match="MAX_BUCKETS"):
        compact_ledger(cat, n_buckets=2 * MAX_BUCKETS)
    with pytest.raises(ValueError, match="MAX_BUCKETS"):
        run_pipeline(spark, None, str(tmp_path / "wh"), n_buckets=2 * MAX_BUCKETS)

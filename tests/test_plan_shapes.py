"""Physical-plan regression tests: pushdown, broadcast, no-global-sort.

These lock in the properties that matter at 100 TB — a change that
silently drops a pushed filter or turns a broadcast join into a
sort-merge should fail CI, not a cluster bill.
"""

import pytest
from pyspark.sql import functions as F
from test_entry import SF_DIR


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_lang_filter_pushed_to_scan(spark, tmp_path):
    from knowledgegraph_spark.corpus import pages_dataframe
    from knowledgegraph_spark.operators.extraction import extract_mentions_and_triples
    from knowledgegraph_spark.operators.html_text import with_extracted_text

    p = str(tmp_path / "pages")
    pages_dataframe(spark, 50).write.parquet(p)
    ext = extract_mentions_and_triples(with_extracted_text(spark.read.parquet(p)))
    plan = _plan(ext)
    # the lang predicate must reach the file scan, below both Python UDFs
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan


def test_fused_extract_single_python_crossing_and_pushdown(spark, tmp_path):
    """extract_pages (round-6 fusion) must keep the lang predicate at the
    file scan AND present exactly one Python eval node — the fusion's
    whole point is removing the second JVM↔Python crossing."""
    from knowledgegraph_spark.corpus import pages_dataframe
    from knowledgegraph_spark.operators.extraction import extract_pages

    p = str(tmp_path / "pages_fused")
    pages_dataframe(spark, 50).write.parquet(p)
    plan = _plan(extract_pages(spark.read.parquet(p)))
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan
    n_python_nodes = sum(plan.count(k) for k in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"))
    assert n_python_nodes == 1, plan


def test_alias_dict_join_is_broadcast(spark):
    from knowledgegraph_spark.operators.linking import (
        build_alias_dict,
        dict_match_edges,
        mention_match_keys,
    )

    mentions = spark.createDataFrame(
        [("u1", None, 0, "Alice Johnson", "Person", "a@x.example", None)],
        "url string, warc_ts timestamp, ord int, name string, type string, email string, domain string",
    )
    entities = spark.createDataFrame(
        [("Alice Johnson", "Person", ["A. Johnson"], ["a@x.example"], None)],
        "name string, type string, aliases array<string>, emails array<string>, domain string",
    )
    edges = dict_match_edges(mention_match_keys(mentions), build_alias_dict(entities))
    assert "BroadcastHashJoin" in _plan(edges)


def test_topk_has_no_global_sort(spark):
    from knowledgegraph_spark.operators.similarity import topk_cosine

    vecs = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(10)], "vec_id long, embedding array<double>"
    )
    plan = _plan(topk_cosine(vecs, [1.0, 0.0], k=3))
    assert "TakeOrderedAndProject" in plan
    assert "Sort [" not in plan  # no full sort stage


def test_entry_knn_topk_has_no_global_sort(spark):
    """The gated entry query (q_knn_topk) must share topk_cosine's shape:
    TakeOrderedAndProject for the top-k, no full sort of the scored rows.
    The rank window runs above the 10-row limit, so the only Window input
    is k rows — never the full scan."""
    import __spark_entry__ as entry_mod

    df = entry_mod.queries()["knn_topk"](spark, SF_DIR)
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan


def test_entry_plans_have_bounded_topk(spark):
    """TakeOrderedAndProject buffers ``limit`` rows per task and again on
    the driver, so a limit standing in for "all rows" (q_two_hop once
    passed 10**9) exhausts the heap.  No entry plan may carry a top-k
    limit above 10^6; a query that wants every row sorts without a limit."""
    import re

    import __spark_entry__ as entry_mod

    for name, q in sorted(entry_mod.queries().items()):
        plan = _plan(q(spark, SF_DIR))
        limits = [int(n) for n in re.findall(r"TakeOrderedAndProject\(limit=(\d+)", plan)]
        assert all(n <= 10**6 for n in limits), (name, limits)


def test_batch_topk_is_two_phase(spark):
    """topk_cosine_batch must pre-rank per (query, partition) so the final
    per-query window sees only k·n_partitions rows."""
    from knowledgegraph_spark.operators.similarity import topk_cosine_batch

    vecs = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(20)], "vec_id long, embedding array<double>"
    ).repartition(4)
    qs = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "query_id long, query_vec array<double>"
    )
    out = topk_cosine_batch(vecs, qs, k=3)
    plan = _plan(out)
    assert plan.count("Window") >= 2  # local phase + global phase
    assert "SPARK_PARTITION_ID" in plan.upper() or "spark_partition_id" in plan
    rows = out.collect()
    assert len(rows) == 6
    # exact: query 0 prefers largest first components, query 1 ties broken by id
    top_q0 = [r.vec_id for r in rows if r.query_id == 0]
    assert top_q0 == [19, 18, 17]


def test_bucket_filter_prunes_partitions(spark, tmp_path):
    """The O(delta) upsert reads existing tables with a bucket IN (...)
    filter — that filter must reach the scan as a PartitionFilter (only
    touched bucket dirs listed/read), not a post-scan Filter."""
    from knowledgegraph_spark.sources.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "wh"))
    df = spark.range(200).select(
        F.col("id"), F.pmod(F.xxhash64("id"), F.lit(16)).cast("int").alias("bucket")
    )
    cat.write(df, "t", partition_by=["bucket"])
    plan = _plan(cat.read("t").filter(F.col("bucket").isin([1, 2, 3])))
    assert "PartitionFilters" in plan
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "bucket" in m.group(1), plan


def test_mega_component_guard(spark):
    from knowledgegraph_spark.operators.components import assign_components

    # a star of 100 nodes — with a cap of 10 it must dissolve to singletons
    edges = spark.createDataFrame(
        [("hub", f"n{i:03d}") for i in range(100)], "src string, dst string"
    )
    nodes = spark.createDataFrame(
        [(f"n{i:03d}",) for i in range(100)] + [("hub",)], "node string"
    )
    capped = assign_components(nodes, edges, max_component_size=10).collect()
    assert all(r.component == r.node for r in capped)
    assert all(r.mega for r in capped)
    uncapped = assign_components(nodes, edges, max_component_size=1000).collect()
    assert len({r.component for r in uncapped}) == 1
    assert not any(r.mega for r in uncapped)


def test_duplicate_urls_in_input(spark):
    """The same url appearing twice in pages must not duplicate provenance
    or triples (set semantics throughout)."""
    from knowledgegraph_spark.config import PAGES_SCHEMA
    from knowledgegraph_spark.corpus import generate_corpus
    from knowledgegraph_spark.plans.pipeline import build_kg
    from pyspark.sql import Row

    c = generate_corpus(30, seed=3)
    rows = [Row(**p) for p in c["pages"]]
    once = spark.createDataFrame(rows, PAGES_SCHEMA)
    twice = spark.createDataFrame(rows + rows, PAGES_SCHEMA)
    t1 = {(r.subj, r.pred, r.obj, tuple(r.sources)) for r in build_kg(spark, once, persist=False).triples.collect()}
    t2 = {(r.subj, r.pred, r.obj, tuple(r.sources)) for r in build_kg(spark, twice, persist=False).triples.collect()}
    assert t1 == t2

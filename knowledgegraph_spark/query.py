"""Query surface over the materialized KG tables.

DataFrame-native equivalent of the reference's interactive CLI
(query_search.py:295-365): semantic top-k search, entity point lookup,
1-hop traversal, and stats — each a pure Spark plan over entity_nodes /
triples, no service process.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from knowledgegraph_spark.functions.embedding import embed_text_py, embedding
from knowledgegraph_spark.operators.similarity import cosine, topk_cosine


def with_embeddings(entities: DataFrame) -> DataFrame:
    """Attach deterministic embeddings over a text rendering of the node
    (name + type + aliases — mirroring the reference's entity rendering,
    ollama_embedder.py:53-101)."""
    rendering = F.concat_ws(
        " ", F.col("name"), F.col("type"), F.concat_ws(" ", F.col("aliases"))
    )
    return entities.withColumn("embedding", embedding(rendering))


def semantic_search(entities_embedded: DataFrame, query_text: str, k: int = 10) -> DataFrame:
    """Top-k entities by cosine to the embedded query text
    (query_search.py:49-111; similarity = cosine, not 1-distance)."""
    qv = embed_text_py(query_text)
    return (
        topk_cosine(entities_embedded, qv, k=k, id_col="name", vec_col="embedding")
        .withColumnRenamed("name", "entity_name")
    )


def entity_details(entities: DataFrame, name: str, etype: str | None = None) -> DataFrame:
    """Point lookup by (name[, type]) (query_search.py:153-184)."""
    out = entities.filter(F.col("name") == name)
    if etype:
        out = out.filter(F.col("type") == etype)
    return out


def one_hop(triples: DataFrame, name: str, limit: int = 20) -> DataFrame:
    """Both-direction 1-hop neighborhood (query_search.py:186-226).

    Union of outgoing and incoming edges, deterministic order, LIMIT n.
    """
    out = triples.filter(F.col("subj") == name).select(
        F.lit("out").alias("direction"),
        F.col("pred"),
        F.col("obj").alias("neighbor"),
        F.col("strength"),
    )
    inc = triples.filter(F.col("obj") == name).select(
        F.lit("in").alias("direction"),
        F.col("pred"),
        F.col("subj").alias("neighbor"),
        F.col("strength"),
    )
    return out.unionByName(inc).orderBy("direction", "pred", "neighbor").limit(limit)


def two_hop(triples: DataFrame, name: str, limit: int | None = 100) -> DataFrame:
    """Two-hop paths from an entity (either direction per hop).

    Undirected expansion as two self-joins over the triple table — the
    natural extension of the reference's 1-hop CLI.  Returns
    (mid, pred1, neighbor, pred2) rows, deduplicated, excluding paths
    returning to the origin, sorted.

    ``limit=None`` returns every path.  Spark plans sort + limit as a
    TakeOrderedAndProject whose top-k buffer is sized by the limit, so a
    huge limit standing in for "all" can exhaust the driver heap.
    """
    und = triples.select(
        F.col("subj").alias("a"), F.col("pred"), F.col("obj").alias("b")
    ).unionByName(
        triples.select(
            F.col("obj").alias("a"), F.col("pred"), F.col("subj").alias("b")
        )
    )
    hop1 = und.filter(F.col("a") == name).select(
        F.col("pred").alias("pred1"), F.col("b").alias("mid")
    )
    hop2 = und.select(
        F.col("a").alias("mid"), F.col("pred").alias("pred2"), F.col("b").alias("neighbor")
    )
    out = (
        hop1.join(hop2, "mid")
        .filter(F.col("neighbor") != name)
        .select("mid", "pred1", "pred2", "neighbor")
        .distinct()
        .orderBy("mid", "pred1", "pred2", "neighbor")
    )
    return out if limit is None else out.limit(limit)


def neighborhood_subgraph(triples: DataFrame, name: str) -> DataFrame:
    """All edges within the 1-hop neighborhood of an entity (induced
    subgraph export): edges touching the node, plus edges between its
    neighbors."""
    nbrs = (
        triples.filter(F.col("subj") == name).select(F.col("obj").alias("n"))
        .unionByName(triples.filter(F.col("obj") == name).select(F.col("subj").alias("n")))
        .distinct()
        .withColumn("__m", F.lit(True))
    )
    t = (
        triples.join(nbrs.withColumnRenamed("n", "subj"), "subj", "left")
        .withColumnRenamed("__m", "s_in")
        .join(nbrs.withColumnRenamed("n", "obj"), "obj", "left")
        .withColumnRenamed("__m", "o_in")
    )
    return t.filter(
        (F.col("subj") == name)
        | (F.col("obj") == name)
        | (F.col("s_in") & F.col("o_in"))
    ).select(*triples.columns)


def stats(entities: DataFrame, triples: DataFrame) -> DataFrame:
    """Entity counts per type (desc) + total relation count appended
    (query_search.py:259-293)."""
    by_type = entities.groupBy("type").agg(F.count("*").alias("n")).orderBy(
        F.desc("n"), F.col("type")
    )
    rel = triples.agg(F.count("*").alias("n")).select(
        F.lit("__relations__").alias("type"), F.col("n")
    )
    return by_type.unionByName(rel)

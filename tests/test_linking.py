"""Linking gates: the alias dictionary and its match edges."""

from __future__ import annotations

from pyspark.sql import functions as F

from knowledgegraph_spark.config import MATCHING_RULES
from knowledgegraph_spark.operators.linking import (
    _key_space,
    _norm,
    build_alias_dict,
    dict_match_edges,
    mention_match_keys,
)

ENTITY_DDL = (
    "name string, type string, aliases array<string>, emails array<string>, "
    "domain string, url string, title string, id string, sourceSystemId string"
)
ENTITIES = [
    ("Carla Be", "Person", ["C. Be", " c. be ", None], ["carla@x.example"], None, None, None, None, "hr-7"),
    ("Cedric Be", "Person", [], ["cedric@x.example", "CB@x.example"], None, None, None, None, None),
    ("Nobody", "Person", None, None, None, None, None, None, None),
    ("Acme Corp", "Organization", ["Acme"], [], "acme.example", None, None, None, None),
    ("Acme Labs", "Organization", None, None, "acme.example", None, None, None, None),
    ("acme/kg", "Repository", None, None, None, "https://git.example/acme/kg", None, None, None),
    ("Pull Request #7", "CodeChangeRequest", None, None, None, None, "Fix Linking", None, None),
    ("Issue KG-1", "Issue", None, None, None, None, None, "KG-1", None),
    ("Ops", "Team", ["Operations"], None, None, None, None, None, None),
    ("Graphs", "Topic", ["graph theory"], None, None, None, None, None, None),
    ("Launch", "Event", None, None, None, None, None, None, None),
]


def _union_form(entity_nodes):
    """The former build_alias_dict: one filtered branch per rule, unioned."""
    branches = []
    for etype, rules in MATCHING_RULES.items():
        e = entity_nodes.filter(F.col("type") == etype)
        for rule in rules:
            f = rule["field"]
            if f not in entity_nodes.columns:
                continue
            if rule["kind"] == "search":
                vals = e.select("name", "type", F.explode(F.col(f)).alias("value"))
            else:
                vals = e.select("name", "type", F.col(f).alias("value"))
            branches.append(
                vals.filter(F.col("value").isNotNull()).select(
                    F.concat_ws(
                        "|", F.col("type"), F.lit(_key_space(f)), _norm(F.col("value"))
                    ).alias("match_key"),
                    F.col("name").alias("canonical_name"),
                    F.col("type").alias("entity_type"),
                    F.lit(rule["priority"]).alias("priority"),
                    F.lit(float(rule["confidence"])).alias("confidence"),
                )
            )
    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b)
    return out.distinct()


def test_alias_dict_equals_union_form(spark):
    ents = spark.createDataFrame(ENTITIES, ENTITY_DDL)
    got = build_alias_dict(ents)
    want = _union_form(ents)
    assert got.columns == want.columns
    got_rows = sorted(tuple(r) for r in got.collect())
    assert got_rows == sorted(tuple(r) for r in want.collect())
    keys = {r[0] for r in got_rows}
    # every rule family is exercised: search arrays, exact scalars, key spaces
    assert {"Person|emails|cb@x.example", "Person|name|c. be",
            "Person|sourceSystemId|hr-7", "Organization|domain|acme.example",
            "Repository|url|https://git.example/acme/kg",
            "CodeChangeRequest|title|fix linking", "Issue|id|kg-1"} <= keys


def test_alias_dict_reads_entity_nodes_once(spark, tmp_path):
    """One FileScan of entity_nodes, no lambda higher-order functions."""
    p = str(tmp_path / "entity_nodes")
    spark.createDataFrame(ENTITIES, ENTITY_DDL).write.parquet(p)
    ad = build_alias_dict(spark.read.parquet(p))
    plan = ad._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan parquet") == 1, plan
    assert "lambdafunction" not in ad._jdf.queryExecution().optimizedPlan().toString()
    assert ad.count() == _union_form(spark.read.parquet(p)).count()


def test_dict_match_edges_emits_every_hit(spark):
    """A mention whose email names one entity and whose surface is another
    entity's alias links to BOTH; connected components decide, as in a
    one-shot run (keeping only the best-priority hit split them)."""
    mentions = spark.createDataFrame(
        [("u1", None, 0, "C. Be", "Person", "cedric@x.example", None)],
        "url string, warc_ts timestamp, ord int, name string, type string, email string, domain string",
    )
    ents = spark.createDataFrame(ENTITIES, ENTITY_DDL)
    edges = dict_match_edges(mention_match_keys(mentions), build_alias_dict(ents))
    assert sorted(tuple(r) for r in edges.collect()) == [
        ("Person|c. be", "Person|carla be"),
        ("Person|c. be", "Person|cedric be"),
    ]

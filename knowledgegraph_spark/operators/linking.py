"""Entity linking: match-key generation, in-corpus match edges, alias-dict join.

Re-expresses the reference's two matching stages Spark-first:

  * in-batch N×N pairwise matching (systematic_merge_provider.py:72-137,
    183-206 — O(N²) Python loops) becomes **match-key explosion + star
    join**: every mention node emits its normalized match keys
    (MATCHING_RULES), and all nodes sharing a key are connected to the
    key's minimum node.  Linear in key multiplicity — a head key with 10^6
    holders yields 10^6 edges, not 10^12 pairs — and connectivity is
    exactly preserved for the downstream connected-components pass.

  * the DB match-rule cascade (systematic_merge_provider.py:321-393 —
    sequential per-group HTTP lookups, first-hit-wins by priority) becomes
    one **broadcast join against an exploded alias dictionary** —
    SURVEY.md §2.4 J4/J6.  Every dictionary hit is an edge and connected
    components decide, as in a one-shot run: first-hit-wins would drop
    the edge to a second existing entity that one-shot CC links through
    a shared key, and incremental runs would then diverge from one-shot.

Normalization = lower + trim, the reference's ``_normalize_string``
(systematic_merge_provider.py:60-62).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from knowledgegraph_spark.config import MATCHING_RULES

# mention columns that can satisfy a rule field at extraction time
_RULE_SOURCE_COL = {
    "name": "name",
    "emails": "email",
    "domain": "domain",
    "url": "url_attr",
    "title": "title",
    "id": "id_attr",
    "sourceSystemId": "sourceSystemId",
    "aliases": None,  # aliases only exist post-fold (alias_dict covers them)
}

# Key SPACE unification: an alias is just another surface form of the name,
# so alias values key into the name space — otherwise a dictionary alias
# ("Person|aliases|bianca garcia") could never meet a mention surface key
# ("Person|name|bianca garcia") and incremental runs would duplicate
# entities that a one-shot run merges.
_KEY_SPACE = {"aliases": "name"}


def _key_space(field: str) -> str:
    return _KEY_SPACE.get(field, field)


def _norm(col):
    return F.lower(F.trim(col))


def node_key(type_col, name_col):
    """Stable node id for the match graph: ``type|normalized_name``.

    Injectivity invariant: the pipeline's fused surface table relies on
    (type, norm_name) ↔ node being a bijection, which holds because
    extractor type values are a closed vocabulary containing no ``|``
    (gated by tests/test_round6.py::test_node_key_type_vocabulary_has_no_separator;
    round-5 advice item 1)."""
    return F.concat_ws("|", type_col, _norm(name_col))


def with_node(mentions: DataFrame) -> DataFrame:
    return mentions.withColumn("node", node_key(F.col("type"), F.col("name")))


def mention_match_keys(mentions: DataFrame) -> DataFrame:
    """mentions → (node, match_key, priority, confidence), distinct.

    One output row per (mention-node, applicable rule with a non-null
    value).  match_key = ``type|key_space|normalized_value`` so keys are
    scoped per entity type and rule key space, mirroring the reference's
    per-type rule tables (entity_config.yaml:495-615).

    Single-pass plan: every rule becomes one optional struct in a per-row
    array → filter nulls → explode.  One scan + one explode instead of a
    |rules|-way union (the union form re-scanned the extraction output
    once per rule — ~20 scans).
    """
    m = with_node(mentions)
    rule_structs = []
    for etype, rules in MATCHING_RULES.items():
        for rule in rules:
            src_col = _RULE_SOURCE_COL.get(rule["field"])
            if src_col is None or src_col not in m.columns:
                continue
            rule_structs.append(
                F.when(
                    (F.col("type") == etype) & F.col(src_col).isNotNull(),
                    F.struct(
                        F.concat_ws(
                            "|",
                            F.col("type"),
                            F.lit(_key_space(rule["field"])),
                            _norm(F.col(src_col)),
                        ).alias("match_key"),
                        F.lit(rule["priority"]).alias("priority"),
                        F.lit(float(rule["confidence"])).alias("confidence"),
                    ),
                )
            )
    # Explode the raw rule array and drop null hits AFTER the explode: the
    # former ``explode(F.filter(array, isNotNull))`` paid the ArrayFilter
    # higher-order function's per-element lambda binding in interpreted
    # mode — measured 10.8 s vs 0.75 s for explode+Filter over the same
    # 50k-page mention stream (both Generate and Filter are codegen'd;
    # the null structs cost one extra exploded row each, which the
    # codegen'd filter discards for free).
    return (
        m.select("node", F.explode(F.array(*rule_structs)).alias("k"))
        .filter(F.col("k").isNotNull())
        .select(
            "node",
            F.col("k.match_key").alias("match_key"),
            F.col("k.priority").alias("priority"),
            F.col("k.confidence").alias("confidence"),
        )
        .distinct()
    )


def match_edges(keys: DataFrame) -> DataFrame:
    """(node, match_key) → star edges (src, dst) connecting co-keyed nodes.

    groupBy(match_key).min(node) gives each key a hub; every other holder
    links to the hub.  Equivalent connectivity to the full pairwise join
    at O(holders) cost — the skew-proof formulation of SURVEY.md §2.4 J5.
    """
    hubs = keys.groupBy("match_key").agg(F.min("node").alias("hub"))
    return (
        keys.join(hubs, "match_key")
        .filter(F.col("node") != F.col("hub"))
        .select(F.col("node").alias("src"), F.col("hub").alias("dst"))
        .distinct()
    )


def build_alias_dict(entity_nodes: DataFrame) -> DataFrame:
    """Existing entity-node table → exploded match-key dictionary.

    The Spark-native replacement for per-group DB lookups: each existing
    entity contributes one dictionary row per (rule, value) it can be
    found by — exact scalar rules and array-membership ("search") rules
    alike (array fields explode; systematic_merge_provider.py:344-366's
    ``ANY(x IN e.emails ...)`` becomes explode + equi-join).
    Output: (match_key, canonical_name, entity_type, priority, confidence).

    Single-scan plan, as in ``mention_match_keys``: every rule becomes one
    optional struct carrying its values as an array (a scalar field is a
    one-element array) → explode the rules → explode the values.  The
    former per-rule union re-read ``entity_nodes`` once per rule (~18
    filtered scans).
    """
    rule_structs = []
    for etype, rules in MATCHING_RULES.items():
        for rule in rules:
            f = rule["field"]
            if f not in entity_nodes.columns:
                continue
            vals = F.col(f) if rule["kind"] == "search" else F.array(F.col(f))
            rule_structs.append(
                F.when(
                    F.col("type") == etype,
                    F.struct(
                        F.lit(_key_space(f)).alias("space"),
                        vals.cast("array<string>").alias("vals"),
                        F.lit(rule["priority"]).alias("priority"),
                        F.lit(float(rule["confidence"])).alias("confidence"),
                    ),
                )
            )
    return (
        entity_nodes.select("name", "type", F.explode(F.array(*rule_structs)).alias("r"))
        .filter(F.col("r").isNotNull())
        .select("name", "type", "r.space", "r.priority", "r.confidence",
                F.explode("r.vals").alias("value"))
        .filter(F.col("value").isNotNull())
        .select(
            F.concat_ws("|", F.col("type"), F.col("space"), _norm(F.col("value"))).alias("match_key"),
            F.col("name").alias("canonical_name"),
            F.col("type").alias("entity_type"),
            "priority",
            "confidence",
        )
        .distinct()
    )


def dict_match_edges(keys: DataFrame, alias_dict: DataFrame) -> DataFrame:
    """Link mention nodes to existing canonical entities via the dictionary.

    Broadcast join (the dictionary is the small side by design).  Every
    hit becomes an edge (src=node, dst=existing-node-key) feeding the same
    CC pass, so new mentions and existing entities canonicalize together
    and CC decides, as in a one-shot run: a mention whose email names one
    existing entity and whose surface is another's alias joins both.
    """
    hits = keys.select("node", "match_key").join(
        F.broadcast(alias_dict.select("match_key", "canonical_name", "entity_type")),
        "match_key",
    )
    return hits.select(
        F.col("node").alias("src"),
        node_key(F.col("entity_type"), F.col("canonical_name")).alias("dst"),
    ).distinct()

"""Engine configuration: graph schema, merge strategies, matching rules.

Semantics mirror the reference's config-driven data model
(reference: schema.yaml:2-155, entity_config.yaml:493-631,
entity_config.py:13-19) re-expressed as Python constants feeding Spark
StructTypes and column expressions. This is the single source of truth for:

  * the unified entity-node table schema (union of all entity types,
    ``type`` discriminator, ``name`` primary key — kuzu_init.py:92-118)
  * the triple (relation edge) table schema (schema.yaml:141-155)
  * per-field merge strategies (entity_config.py:13-19)
  * in-batch / cross-batch matching rules (entity_config.yaml:495-615)
  * the relation vocabulary + strength bands (prompt.py:62-81)
"""

from __future__ import annotations

from pyspark.sql import types as T

# --------------------------------------------------------------------------
# Entity types (reference: schema.yaml:2-139, prompt.py:4)
# --------------------------------------------------------------------------

ENTITY_TYPES: tuple[str, ...] = (
    "Person",
    "Team",
    "Organization",
    "Project",
    "Repository",
    "Branch",
    "CodeChangeRequest",
    "Issue",
    "Event",
    "Topic",
)

# Relation vocabulary (reference: prompt.py:62-69, 122-124, 161-183)
RELATION_TYPES: tuple[str, ...] = (
    "WORKS_AT",
    "WORKS_ON",
    "MEMBER_OF",
    "MANAGES",
    "AUTHORED",
    "REVIEWED",
    "BELONGS_TO",
    "ASSIGNED_TO",
    "MERGES_FROM",
    "MERGES_TO",
    "CREATED",
)

# Strength: prescribed band 6-10 (prompt.py:77-81); parser default 5.0 when
# unparseable (entity_extractor.py:257).
DEFAULT_STRENGTH = 5.0

# Deterministic strength per relation type, within the prescribed 6-10 band.
# Shared spec between the corpus golden oracle and the extraction operator.
STRENGTH_BY_PRED: dict[str, float] = {
    "WORKS_AT": 9.0,
    "WORKS_ON": 8.0,
    "MEMBER_OF": 8.0,
    "MANAGES": 9.0,
    "AUTHORED": 9.0,
    "REVIEWED": 7.0,
    "BELONGS_TO": 8.0,
    "ASSIGNED_TO": 7.0,
    "MERGES_FROM": 6.0,
    "MERGES_TO": 6.0,
    "CREATED": 9.0,
}

# --------------------------------------------------------------------------
# Merge strategies (reference: entity_config.py:13-19)
# --------------------------------------------------------------------------

PRESERVE_EXISTING = "preserve_existing"  # first non-null wins
APPEND_UNIQUE = "append_unique"          # arrays union + distinct
REPLACE_ALWAYS = "replace_always"        # newest wins
REPLACE_IF_BETTER = "replace_if_better"  # longer string wins

# Union node schema: scalar columns with their merge strategy.  Sparse
# type-specific columns stay nullable exactly as the reference's unified
# ``Nodes`` table does (kuzu_init.py:100-112).
NODE_SCALAR_FIELDS: dict[str, str] = {
    "worksAt": PRESERVE_EXISTING,
    "sourceSystemId": PRESERVE_EXISTING,
    "domain": PRESERVE_EXISTING,
    "industry": REPLACE_IF_BETTER,
    "url": PRESERVE_EXISTING,
    "language": PRESERVE_EXISTING,
    "repo": PRESERVE_EXISTING,
    "branch": PRESERVE_EXISTING,
    "title": PRESERVE_EXISTING,
    "status": REPLACE_IF_BETTER,
    "author": PRESERVE_EXISTING,
    "reporter": PRESERVE_EXISTING,
    "client": PRESERVE_EXISTING,
    "id": PRESERVE_EXISTING,
    "cleanDescription": REPLACE_IF_BETTER,
}

# Array columns, all append-unique (entity_config.yaml merge_fields).
NODE_ARRAY_FIELDS: tuple[str, ...] = (
    "aliases",
    "emails",
    "role",
    "location",
    "reviewers",
    "assignees",
    "labels",
    "keywords",
    "tags",
    "rawDescriptions",
    "permissions",
    "sources",
)


def node_schema(with_embedding: bool = True) -> T.StructType:
    """Unified entity-node StructType (union of all entity types)."""
    fields = [
        T.StructField("name", T.StringType(), False),
        T.StructField("type", T.StringType(), False),
    ]
    for f in NODE_SCALAR_FIELDS:
        fields.append(T.StructField(f, T.StringType(), True))
    for f in NODE_ARRAY_FIELDS:
        fields.append(T.StructField(f, T.ArrayType(T.StringType()), True))
    fields.append(T.StructField("createdAt", T.StringType(), True))
    fields.append(T.StructField("lastUpdated", T.StringType(), True))
    if with_embedding:
        fields.append(T.StructField("embedding", T.ArrayType(T.FloatType()), True))
    return T.StructType(fields)


def triple_schema(with_embedding: bool = True) -> T.StructType:
    """Triple (edge) StructType (reference: schema.yaml:141-155)."""
    fields = [
        T.StructField("relation_id", T.StringType(), False),
        T.StructField("subj", T.StringType(), False),
        T.StructField("pred", T.StringType(), False),
        T.StructField("obj", T.StringType(), False),
        T.StructField("descriptions", T.ArrayType(T.StringType()), True),
        T.StructField("relationTags", T.ArrayType(T.StringType()), True),
        T.StructField("strength", T.FloatType(), True),
        T.StructField("permissions", T.ArrayType(T.StringType()), True),
        T.StructField("sources", T.ArrayType(T.StringType()), True),
        T.StructField("createdAt", T.StringType(), True),
        T.StructField("lastUpdated", T.StringType(), True),
    ]
    if with_embedding:
        fields.append(T.StructField("embedding", T.ArrayType(T.FloatType()), True))
    return T.StructType(fields)


# Input pages table — exact shape mandated by BASELINE.json input_hint.
PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

# Most ``bucket=`` partition directories a catalog table may hold: the
# ledger layout is clamped to it (admin.ledger_buckets_for) and node/triple
# layouts are checked against it (plans.pipeline.run_pipeline).  get_spark
# lists up to this many directories serially on the driver, so a catalog
# read never starts a Spark listing job.
MAX_BUCKETS = 4096

# --------------------------------------------------------------------------
# Matching rules (reference: entity_config.yaml:495-615)
#
# Each rule yields a normalized match key.  ``kind`` is either
#   "exact"  — scalar attribute equality (lower+trim), or
#   "search" — value membership in an array attribute (explode + equi-join).
# Every key hit becomes a match edge and connected components decide
# (operators.linking), so an incremental batch links exactly as a one-shot
# run would.  ``priority`` orders the reference's sequential rule cascade
# (systematic_merge_provider.py:321-393) and is kept for provenance only.
# --------------------------------------------------------------------------

MATCHING_RULES: dict[str, list[dict]] = {
    "Person": [
        {"kind": "search", "field": "emails", "priority": 1, "confidence": 0.90},
        {"kind": "exact", "field": "name", "priority": 2, "confidence": 0.95},
        {"kind": "search", "field": "aliases", "priority": 3, "confidence": 0.80},
        {"kind": "exact", "field": "sourceSystemId", "priority": 4, "confidence": 0.85},
    ],
    "Team": [
        {"kind": "exact", "field": "name", "priority": 1, "confidence": 0.90},
        {"kind": "search", "field": "aliases", "priority": 2, "confidence": 0.75},
    ],
    "Organization": [
        {"kind": "exact", "field": "domain", "priority": 1, "confidence": 0.95},
        {"kind": "exact", "field": "name", "priority": 2, "confidence": 0.80},
        {"kind": "search", "field": "aliases", "priority": 3, "confidence": 0.70},
    ],
    "Project": [
        {"kind": "exact", "field": "name", "priority": 1, "confidence": 0.85},
        {"kind": "search", "field": "aliases", "priority": 2, "confidence": 0.70},
    ],
    "Repository": [
        {"kind": "exact", "field": "url", "priority": 1, "confidence": 0.95},
        {"kind": "exact", "field": "name", "priority": 2, "confidence": 0.70},
    ],
    "Branch": [
        {"kind": "exact", "field": "name", "priority": 1, "confidence": 0.80},
    ],
    "CodeChangeRequest": [
        {"kind": "exact", "field": "name", "priority": 1, "confidence": 0.95},
        {"kind": "exact", "field": "title", "priority": 2, "confidence": 0.80},
    ],
    "Issue": [
        {"kind": "exact", "field": "name", "priority": 1, "confidence": 0.95},
        {"kind": "exact", "field": "id", "priority": 2, "confidence": 0.90},
    ],
    "Event": [
        {"kind": "exact", "field": "name", "priority": 1, "confidence": 0.85},
    ],
    "Topic": [
        {"kind": "exact", "field": "name", "priority": 1, "confidence": 0.80},
        {"kind": "search", "field": "aliases", "priority": 3, "confidence": 0.65},
    ],
}
# NB: the reference's Branch rule 2 ("exact match on repo",
# entity_config.yaml:575-578) would merge *all* branches of a repository into
# one entity — we drop it as an over-merge bug and document the divergence.

"""Correctness checks, run outside every timed region.

Pipeline output is compared row by row with the corpus oracles
(``corpus.oracle_triples`` / ``corpus.oracle_entities``, an independent
union-find implementation of the same semantics).  Operator queries are
compared with their DuckDB ``oracle_sql()`` twins through the canonical
comparison of ``tests/test_entry.py``.
"""

from __future__ import annotations

TRIPLE_FIELDS = ["strength", "sources", "relationTags", "descriptions"]
ENTITY_FIELDS = [
    "aliases", "emails", "domain", "sources", "role", "location", "labels",
    "worksAt", "title", "status", "rawDescriptions",
]


def _norm(v):
    if isinstance(v, (list, tuple)):
        return tuple(sorted(v))
    return v


def _diverging(got: dict, want: dict) -> list:
    """Keys of rows missing on either side or whose payload differs."""
    return sorted(k for k in got.keys() | want.keys() if got.get(k) != want.get(k))


def compare_graph(cat, corpus) -> dict:
    """Diverging triple and entity rows of a committed graph vs the oracle."""
    from knowledgegraph_spark.corpus import oracle_entities, oracle_triples

    t_want = {
        (t["subj"], t["pred"], t["obj"]): tuple(_norm(t[f]) for f in TRIPLE_FIELDS)
        for t in oracle_triples(corpus)
    }
    t_rows = cat.read("triples").select("subj", "pred", "obj", *TRIPLE_FIELDS).collect()
    t_got = {
        (r.subj, r.pred, r.obj): tuple(_norm(r[f]) for f in TRIPLE_FIELDS) for r in t_rows
    }
    e_want = {
        (e["name"], e["type"]): tuple(_norm(e[f]) for f in ENTITY_FIELDS)
        for e in oracle_entities(corpus)
    }
    e_rows = cat.read("entity_nodes").select("name", "type", *ENTITY_FIELDS).collect()
    e_got = {(r.name, r.type): tuple(_norm(r[f]) for f in ENTITY_FIELDS) for r in e_rows}
    bad_t, bad_e = _diverging(t_got, t_want), _diverging(e_got, e_want)
    return {
        "triples": len(t_want),
        "entities": len(e_want),
        "rows_out": len(t_rows) + len(e_rows),
        # duplicate keys in the output count as diverging rows too
        "diverged_triples": len(bad_t) + len(t_rows) - len(t_got),
        "diverged_entities": len(bad_e) + len(e_rows) - len(e_got),
        "examples": {"triples": bad_t[:5], "entities": bad_e[:5]},
    }


class OperatorOracle:
    """DuckDB views over the operator tables plus the canonical compare."""

    def __init__(self, data_dir: str):
        import duckdb

        from tests.test_entry import TABLES

        self.con = duckdb.connect()
        for t in TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")

    def matches(self, name: str, spark_cols: list[str], spark_pdf) -> bool:
        import __spark_entry__
        from tests.test_entry import _canon_pdf

        duck = self.con.execute(__spark_entry__.oracle_sql()[name]).df()
        return (
            sorted(spark_cols) == sorted(duck.columns)
            and len(spark_pdf) == len(duck)
            and _canon_pdf(spark_pdf) == _canon_pdf(duck)
        )

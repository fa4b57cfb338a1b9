"""End-to-end gates: triple P/R ≥ 0.95, entity exactness, resume/idempotence."""

import pytest
from pyspark.sql import Row

from knowledgegraph_spark.config import PAGES_SCHEMA
from knowledgegraph_spark.corpus import generate_corpus, oracle_entities, oracle_triples
from knowledgegraph_spark.plans.pipeline import build_kg, run_pipeline


@pytest.fixture(scope="module")
def kg(spark, pages_df):
    return build_kg(spark, pages_df)


def test_triple_precision_recall_gate(kg, corpus):
    got = {(r.subj, r.pred, r.obj) for r in kg.triples.collect()}
    want = {(t["subj"], t["pred"], t["obj"]) for t in oracle_triples(corpus)}
    tp = len(got & want)
    precision = tp / len(got)
    recall = tp / len(want)
    assert precision >= 0.95, f"precision {precision:.4f}"
    assert recall >= 0.95, f"recall {recall:.4f}"


def test_triple_payloads_match_oracle(kg, corpus):
    got = {
        (r.subj, r.pred, r.obj): (r.strength, tuple(r.sources))
        for r in kg.triples.collect()
    }
    for t in oracle_triples(corpus):
        k = (t["subj"], t["pred"], t["obj"])
        assert k in got
        strength, sources = got[k]
        assert strength == t["strength"], k
        assert sorted(sources) == t["sources"], k


def test_entities_match_oracle_exactly(kg, corpus):
    got = {
        (r.name, r.type): (tuple(r.aliases), tuple(r.emails), r.domain, tuple(r.sources))
        for r in kg.entities.collect()
    }
    want = {
        (e["name"], e["type"]): (
            tuple(e["aliases"]),
            tuple(e["emails"]),
            e["domain"],
            tuple(e["sources"]),
        )
        for e in oracle_entities(corpus)
    }
    assert got == want


def test_entity_attributes_match_oracle(kg, corpus):
    """X3 parity: per-type attributes folded with their configured
    strategies (role/location/labels append-unique, worksAt/title
    preserve-first, status if-better) match the independent oracle."""
    got = {
        (r.name, r.type): (
            tuple(r.role), tuple(r.location), tuple(r.labels),
            r.worksAt, r.title, r.status, tuple(r.rawDescriptions),
        )
        for r in kg.entities.collect()
    }
    want = {
        (e["name"], e["type"]): (
            tuple(e["role"]), tuple(e["location"]), tuple(e["labels"]),
            e["worksAt"], e["title"], e["status"], tuple(e["rawDescriptions"]),
        )
        for e in oracle_entities(corpus)
    }
    assert got == want
    # the corpus must actually exercise each attribute family
    assert any(v[0] for v in want.values()), "no roles planted"
    assert any(v[4] for v in want.values()), "no titles planted"
    assert any(v[5] for v in want.values()), "no statuses planted"
    assert any(v[2] for v in want.values()), "no labels planted"


def test_relation_tags_match_oracle(kg, corpus):
    """A4 parity: relationTags merged append-unique per relation."""
    got = {
        (r.subj, r.pred, r.obj): tuple(r.relationTags) for r in kg.triples.collect()
    }
    planted = 0
    for t in oracle_triples(corpus):
        k = (t["subj"], t["pred"], t["obj"])
        assert got[k] == tuple(t["relationTags"]), k
        planted += len(t["relationTags"])
    assert planted > 0
    # at least one WORKS_AT edge seen under both the plain and the
    # role-bearing pattern carries both tags
    assert any(len(v) > 1 for v in got.values())


def test_relation_ids_are_systematic_sha256(kg):
    import hashlib

    for r in kg.triples.limit(5).collect():
        want = hashlib.sha256(f"{r.subj}::{r.pred}::{r.obj}".encode()).hexdigest()
        assert r.relation_id == want


def test_run_twice_equals_run_once(spark, pages_df, tmp_path):
    """Idempotent resume: second run over same pages is a no-op."""
    wh = str(tmp_path / "wh1")
    cat = run_pipeline(spark, pages_df, wh, session_id="s1")
    t1 = {(r.subj, r.pred, r.obj) for r in cat.read("triples").collect()}
    e1 = cat.read("entity_nodes").count()
    cat2 = run_pipeline(spark, pages_df, wh, session_id="s2")
    t2 = {(r.subj, r.pred, r.obj) for r in cat2.read("triples").collect()}
    e2 = cat2.read("entity_nodes").count()
    assert t1 == t2
    assert e1 == e2


def test_stamps_populated_and_created_at_stable(spark, pages_df, tmp_path):
    """createdAt/lastUpdated are written on every upsert; a second run
    keeps the original createdAt (preserve-existing)."""
    wh = str(tmp_path / "wh")
    cat = run_pipeline(spark, pages_df, wh, session_id="s1")
    rows1 = {(r.type, r.name): r.createdAt for r in cat.read("entity_nodes").collect()}
    assert rows1 and all(v is not None for v in rows1.values())
    t1 = cat.read("triples").limit(1).collect()[0]
    assert t1.createdAt is not None and t1.lastUpdated is not None

    cat2 = run_pipeline(spark, pages_df, wh, session_id="s2")  # no-op resume
    rows2 = {(r.type, r.name): r.createdAt for r in cat2.read("entity_nodes").collect()}
    assert rows1 == rows2


def test_later_run_preserves_embeddings_and_permissions(spark, tmp_path):
    """A run with embed=False / page_permissions=None must not destroy the
    embedding/permissions columns a prior run materialized."""
    import pyspark.sql.functions as F

    c = generate_corpus(60, seed=13)
    pages = spark.createDataFrame([Row(**p) for p in c["pages"]], schema=PAGES_SCHEMA)
    half1 = pages.filter("warc_ts < timestamp'2024-01-01 01:15:00'")
    perms = half1.select("url", F.array(F.lit("grp:alpha")).alias("permissions"))

    wh = str(tmp_path / "wh")
    cat = run_pipeline(
        spark, half1, wh, session_id="a", embed=True, page_permissions=perms
    )
    e1 = cat.read("entity_nodes")
    with_emb = {
        (r.type, r.name) for r in e1.filter("embedding is not null").collect()
    }
    assert with_emb

    cat2 = run_pipeline(spark, pages, wh, session_id="b")  # plain run
    e2 = cat2.read("entity_nodes")
    assert "embedding" in e2.columns and "permissions" in e2.columns
    kept = {
        (r.type, r.name) for r in e2.filter("embedding is not null").collect()
    }
    # every run-1 embedded entity still carries its embedding (renamed
    # entities keep theirs through fold_node_rows; names can change, so
    # require no loss in count and full overlap for surviving names)
    surviving = {k for k in with_emb if k in {(r.type, r.name) for r in e2.collect()}}
    assert surviving <= kept
    t2 = cat2.read("triples")
    assert "permissions" in t2.columns


def test_incremental_rewrites_only_touched_buckets(spark, tmp_path):
    """O(delta) commit: an incremental batch must replace only the hash
    buckets containing touched keys — untouched bucket dirs stay
    byte-identical on disk (same files, same mtimes)."""
    import os

    from knowledgegraph_spark.sources.catalog import Catalog

    def snapshot(path):
        out = {}
        for d in os.listdir(path):
            if d.startswith("bucket="):
                p = os.path.join(path, d)
                out[d] = sorted(
                    (f, os.path.getmtime(os.path.join(p, f))) for f in os.listdir(p)
                )
        return out

    c = generate_corpus(80, seed=11)
    pages = spark.createDataFrame([Row(**p) for p in c["pages"]], schema=PAGES_SCHEMA)
    half1 = pages.filter("warc_ts < timestamp'2024-01-01 01:31:20'")
    wh = str(tmp_path / "wh")
    run_pipeline(spark, half1, wh, session_id="a", n_buckets=256)
    cat = Catalog(spark, wh)
    before_e = snapshot(cat.path("entity_nodes"))
    before_t = snapshot(cat.path("triples"))

    run_pipeline(spark, pages, wh, session_id="b", n_buckets=256)
    after_e = snapshot(cat.path("entity_nodes"))
    after_t = snapshot(cat.path("triples"))

    untouched_e = [d for d in before_e if after_e.get(d) == before_e[d]]
    untouched_t = [d for d in before_t if after_t.get(d) == before_t[d]]
    assert untouched_e, "entity upsert rewrote every bucket"
    assert untouched_t, "triple upsert rewrote every bucket"
    assert len(untouched_e) < len(after_e) or len(before_e) == len(after_e)

    # and the O(delta) path still produces exactly the one-shot tables
    wh1 = str(tmp_path / "one")
    cat1 = run_pipeline(spark, pages, wh1, session_id="x", n_buckets=256)
    t_inc = {(r.subj, r.pred, r.obj) for r in cat.read("triples").collect()}
    t_one = {(r.subj, r.pred, r.obj) for r in cat1.read("triples").collect()}
    assert t_inc == t_one
    e_inc = sorted((r.type, r.name) for r in cat.read("entity_nodes").collect())
    e_one = sorted((r.type, r.name) for r in cat1.read("entity_nodes").collect())
    assert e_inc == e_one


def test_poisoned_page_quarantines_and_resets(spark, tmp_path):
    """O5 parity: a page whose extraction throws is quarantined (ledgered
    status='failed' + failed_pages row) without killing the job; it is
    skipped on resume; after reset_failed a rerun processes it."""
    from knowledgegraph_spark.admin import reset_failed
    from knowledgegraph_spark.sources.catalog import Catalog

    c = generate_corpus(20, seed=5)
    assert all(len(g) < 5000 for g in c["goldens"].values())
    poison = {
        "url": "https://poison.example/huge",
        "warc_ts": None,
        "html": None,
        "text": "word " * 2000,  # 10k chars > max_text_bytes below
        "lang": "en",
    }
    pages = spark.createDataFrame(
        [Row(**p) for p in c["pages"]] + [Row(**poison)], schema=PAGES_SCHEMA
    )
    wh = str(tmp_path / "wh")
    cat = run_pipeline(spark, pages, wh, session_id="a", max_text_bytes=5000)

    failed = cat.read("failed_pages").collect()
    assert len(failed) == 1 and failed[0].url == poison["url"]
    assert "max_text_bytes" in failed[0].error
    led = {r.url: r.status for r in cat.read("checkpoint_ledger").collect()}
    assert led[poison["url"]] == "failed"
    assert all(s == "ok" for u, s in led.items() if u != poison["url"])
    n_triples = cat.read("triples").count()
    assert n_triples > 0  # the rest of the batch committed

    # resume: the failed page stays quarantined, nothing reprocessed
    run_pipeline(spark, pages, wh, session_id="b", max_text_bytes=5000)
    assert cat.read("failed_pages").count() == 1

    # retry-reset, then a rerun with the default limit processes it
    assert reset_failed(cat) == 1
    assert not cat.exists("failed_pages")
    run_pipeline(spark, pages, wh, session_id="c")
    led2 = {r.url: r.status for r in cat.read("checkpoint_ledger").collect()}
    assert led2[poison["url"]] == "ok"


def test_stage_metrics_recorded(spark, pages_df, tmp_path):
    from knowledgegraph_spark.checkpoint import stage_summary

    wh = str(tmp_path / "wh")
    cat = run_pipeline(spark, pages_df, wh, session_id="m1", record_stage_metrics=True)
    summary = {r.stage: r for r in stage_summary(cat).collect()}
    assert {"extracted", "assignments", "entities", "triples"} <= set(summary)
    assert summary["triples"].rows == cat.read("stage_triples").count()
    assert all(r.n_partitions >= 1 for r in summary.values())


def test_incremental_equals_oneshot(spark, tmp_path):
    """Kill/resume equivalence: half the pages, then the rest, ≡ one shot.

    Canonical names may differ (arrival order is per-run), so compare the
    *component structure*: triple counts and entity counts per type.
    """
    c = generate_corpus(80, seed=11)
    pages = spark.createDataFrame([Row(**p) for p in c["pages"]], schema=PAGES_SCHEMA)
    # a true warc_ts prefix, so run-1 canonicals equal the global first-wins
    half1 = pages.filter("warc_ts < timestamp'2024-01-01 01:31:20'")  # first 40 pages
    wh_inc = str(tmp_path / "inc")
    run_pipeline(spark, half1, wh_inc, session_id="a")
    cat_inc = run_pipeline(spark, pages, wh_inc, session_id="b")

    wh_one = str(tmp_path / "one")
    cat_one = run_pipeline(spark, pages, wh_one, session_id="x")

    t_inc = {(r.subj, r.pred, r.obj) for r in cat_inc.read("triples").collect()}
    t_one = {(r.subj, r.pred, r.obj) for r in cat_one.read("triples").collect()}
    assert t_inc == t_one
    n_inc = sorted(
        (r.type, r.name) for r in cat_inc.read("entity_nodes").collect()
    )
    n_one = sorted(
        (r.type, r.name) for r in cat_one.read("entity_nodes").collect()
    )
    assert n_inc == n_one


def test_incremental_ambiguous_alias_equals_oneshot(spark, tmp_path):
    """A later mention whose email names one existing entity and whose
    surface is ANOTHER existing entity's alias.  One-shot CC links all
    three nodes (shared keys); the incremental dictionary match must emit
    both hits so CC links them too — keeping only the best-priority hit
    (the email) left the two entities split."""
    import datetime as dt

    def page(i, minute, text):
        ts = dt.datetime(2024, 1, 1, 1, minute)
        return Row(url=f"https://alias.example/{i}", warc_ts=ts, html=None, text=text, lang="en")

    batch1 = [
        page(1, 0, "Carla Be (carla@x.example) works at Acme."),
        page(2, 1, "C. Be (carla@x.example) works at Acme."),  # "C. Be" becomes Carla's alias
        page(3, 2, "Cedric Be (cedric@x.example) works at Acme."),
    ]
    batch2 = [page(4, 30, "C. Be (cedric@x.example) works at Acme.")]
    first = spark.createDataFrame(batch1, schema=PAGES_SCHEMA)
    every = spark.createDataFrame(batch1 + batch2, schema=PAGES_SCHEMA)

    wh_inc = str(tmp_path / "inc")
    cat_inc = run_pipeline(spark, first, wh_inc, session_id="a")
    people = {(r.name, tuple(r.aliases)) for r in cat_inc.read("entity_nodes").filter("type = 'Person'").collect()}
    assert people == {("Carla Be", ("C. Be",)), ("Cedric Be", ())}
    cat_inc = run_pipeline(spark, every, wh_inc, session_id="b")
    cat_one = run_pipeline(spark, every, str(tmp_path / "one"), session_id="x")

    def graph(cat):
        ents = sorted(
            (r.type, r.name, tuple(r.aliases), tuple(r.emails))
            for r in cat.read("entity_nodes").collect()
        )
        tris = {(r.subj, r.pred, r.obj) for r in cat.read("triples").collect()}
        return ents, tris

    one = graph(cat_one)
    assert [e for e in one[0] if e[0] == "Person"] == [
        ("Person", "Carla Be", ("C. Be", "Cedric Be"), ("carla@x.example", "cedric@x.example"))
    ]
    assert graph(cat_inc) == one

#!/usr/bin/env python3
"""Benchmark command for the KG-construction engine.

    python3 perfbench/run.py --workload {backfill,incremental} --seed N \
        --seconds S --trace {0,1}

Run from the repository root.  One driver process and one closed-loop
client on ``local[<nproc>]``; the session comes from ``get_spark`` with
program defaults (only the master, console progress, the JVM temp
directory and, with ``--trace 1``, the event log are set).  Inputs are generated from
``--seed`` and the program sees only them.  Each run checks its outputs
outside the timed region and prints, as its last stdout line, one JSON
object with ``correct``, ``attempted``, ``failed`` and ``metrics``:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``.  The line before it holds the run conditions, and a
sidecar JSON with every sample is written under ``.perfbench_out/``.
See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench_out")

# Input sizes, chosen so both workloads fit the run budget (README.md);
# at these sizes a pipeline pass is mostly fixed per-job cost.  Each
# incremental batch is 1/8 of the base.
BACKFILL_PAGES = 4_000
BACKFILL_WARMUP_PAGES = 1_000
INC_BATCH = 125
INC_BASE = 8 * INC_BATCH
QUERIES_PER_BATCH = 10
QUERY_TARGETS = 10
OP_SF = 0.02

HEADLINERS = [
    "kg_extract_triples", "kg_entity_attrs", "kg_relation_tags", "term_graph",
    "minhash_sigs", "minhash_fast", "simhash", "ngram_jaccard", "knn_batch",
    "near_dup_lsh", "label_centroids", "dim_join", "entity_fold",
    "relation_group", "text_quality",
]
QUERY_FNS = ["entity_details", "one_hop", "two_hop", "stats", "semantic_search"]
E2E_UNITS = {
    "setup_s": "s", "pages_per_s": "1/s", "batch_p50_s": "s",
    "query_p50_s": "s", "query_p90_s": "s",
}


# ---------------------------------------------------------------------------
# run conditions
# ---------------------------------------------------------------------------


def _steal_s() -> float:
    try:
        with open("/proc/stat") as fh:
            return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def _git_commit() -> str:
    try:
        return subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
            text=True, timeout=10, check=True,
        ).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return "unknown (not a git checkout)"


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


# ---------------------------------------------------------------------------
# timing helpers
# ---------------------------------------------------------------------------


class Run:
    """State of one benchmark run: session, tracer, samples, accounting."""

    def __init__(self, args, spark, tracer, work: str):
        self.args = args
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.setup_s = 0.0
        self.generate_s = 0.0
        self.batch_walls: list[float] = []
        self.batch_pages = 0
        self.query_samples: dict[str, list[float]] = {}
        self.op_samples: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        self.correct = True
        self.layer: dict[str, float] = {}
        self.notes: dict = {}
        self.timed_reps: list[str] = []
        self.rewrite: list[tuple[int, str]] = []  # (incoming rows, rep)

    def tag(self, name: str) -> None:
        if self.tracer:
            self.tracer.tag(name)

    def pipeline(self, pages, warehouse: str, rep: str, **kw):
        from knowledgegraph_spark.plans.pipeline import run_pipeline

        t0 = time.perf_counter()
        if self.tracer:
            with self.tracer.pipeline(rep):
                cat = run_pipeline(self.spark, pages, warehouse, session_id=rep, **kw)
        else:
            cat = run_pipeline(self.spark, pages, warehouse, session_id=rep, **kw)
        return cat, time.perf_counter() - t0

    def timed_query(self, kind: str, fn) -> None:
        self.tag(f"query:{kind}")
        t0 = time.perf_counter()
        fn()
        self.query_samples.setdefault(kind, []).append(time.perf_counter() - t0)
        self.attempted += 1

    def record_incoming(self, cat, rep: str, lo: int, hi: int) -> None:
        """Rows a commit merges in: the batch's folded triples plus the
        folded entities that carry a source page of this batch."""
        if not self.tracer:
            return
        from pyspark.sql import functions as F

        self.tag("aux")
        n_t = cat.read("stage_triples").count()
        n_e = (
            cat.read("stage_entities")
            .filter(F.exists("sources", lambda u: _page_id(u).between(lo, hi - 1)))
            .count()
        )
        self.rewrite.append((n_t + n_e, rep))

    def check_graph(self, cat, corpus, strict: bool) -> dict:
        from checks import compare_graph

        self.tag("check")
        res = compare_graph(cat, corpus)
        bad = res["diverged_triples"] + res["diverged_entities"]
        self.attempted += res["triples"] + res["entities"]
        self.failed += bad
        if strict and bad:
            self.correct = False
        return res


def _page_id(url):
    """Page number of a corpus url (``https://siteK.example/<8 digits>``);
    page numbers follow warc_ts order."""
    from pyspark.sql import functions as F

    return F.substring(url, -8, 8).cast("int")


def _page_range(pages, lo: int, hi: int):
    return pages.filter(_page_id(pages.url).between(lo, hi - 1))


def _persist_pages(run: Run, n: int, **kw):
    from knowledgegraph_spark.corpus import pages_dataframe

    t0 = time.perf_counter()
    pages = pages_dataframe(run.spark, n, seed=run.args.seed, **kw).persist()
    pages.count()
    return pages, time.perf_counter() - t0


# ---------------------------------------------------------------------------
# operator queries (traced backfill runs only)
# ---------------------------------------------------------------------------


def _op_phase(run: Run) -> None:
    """The 15 operator headliners over seeded operator tables: one pass
    that warms every plan and checks its full output against DuckDB,
    then one timed pass whose row counts must repeat the checked ones."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    import __spark_entry__
    from checks import OperatorOracle
    from opdata import generate

    data = os.path.join(run.work, "opdata")
    t0 = time.perf_counter()
    generate(data, run.args.seed, OP_SF)
    run.layer["op.generate_s"] = time.perf_counter() - t0
    oracle = OperatorOracle(data)
    qs = __spark_entry__.queries()
    rows = {}
    for name in HEADLINERS:
        run.tag("setup")
        sdf = qs[name](run.spark, data)
        pdf = sdf.toPandas()
        rows[name] = len(pdf)
        run.tag("check")
        run.attempted += 1
        if not oracle.matches(name, sdf.columns, pdf):
            run.failed += 1
            run.correct = False
    for name in HEADLINERS:
        # A noop write evaluates every output column; count() would let the
        # optimizer prune the operators down to whatever fixes the row count.
        run.tag(f"op:{name}")
        obs = Observation(name)
        t0 = time.perf_counter()
        (qs[name](run.spark, data).observe(obs, F.count(F.lit(1)).alias("rows"))
         .write.format("noop").mode("overwrite").save())
        run.op_samples[name] = time.perf_counter() - t0
        run.attempted += 1
        if obs.get["rows"] != rows[name]:
            run.failed += 1
            run.correct = False


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


def _query_mix(run: Run, cat, targets: list[str], n: int) -> None:
    """``n`` KG queries, cycling through the query functions and, apart
    from them, through the targets; each resolves the current table generation as a fresh client would."""
    from knowledgegraph_spark import query as Q

    embedded = "embedding" in cat.read("entity_nodes").columns

    def fn(kind: str, name: str):
        ent = lambda: cat.read("entity_nodes")  # noqa: E731
        tri = lambda: cat.read("triples")  # noqa: E731
        return {
            "entity_details": lambda: Q.entity_details(ent(), name).collect(),
            "one_hop": lambda: Q.one_hop(tri(), name).collect(),
            "two_hop": lambda: Q.two_hop(tri(), name).collect(),
            "stats": lambda: Q.stats(ent(), tri()).collect(),
            "semantic_search": lambda: Q.semantic_search(
                ent() if embedded else Q.with_embeddings(ent()), f"{name} engineer", k=10
            ).collect(),
        }[kind]

    for i in range(n):
        kind = QUERY_FNS[i % len(QUERY_FNS)]
        run.timed_query(kind, fn(kind, targets[i % len(targets)]))


def _targets(run: Run, cat) -> list[str]:
    """The most-sourced entity names of the committed graph (untimed)."""
    from pyspark.sql import functions as F

    run.tag("aux")
    rows = (
        cat.read("entity_nodes").select("name", F.size("sources").alias("n"))
        .orderBy(F.desc("n"), "name").limit(QUERY_TARGETS).collect()
    )
    return [r.name for r in rows]


def _warm_queries(run: Run, cat) -> float:
    """Run every query function once, then forget the samples."""
    t0 = time.perf_counter()
    _query_mix(run, cat, _targets(run, cat), len(QUERY_FNS))
    run.query_samples.clear()
    run.attempted -= len(QUERY_FNS)
    return time.perf_counter() - t0


def backfill(run: Run) -> None:
    """One-shot run_pipeline into an empty warehouse over the fixed-world
    corpus, repeated on the same persisted pages with a fresh warehouse
    each time, each commit followed by the KG query mix."""
    from knowledgegraph_spark.corpus import generate_corpus

    n = BACKFILL_PAGES
    run.tag("setup")
    pages, gen_s = _persist_pages(run, n, head_frac=0.25)
    run.generate_s += gen_s
    cat, warm_s = run.pipeline(
        _page_range(pages, 0, BACKFILL_WARMUP_PAGES), os.path.join(run.work, "wh-warm"), "warmup")
    qwarm_s = _warm_queries(run, cat)
    run.setup_s += gen_s + warm_s + qwarm_s
    run.notes["setup_parts"] = {"pages": gen_s, "pipeline_warmup": warm_s, "query_warmup": qwarm_s}

    for i in range(max(1, round(run.args.seconds / 10))):
        rep = f"t{i}"
        cat, wall = run.pipeline(pages, os.path.join(run.work, f"wh-{i}"), rep)
        run.batch_walls.append(wall)
        run.attempted += 1
        run.timed_reps.append(rep)
        run.record_incoming(cat, rep, 0, n)
        _query_mix(run, cat, _targets(run, cat), QUERIES_PER_BATCH)
    run.batch_pages = n

    if run.tracer:
        _, run.layer["pipeline.resume_noop_s"] = run.pipeline(pages, cat.warehouse, "noop")
        _op_phase(run)
    res = run.check_graph(cat, generate_corpus(n, seed=run.args.seed, head_frac=0.25), strict=True)
    run.notes["graph_check"] = res


def incremental(run: Run) -> None:
    """Base graph from the scaled corpus, then warc_ts-ordered batches of
    1/8 of the base through run_pipeline(embed=True), each commit followed
    by the KG query mix over the committed tables."""
    from knowledgegraph_spark.corpus import generate_corpus

    n_batches = max(1, round(run.args.seconds / 10))
    total = INC_BASE + (1 + n_batches) * INC_BATCH
    run.tag("setup")
    pages, gen_s = _persist_pages(run, total, scaled=True)
    run.generate_s += gen_s
    wh = os.path.join(run.work, "wh")
    cat, base_s = run.pipeline(_page_range(pages, 0, INC_BASE), wh, "base", embed=True)
    lo = INC_BASE
    cat, warm_s = run.pipeline(_page_range(pages, lo, lo + INC_BATCH), wh, "warmup", embed=True)
    qwarm_s = _warm_queries(run, cat)
    run.setup_s += gen_s + base_s + warm_s + qwarm_s
    run.notes["setup_parts"] = {"pages": gen_s, "base": base_s, "batch_warmup": warm_s,
                                "query_warmup": qwarm_s}

    for b in range(n_batches):
        lo += INC_BATCH
        rep = f"t{b}"
        cat, wall = run.pipeline(_page_range(pages, lo, lo + INC_BATCH), wh, rep, embed=True)
        run.batch_walls.append(wall)
        run.attempted += 1
        run.timed_reps.append(rep)
        run.record_incoming(cat, rep, lo, lo + INC_BATCH)
        _query_mix(run, cat, _targets(run, cat), QUERIES_PER_BATCH)
    run.batch_pages = INC_BATCH

    if run.tracer:
        _, run.layer["pipeline.resume_noop_s"] = run.pipeline(
            _page_range(pages, lo, lo + INC_BATCH), wh, "noop", embed=True)
    res = run.check_graph(cat, generate_corpus(total, seed=run.args.seed, scaled=True), strict=False)
    run.notes["graph_check"] = res
    run.layer["incremental.diverged_triples"] = res["diverged_triples"]
    run.layer["incremental.diverged_entities"] = res["diverged_entities"]


WORKLOADS = {"backfill": backfill, "incremental": incremental}


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------


def end_to_end(run: Run) -> dict[str, float]:
    samples = [x for xs in run.query_samples.values() for x in xs]
    p50 = statistics.median(run.batch_walls)
    return {
        "setup_s": run.setup_s,
        "pages_per_s": run.batch_pages / p50,
        "batch_p50_s": p50,
        "query_p50_s": statistics.median(samples),
        "query_p90_s": statistics.quantiles(samples, n=10, method="inclusive")[8],
    }


def per_layer(run: Run, groups: dict, cores: int) -> dict[str, float]:
    import spans

    out = dict.fromkeys(layer_names(), 0.0)
    out.update(spans.span_metrics(run.tracer, groups, run.timed_reps))
    walls = statistics.median(run.batch_walls)
    out["pipeline.span_gap_s"] = walls - sum(out[f"{s}.wall_s"] for s in spans.SPANS)
    busy = spans.pipeline_run_s(run.tracer, groups, run.timed_reps)
    out["pipeline.core_utilization"] = busy / (sum(run.batch_walls) * cores)
    if run.rewrite:
        ratios = []
        for incoming, rep in run.rewrite:
            st = [s["group"] for s in run.tracer.spans
                  if s["rep"] == rep and s["name"].startswith("catalog.commit_")]
            ratios.append(spans.group_stats(groups, st)["rows_out"] / max(incoming, 1))
        out["catalog.rewrite_ratio"] = statistics.median(ratios)
    for kind, xs in run.query_samples.items():
        out[f"query.{kind}_s"] = statistics.median(xs)
    if run.op_samples:
        for name, t in run.op_samples.items():
            out[f"op.{name}_s"] = t
        out["op.geomean_s"] = statistics.geometric_mean(run.op_samples.values())
        op_groups = [f"op:{q}" for q in HEADLINERS]
        out["op.shuffle_write_mb"] = spans.group_stats(groups, op_groups)["shuffle_write_mb"]
    out["trace.batch_p50_s"] = walls
    out.update({k: v for k, v in run.layer.items() if k in out})
    return out


def layer_names() -> list[str]:
    import spans

    names = [f"{s}.{f}" for s in spans.SPANS for f in spans.SPAN_FIELDS]
    names += ["pipeline.core_utilization", "pipeline.resume_noop_s",
              "pipeline.span_gap_s", "catalog.rewrite_ratio"]
    names += [f"query.{q}_s" for q in QUERY_FNS]
    names += [f"op.{q}_s" for q in HEADLINERS]
    names += ["op.geomean_s", "op.shuffle_write_mb", "op.generate_s"]
    names += ["session.start_s", "session.peak_rss_mb", "corpus.generate_s",
              "incremental.diverged_entities", "incremental.diverged_triples",
              "trace.batch_p50_s"]
    return names


def layer_units() -> dict[str, str]:
    import spans

    units = {}
    for name in layer_names():
        field = name.rsplit(".", 1)[-1]
        if field in spans.SPAN_FIELDS:
            units[name] = spans.SPAN_FIELDS[field][0]
        elif name.endswith("_s"):
            units[name] = "s"
        elif name.endswith("_mb"):
            units[name] = "MB"
        elif name.startswith("incremental."):
            units[name] = "count"
        else:
            units[name] = "ratio"
    return units


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------


def _stop(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            if proc.stdin:
                proc.stdin.close()
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path[:0] = [HERE, ROOT]
    try:
        import pyspark

        from knowledgegraph_spark import get_spark
    except ImportError as exc:
        print(f"perfbench: cannot import the program: {exc}", file=sys.stderr)
        return 2
    import spans

    work = os.path.join(OUT, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # shuffle files, broadcast pickles and Python temp files stay in the checkout
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    cores = len(os.sched_getaffinity(0))
    cond = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": cores,
        "loadavg_start": os.getloadavg(), "python": platform.python_version(),
        "pyspark": pyspark.__version__, "git_commit": _git_commit(),
    }
    steal0 = _steal_s()

    # The JVM's temp directory and perf-data file would otherwise land in /tmp.
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
    }
    if args.trace:
        conf.update(spans.event_conf(os.path.join(work, "eventlog")))
    spark = None
    try:
        t0 = time.perf_counter()
        spark = get_spark("perfbench", master=f"local[{cores}]", extra_conf=conf)
        start_s = time.perf_counter() - t0
        cond["spark.driver.memory"] = spark.conf.get("spark.driver.memory", "unset")
        cond["spark.sql.shuffle.partitions"] = spark.conf.get("spark.sql.shuffle.partitions")
        tracer = None
        if args.trace:
            tracer = spans.Tracer(spark)
            tracer.install()
        run = Run(args, spark, tracer, work)
        run.setup_s += start_s
        WORKLOADS[args.workload](run)
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        rss = _rss_mb(jvm_pid)
        _stop(spark)
        spark = None

        e2e = end_to_end(run)
        cond["loadavg_end"] = os.getloadavg()
        cond["steal_s"] = _steal_s() - steal0
        if args.trace:
            groups = spans.read_event_log(os.path.join(work, "eventlog"))
            run.layer.update({"session.start_s": start_s, "session.peak_rss_mb": rss,
                              "corpus.generate_s": run.generate_s})
            metrics = per_layer(run, groups, cores)
            units = layer_units()
            print(f"perfbench: traced batch_p50_s {metrics['trace.batch_p50_s']:.3f} s; "
                  "tracing overhead = this minus the untraced batch_p50_s "
                  "(perfbench/steady.py prints it)", file=sys.stderr)
        else:
            metrics, units = e2e, E2E_UNITS
        side = os.path.join(OUT, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
        os.makedirs(os.path.dirname(side), exist_ok=True)
        with open(side, "w", encoding="utf-8") as fh:
            json.dump({
                "conditions": cond, "end_to_end": e2e, "metrics": metrics,
                "batch_walls": run.batch_walls, "query_samples": run.query_samples,
                "notes": run.notes, "spans": run.tracer.spans if run.tracer else [],
            }, fh, indent=1, sort_keys=True, default=str)
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    print("perfbench-conditions " + json.dumps(cond, default=str))
    print(json.dumps({
        "correct": run.correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

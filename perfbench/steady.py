#!/usr/bin/env python3
"""Steadiness report: two sets of benchmark runs, compared against the bounds.

    python3 perfbench/steady.py

Runs ``perfbench/run.py`` untraced, with the ``run_seconds`` of
BENCHMARK.json, on every workload of BENCHMARK.json once per seed of set A
(seeds 1-5) and of set B (seeds 6-10).  It prints for every workload x
end-to-end metric each set's median and quartiles, the spread of all runs
(interquartile distance over the median, as
``statistics.quantiles(values, n=4)`` gives it) and whether the two sets
agree: their medians differ by at most the bound, in either direction,
and the spread is within the bound.  ``setup_s`` is exempt from the
spread test, as in the benchmark contract: it is measured once per run
and carries each run's cold JVM start.  One traced run per workload on
the first seed of set A then gives the tracing overhead, traced minus
untraced ``batch_p50_s``.  A summary is written to
``.perfbench_out/steady.json``.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETS = {"A": [1, 2, 3, 4, 5], "B": [6, 7, 8, 9, 10]}


def _run(workload: str, seed: int, seconds: int, traced: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(traced)]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        raise SystemExit(f"{' '.join(cmd)} exited {out.returncode}:\n{out.stderr[-2000:]}")
    res = json.loads(out.stdout.strip().splitlines()[-1])
    print(f"  {workload} seed {seed} trace {traced}: correct={res['correct']} "
          f"attempted={res['attempted']} failed={res['failed']}", flush=True)
    return res


def _stats(xs: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return {"median": statistics.median(xs), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(xs)}


def _worse(metric: dict, a: float, b: float) -> float:
    """How much worse b is than a, as a share of a (negative = better)."""
    d = (b - a) / a
    return d if metric["better"] == "lower" else -d


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    summary, agree = {}, True
    for w in (w["name"] for w in bench["workloads"]):
        vals = {s: [] for s in SETS}
        results = {}
        for s, seeds in SETS.items():
            for seed in seeds:
                res = _run(w, seed, bench["run_seconds"], 0)
                results[seed] = res
                vals[s].append({k: v["value"] for k, v in res["metrics"].items()})
        print(f"\n{w}: metric | set A median [q1, q3] | set B median [q1, q3] | "
              "spread of all | B worse than A by | bound | agree")
        summary[w] = {}
        for m in bench["end_to_end"]:
            name, bound = m["name"], m["bound"]
            a = _stats([v[name] for v in vals["A"]])
            b = _stats([v[name] for v in vals["B"]])
            both = _stats([v[name] for s in SETS for v in vals[s]])
            worse = _worse(m, a["median"], b["median"])
            ok = abs(worse) <= bound and (name == "setup_s" or both["spread"] <= bound)
            agree &= ok
            summary[w][name] = {"A": a, "B": b, "all": both, "b_worse_by": worse, "ok": ok}
            print(f"  {name:14s} | {a['median']:.4g} [{a['q1']:.4g}, {a['q3']:.4g}] | "
                  f"{b['median']:.4g} [{b['q1']:.4g}, {b['q3']:.4g}] | {both['spread']:.3f} | "
                  f"{worse:+.3f} | {bound} | {'yes' if ok else 'NO'}")
        counts = {seed: (r["correct"], r["attempted"], r["failed"]) for seed, r in results.items()}
        summary[w]["checks"] = counts
        print(f"  checks (correct, attempted, failed) per seed: {counts}")
        seed = SETS["A"][0]
        traced = _run(w, seed, bench["run_seconds"], 1)["metrics"]["trace.batch_p50_s"]["value"]
        plain = results[seed]["metrics"]["batch_p50_s"]["value"]
        summary[w]["tracing_overhead_s"] = traced - plain
        print(f"  tracing overhead (seed {seed}): traced batch_p50_s {traced:.3f} - "
              f"untraced {plain:.3f} = {traced - plain:+.3f} s")
    out = os.path.join(ROOT, ".perfbench_out", "steady.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as fh:
        json.dump(summary, fh, indent=1)
    print(f"\nall workload x metric pairs agree within bounds: {'yes' if agree else 'NO'}")
    return 0 if agree else 1


if __name__ == "__main__":
    sys.exit(main())

"""Benchmark of the shipped batch job and the contract queries.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (one client, one operation at a time, Spark ``local[<cores>]``):

- ``full_run``: one operation is a warm ``pipeline.run`` into a fresh output
  root, over a webtext table generated from the seed. Every run's manifest
  and routed files are checked against the ``grammar`` kernel, its stats
  tables against those of the first correct run over the same input.
- ``contract_queries``: one operation is a warm pass over 21 of the
  ``__spark_entry__.queries()`` (``harness.CONTRACT_QUERIES``), after a
  cold pass in the same session, each timed to ``collect()`` and compared
  with its DuckDB oracle, over ten tables generated from the seed.

With ``--trace 0`` the run reports the end-to-end metrics; with
``--trace 1`` it reports the per-layer metrics from Spark's event log
(see ``layers.py``). Everything the run reads or writes lives under
``.perfbench/`` in the checkout. The last line of stdout is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

from harness import (
    CONTRACT_QUERIES,
    PAGES,
    ROOT,
    ROWS_PER_FILE,
    WARMUP_PAGES,
    WORK,
    Ops,
    Session,
    cold_pass,
    cores,
    percentile,
    pipeline_op,
    query_pass,
)


def preflight() -> None:
    """Exit non-zero unless the checkout holds the program under test."""
    need = ["pgweasel_spark/plans/pipeline.py", "__spark_entry__.py", "tools/selfcheck_entry.py"]
    missing = [p for p in need if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: program files missing from {ROOT}: {missing}", file=sys.stderr)
        sys.exit(2)
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]


# --- workloads ----------------------------------------------------------------


def full_run(seed: int, seconds: float, ops: Ops, pages: int = PAGES) -> tuple[dict, dict]:
    import inputs

    warm_src, warm_expected = inputs.webtext(WORK, WARMUP_PAGES, seed, ROWS_PER_FILE)
    src, expected = inputs.webtext(WORK, pages, seed, ROWS_PER_FILE)
    t0 = time.perf_counter()
    sess = Session()
    try:
        pipeline_op(sess.spark, warm_src, warm_expected, ops)
        setup_s = time.perf_counter() - t0
        times: list[float] = []
        while not times or sum(times) < seconds:
            times.append(pipeline_op(sess.spark, src, expected, ops)[0])
        rss = sess.peak_rss_mb()
    finally:
        sess.close()
    run_s = statistics.median(times)
    metrics = {
        "run_s": run_s,
        "events_per_s": expected["records"] / run_s,
        "query_p50_s": statistics.median(times),
        "query_p84_s": percentile(times, 84),
        "setup_s": setup_s,
        "peak_rss_mb": rss,
    }
    n = len(times)
    samples = {"run_s": n, "events_per_s": n, "query_p50_s": n, "query_p84_s": n, "setup_s": 1, "peak_rss_mb": 1}
    return metrics, samples


def contract_queries(seed: int, seconds: float, ops: Ops) -> tuple[dict, dict]:
    import inputs
    import tables

    tdir, expected = inputs.contract_tables(WORK, seed, CONTRACT_QUERIES)
    t0 = time.perf_counter()
    sess = Session()
    try:
        cold_pass(sess.spark, tdir, expected, ops)
        setup_s = time.perf_counter() - t0
        passes: list[float] = []
        by_query: dict[str, list[float]] = {q: [] for q in CONTRACT_QUERIES}
        while not passes or sum(passes) < seconds:
            times = query_pass(sess.spark, tdir, expected, ops)
            passes.append(sum(times.values()))
            for q, t in times.items():
                by_query[q].append(t)
        rss = sess.peak_rss_mb()
    finally:
        sess.close()
    for q, ts in by_query.items():
        print(f"  query {q:<36} " + " ".join(f"{t:.4f}" for t in ts))
    per_query = [t for ts in by_query.values() for t in ts]
    run_s = statistics.median(passes)
    metrics = {
        "run_s": run_s,
        "events_per_s": tables.ROWS["events"] / run_s,
        "query_p50_s": percentile(per_query, 50),
        "query_p84_s": percentile(per_query, 84),
        "setup_s": setup_s,
        "peak_rss_mb": rss,
    }
    n, q = len(passes), len(per_query)
    samples = {"run_s": n, "events_per_s": n, "query_p50_s": q, "query_p84_s": q, "setup_s": 1, "peak_rss_mb": 1}
    return metrics, samples


WORKLOADS = {"full_run": full_run, "contract_queries": contract_queries}

UNITS = {
    "run_s": "s",
    "events_per_s": "1/s",
    "query_p50_s": "s",
    "query_p84_s": "s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}


def report(workload, seed, trace, metrics, units, samples, ops: Ops) -> str:
    """Print every metric with its unit and sample count; return the
    result line."""
    print(f"workload={workload} seed={seed} trace={trace} cores={cores()}")
    for k, v in metrics.items():
        print(f"  {k:<40} {v:>16.6g} {units[k]:<6} n={samples[k]}")
    ratio = ops.failed / max(ops.attempted, 1)
    print(f"  {'failed_ratio':<40} {ratio:>16.6g} {'ratio':<6} n={ops.attempted}")
    return json.dumps(
        {
            "correct": ops.failed == 0,
            "attempted": ops.attempted,
            "failed": ops.failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }
    )


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    preflight()
    os.makedirs(WORK, exist_ok=True)

    ops = Ops()
    if args.trace:
        import layers

        metrics, units = layers.traced_run(args.workload, args.seed, ops)
        samples = {k: 1 for k in metrics}
    else:
        metrics, samples = WORKLOADS[args.workload](args.seed, args.seconds, ops)
        units = {k: UNITS[k] for k in metrics}
    print(report(args.workload, args.seed, args.trace, metrics, units, samples, ops), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

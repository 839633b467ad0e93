"""Self-test of the benchmark at a tiny size.

    python3 perfbench/selftest.py

1. Each workload, untraced and traced, over a 200-page webtext table (the
   contract tables are always small), reports every metric BENCHMARK.json
   names, with its unit, and no operation fails.
2. Corrupted copies of correct outputs fail their checks and count as
   failed operations: a deleted routed part file, a changed stats table and
   a changed query result.
3. The event-log fold returns the task metrics of jobs whose numbers are
   known: a parquet write of three partitions and an eight-task count.
4. The percentile estimate returns known values: the beta CDF at a point
   with a closed form, the median of a symmetric sample, a constant sample.

Exits non-zero at the first check that does not hold.
"""

from __future__ import annotations

import glob
import json
import math
import os
import shutil
import sys

from run import ROOT, WORK, preflight, report
from harness import (
    CONTRACT_QUERIES,
    ROWS_PER_FILE,
    STATS_TABLES,
    Ops,
    Session,
    check_pipeline,
    check_query,
    percentile,
    pipeline_op,
    stats_reference,
)

SEED = 7
PAGES = 200


def expect(cond: bool, what: str) -> None:
    if not cond:
        print(f"selftest: FAILED: {what}", file=sys.stderr)
        sys.exit(1)
    print(f"selftest: ok: {what}")


def check_reports() -> None:
    import layers
    import run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for workload in run.WORKLOADS:
        for trace, names in ((0, "end_to_end"), (1, "per_layer")):
            ops = Ops()
            if trace:
                metrics, units = layers.traced_run(workload, SEED, ops, pages=PAGES)
                samples = dict.fromkeys(metrics, 1)
            elif workload == "full_run":
                metrics, samples = run.full_run(SEED, 1, ops, pages=PAGES)
                units = {k: run.UNITS[k] for k in metrics}
            else:
                metrics, samples = run.contract_queries(SEED, 1, ops)
                units = {k: run.UNITS[k] for k in metrics}
            line = json.loads(report(workload, SEED, trace, metrics, units, samples, ops))
            want = {m["name"]: m["unit"] for m in spec[names]}
            got = {k: v["unit"] for k, v in line["metrics"].items()}
            expect(got == want, f"{workload} trace={trace} reports every {names} metric with its unit")
            expect(line["failed"] == 0 and line["attempted"] > 0, f"{workload} trace={trace} has no failed operation")


def check_corruption() -> None:
    import inputs

    src, expected = inputs.webtext(WORK, PAGES, SEED, ROWS_PER_FILE)
    sess = Session()
    try:
        ops = Ops()
        _, out = pipeline_op(sess.spark, src, expected, ops)
    finally:
        sess.close()
    ref = stats_reference(src)
    with open(os.path.join(out, "manifest.json")) as f:
        days = json.load(f)["days"]
    sink_counts: dict[str, int] = {}
    for d in days.values():
        for s, c in d["sink_counts"].items():
            sink_counts[s] = sink_counts.get(s, 0) + c
    expect(ops.failed == 0 and not check_pipeline(out, expected, sink_counts, ref), "an intact output passes")

    bad = os.path.join(WORK, "selftest", "corrupt")
    shutil.rmtree(bad, ignore_errors=True)
    shutil.copytree(out, bad)
    part = sorted(glob.glob(os.path.join(bad, "routed", "sink=errors", "**", "*.parquet"), recursive=True))[0]
    os.remove(part)
    problems = check_pipeline(bad, expected, sink_counts, ref)
    ops.record("corrupted pipeline.run", problems)
    expect(any("routed rows on disk" in p for p in problems), "a deleted routed part file fails the check")
    expect(ops.failed == 1, "the corrupted output counts as a failed operation")

    shutil.rmtree(bad)
    shutil.copytree(out, bad)
    import pyarrow.parquet as pq

    table_dir = os.path.join(bad, "stats", STATS_TABLES[0])
    (first,) = glob.glob(os.path.join(table_dir, "*.parquet"))
    tbl = pq.read_table(first)
    pq.write_table(tbl.slice(0, tbl.num_rows - 1), first)
    problems = check_pipeline(bad, expected, sink_counts, ref)
    expect(any("stats tables differ" in p for p in problems), "a changed stats table fails the check")

    _, oracle = inputs.contract_tables(WORK, SEED, CONTRACT_QUERIES)
    name = CONTRACT_QUERIES[0]
    wrong = [("x",)] * oracle[name][0]
    expect(check_query(oracle, name, ["x"], wrong) != [], "a changed query result fails the check")


def check_fold() -> None:
    import layers
    import spans as tr

    sess, evdir = layers.traced_session()
    tracer = tr.Tracer()
    out = os.path.join(WORK, "selftest", "known")
    shutil.rmtree(out, ignore_errors=True)
    try:
        spark = sess.spark
        with tracer.span("write3"):
            spark.range(0, 30000, 1, 3).write.parquet(out)
        with tracer.span("count8"):
            spark.sparkContext.parallelize(range(80), 8).count()
    finally:
        sess.close()
    by_span = tr.jobs_by_span(layers.read_log(evdir), tracer.spans)
    w = tr.merge([j.totals for j in by_span["write3"]])
    c = tr.merge([j.totals for j in by_span["count8"]])
    on_disk = sum(os.path.getsize(p) for p in glob.glob(os.path.join(out, "part-*.parquet")))
    expect(w.tasks == 3 and len(w.write_task_ms) == 3, f"a 3-partition write folds to 3 writing tasks (got {w.tasks})")
    expect(w.output_bytes == on_disk, f"its output bytes equal the part files' size ({w.output_bytes} vs {on_disk})")
    expect(c.jobs == 1 and c.tasks == 8, f"an 8-partition count folds to 1 job of 8 tasks (got {c.jobs}, {c.tasks})")


def check_percentile() -> None:
    from harness import _beta_cdf

    arcsine = 2 / math.pi * math.asin(math.sqrt(0.2))
    expect(abs(_beta_cdf(0.5, 0.5, 0.2) - arcsine) < 1e-9, "the beta CDF matches the arcsine law")
    expect(abs(percentile([1.0, 2.0, 3.0, 4.0, 5.0], 50) - 3.0) < 1e-9, "the median of a symmetric sample is its centre")
    expect(abs(percentile([2.5] * 21, 84) - 2.5) < 1e-9, "a percentile of a constant sample is the constant")


def main() -> int:
    preflight()
    os.makedirs(WORK, exist_ok=True)
    check_percentile()
    check_fold()
    check_corruption()
    check_reports()
    print("selftest: all checks hold")
    return 0


if __name__ == "__main__":
    sys.exit(main())

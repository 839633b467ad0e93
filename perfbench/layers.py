"""The traced run: per-layer metrics from Spark's JSON event log.

The session runs with the event log on, and the benchmark records a span
around each call into a layer (``spans.py`` folds the log onto them).

``full_run``: after the cold run over the warm-up table,
``pipeline.run(with_stats=False)`` and
``pipeline.write_stats`` run in their own spans. The jobs inside the first
are told apart (discover, write, manifest) by the call site of their SQL
execution, those of the second by the stats table they write. The spine
(scan → split → extract → enrich → route) is one fused stage, so it is
timed as prefix plans forced with a ``noop`` write, twice each, keeping the
faster; a layer's self time is prefix(k) − prefix(k−1).

``contract_queries``: a warm pass over its queries after a cold one, a span
per query, summed by family: grammar (a/f/p/r), dedup (d), text (t), olap
(h/w/e/b/c).
"""

from __future__ import annotations

import glob
import json
import os
import shutil

import spans as tr
from harness import (
    CONTRACT_QUERIES,
    PAGES,
    ROWS_PER_FILE,
    STATS_TABLES,
    WARMUP_PAGES,
    WORK,
    Ops,
    Session,
    check_run,
    cold_pass,
    fresh_root,
    pipeline_op,
    query_pass,
)

SPINE = ["scan", "split", "extract", "enrich", "route"]

#: query-name first letter → family
FAMILIES = {
    **dict.fromkeys("afpr", "grammar"),
    "d": "dedup",
    "t": "text",
    **dict.fromkeys("hwebc", "olap"),
}

_GC_SPILL = ["gc_s", "spill_bytes"]
PIPELINE_METRICS = [
    f"{layer}.{m}"
    for layer, ms in [
        ("scan", ["self_s", "input_bytes"]),
        ("split", ["self_s", "cpu_s", "rows_out"]),
        ("extract", ["self_s", "cpu_s"]),
        ("enrich", ["self_s"]),
        ("route", ["self_s", "rows_out", "fanout"]),
        ("write", ["self_s", "output_bytes", "files", "shuffle_write_bytes", "task_skew"]),
        ("discover", ["self_s", "input_bytes"]),
        ("manifest", ["self_s"]),
        ("stats", ["self_s", "jobs", "cpu_s", "input_bytes", "shuffle_write_bytes"]),
    ]
    for m in ms + _GC_SPILL
] + [f"stats.{t}.self_s" for t in STATS_TABLES] + ["trace.run_s", "spine.residual_s"]

QUERY_METRICS = (
    [f"query.{q}.s" for q in CONTRACT_QUERIES]
    + [
        f"queries.{f}{m}"
        for f in ("grammar", "dedup", "text", "olap")
        for m in ("_s", ".cpu_s", ".shuffle_write_bytes")
    ]
    + ["trace.queries_s"]
)


def unit(name: str) -> str:
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith(("rows_out", "files", "jobs")):
        return "count"
    if name.endswith(("fanout", "task_skew")):
        return "ratio"
    return "s"


EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}


def traced_session() -> tuple[Session, str]:
    """A session writing its event log, as one plain JSON file, to a fresh
    dir; returns both."""
    evdir = os.path.join(WORK, "eventlog")
    shutil.rmtree(evdir, ignore_errors=True)
    os.makedirs(evdir)
    return Session({**EVENT_LOG_CONF, "spark.eventLog.dir": evdir}), evdir


def read_log(evdir: str) -> tr.EventLog:
    """The event log of the one (closed) session in ``evdir``."""
    (path,) = [
        p for p in glob.glob(os.path.join(evdir, "*")) if not p.endswith((".crc", ".inprogress"))
    ]
    return tr.read_event_log(path)


def _save_spans(tracer: tr.Tracer) -> None:
    with open(os.path.join(WORK, "last_trace.json"), "w") as f:
        json.dump([vars(s) for s in tracer.spans], f)


def _prefixes(spark, src: str) -> list:
    from pgweasel_spark.operators import parse, route
    from pgweasel_spark.operators.enrich import enrich
    from pgweasel_spark.plans.pipeline import ROUTED_COLS

    scan = spark.read.parquet(src).select("url", "warc_ts", "lang", "text")
    split = parse.split_pages_sql(scan)
    extract = parse.with_extracted(split)
    enriched = enrich(extract)
    routed = route.with_partition_cols(
        route.explode_sinks(route.sink_flags(enriched))
    ).select(*ROUTED_COLS)
    return list(zip(SPINE, [scan, split, extract, enriched, routed]))


def pipeline_layers(seed: int, ops: Ops, pages: int = PAGES) -> dict[str, float]:
    """Per-layer metrics of ``full_run``. The traced ``pipeline.run`` is
    the session's second run, as the measured one of ``full_run`` is, so
    ``trace.run_s`` minus ``full_run``'s ``run_s`` is the tracing overhead.
    The spine prefixes run after it."""
    import inputs
    from pgweasel_spark.plans import pipeline

    warm_src, warm_expected = inputs.webtext(WORK, WARMUP_PAGES, seed, ROWS_PER_FILE)
    src, expected = inputs.webtext(WORK, pages, seed, ROWS_PER_FILE)
    sess, evdir = traced_session()
    tracer = tr.Tracer()
    try:
        spark = sess.spark
        pipeline_op(spark, warm_src, warm_expected, ops)
        out = fresh_root("traced")
        with tracer.span("run"):
            res = pipeline.run(spark, src, out, with_stats=False)
        with tracer.span("stats"):
            pipeline.write_stats(spark.read.parquet(os.path.join(out, "routed")), out)
        ops.record("traced pipeline.run", check_run(out, src, expected, res.sink_counts))
        write_files = len(glob.glob(os.path.join(out, "routed", "**", "*.parquet"), recursive=True))
        for rep in range(2):
            for name, df in _prefixes(spark, src):
                with tracer.span(f"prefix.{name}.{rep}"):
                    df.write.format("noop").mode("overwrite").save()
    finally:
        sess.close()
    _save_spans(tracer)
    log = read_log(evdir)
    by_span = tr.jobs_by_span(log, tracer.spans)
    m: dict[str, float] = {}

    # spine prefixes: the faster of two repetitions; self = prefix(k) - prefix(k-1)
    pre = {}
    for name in SPINE:
        best = min((tracer.get(f"prefix.{name}.{r}") for r in range(2)), key=lambda s: s.seconds)
        pre[name] = (best.seconds, tr.merge([j.totals for j in by_span[best.name]]))
    prev_s, prev = 0.0, tr.Totals()
    for name in SPINE:
        s, t = pre[name]
        m[f"{name}.self_s"] = s - prev_s
        m[f"{name}.cpu_s"] = t.cpu_s - prev.cpu_s
        m[f"{name}.gc_s"] = t.gc_s - prev.gc_s
        m[f"{name}.spill_bytes"] = t.spill_bytes - prev.spill_bytes
        prev_s, prev = s, t
    m["scan.input_bytes"] = pre["scan"][1].input_bytes
    parsed = expected["records"]
    routed_rows = sum(res.sink_counts.values())
    m["split.rows_out"] = parsed
    m["route.rows_out"] = routed_rows
    m["route.fanout"] = routed_rows / parsed

    # the jobs of pipeline.run; the write job also runs the whole spine
    run_span = tracer.get("run")
    phases = tr.pipeline_phases(log, by_span["run"])
    tot = {k: tr.merge([j.totals for j in v]) for k, v in phases.items()}
    spine_s, spine_t = pre["route"]
    write_wall = tr.wall_s(phases["write"])
    m["write.self_s"] = write_wall - spine_s
    m["write.output_bytes"] = tot["write"].output_bytes
    m["write.files"] = write_files
    m["write.shuffle_write_bytes"] = tot["write"].shuffle_write_bytes
    m["write.task_skew"] = tot["write"].task_skew()
    m["write.gc_s"] = tot["write"].gc_s - spine_t.gc_s
    m["write.spill_bytes"] = tot["write"].spill_bytes - spine_t.spill_bytes
    m["discover.self_s"] = tr.wall_s(phases["discover"])
    m["discover.input_bytes"] = tot["discover"].input_bytes
    # the manifest phase runs from its count job to the end of the call,
    # which includes saving the manifest
    m["manifest.self_s"] = (
        (run_span.end - min(j.submit for j in phases["manifest"])) / 1000.0
        if phases["manifest"]
        else 0.0
    )
    for name in ("discover", "manifest"):
        m[f"{name}.gc_s"] = tot[name].gc_s
        m[f"{name}.spill_bytes"] = tot[name].spill_bytes

    stats_span = tracer.get("stats")
    st = tr.merge([j.totals for j in by_span["stats"]])
    m["stats.self_s"] = stats_span.seconds
    m["stats.jobs"] = st.jobs
    m["stats.cpu_s"] = st.cpu_s
    m["stats.input_bytes"] = st.input_bytes
    m["stats.shuffle_write_bytes"] = st.shuffle_write_bytes
    m["stats.gc_s"] = st.gc_s
    m["stats.spill_bytes"] = st.spill_bytes
    # the six tables are written concurrently: each self time is its own
    # SQL execution's wall time, and they overlap
    per_table = tr.wall_by_output_dir(log, by_span["stats"], [f"stats/{t}" for t in STATS_TABLES])
    for t in STATS_TABLES:
        m[f"stats.{t}.self_s"] = per_table[f"stats/{t}"]

    m["trace.run_s"] = run_span.seconds + stats_span.seconds
    m["spine.residual_s"] = m["trace.run_s"] - (
        m["discover.self_s"] + write_wall + m["manifest.self_s"] + m["stats.self_s"]
    )
    return {k: m[k] for k in PIPELINE_METRICS}


def query_layers(seed: int, ops: Ops) -> dict[str, float]:
    """Per-layer metrics of ``contract_queries``: one warm pass with a span
    per query, after the same cold pass as the untraced run."""
    import inputs

    tdir, oracle = inputs.contract_tables(WORK, seed, CONTRACT_QUERIES)
    sess, evdir = traced_session()
    tracer = tr.Tracer()
    try:
        cold_pass(sess.spark, tdir, oracle, ops)
        query_s = query_pass(sess.spark, tdir, oracle, ops, tracer)
    finally:
        sess.close()
    _save_spans(tracer)
    by_span = tr.jobs_by_span(read_log(evdir), tracer.spans)
    m = {f"query.{q}.s": query_s[q] for q in CONTRACT_QUERIES}
    for f in ("grammar", "dedup", "text", "olap"):
        names = [q for q in query_s if FAMILIES[q[0]] == f]
        t = tr.merge([j.totals for q in names for j in by_span[f"query.{q}"]])
        m[f"queries.{f}_s"] = sum(query_s[q] for q in names)
        m[f"queries.{f}.cpu_s"] = t.cpu_s
        m[f"queries.{f}.shuffle_write_bytes"] = t.shuffle_write_bytes
    m["trace.queries_s"] = sum(query_s.values())
    return {k: m[k] for k in QUERY_METRICS}


def traced_run(workload: str, seed: int, ops: Ops, pages: int = PAGES) -> tuple[dict, dict]:
    """Every per-layer metric. The layers of the other workload do no work
    in this one and read 0."""
    if workload == "full_run":
        m = {**pipeline_layers(seed, ops, pages), **dict.fromkeys(QUERY_METRICS, 0.0)}
    else:
        m = {**dict.fromkeys(PIPELINE_METRICS, 0.0), **query_layers(seed, ops)}
    return m, {k: unit(k) for k in m}

"""Pieces shared by the workloads and the traced run: the Spark session,
the operations and the checks of their outputs."""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")

#: generator arguments of the pipeline input (``gen.write_webtext``); the
#: cold first run goes over a separate WARMUP_PAGES table from the same seed,
#: which compiles the same plans at a fraction of the cost
PAGES = 1500
WARMUP_PAGES = 100
ROWS_PER_FILE = 100

#: the contract queries the benchmark times (21 of the 63): every caller of
#: the parallel scan helpers ``_t_fan`` and ``_t_par``, the iterative
#: connected-components query d9, and plain ``_t`` scans as controls, one
#: per family plus the similarity operator. A pass over all 63 in a fresh
#: JVM takes 55-70 s on 4 cores, more than the benchmark's time budget
#: allows per run.
CONTRACT_QUERIES = [
    "f2_min_severity",
    "f5_locks",
    "f6_system",
    "a4c_conn_by_dim",
    "d10_url_dedup",
    "t8_vocab_topk",
    "d4_ngram_jaccard",
    "d5_simhash",
    "d7_chunk_dup",
    "d8_decontaminate",
    "d11_minhash_lsh",
    "t2_quality",
    "t5_repetition",
    "t11_tfidf_topk",
    "t12_unigram_nll",
    "d9_dup_groups",
    "p9_duration_grok",
    "d1_dedup_exact",
    "t1_token_stats",
    "h1_lineitem_agg",
    "e2_lsh_ann",
]

STATS_TABLES = [
    "errors_top",
    "errors_hist",
    "slow_top",
    "connections_totals",
    "connections_by_dim",
    "connections_buckets",
]

#: a bounded heap keeps the JVM's resident size, a reported metric, from
#: following the collector's lazy heap growth
DRIVER_MEMORY = "2g"


def cores() -> int:
    return len(os.sched_getaffinity(0))


class Session:
    """A Spark session on ``local[<cores>]`` whose scratch files stay in
    the work dir. ``close`` ends the JVM and waits for it."""

    def __init__(self, extra_conf: dict | None = None) -> None:
        from pyspark import SparkContext

        self.spark = self._start(extra_conf)
        self.proc = SparkContext._gateway.proc

    @staticmethod
    def _start(extra_conf: dict | None):
        from pgweasel_spark.session import get_spark

        tmp = os.path.join(WORK, "tmp")
        os.makedirs(tmp, exist_ok=True)
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
        os.environ["TMPDIR"] = tempfile.tempdir = tmp
        # no JVM (the launcher's included) writes its /tmp perf-data file
        os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
        n = cores()
        conf = {
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.driver.memory": DRIVER_MEMORY,
        }
        conf.update(extra_conf or {})
        spark = get_spark(
            "perfbench",
            master=f"local[{n}]",
            shuffle_partitions=str(n),
            extra_conf=conf,
        )
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def peak_rss_mb(self) -> float:
        with open(f"/proc/{self.proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM not found")

    def close(self) -> None:
        from pyspark import SparkContext

        try:
            self.spark.stop()
        finally:
            gateway = SparkContext._gateway
            if gateway is not None:
                gateway.shutdown()
                SparkContext._gateway = None
                SparkContext._jvm = None
            if self.proc.stdin:
                self.proc.stdin.close()
            try:
                self.proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()


# --- output checks ----------------------------------------------------------


def routed_rows_on_disk(out_root: str) -> dict[str, int]:
    """Rows per sink, summed from the parquet footers of the written
    files (independent of Spark)."""
    import pyarrow.parquet as pq

    counts: dict[str, int] = {}
    routed = os.path.join(out_root, "routed")
    for dirpath, _, files in os.walk(routed):
        rel = os.path.relpath(dirpath, routed).split(os.sep)[0]
        if not rel.startswith("sink="):
            continue
        sink = rel[len("sink="):]
        for f in files:
            if f.endswith(".parquet"):
                n = pq.ParquetFile(os.path.join(dirpath, f)).metadata.num_rows
                counts[sink] = counts.get(sink, 0) + n
    return counts


def stats_hashes(out_root: str) -> dict[str, str]:
    import pyarrow.parquet as pq
    from selfcheck_entry import table_hash

    out = {}
    for t in STATS_TABLES:
        tbl = pq.read_table(os.path.join(out_root, "stats", t))
        rows = [tuple(r.values()) for r in tbl.to_pylist()]
        out[t] = f"{len(rows)}:{table_hash(tbl.column_names, rows)}"
    return out


def stats_reference(src: str, hashes: dict | None = None) -> dict | None:
    """The stats-table hashes of the first correct run over ``src``, kept
    beside the input so that every later run, in any process, is compared
    with them. With ``hashes``, store them if none are stored yet."""
    path = src + ".stats.json"
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    if hashes is not None:
        with open(path + ".tmp", "w") as f:
            json.dump(hashes, f)
        os.replace(path + ".tmp", path)
    return hashes


def _nonzero(d: dict) -> dict:
    return {k: v for k, v in d.items() if v}


def check_pipeline(out_root: str, expected: dict, sink_counts: dict, stats_ref: dict | None) -> list[str]:
    """Problems with one ``pipeline.run`` output; empty when correct."""
    problems = []
    with open(os.path.join(out_root, "manifest.json")) as f:
        days = json.load(f)["days"]
    got_days = {d: e["input_rows"] for d, e in days.items() if e.get("status") == "complete"}
    if got_days != expected["day_records"]:
        problems.append(f"manifest input_rows {got_days} != kernel {expected['day_records']}")
    want = _nonzero(expected["sink_rows"])
    on_disk = _nonzero(routed_rows_on_disk(out_root))
    if on_disk != want:
        problems.append(f"routed rows on disk {on_disk} != kernel {want}")
    if _nonzero(sink_counts) != want:
        problems.append(f"reported sink counts {sink_counts} != kernel {want}")
    if stats_ref is not None:
        got = stats_hashes(out_root)
        bad = [t for t in STATS_TABLES if got[t] != stats_ref[t]]
        if bad:
            problems.append(f"stats tables differ from the first run: {bad}")
    return problems


def check_query(expected: dict, name: str, cols: list, rows: list) -> list[str]:
    from selfcheck_entry import table_hash

    want = expected.get(name)
    if want is None:
        return [f"{name}: no oracle"]
    got = [len(rows), table_hash(cols, rows)]
    return [] if got == want else [f"{name}: rows/hash {got} != oracle {want}"]


# --- operations -------------------------------------------------------------


class Ops:
    """Counts attempted and failed operations; a failure is logged to
    stderr and never stops the run."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0

    def record(self, what: str, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            for p in problems:
                print(f"perfbench: FAILED {what}: {p}", file=sys.stderr)


def fresh_root(name: str) -> str:
    out = os.path.join(WORK, "out", name)
    shutil.rmtree(out, ignore_errors=True)
    return out


def pipeline_op(spark, src: str, expected: dict, ops: Ops) -> tuple[float, str]:
    """One timed ``pipeline.run`` into a fresh root, then its checks.
    Returns (seconds, root)."""
    from pgweasel_spark.plans import pipeline

    out = fresh_root("pipeline")
    t0 = time.perf_counter()
    try:
        res = pipeline.run(spark, src, out)
    except Exception:
        ops.record("pipeline.run", [traceback.format_exc()])
        return time.perf_counter() - t0, out
    dt = time.perf_counter() - t0
    ops.record("pipeline.run", check_run(out, src, expected, res.sink_counts))
    return dt, out


def check_run(out: str, src: str, expected: dict, sink_counts: dict) -> list[str]:
    """``check_pipeline`` against the stored stats hashes of ``src``,
    storing this run's when it is the first correct one. An output too
    broken to read is a problem, not an error."""
    try:
        problems = check_pipeline(out, expected, sink_counts, stats_reference(src))
        if not problems:
            stats_reference(src, stats_hashes(out))
    except Exception:
        problems = [traceback.format_exc()]
    return problems


def collect_query(spark, fn, tables_dir: str) -> tuple[list, list]:
    """Build one contract query's DataFrame and collect it: its columns and
    rows."""
    df = fn(spark, tables_dir)
    return df.columns, [tuple(r) for r in df.collect()]


def _query_problems(expected: dict, name: str, result) -> list[str]:
    """``result`` is what ``collect_query`` returned, or the traceback of
    what it raised."""
    return [result] if isinstance(result, str) else check_query(expected, name, *result)


def query_pass(spark, tables_dir: str, expected: dict, ops: Ops, tracer=None) -> dict[str, float]:
    """Run the ``CONTRACT_QUERIES`` once, one at a time; each is timed from
    building the DataFrame to the end of ``collect()``. Returns seconds per
    query."""
    import contextlib

    import __spark_entry__ as entry

    queries = entry.queries()
    times = {}
    for name in CONTRACT_QUERIES:
        span = tracer.span(f"query.{name}") if tracer else contextlib.nullcontext()
        with span:
            t0 = time.perf_counter()
            try:
                result = collect_query(spark, queries[name], tables_dir)
            except Exception:
                result = traceback.format_exc()
            times[name] = time.perf_counter() - t0
        spark.catalog.clearCache()
        ops.record(name, _query_problems(expected, name, result))
    return times


def cold_pass(spark, tables_dir: str, expected: dict, ops: Ops) -> None:
    """Run the ``CONTRACT_QUERIES`` once, untimed and ``cores()`` at a time,
    and check their results. This compiles each query's plans and warms the
    JVM for the timed passes in about three quarters of the time of a pass
    run one query at a time, which the benchmark's time budget needs."""
    from concurrent.futures import ThreadPoolExecutor

    import __spark_entry__ as entry

    queries = entry.queries()

    def one(name: str):
        try:
            return collect_query(spark, queries[name], tables_dir)
        except Exception:
            return traceback.format_exc()

    with ThreadPoolExecutor(cores()) as pool:
        results = list(pool.map(one, CONTRACT_QUERIES))
    spark.catalog.clearCache()
    for name, result in zip(CONTRACT_QUERIES, results):
        ops.record(name, _query_problems(expected, name, result))


def _beta_cdf(a: float, b: float, x: float) -> float:
    """The regularized incomplete beta function I_x(a, b), by its
    continued fraction (modified Lentz)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    if x > (a + 1.0) / (a + b + 2.0):
        return 1.0 - _beta_cdf(b, a, 1.0 - x)
    tiny = 1e-300
    front = math.exp(
        math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b) + a * math.log(x) + b * math.log1p(-x)
    ) / a
    d = 1.0 - (a + b) * x / (a + 1.0)
    d = 1.0 / (d if abs(d) > tiny else tiny)
    c, f = 1.0, d
    for m in range(1, 500):
        for num in (
            m * (b - m) * x / ((a + 2 * m - 1) * (a + 2 * m)),
            -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 2 * m + 1)),
        ):
            d = 1.0 + num * d
            d = 1.0 / (d if abs(d) > tiny else tiny)
            c = 1.0 + num / c
            c = c if abs(c) > tiny else tiny
            f *= c * d
        if abs(c * d - 1.0) < 1e-13:
            break
    return front * f


def percentile(values: list[float], pct: int) -> float:
    """The Harrell-Davis estimate of the ``pct``-th percentile: a mean of
    all the order statistics weighted by a Beta((n+1)p, (n+1)(1-p))
    distribution. Unlike interpolating between the two nearest samples,
    it does not jump when a noisy sample changes rank, which makes it the
    steadier estimate over a few dozen query times."""
    xs = sorted(values)
    n = len(xs)
    if n == 1:
        return xs[0]
    p = pct / 100.0
    a, b = p * (n + 1), (1.0 - p) * (n + 1)
    cdf = [_beta_cdf(a, b, i / n) for i in range(n + 1)]
    return sum((hi - lo) * x for lo, hi, x in zip(cdf, cdf[1:], xs))

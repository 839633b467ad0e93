"""Benchmark inputs and their expected outputs, built from a seed and cached.

Two inputs, each in its own directory under the benchmark's work dir:

- ``webtext-p<pages>-r<rows_per_file>-s<seed>``: the pipeline's input table,
  written by ``gen.write_webtext(include_fixtures=False)``; beside it
  ``<dir>.expected.json`` holds what the ``grammar`` kernel (the repo's
  independent Python oracle) derives from the same pages: record counts per
  ``warc_ts`` day and routed rows per sink.
- ``tables-s<seed>``: the ten tables of the contract queries
  (``tables.write_tables``); beside it ``<dir>.expected.json`` holds each
  timed query's DuckDB oracle result as (row count, value hash).

A directory is built under a temporary name and renamed when complete; its
expectations are written last, so an interrupted build is never mistaken
for a cached one.
"""

from __future__ import annotations

import json
import os
import shutil
from collections import Counter

import tables


def _cached(out_dir: str, build) -> dict:
    """Return the expectations stored beside ``out_dir``, first building
    the dir with ``build(tmp_dir) -> expected`` when they are missing."""
    path = out_dir + ".expected.json"
    if not os.path.exists(path):
        tmp = out_dir + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(out_dir, ignore_errors=True)
        os.makedirs(tmp)
        expected = build(tmp)
        os.replace(tmp, out_dir)
        with open(path + ".tmp", "w") as f:
            json.dump(expected, f, sort_keys=True)
        os.replace(path + ".tmp", path)
    with open(path) as f:
        return json.load(f)


def kernel_expected(
    pages: list[dict], slow_threshold_ms: float = 3000.0
) -> dict:
    """Per-day parsed records and per-sink routed rows, by the grammar
    kernel. Mirrors the routing predicates of ``route.sink_flags``: a
    record without a parseable timestamp is quarantined, every other one
    fans out to each sink whose predicate it meets."""
    from pgweasel_spark import grammar as g

    days: Counter = Counter()
    sinks: Counter = Counter()
    for page in pages:
        fmt = "csv" if page["url"].lower().endswith(".csv") else "plain"
        day = page["warc_ts"].strftime("%Y-%m-%d")
        for rec in g.split_records(page["text"] or ""):
            days[day] += 1
            if g.parse_timestamp(rec) is None:
                sinks["quarantine"] += 1
                continue
            sev = g.severity_csv(rec) if fmt == "csv" else g.severity_plain(rec)
            num = g.severity_num(sev)
            if num >= 8:
                sinks["errors"] += 1
            if num < 5:
                continue
            dur = g.extract_duration_ms(rec)
            if dur is not None and dur > slow_threshold_ms:
                sinks["slow"] += 1
            if g.matches_lock(rec):
                sinks["locks"] += 1
            if g.matches_system(rec):
                sinks["system"] += 1
            msg = g.message(rec, fmt) or ""
            if (
                msg.startswith(g.CONN_RECEIVED_PREFIX)
                or msg.startswith(g.CONN_AUTHORIZED_PREFIX)
                or g.connection_failure(rec, sev)
                or dur is not None
            ):
                sinks["stats"] += 1
    return {
        "records": sum(days.values()),
        "day_records": dict(days),
        "sink_rows": dict(sinks),
    }


def webtext(work: str, pages: int, seed: int, rows_per_file: int) -> tuple[str, dict]:
    """Generated webtext table and its kernel-derived expectations."""
    from pgweasel_spark import gen

    out = os.path.join(work, "inputs", f"webtext-p{pages}-r{rows_per_file}-s{seed}")

    def build(tmp: str) -> dict:
        gen.write_webtext(
            tmp, pages, seed=seed, include_fixtures=False, rows_per_file=rows_per_file
        )
        return kernel_expected(
            gen.generate_pages(pages, seed=seed, include_fixtures=False)
        )

    return out, _cached(out, build)


def contract_tables(work: str, seed: int, names: list[str]) -> tuple[str, dict]:
    """Generated contract-query tables and the DuckDB oracle result of each
    query in ``names`` as ``{name: [rows, hash]}``."""

    def build(tmp: str) -> dict:
        import duckdb

        import __spark_entry__ as entry
        from selfcheck_entry import table_hash

        tables.write_tables(tmp, seed)
        con = duckdb.connect()
        try:
            for t in tables.TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM '{tmp}/{t}.parquet'"
                )
            expected = {}
            oracle = entry.oracle_sql()
            for name in names:
                res = con.execute(oracle[name])
                cols = [d[0] for d in res.description]
                rows = res.fetchall()
                expected[name] = [len(rows), table_hash(cols, rows)]
            return expected
        finally:
            con.close()

    out = os.path.join(work, "inputs", f"tables-s{seed}")
    expected = _cached(out, build)
    if not set(names) <= set(expected):
        # cached for another query list: build again
        os.remove(out + ".expected.json")
        expected = _cached(out, build)
    return out, expected

"""`batch_analytics`: fifteen registry operators on seeded tables.

The set spans the operator families: relational joins and aggregates,
windows and sessionization, time buckets, exact dedup and MinHash LSH,
brute-force similarity, text scoring, BM25, exact percentiles and the log's
external-id cursor scan. One pass collects every result and compares it with
the query's DuckDB oracle through ``tools/parity.py``'s ``compare`` (this also
warms the JVM); a second pass is timed, each query written to the ``noop``
sink.
"""

from __future__ import annotations

import contextlib
import importlib.util
import os
import sys
from statistics import median

import tables
from common import ROOT, Stopwatch, percentile

QUERIES = (
    "flagship_events_last_day", "pricing_summary", "join_multiway", "tpch_q9_product_profit",
    "window_topk_per_group", "time_bucket_tumbling", "sessionize_gaps", "latest_event_per_user",
    "dedup_exact", "dedup_minhash_lsh", "sim_topk_bruteforce", "text_quality_score",
    "bm25_topk", "percentile_cont_exact", "cursor_scan_external_id",
)


def scale(smoke: bool) -> float:
    return 0.003 if smoke else 0.01


def _parity_module():
    spec = importlib.util.spec_from_file_location("parity", os.path.join(ROOT, "tools", "parity.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def run(ctx) -> None:
    from messikinesisprovider_spark.registry import all_specs

    spark = ctx.start_spark()
    sf = scale(ctx.smoke)

    # the tables are the benchmark's input, written once and not timed
    sf_dir = os.path.join(ctx.workdir, "sf")
    tables.write(ctx.seed, sf, sf_dir)
    specs = all_specs()
    parity = _parity_module()
    con = parity.duck_connect(sf_dir)

    # -- correctness pass (untimed; also warms the JVM and Python workers) ----
    for name in QUERIES:
        spark_pdf = specs[name].fn(spark, sf_dir).toPandas()
        duck_pdf = con.execute(specs[name].oracle).df()
        with contextlib.redirect_stdout(sys.stderr):
            problems = parity.compare(name, spark_pdf, duck_pdf)
        ctx.check(not problems and len(spark_pdf) > 0,
                  f"{name}: {len(spark_pdf)} rows; {'; '.join(problems)[:300]}")
    con.close()

    ctx.begin_measure()
    times = {}
    for name in QUERIES:
        ctx.op(name)
        with Stopwatch() as sw:
            specs[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        times[name] = sw.s
        ctx.layer(f"query.{name}_s", sw.s)
    ctx.end_measure()

    total = sum(times.values())
    ms = [v * 1000 for v in times.values()]
    ctx.e2e(work_s=total, p50_ms=median(ms), tail_ms=percentile(ms, 75))
    ctx.detail(query_total_s=total, query_p50_ms=median(ms), query_p75_ms=percentile(ms, 75),
               scale_factor=sf)

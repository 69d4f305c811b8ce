"""The benchmark's workloads and metrics, and which end-to-end metric each
per-layer metric should move on which workload.

``BENCHMARK.json`` at the repository root is this catalogue without the
``moves``/``on`` columns; ``python3 perfbench/catalog.py`` prints it, and
``perfbench/tests/test_catalog.py`` keeps the two equal.
"""

from __future__ import annotations

import json

RUN_SECONDS = 10

WORKLOADS = {
    "etl_tmdb": "The paper's own job, four TMDB CSVs to 16 parquet tables: the only workload "
                "that scans CSV, runs the literal_eval parse UDF and writes output.",
    "dedup_graph": "MinHash dedup, components, PageRank and triangles: CPU-bound kernels that "
                   "run eagerly in plan build and use iteration checkpoints, not a parse cache.",
}

# name: (unit, better, bound)
# Bounds are wide because a run times a single warm pass, to keep one run
# near a minute, and on a shared 4-vCPU host the calibration loop's time
# moves by up to a third from one minute to the next.
END_TO_END = {
    "run_s": ("s", "lower", 0.25),
    "setup_s": ("s", "lower", 0.25),
    "cpu_s": ("s", "lower", 0.25),
    "peak_rss_mb": ("MB", "lower", 0.25),
}

# q_dedup_minhash_incremental is left out: with two warm-up passes (see
# workloads.DedupGraph) a fifth query would push a run well past a minute
DG_QUERIES = (
    "q_dedup_minhash_lsh",
    "q_dedup_savings_minhash",
    "q_graph_pagerank",
    "q_graph_triangles",
)
ETL_TABLES = (
    "movies", "genres", "languages", "collections", "persons", "countries",
    "production_companies", "keywords", "movies_genres", "spoken_languages",
    "production_countries", "movies_production_companies", "movies_keywords",
    "directors", "actors", "crew_by_job",
)

ETL, DG, BOTH = ("etl_tmdb",), ("dedup_graph",), ("etl_tmdb", "dedup_graph")

# name: (unit, better, end-to-end metrics it should move, workloads it moves on)
PER_LAYER = {
    "session.get_spark_s": ("s", "lower", ("setup_s",), BOTH),
    "session.maybe_broadcast.calls": ("count", "lower", ("run_s",), DG),
    "session.maybe_broadcast.probe_jobs": ("count", "lower", ("run_s",), DG),
    "session.maybe_broadcast.s": ("s", "lower", ("run_s",), DG),
    "session.maybe_broadcast.broadcast_frac": ("ratio", "higher", ("run_s",), DG),
    "session.tracked_cache.calls": ("count", "lower", ("peak_rss_mb", "run_s"), BOTH),
    "session.cached_mb": ("MB", "lower", ("peak_rss_mb", "run_s"), BOTH),
    "plans.build_s": ("s", "lower", ("run_s",), DG),
    "plans.build_jobs": ("count", "lower", ("run_s",), DG),
    "plans.build_tasks": ("count", "lower", ("run_s", "cpu_s"), DG),
    **{f"plans.{q}.build_s": ("s", "lower", ("run_s",), DG) for q in DG_QUERIES},
    "spark.exec_s": ("s", "lower", ("run_s",), BOTH),
    "spark.cpu_s": ("s", "lower", ("cpu_s",), BOTH),
    "spark.task_s": ("s", "lower", ("run_s", "cpu_s"), BOTH),
    "spark.tasks": ("count", "lower", ("run_s", "cpu_s"), BOTH),
    "spark.stages": ("count", "lower", ("run_s",), BOTH),
    "spark.jobs": ("count", "lower", ("run_s",), BOTH),
    "spark.shuffle_read_mb": ("MB", "lower", ("run_s", "cpu_s"), BOTH),
    "spark.shuffle_write_mb": ("MB", "lower", ("run_s", "cpu_s"), BOTH),
    "spark.spill_mb": ("MB", "lower", ("run_s", "peak_rss_mb"), BOTH),
    "spark.gc_s": ("s", "lower", ("cpu_s", "peak_rss_mb"), BOTH),
    "spark.input_mb": ("MB", "lower", ("run_s",), BOTH),
    **{m: spec for q in DG_QUERIES for m, spec in (
        (f"spark.{q}.exec_s", ("s", "lower", ("run_s",), DG)),
        (f"spark.{q}.cpu_s", ("s", "lower", ("cpu_s",), DG)),
        (f"spark.{q}.tasks", ("count", "lower", ("run_s", "cpu_s"), DG)),
    )},
    "proc.jvm_cpu_s": ("s", "lower", ("cpu_s",), DG),
    "proc.driver_cpu_s": ("s", "lower", ("cpu_s",), BOTH),
    "proc.pyworker_cpu_s": ("s", "lower", ("cpu_s",), ETL),
    "sources.readers.scan_s": ("s", "lower", ("run_s",), ETL),
    "sources.readers.input_mb": ("MB", "lower", ("run_s",), ETL),
    "etl.parse.s": ("s", "lower", ("run_s", "cpu_s"), ETL),
    "etl.parse.cells": ("count", "lower", ("run_s", "cpu_s"), ETL),
    "etl.parse.null_frac": ("ratio", "lower", ("run_s",), ETL),
    "etl.pipeline.build_s": ("s", "lower", ("run_s",), ETL),
    **{f"etl.table.{t}.s": ("s", "lower", ("run_s",), ETL) for t in ETL_TABLES},
    "sources.writers.s": ("s", "lower", ("run_s",), ETL),
    "sources.writers.files": ("count", "lower", ("run_s",), ETL),
    "sources.writers.mb": ("MB", "lower", ("run_s",), ETL),
    "trace.overhead_s": ("s", "lower", ("run_s",), BOTH),
}


def benchmark_json() -> dict:
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOADS.items()],
        "end_to_end": [{"name": n, "unit": u, "better": b, "bound": bound}
                       for n, (u, b, bound) in END_TO_END.items()],
        "per_layer": [{"name": n, "unit": u, "better": b}
                      for n, (u, b, _moves, _on) in PER_LAYER.items()],
    }


if __name__ == "__main__":
    print(json.dumps(benchmark_json(), indent=2))

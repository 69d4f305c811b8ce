"""The benchmark's workloads. Each is a closed loop with one client: the
next operation starts when the previous one has returned.

A workload installs its tracing wrappers (traced runs only), prepares its
seeded inputs before Spark starts, then runs passes. The first pass is the
warm-up and its output is checked; the timed passes follow. A workload
knows which spans its pass opens and turns the traced pass's spans and
counters into per-layer metrics.
"""

from __future__ import annotations

import os
import shutil

from catalog import DG_QUERIES, ETL_TABLES
from tracing import Tracer, wrap

ETL_MOVIES, ETL_RATINGS = 3_000, 60_000
TIER_SF = 0.01


def _install_session_wrappers(tracer: Tracer) -> None:
    """Wrap the session helpers. Must run before ``plans`` or ``etl`` is
    imported, because those bind the helpers by name at import time."""
    from the_movie_database_import_spark import session

    def count_broadcast(args, result):
        # maybe_broadcast returns its argument unless it adds the hint
        tracer.counts["session.maybe_broadcast.broadcast"] += result is not args[0]

    wrap(session, "tracked_cache", tracer, "session.tracked_cache")
    wrap(session, "maybe_broadcast", tracer, "session.maybe_broadcast", count_broadcast)


def _session_metrics(tracer: Tracer) -> dict:
    c, w = tracer.counts, tracer.work
    calls = int(c["session.maybe_broadcast.calls"])
    return {
        "session.maybe_broadcast.calls": calls,
        "session.maybe_broadcast.probe_jobs": w["session.maybe_broadcast"].jobs,
        "session.maybe_broadcast.s": c["session.maybe_broadcast.s"],
        "session.maybe_broadcast.broadcast_frac":
            c["session.maybe_broadcast.broadcast"] / calls if calls else 0.0,
        "session.tracked_cache.calls": int(c["session.tracked_cache.calls"]),
        "session.cached_mb": tracer.cached_mb_peak,
    }


def _spark_metrics(tracer: Tracer, exec_s: float) -> dict:
    p = tracer.work["pass"]
    return {
        "spark.exec_s": exec_s, "spark.cpu_s": p.cpu_s, "spark.task_s": p.task_s,
        "spark.tasks": p.tasks, "spark.stages": p.stages, "spark.jobs": p.jobs,
        "spark.shuffle_read_mb": p.shuffle_read_mb, "spark.shuffle_write_mb": p.shuffle_write_mb,
        "spark.spill_mb": p.spill_mb, "spark.gc_s": p.gc_s, "spark.input_mb": p.input_mb,
    }


class EtlTmdb:
    """One operation is one output table; one pass is the user's command,
    ``python -m the_movie_database_import_spark.etl <dir> --out <out>``."""

    name = "etl_tmdb"
    ops = ETL_TABLES
    warm_ups = 1

    def __init__(self, work: str, seed: int, tracer: Tracer):
        self.work, self.seed, self.tracer = work, seed, tracer
        self.out = os.path.join(work, "etl-out")

    def prepare(self) -> None:
        from etl_model import reference_tables
        from inputs import etl_inputs

        self.inputs = etl_inputs(self.work, self.seed, ETL_MOVIES, ETL_RATINGS)
        self.expected = reference_tables(self.inputs)

    def install_tracing(self) -> None:
        _install_session_wrappers(self.tracer)
        from the_movie_database_import_spark.etl import pipeline
        from the_movie_database_import_spark.sources import writers

        wrap(pipeline, "build_all_tables", self.tracer, "etl.pipeline.build")
        wrap(writers, "write_parquet_partitioned", self.tracer,
             lambda args: f"etl.table.{os.path.basename(args[1])}")

    def run(self, spark, collect: bool) -> dict[str, str]:
        from the_movie_database_import_spark.etl.__main__ import main

        shutil.rmtree(self.out, ignore_errors=True)
        with self.tracer.span("pass"):
            try:
                main([self.inputs, "--out", self.out])
            except Exception as e:  # counted as failed operations; the run goes on
                return {t: f"etl raised {e!r}" for t in ETL_TABLES}
        return {}

    def check(self) -> dict[str, str]:
        from etl_model import check_output

        return check_output(self.out, self.expected)

    def trace_extras(self, spark) -> dict:
        """The standalone scan of the four inputs, then scan plus parse of
        the nested cells, with the inputs and parse functions the pipeline
        uses. Parse self time is scan+parse minus the scan of the same
        columns."""
        import time

        from pyspark.sql import functions as F
        from the_movie_database_import_spark.etl import parse, pipeline

        nested = {
            "movies": {"genres": parse.parse_id_name_array,
                       "belongs_to_collection": parse.parse_collection,
                       "spoken_languages": parse.parse_lang_array,
                       "production_companies": parse.parse_id_name_array,
                       "production_countries": parse.parse_country_array},
            "credits": {"crew": parse.parse_crew_array, "cast": parse.parse_cast_array},
            "keywords": {"keywords": parse.parse_id_name_array},
        }

        def unparsed(col: str, fn):
            v = fn(col)
            # a collection cell parses to a struct whose id is NULL
            return (v["id"] if fn is parse.parse_collection else v).isNull().cast("long")

        dfs = pipeline.load_inputs(spark, self.inputs)
        scan_s = {}
        with self.tracer.span("sources.readers.scan"):
            for name, df in dfs.items():
                cols = list(nested.get(name, ())) or [c for c in df.columns if c != "_idx"]
                t = time.perf_counter()
                df.select(*[F.sum(F.length(c)) for c in cols]).collect()
                scan_s[name] = time.perf_counter() - t
        cells = nulls = 0
        with self.tracer.span("etl.parse.scan_parse"):
            for name, cols in nested.items():
                row = dfs[name].select(F.count(F.lit(1)), *[
                    F.sum(unparsed(c, fn)) for c, fn in cols.items()]).collect()[0]
                cells += row[0] * len(cols)
                nulls += sum(row[1:])
        c, w = self.tracer.counts, self.tracer.work
        return {
            "sources.readers.scan_s": c["sources.readers.scan.s"],
            "sources.readers.input_mb": w["sources.readers.scan"].input_mb,
            "etl.parse.s": c["etl.parse.scan_parse.s"] - sum(scan_s[n] for n in nested),
            "etl.parse.cells": cells,
            "etl.parse.null_frac": nulls / cells,
        }

    def layer_metrics(self) -> dict:
        c = self.tracer.counts
        files = [os.path.join(d, f) for d, _s, fs in os.walk(self.out) for f in fs
                 if not f.startswith((".", "_"))]
        writes_s = sum(c[f"etl.table.{t}.s"] for t in ETL_TABLES)
        return {
            **_session_metrics(self.tracer),
            **_spark_metrics(self.tracer, writes_s),
            "etl.pipeline.build_s": c["etl.pipeline.build.s"],
            **{f"etl.table.{t}.s": c[f"etl.table.{t}.s"] for t in ETL_TABLES},
            "sources.writers.s": writes_s,
            "sources.writers.files": len(files),
            "sources.writers.mb": sum(os.path.getsize(f) for f in files) / (1 << 20),
        }


class DedupGraph:
    """One operation is one query; one pass builds each query and runs it
    into the ``noop`` sink. The first warm-up pass collects the results
    instead, for the checks."""

    name = "dedup_graph"
    ops = DG_QUERIES
    # the first timed pass after a single warm-up still ran ~20% slower
    # than later ones while the JIT caught up, and varied with it
    warm_ups = 2

    def __init__(self, work: str, seed: int, tracer: Tracer):
        self.work, self.seed, self.tracer = work, seed, tracer
        self.results = {}

    def prepare(self) -> None:
        from checks import Oracle
        from inputs import query_tier

        self.tier = query_tier(self.work, self.seed, TIER_SF)
        self.oracle = Oracle(self.tier, DG_QUERIES)

    def install_tracing(self) -> None:
        _install_session_wrappers(self.tracer)

    def run(self, spark, collect: bool) -> dict[str, str]:
        from the_movie_database_import_spark.plans import REGISTRY

        span = self.tracer.span
        errors, self.results = {}, {}
        with span("pass"):
            for q in DG_QUERIES:
                try:
                    with span(f"query.{q}"):
                        with span(f"plans.{q}.build"):
                            df = REGISTRY[q].spark_fn(spark, self.tier)
                        with span(f"spark.{q}.exec"):
                            if collect:
                                self.results[q] = df.toPandas()
                            else:
                                df.write.format("noop").mode("overwrite").save()
                except Exception as e:  # counted as a failed operation; the pass goes on
                    errors[q] = f"raised {e!r}"
        return errors

    def check(self) -> dict[str, str]:
        out = {}
        for q, pdf in self.results.items():
            problems = self.oracle.check(q, pdf)
            if problems:
                out[q] = "; ".join(problems)
        return out

    def trace_extras(self, spark) -> dict:
        return {}

    def layer_metrics(self) -> dict:
        c, w = self.tracer.counts, self.tracer.work
        return {
            **_session_metrics(self.tracer),
            "plans.build_s": sum(c[f"plans.{q}.build.s"] for q in DG_QUERIES),
            "plans.build_jobs": sum(w[f"plans.{q}.build"].jobs for q in DG_QUERIES),
            "plans.build_tasks": sum(w[f"plans.{q}.build"].tasks for q in DG_QUERIES),
            **{f"plans.{q}.build_s": c[f"plans.{q}.build.s"] for q in DG_QUERIES},
            **_spark_metrics(self.tracer, sum(c[f"spark.{q}.exec.s"] for q in DG_QUERIES)),
            **{m: v for q in DG_QUERIES for m, v in (
                (f"spark.{q}.exec_s", c[f"spark.{q}.exec.s"]),
                (f"spark.{q}.cpu_s", w[f"query.{q}"].cpu_s),
                (f"spark.{q}.tasks", w[f"query.{q}"].tasks),
            )},
        }


WORKLOADS = {w.name: w for w in (EtlTmdb, DedupGraph)}

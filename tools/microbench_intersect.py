"""Microbench for VERDICT r13 #3: can a sorted-merge intersection count
beat ``size(array_intersect(a, b))`` (per-pair hash-set build) on the
MinHash verify workload?

Materializes the REAL candidate-pair stream of q_dedup_minhash_lsh at
sf0.1 (the banded self-join's output projection inputs: both sides' token
hash arrays), localCheckpoints it so every formulation reads the same
physical rows, then times each intersection formulation into the noop
sink (median of 3 after warmup). Every formulation the run times must
return the same total intersection count (asserted) — they are candidates
for a result-identical swap, not approximations.

The sorted-merge formulations built from higher-order functions
(``aggregate`` fold and ``zip_with`` over ``array_sort(concat)``) were
measured 13-59x slower and rejected. Their timings are in
OPTIMIZATION_r14.md (VERDICT #3); the tool no longer carries them.

Usage: python tools/microbench_intersect.py [sf_dir]
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, functions as F

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"


def candidates(spark) -> DataFrame:
    """The verify stage's input: every in-bucket candidate pair with both
    token-hash arrays, exactly as minhash_lsh_pairs enumerates them
    (first-collision-band, size-compatible, rep-collapsed)."""
    from the_movie_database_import_spark.operators.banding import (
        first_collision_band,
    )
    from the_movie_database_import_spark.operators.dedup import (
        _minhash_signature,
        _token_hashes,
        choose_minhash_params,
    )
    from the_movie_database_import_spark.functions.text import distinct_tokens
    from the_movie_database_import_spark.sources.readers import fan_out, load_table

    threshold = 0.8
    num_hashes, bands = choose_minhash_params(threshold, 0.95)
    rows_per_band = num_hashes // bands
    docs = fan_out(load_table(spark, SF_DIR, "documents"))
    toksets = docs.select(
        F.col("doc_id"), distinct_tokens(F.col("text")).alias("toks")
    ).select("doc_id", _token_hashes(F.col("toks")).alias("th"))
    toksets = toksets.filter(F.col("th").isNotNull() & (F.size("th") > 0))
    toksets = toksets.withColumn("setkey", F.xxhash64(F.sort_array(F.col("th"))))
    reps = toksets.groupBy("setkey").agg(
        F.min("doc_id").alias("doc_id"), F.min_by("th", "doc_id").alias("th")
    )
    base = reps.withColumn("sig", _minhash_signature(F.col("th"), num_hashes))
    band_cols = [
        F.xxhash64(
            *[F.col("sig").getItem(b * rows_per_band + r) for r in range(rows_per_band)]
        )
        for b in range(bands)
    ]
    base = base.select(
        "doc_id",
        "th",
        F.size("th").cast("bigint").alias("n_toks"),
        *[c.alias(f"b{b}") for b, c in enumerate(band_cols)],
    )
    banded = base.select(
        "doc_id",
        "th",
        "n_toks",
        *[f"b{b}" for b in range(bands)],
        F.posexplode(F.array(*[F.col(f"b{b}") for b in range(bands)])).alias(
            "band_id", "band_sig"
        ),
    )
    no_earlier = first_collision_band(bands)
    size_compatible = F.least(F.col("a.n_toks"), F.col("b.n_toks")) >= (
        F.greatest(F.col("a.n_toks"), F.col("b.n_toks")) * F.lit(threshold)
    )
    return (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & no_earlier
            & size_compatible,
        )
        .select(
            F.col("a.th").alias("ta"),
            F.col("b.th").alias("tb"),
            F.sort_array(F.col("a.th")).alias("sa"),
            F.sort_array(F.col("b.th")).alias("sb"),
        )
    )


def n_hashset_unsorted(c: DataFrame) -> DataFrame:
    """Baseline: today's expression on unsorted document-order arrays."""
    return c.select(F.size(F.array_intersect("ta", "tb")).alias("n"))


def n_hashset_sorted(c: DataFrame) -> DataFrame:
    """array_intersect on pre-sorted arrays (locality only, same hash set)."""
    return c.select(F.size(F.array_intersect("sa", "sb")).alias("n"))


def n_distinct_concat(c: DataFrame) -> DataFrame:
    """|A| + |B| - |A ∪ B| with the union via array_distinct (hash set over
    n+m instead of per-pair intersect set)."""
    return c.select(
        (
            F.size("sa") + F.size("sb") - F.size(F.array_distinct(F.concat("sa", "sb")))
        ).alias("n")
    )


def main() -> None:
    from the_movie_database_import_spark.session import get_spark

    spark = get_spark("microbench-intersect")
    spark.sparkContext.setLogLevel("ERROR")
    # repartition BEFORE the checkpoint: the join output AQE-coalesces to a
    # single partition at sf0.1, which would serialize every timed pass
    cand = candidates(spark).repartition(32).localCheckpoint(eager=True)
    n_pairs = cand.count()
    stats = cand.select(
        F.avg(F.size("ta")).alias("avg_len"), F.max(F.size("ta")).alias("max_len")
    ).first()
    print(f"pairs={n_pairs}  avg|th|={stats['avg_len']:.1f}  max|th|={stats['max_len']}")

    # order alternates sorted/unsorted to rule out warmup-order artifacts
    forms = {
        "hashset_sorted": n_hashset_sorted,
        "hashset_unsorted(baseline)": n_hashset_unsorted,
        "hashset_sorted_2": n_hashset_sorted,
        "hashset_unsorted_2": n_hashset_unsorted,
        "distinct_concat": n_distinct_concat,
    }
    totals = {}
    for name, fn in forms.items():
        totals[name] = fn(cand).agg(F.sum("n")).first()[0]
    ref = totals["hashset_unsorted(baseline)"]
    for name, tot in totals.items():
        flag = "OK" if tot == ref else "MISMATCH"
        print(f"  {name}: total_n_inter={tot} [{flag}]")
    assert all(t == ref for t in totals.values()), "formulations disagree"

    sc = spark.sparkContext
    for name, fn in forms.items():
        df = fn(cand)
        df.write.format("noop").mode("overwrite").save()  # warmup/codegen
        times = []
        for _ in range(3):
            sc.setJobDescription(f"intersect:{name}")
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - t0)
        print(f"  {name}: median={statistics.median(times):.3f}s  runs={[f'{t:.3f}' for t in times]}")
    spark.stop()


if __name__ == "__main__":
    main()

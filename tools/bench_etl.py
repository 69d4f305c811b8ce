#!/usr/bin/env python
"""Benchmark the reference-parity TMDB ETL at the reference's own data scale.

Generates a synthetic Kaggle-shaped dataset (movies_metadata / credits /
keywords / ratings CSVs with Python-repr nested cells) and times the full
4-CSV → 15-table build and its parquet writes, through the same
``write_all_parquet`` path the ETL CLI runs. The reference
(`loader.py`) processes the real dataset (~45k movies, ~26M ratings) one
row at a time in pure Python; this pipeline reads the same shapes through
Spark CSV scans, Arrow-batched literal_eval parsing, and relational
derivations.

Usage:
    python tools/bench_etl.py [--movies 45000] [--ratings 5000000] [--shards N]

Prints one JSON line: {"rows_in": N, "build_s": ..., "tables": {name: rows}}.
Dataset generation is cached under /tmp keyed by the scale parameters.

``--shards N`` splits the three NESTED-CELL CSVs (movies/credits/keywords)
into N header-bearing shard files each: multiLine CSV is unsplittable, so
the single-file layout parses on ONE task per file regardless of cluster
size — sharding is the only lever that parallelizes the parse stage (the
documented per-shard-ordering deviation applies; ratings needs no sharding
— it scans line-splittable, see etl/pipeline.load_inputs).
"""

from __future__ import annotations

import argparse
import csv
import json
import os
import sys
import time

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from the_movie_database_import_spark.etl.pipeline import build_all_tables  # noqa: E402
from the_movie_database_import_spark.session import get_spark  # noqa: E402
from the_movie_database_import_spark.sources.writers import write_all_parquet  # noqa: E402

GENRES = [(i, f"Genre {i}") for i in range(16, 36)]
LANGS = ["en", "fr", "de", "es", "it", "ja", "ko", "zh", "pt", "ru", "hi", "sv"]
COUNTRIES = ["US", "FR", "DE", "GB", "JP", "KR", "CN", "BR", "IN", "SE"]
MOVIE_COLS = [
    "adult", "belongs_to_collection", "budget", "genres", "homepage", "id",
    "imdb_id", "original_language", "original_title", "overview", "popularity",
    "poster_path", "production_companies", "production_countries", "release_date",
    "revenue", "runtime", "spoken_languages", "status", "tagline", "title",
    "video", "vote_average", "vote_count",
]


def generate(base: str, n_movies: int, n_ratings: int, seed: int = 42) -> None:
    rng = np.random.default_rng(seed)
    os.makedirs(base, exist_ok=True)

    with open(os.path.join(base, "movies_metadata.csv"), "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(MOVIE_COLS)
        for mid in range(1, n_movies + 1):
            gs = rng.choice(len(GENRES), size=rng.integers(1, 4), replace=False)
            genres = repr([{"id": GENRES[g][0], "name": GENRES[g][1]} for g in gs])
            lang = LANGS[int(rng.integers(0, len(LANGS)))]
            spoken = repr([{"iso_639_1": lang, "name": f"Lang {lang}"}])
            comps = repr([{"name": f"Studio {int(rng.integers(1, 500))}", "id": int(rng.integers(1, 500))}])
            ctry = COUNTRIES[int(rng.integers(0, len(COUNTRIES)))]
            countries = repr([{"iso_3166_1": ctry, "name": f"Country {ctry}"}])
            coll = (
                repr({"id": 100000 + mid % 997, "name": f"Collection {mid % 997}"})
                if mid % 7 == 0
                else ""
            )
            row = {c: "" for c in MOVIE_COLS}
            row.update(
                id=str(mid),
                original_title=f"Movie {mid}",
                overview=f"Overview of movie {mid}, with 'quotes' and text.",
                genres=genres,
                belongs_to_collection=coll,
                original_language=lang,
                spoken_languages=spoken,
                production_companies=comps,
                production_countries=countries,
                release_date=f"{1950 + mid % 70}-01-01",
                budget=str(int(rng.integers(0, 3 * 10**8))),
                revenue=str(int(rng.integers(0, 10**9))),
                runtime=f"{int(rng.integers(60, 200))}.0",
                popularity=f"{rng.random() * 50:.4f}",
            )
            w.writerow([row[c] for c in MOVIE_COLS])

    with open(os.path.join(base, "credits.csv"), "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["cast", "crew", "id"])
        for mid in range(1, n_movies + 1):
            cast = repr(
                [
                    {"id": int(rng.integers(1, 200000)), "name": f"Actor {mid}-{i}", "order": i}
                    for i in range(int(rng.integers(1, 6)))
                ]
            )
            crew = repr(
                [{"id": int(rng.integers(1, 100000)), "name": f"Dir {mid}", "job": "Director"}]
                + [
                    {"id": int(rng.integers(1, 100000)), "name": f"Crew {mid}-{i}", "job": "Grip"}
                    for i in range(int(rng.integers(0, 3)))
                ]
            )
            w.writerow([cast, crew, str(mid)])

    with open(os.path.join(base, "keywords.csv"), "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["id", "keywords"])
        for mid in range(1, n_movies + 1):
            kws = repr(
                [
                    {"id": int(k), "name": f"kw{int(k)}"}
                    for k in rng.integers(1, 10000, size=rng.integers(0, 5))
                ]
            )
            w.writerow([str(mid), kws])

    # Ratings vectorized: this file dominates row count (26M in the real set).
    ratings = pd.DataFrame(
        {
            "userId": rng.integers(1, 280_000, size=n_ratings),
            "movieId": rng.integers(1, n_movies + 1, size=n_ratings),
            "rating": rng.integers(1, 11, size=n_ratings) / 2.0,
            "timestamp": rng.integers(8 * 10**8, 1.6 * 10**9, size=n_ratings),
        }
    )
    ratings.to_csv(os.path.join(base, "ratings.csv"), index=False)


def shard_csv_file(src: str, dst_dir: str, n_shards: int) -> None:
    """Split one header-bearing CSV into ``n_shards`` shard files (each
    with the header, rows in contiguous chunks) under ``dst_dir`` — the
    layout a real multi-producer export lands in. Row-level split via the
    csv module, so quoted multiline cells survive intact."""
    os.makedirs(dst_dir, exist_ok=True)
    with open(src, newline="") as f:
        rdr = csv.reader(f)
        header = next(rdr)
        rows = list(rdr)
    per = (len(rows) + n_shards - 1) // n_shards
    for s in range(n_shards):
        chunk = rows[s * per : (s + 1) * per]
        with open(
            os.path.join(dst_dir, f"part-{s:04d}.csv"), "w", newline=""
        ) as f:
            w = csv.writer(f)
            w.writerow(header)
            w.writerows(chunk)


def shard_inputs(base: str, n_shards: int) -> str:
    """Materialize the sharded-input layout next to the single-file one:
    the three multiLine CSVs become directories of N shard files; ratings
    is symlinked (line-splittable as-is)."""
    sharded = f"{base}_sharded{n_shards}"
    if os.path.exists(os.path.join(sharded, "ratings.csv")):
        return sharded
    os.makedirs(sharded, exist_ok=True)
    for name in ("movies_metadata.csv", "credits.csv", "keywords.csv"):
        shard_csv_file(
            os.path.join(base, name), os.path.join(sharded, name), n_shards
        )
    os.symlink(
        os.path.join(base, "ratings.csv"), os.path.join(sharded, "ratings.csv")
    )
    return sharded


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--movies", type=int, default=45_000)
    ap.add_argument("--ratings", type=int, default=5_000_000)
    ap.add_argument("--shards", type=int, default=0,
                    help="split the nested-cell CSVs into N shard files")
    args = ap.parse_args()

    base = f"/tmp/tmdb_synth_m{args.movies}_r{args.ratings}"
    if not os.path.exists(os.path.join(base, "ratings.csv")):
        t0 = time.time()
        generate(base, args.movies, args.ratings)
        print(f"generated {base} in {time.time() - t0:.1f}s", file=sys.stderr)
    if args.shards > 0:
        base = shard_inputs(base, args.shards)

    spark = get_spark("tmdb-etl-bench")
    spark.sparkContext.setLogLevel("ERROR")

    out_dir = os.path.join(base, "out")
    t0 = time.perf_counter()
    # the CLI's build + write path; row counts come from the writes
    counts = write_all_parquet(build_all_tables(spark, base), out_dir)
    build_s = round(time.perf_counter() - t0, 2)

    print(
        json.dumps(
            {
                "rows_in": args.movies * 3 + args.ratings,
                "movies": args.movies,
                "ratings": args.ratings,
                "shards": args.shards,
                "build_s": build_s,
                "tables": counts,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()

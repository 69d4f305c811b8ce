"""Seeded benchmark inputs, cached on disk by (seed, size).

The program under test receives only the files written here.

- ETL: ``tools/bench_etl.generate`` writes Kaggle-shaped CSVs; this module
  then injects a seeded share of the defects real TMDB exports carry, so the
  pipeline's conflict and reject paths do real work: duplicate movie,
  credits and keyword ids (last-wins, first-wins and union policies),
  non-integer ids (skipped rows) and unparsable nested cells (parse to
  NULL), plus unusable ratings rows.
- Query tier: ``tools/gen_testdata.py`` run unchanged except that its
  fixed generator seed is replaced by the benchmark seed.
"""

from __future__ import annotations

import contextlib
import csv
import io
import os
import random
import shutil
import sys
from unittest import mock

# share of rows of each nested CSV that receives each kind of defect
DEFECT_SHARE = 0.01
BAD_IDS = ("1997-08-20", "2012-09-29", "tt0113002", "")


def _cached(path: str, build) -> str:
    """Build ``path`` once; a ``.done`` marker makes a half-written
    directory from an interrupted run count as missing."""
    if not os.path.exists(os.path.join(path, ".done")):
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        build(path)
        open(os.path.join(path, ".done"), "w").close()
    return path


def _truncate(cell: str) -> str:
    """A cut-off repr cell, as left by a broken export: SyntaxError."""
    return cell[: max(1, len(cell) // 2)]


def _rewrite(path: str, mutate) -> None:
    with open(path, newline="") as f:
        rows = list(csv.reader(f))
    header, body = rows[0], rows[1:]
    body = mutate(header, body)
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(header)
        w.writerows(body)


def _inject_defects(base: str, rng: random.Random) -> None:
    def pick(body):
        return rng.sample(range(len(body)), max(1, int(len(body) * DEFECT_SHARE)))

    def movies(header, body):
        col = {c: i for i, c in enumerate(header)}
        for i in pick(body):  # nested cells that do not parse, or wrong shape
            name = rng.choice(("genres", "production_companies", "spoken_languages"))
            body[i][col[name]] = _truncate(body[i][col[name]])
        for i in pick(body):
            body[i][col["belongs_to_collection"]] = "['not', 'a', 'dict']"
        dups = []
        for i in pick(body):  # a later row with the same id wins
            row = list(body[i])
            row[col["original_title"]] += " (re-release)"
            row[col["genres"]] = repr([{"id": 99, "name": "Re-release"}])
            row[col["budget"]] = "0"
            dups.append(row)
        for i in pick(body):
            body[i][col["id"]] = rng.choice(BAD_IDS)
        return body + dups

    def credits(header, body):
        cast_i, crew_i, id_i = header.index("cast"), header.index("crew"), header.index("id")
        for i in pick(body):
            body[i][crew_i] = _truncate(body[i][crew_i])
        dups = []
        for i in pick(body):
            # the later duplicate brings new crew but an EMPTY cast, which
            # must not wipe the earlier row's cast
            crew = [{"id": 900000 + i, "name": f"Dup Director {i}", "job": "Director"},
                    {"id": 900000 + i, "name": "No Job Entry"}]
            dups.append(["[]", repr(crew), body[i][id_i]])
        for i in pick(body):
            body[i][cast_i] = "[1, 2, 'x']"  # list without dicts: empty cast
        for i in pick(body):
            body[i][id_i] = rng.choice(BAD_IDS)
        return body + dups

    def keywords(header, body):
        id_i, kw_i = header.index("id"), header.index("keywords")
        for i in pick(body):
            body[i][kw_i] = _truncate(body[i][kw_i])
        # duplicate keyword rows union their movie sets; kw ids also repeat
        # with a different name, so the first name must win
        dups = [[body[i][id_i], repr([{"id": 1 + i % 50, "name": f"late name {i}"}])]
                for i in pick(body)]
        for i in pick(body):
            body[i][id_i] = rng.choice(BAD_IDS)
        return body + dups

    _rewrite(os.path.join(base, "movies_metadata.csv"), movies)
    _rewrite(os.path.join(base, "credits.csv"), credits)
    _rewrite(os.path.join(base, "keywords.csv"), keywords)
    with open(os.path.join(base, "ratings.csv"), "a", newline="") as f:
        w = csv.writer(f)
        for _ in range(10):
            w.writerow([rng.randint(1, 1000), rng.choice(BAD_IDS), "4.0", "964982703"])
            w.writerow([rng.randint(1, 1000), "1", "", "964982703"])


def etl_inputs(work: str, seed: int, n_movies: int, n_ratings: int) -> str:
    """Directory holding the four TMDB CSVs for ``seed``."""
    import bench_etl  # tools/, on sys.path via run.py

    def build(path: str) -> None:
        bench_etl.generate(path, n_movies, n_ratings, seed=seed)
        _inject_defects(path, random.Random(seed))

    return _cached(os.path.join(work, "inputs", f"etl-s{seed}-m{n_movies}-r{n_ratings}"), build)


def query_tier(work: str, seed: int, sf: float) -> str:
    """Directory holding the testdata parquet tables at ``sf`` for ``seed``."""
    import gen_testdata  # tools/, on sys.path via run.py
    import numpy as np

    def build(path: str) -> None:
        seeded = np.random.default_rng
        with mock.patch.object(sys, "argv", ["gen_testdata", "--sf", str(sf), "--out", path]), \
                mock.patch.object(gen_testdata.np.random, "default_rng",
                                  lambda _fixed: seeded(seed)), \
                contextlib.redirect_stdout(io.StringIO()):
            gen_testdata.main()

    return _cached(os.path.join(work, "inputs", f"tier-s{seed}-sf{sf:g}"), build)

"""Pure-Python model of the TMDB ETL's reference semantics, and the check
that compares the ETL's parquet output against it.

The model reads the four CSVs with ``csv`` and parses nested cells with
``ast.literal_eval``, row by row in file order, the way the reference
loader does. It shares no code with the Spark pipeline. Policies:

- rows whose id is not an integer are skipped;
- movies: the last row of a duplicated id wins;
- genres, companies, collections, persons, keywords, language and country
  names: the first occurrence wins (crew before cast within a credits row;
  ``original_language`` before ``spoken_languages`` within a movie row);
- languages and countries get dense surrogate ids in code order;
- bridges come from the surviving movie row; keyword bridges union over
  every row; crew and cast come from the last credits row whose crew has a
  job entry, resp. whose cast is non-empty;
- numeric cleansing keeps strictly positive values, else NULL;
- rating is the mean of the ratings rows with an integer movie id and a
  numeric rating, summed at two decimals.

An empty CSV field reads as NULL.
"""

from __future__ import annotations

import ast
import csv
import hashlib
import math
import os
import re
from decimal import ROUND_HALF_UP, Decimal

_INT = re.compile(r"[+-]?\d+")
_NUM = re.compile(r"[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?")
LONG_MIN, LONG_MAX = -(2**63), 2**63 - 1


def _rows(path: str) -> list[dict]:
    with open(path, newline="") as f:
        return [{k: (v if v != "" else None) for k, v in r.items()} for r in csv.DictReader(f)]


def as_long(s: str | None) -> int | None:
    if s is None or not _INT.fullmatch(s.strip()):
        return None
    v = int(s)
    return v if LONG_MIN <= v <= LONG_MAX else None


def as_double(s: str | None) -> float | None:
    if s is None or not _NUM.fullmatch(s.strip()):
        return None
    return float(s)


def positive_long(s):
    v = as_long(s)
    return v if v is not None and v > 0 else None


def positive_double(s):
    v = as_double(s)
    return v if v is not None and v > 0 else None


def positive_int_trunc(s):
    v = as_double(s)
    if v is None or math.isinf(v):
        return None
    t = int(v)
    return t if 0 < t <= 2**31 - 1 else None


def literal(cell):
    if not isinstance(cell, str) or not cell:
        return None
    try:
        return ast.literal_eval(cell)
    except (ValueError, SyntaxError):
        return None


def _long_or_none(v):
    try:
        return int(v)
    except (TypeError, ValueError):
        return None


def _str_or_none(v):
    return v if isinstance(v, str) or v is None else str(v)


def dict_list(cell, fields):
    """A repr'd list of dicts projected onto ``fields`` ({name: convert});
    None when the cell is not a list. Non-dict elements are dropped."""
    v = literal(cell)
    if not isinstance(v, list):
        return None
    return [{k: conv(d.get(k)) for k, conv in fields.items()} for d in v if isinstance(d, dict)]


ID_NAME = {"id": _long_or_none, "name": _str_or_none}


def _first_wins(occurrences):
    """occurrences: (order_key, key, value) → {key: value of the smallest
    order_key}."""
    best = {}
    for order, key, value in occurrences:
        if key is not None and (key not in best or order < best[key][0]):
            best[key] = (order, value)
    return {k: v for k, (_o, v) in best.items()}


def _last_row(rows):
    """rows: (idx, movie_id, row) → {movie_id: row with the largest idx}."""
    out = {}
    for idx, mid, row in rows:
        if mid not in out or idx > out[mid][0]:
            out[mid] = (idx, row)
    return {m: r for m, (_i, r) in out.items()}


def _surrogates(codes, names):
    return [{"id": i, "code": c, "name": names.get(c)} for i, c in enumerate(sorted(codes), 1)]


def reference_tables(base: str) -> dict[str, list[dict]]:
    """The 15 output tables plus ``crew_by_job``, as lists of row dicts."""
    movies = []
    for idx, r in enumerate(_rows(os.path.join(base, "movies_metadata.csv"))):
        mid = as_long(r["id"])
        if mid is None:
            continue
        coll = literal(r["belongs_to_collection"])
        movies.append((idx, mid, {
            **r,
            "genres": dict_list(r["genres"], ID_NAME),
            "companies": dict_list(r["production_companies"], ID_NAME),
            "spoken": dict_list(r["spoken_languages"],
                                {"iso_639_1": _str_or_none, "name": _str_or_none}),
            "countries": dict_list(r["production_countries"],
                                   {"iso_3166_1": _str_or_none, "name": _str_or_none}),
            "collection": ({"id": _long_or_none(coll.get("id")),
                            "name": _str_or_none(coll.get("name"))}
                           if isinstance(coll, dict) else None),
        }))

    def dim(field):
        return _first_wins(((idx, pos), e["id"], e["name"])
                           for idx, _m, p in movies for pos, e in enumerate(p[field] or []))

    collections = _first_wins((idx, p["collection"]["id"], p["collection"]["name"])
                              for idx, _m, p in movies if p["collection"])

    lang_occ = [((idx, 0, 0), p["original_language"], None) for idx, _m, p in movies]
    lang_occ += [((idx, 1, pos), e["iso_639_1"], e["name"])
                 for idx, _m, p in movies for pos, e in enumerate(p["spoken"] or [])]
    languages = _surrogates({k for _o, k, _n in lang_occ if k is not None},
                            _first_wins(o for o in lang_occ if o[2] is not None))
    lang_id = {r["code"]: r["id"] for r in languages}
    country_occ = [((idx, pos), e["iso_3166_1"], e["name"])
                   for idx, _m, p in movies for pos, e in enumerate(p["countries"] or [])]
    countries = _surrogates({k for _o, k, _n in country_occ if k is not None},
                            _first_wins(o for o in country_occ if o[2] is not None))
    country_id = {r["code"]: r["id"] for r in countries}

    ratings: dict[int, list] = {}
    for r in _rows(os.path.join(base, "ratings.csv")):
        mid, val = as_long(r["movieId"]), as_double(r["rating"])
        if mid is not None and val is not None:
            acc = ratings.setdefault(mid, [Decimal(0), 0])
            acc[0] += Decimal(val).quantize(Decimal("0.01"), ROUND_HALF_UP)
            acc[1] += 1

    last = _last_row(movies)

    def bridge(field, key, out_col, lookup=None):
        return {(m, lookup[e[key]] if lookup else e[key])
                for m, p in last.items() for e in (p[field] or [])
                if e[key] is not None}, ("movie_id", out_col)

    out = {
        "movies": [{
            "id": m, "title": p["original_title"], "release_date": p["release_date"],
            "budget": positive_long(p["budget"]), "revenue": positive_long(p["revenue"]),
            "popularity": positive_double(p["popularity"]),
            "runtime": positive_int_trunc(p["runtime"]),
            "rating": float(ratings[m][0]) / ratings[m][1] if m in ratings else None,
            "original_language": lang_id.get(p["original_language"]),
            "belongs_to_collection": p["collection"]["id"] if p["collection"] else None,
            "overview": p["overview"],
        } for m, p in last.items()],
        "genres": [{"id": k, "name": v} for k, v in dim("genres").items()],
        "production_companies": [{"id": k, "name": v} for k, v in dim("companies").items()],
        "collections": [{"id": k, "name": v} for k, v in collections.items()],
        "languages": [{"id": r["id"], "lang_key": r["code"], "name": r["name"]}
                      for r in languages],
        "countries": countries,
    }
    for table, args in {
        "movies_genres": ("genres", "id", "genre_id"),
        "movies_production_companies": ("companies", "id", "production_company_id"),
        "spoken_languages": ("spoken", "iso_639_1", "language_id", lang_id),
        "production_countries": ("countries", "iso_3166_1", "country_id", country_id),
    }.items():
        pairs, cols = bridge(*args)
        out[table] = [dict(zip(cols, t)) for t in pairs]

    credits = []
    crew_fields = {"id": _long_or_none, "name": _str_or_none, "job": _str_or_none}
    for idx, r in enumerate(_rows(os.path.join(base, "credits.csv"))):
        mid = as_long(r["id"])
        if mid is None:
            continue
        crew_raw = literal(r["crew"])
        crew = None
        if isinstance(crew_raw, list):
            crew = [{**{k: c(d.get(k)) for k, c in crew_fields.items()}, "has_job": "job" in d}
                    for d in crew_raw if isinstance(d, dict)]
        cast = dict_list(r["cast"], {"id": _long_or_none, "name": _str_or_none,
                                     "order": _long_or_none})
        credits.append((idx, mid, {"crew": crew, "cast": cast}))

    out["persons"] = [{"id": k, "name": v} for k, v in _first_wins(
        ((idx, phase, pos), e["id"], e["name"])
        for idx, _m, p in credits
        for phase, field in ((0, "crew"), (1, "cast"))
        for pos, e in enumerate(p[field] or [])).items()]
    crew_last = _last_row(c for c in credits
                          if any(e["has_job"] for e in c[2]["crew"] or []))
    cast_last = _last_row(c for c in credits if c[2]["cast"])
    by_job: dict[tuple, set] = {}
    for m, p in crew_last.items():
        for e in p["crew"]:
            if e["has_job"] and e["id"] is not None:
                by_job.setdefault((m, e["job"]), set()).add(e["id"])
    out["crew_by_job"] = [{"movie_id": m, "job": j, "person_ids": sorted(ids)}
                          for (m, j), ids in by_job.items()]
    out["directors"] = [{"movie_id": m, "director_id": d} for m, d in {
        (m, e["id"]) for m, p in crew_last.items() for e in p["crew"]
        if e["has_job"] and e["job"] == "Director" and e["id"] is not None}]
    out["actors"] = [{"person_id": e["id"], "movie_id": m, "order_id": e["order"]}
                     for m, p in cast_last.items() for e in p["cast"]]

    kw_occ = []
    for idx, r in enumerate(_rows(os.path.join(base, "keywords.csv"))):
        mid = as_long(r["id"])
        if mid is not None:
            kw_occ += [(idx, pos, mid, e) for pos, e in enumerate(dict_list(r["keywords"], ID_NAME) or [])
                       if e["id"] is not None]
    out["keywords"] = [{"id": k, "keyword": v} for k, v in _first_wins(
        ((idx, pos), e["id"], e["name"]) for idx, pos, _m, e in kw_occ).items()]
    out["movies_keywords"] = [{"movie_id": m, "keyword_id": k}
                              for m, k in {(m, e["id"]) for _i, _p, m, e in kw_occ}]
    return out


def _canon(v):
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, list):  # collect_set output: element order is arbitrary
        return repr(sorted(v))
    return repr(v)


def digest(rows: list[dict]) -> tuple[int, str, list[str]]:
    """(row count, order-insensitive hash, sorted canonical rows)."""
    canon = sorted("|".join(f"{k}={_canon(r[k])}" for k in sorted(r)) for r in rows)
    return len(canon), hashlib.sha256("\n".join(canon).encode()).hexdigest(), canon


def check_output(out_dir: str, expected: dict[str, list[dict]]) -> dict[str, str]:
    """Compare every expected table with its parquet directory under
    ``out_dir``. Returns {table: reason} for the tables that differ."""
    import pyarrow.parquet as pq

    bad = {}
    for table, rows in expected.items():
        try:
            got = pq.read_table(os.path.join(out_dir, table)).to_pylist()
        except (OSError, ValueError) as e:
            bad[table] = f"unreadable: {e}"
            continue
        n_exp, h_exp, c_exp = digest(rows)
        n_got, h_got, c_got = digest(got)
        if h_exp != h_got:
            missing = len(set(c_exp) - set(c_got))
            extra = len(set(c_got) - set(c_exp))
            first = sorted(set(c_exp) ^ set(c_got))[:1]
            bad[table] = (f"rows {n_got} vs model {n_exp}; {missing} missing, "
                          f"{extra} unexpected; first difference {first}")
    return bad

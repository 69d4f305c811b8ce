"""The ETL reference model against a hand-built fixture: five movie rows
with a duplicate id, a junk id and a malformed nested cell, plus small
credits, keywords and ratings files. Expected tables are derived by hand."""

import csv

import etl_model

MOVIE_COLS = [
    "adult", "belongs_to_collection", "budget", "genres", "homepage", "id",
    "imdb_id", "original_language", "original_title", "overview", "popularity",
    "poster_path", "production_companies", "production_countries", "release_date",
    "revenue", "runtime", "spoken_languages", "status", "tagline", "title",
    "video", "vote_average", "vote_count",
]

MOVIES = [
    dict(id="1", original_title="A", budget="100", revenue="0", popularity="2.5",
         runtime="81.0", original_language="en", overview="first cut",
         genres="[{'id': 16, 'name': 'Animation'}]",
         belongs_to_collection="{'id': 10, 'name': 'Toy'}",
         spoken_languages="[{'iso_639_1': 'en', 'name': 'English'}]",
         production_companies="[{'name': 'Pixar', 'id': 3}]",
         production_countries="[{'iso_3166_1': 'US', 'name': 'USA'}]"),
    dict(id="1997-08-20", original_title="junk id", original_language="xx",
         genres="[{'id': 99, 'name': 'Never'}]"),
    # the genres cell is cut off: it parses to NULL, so 'Comedy' never registers
    dict(id="2", original_title="B", budget="-5", runtime="0.5", original_language="fr",
         genres="[{'id': 16, 'name': 'Anim2'}, {'id': 35, 'name': 'Comedy'}",
         spoken_languages="[{'iso_639_1': 'fr', 'name': 'French'}, "
                          "{'iso_639_1': 'en', 'name': 'Eng2'}]",
         production_countries="[{'iso_3166_1': 'FR', 'name': 'France'}]"),
    # duplicate of id 1: this later row survives
    dict(id="1", original_title="A2", budget="0", popularity="1.25", original_language="en",
         genres="[{'id': 35, 'name': 'Comedy Late'}]"),
    dict(id="3", original_title="C", original_language="de", genres="[]",
         release_date="1999-01-01"),
]
CREDITS = [  # cast, crew, id
    ["[{'id': 7, 'name': 'Tom', 'order': 0}]",
     "[{'id': 9, 'name': 'John', 'job': 'Director'}]", "1"],
    # later row for movie 1: its crew wins, its empty cast does not
    ["[]", "[{'id': 8, 'name': 'Ann', 'job': 'Director'}, {'id': 7, 'name': 'Tom Crew'}]", "1"],
    ["[{'id': 7, 'name': 'Tom'", "[]", "2"],
]
KEYWORDS = [["1", "[{'id': 100, 'name': 'toy'}]"],
            ["2", "[{'id': 100, 'name': 'toy2'}, {'id': 101, 'name': 'fun'}]"],
            ["abc", "[{'id': 102, 'name': 'never'}]"]]
RATINGS = [["u1", "1", "4.0", "0"], ["u2", "1", "3.5", "0"], ["u3", "2", "5.0", "0"],
           ["u4", "x", "1.0", "0"], ["u5", "3", "", "0"]]


def _write(path, header, rows):
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(header)
        w.writerows(rows)


def _movie(m):
    return [m.get(c, "") for c in MOVIE_COLS]


EXPECTED = {
    "movies": [
        dict(id=1, title="A2", release_date=None, budget=None, revenue=None, popularity=1.25,
             runtime=None, rating=3.75, original_language=2, belongs_to_collection=None,
             overview=None),
        dict(id=2, title="B", release_date=None, budget=None, revenue=None, popularity=None,
             runtime=None, rating=5.0, original_language=3, belongs_to_collection=None,
             overview=None),
        dict(id=3, title="C", release_date="1999-01-01", budget=None, revenue=None,
             popularity=None, runtime=None, rating=None, original_language=1,
             belongs_to_collection=None, overview=None),
    ],
    "genres": [dict(id=16, name="Animation"), dict(id=35, name="Comedy Late")],
    "production_companies": [dict(id=3, name="Pixar")],
    "collections": [dict(id=10, name="Toy")],
    "languages": [dict(id=1, lang_key="de", name=None), dict(id=2, lang_key="en", name="English"),
                  dict(id=3, lang_key="fr", name="French")],
    "countries": [dict(id=1, code="FR", name="France"), dict(id=2, code="US", name="USA")],
    "movies_genres": [dict(movie_id=1, genre_id=35)],
    "movies_production_companies": [],
    "spoken_languages": [dict(movie_id=2, language_id=3), dict(movie_id=2, language_id=2)],
    "production_countries": [dict(movie_id=2, country_id=1)],
    "persons": [dict(id=9, name="John"), dict(id=8, name="Ann"), dict(id=7, name="Tom")],
    "crew_by_job": [dict(movie_id=1, job="Director", person_ids=[8])],
    "directors": [dict(movie_id=1, director_id=8)],
    "actors": [dict(person_id=7, movie_id=1, order_id=0)],
    "keywords": [dict(id=100, keyword="toy"), dict(id=101, keyword="fun")],
    "movies_keywords": [dict(movie_id=1, keyword_id=100), dict(movie_id=2, keyword_id=100),
                        dict(movie_id=2, keyword_id=101)],
}


def test_reference_model_on_hand_built_fixture(tmp_path):
    _write(tmp_path / "movies_metadata.csv", MOVIE_COLS, [_movie(m) for m in MOVIES])
    _write(tmp_path / "credits.csv", ["cast", "crew", "id"], CREDITS)
    _write(tmp_path / "keywords.csv", ["id", "keywords"], KEYWORDS)
    _write(tmp_path / "ratings.csv", ["userId", "movieId", "rating", "timestamp"], RATINGS)

    got = etl_model.reference_tables(str(tmp_path))

    assert set(got) == set(EXPECTED)
    for table, rows in EXPECTED.items():
        assert etl_model.digest(got[table])[2] == etl_model.digest(rows)[2], table


def test_digest_ignores_row_and_set_order():
    a = [dict(k=1, ids=[3, 1]), dict(k=2, ids=[])]
    b = [dict(k=2, ids=[]), dict(k=1, ids=[1, 3])]
    assert etl_model.digest(a)[:2] == etl_model.digest(b)[:2]
    assert etl_model.digest(a)[1] != etl_model.digest(a[:1])[1]

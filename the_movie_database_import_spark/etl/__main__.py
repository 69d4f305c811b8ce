"""CLI for the TMDB ETL — the engine's twin of the reference's entry point
(``python loader.py <dataset_dir>``, ``loader.py:549-611``).

Usage:
    python -m the_movie_database_import_spark.etl <dataset_dir> --out <dir>
    python -m the_movie_database_import_spark.etl <dataset_dir> --jdbc-url jdbc:postgresql://...

Reads the four Kaggle "The Movies Dataset" CSVs from <dataset_dir>
(movies_metadata.csv, credits.csv, keywords.csv, ratings.csv), builds the 15
normalized tables, and writes them either as parquet (default sink) or over
JDBC in FK-safe order (dimensions before facts before bridges — deviation D4,
no trigger disabling needed; contrast ``loader.py:597-605``).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def load_db_config(path: str) -> tuple[str, dict[str, str], int | None]:
    """Parse a reference-format ``db_config.json`` (`loader.py:580-586`,
    keys ``username password host db_name batch_size``; the reference builds
    a psycopg2 conn string from them, `loader.py:52-60`) into
    (jdbc_url, connection properties, batch_size). PostgreSQL is the
    reference's only target, so the URL scheme is ``jdbc:postgresql``."""
    with open(path) as f:
        cfg = json.load(f)
    host = cfg.get("host", "localhost")
    port = cfg.get("port", 5432)  # reference omits it; psycopg2 defaults 5432
    url = f"jdbc:postgresql://{host}:{port}/{cfg['db_name']}"
    props = {}
    if "username" in cfg:
        props["user"] = str(cfg["username"])
    if "password" in cfg:
        props["password"] = str(cfg["password"])
    return url, props, cfg.get("batch_size")


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(
        prog="python -m the_movie_database_import_spark.etl",
        description="TMDB CSVs -> 15 normalized tables (parquet or JDBC sink)",
    )
    parser.add_argument("dataset_dir", help="directory with the four TMDB CSVs")
    parser.add_argument("--out", help="output directory for parquet tables")
    parser.add_argument("--jdbc-url", help="JDBC URL to load instead of parquet")
    parser.add_argument(
        "--jdbc-driver", default=None,
        help="JDBC driver class (e.g. org.postgresql.Driver)",
    )
    parser.add_argument(
        "--no-bootstrap", action="store_true",
        help="skip the DROP/CREATE schema bootstrap before the JDBC load "
             "(default mirrors the reference, which recreates all 15 tables "
             "per run — loader.py:81-91)",
    )
    parser.add_argument(
        "--batch-size", type=int, default=None,
        help="JDBC insert batch size (default 50000, db_config.json:6)",
    )
    parser.add_argument(
        "--config", default=None,
        help="reference-format db_config.json (username/password/host/"
             "db_name/batch_size, loader.py:580-586) — a user switching from "
             "the reference reuses their config file verbatim; explicit "
             "--jdbc-url/--batch-size flags override it",
    )
    args = parser.parse_args(argv)
    if args.config:
        url, props, cfg_batch = load_db_config(args.config)
        # config credentials are scoped to the config's OWN server: an
        # explicit --jdbc-url pointing elsewhere must not receive them
        # (ADVICE r03 — credential-leak footgun)
        if args.jdbc_url and args.jdbc_url != url:
            props = {}
            print(
                "note: --jdbc-url differs from the config's URL; the config "
                "file's credentials are NOT applied to it",
                file=sys.stderr,
            )
        args.jdbc_url = args.jdbc_url or url
        args.batch_size = args.batch_size or cfg_batch
        args.config_props = props
    else:
        args.config_props = None
    if not args.out and not args.jdbc_url:
        parser.error("need --out, --jdbc-url, or --config")

    from ..session import get_spark, release_caches
    from ..sources.writers import (
        DEFAULT_BATCH_SIZE,
        write_all_jdbc,
        write_all_parquet,
    )
    from .pipeline import build_all_tables

    spark = get_spark("tmdb-etl")
    t0 = time.time()
    tables = build_all_tables(spark, base_dir=args.dataset_dir)
    # row counts come from the writes themselves (no table runs twice)
    counts: dict[str, int] = {}
    try:
        if args.out:
            counts.update(write_all_parquet(tables, args.out))
        if args.jdbc_url:
            props = dict(args.config_props or {})
            if args.jdbc_driver:
                props["driver"] = args.jdbc_driver
            if not args.no_bootstrap:
                from ..sources.schema import bootstrap_schema

                # destructive by design (reference parity, loader.py:81-91);
                # say so once — --no-bootstrap opts out
                print(
                    f"note: dropping and recreating all 15 output tables on "
                    f"{args.jdbc_url} (pass --no-bootstrap to keep the schema)",
                    file=sys.stderr,
                )
                # same credential properties as the data writes — the DDL
                # connection must authenticate too
                bootstrap_schema(spark, args.jdbc_url, properties=props)
            counts.update(write_all_jdbc(
                tables, args.jdbc_url,
                batch_size=args.batch_size or DEFAULT_BATCH_SIZE,
                properties=props or None,
            ))
    finally:
        release_caches()  # all sinks written — drop the shared parse caches
    print(
        f"loaded {len(counts)} tables in {time.time() - t0:.1f}s: "
        + ", ".join(f"{k}={v}" for k, v in sorted(counts.items())),
        file=sys.stderr,
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

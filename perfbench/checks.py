"""Output checks for the query workloads.

Queries with a DuckDB oracle are compared with ``tools/exact_parity``'s
exact rule (same dtypes, same values after sorting). The oracle runs in a
child process and its results are kept beside the tier, so DuckDB's memory
never counts toward the benchmark's peak RSS. The MinHash queries have no
oracle, because their output depends on the hash family; they get checks
that need no hashing:

- every emitted pair is a real pair whose exact token-set Jaccard, computed
  here from the documents table, is at least the threshold and equals the
  reported value;
- no pair is emitted twice;
- ``q_dedup_minhash_lsh`` emits every pair of documents with identical token
  sets, since identical sets collide in every band;
- the savings census partitions the corpus: its rows add up to every
  document and every token, and each row's counts agree with its size.
"""

from __future__ import annotations

import hashlib
import itertools
import json
import os
import subprocess
import sys
from collections import defaultdict

THRESHOLD = 0.8  # the registry queries' MinHash threshold


def _oracle_path(tier: str, name: str, sql: str) -> str:
    key = hashlib.sha256(sql.encode()).hexdigest()[:16]
    return os.path.join(tier, "oracle", f"{name}-{key}.parquet")


def compute_oracles(tier: str, tables: list[str], queries: dict[str, str]) -> None:
    """Write each oracle result that is not yet beside the tier."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tier}/{t}.parquet'")
    for name, sql in queries.items():
        path = _oracle_path(tier, name, sql)
        if not os.path.exists(path):
            os.makedirs(os.path.dirname(path), exist_ok=True)
            con.execute(sql).df().to_parquet(path + ".part")
            os.replace(path + ".part", path)
    con.close()


class Oracle:
    """Checks for the results of the given queries on one tier."""

    def __init__(self, tier: str, queries: list[str]):
        import pyarrow.parquet as pq
        from the_movie_database_import_spark.plans import REGISTRY
        from the_movie_database_import_spark.sources.readers import TESTDATA_TABLES

        self.tier = tier
        self.sql = {q: REGISTRY[q].oracle for q in queries}
        todo = {q: s for q, s in self.sql.items()
                if s is not None and not os.path.exists(_oracle_path(tier, q, s))}
        if todo:
            subprocess.run([sys.executable, __file__], check=True, input=json.dumps(
                {"tier": tier, "tables": list(TESTDATA_TABLES), "queries": todo}).encode())
        texts = pq.read_table(os.path.join(tier, "documents.parquet"),
                              columns=["doc_id", "text"]).to_pydict()
        self.tokens = {d: t.split(" ") if t is not None else []
                       for d, t in zip(texts["doc_id"], texts["text"])}

    def check(self, name: str, pdf) -> list[str]:
        """Problems found in ``pdf``, the pandas result of query ``name``."""
        sql = self.sql[name]
        if sql is not None:
            import pandas as pd
            from exact_parity import compare  # tools/, on sys.path via run.py

            return compare(pdf, pd.read_parquet(_oracle_path(self.tier, name, sql)))
        if name == "q_dedup_minhash_lsh":
            return self._pairs(pdf) + self._identical_sets_present(pdf)
        if name == "q_dedup_savings_minhash":
            return self._census(pdf)
        return [f"no check defined for {name}"]

    def _pairs(self, pdf) -> list[str]:
        sets = {d: frozenset(t) for d, t in self.tokens.items()}
        keys = set()
        wrong = []
        for a, b, j in zip(pdf.doc_a, pdf.doc_b, pdf.jaccard):
            key = (min(a, b), max(a, b))
            if a == b or key in keys or a not in sets or b not in sets:
                wrong.append(("bad or repeated pair", a, b))
                continue
            keys.add(key)
            exact = len(sets[a] & sets[b]) / len(sets[a] | sets[b])
            if exact < THRESHOLD or abs(exact - j) > 1e-12:
                wrong.append(("jaccard", a, b, j, exact))
        return [f"{len(wrong)} of {len(pdf)} pairs wrong, first {wrong[0]}"] if wrong else []

    def _identical_sets_present(self, pdf) -> list[str]:
        groups = defaultdict(list)
        for d, t in self.tokens.items():
            if t:
                groups[frozenset(t)].append(d)
        want = {p for ids in groups.values() for p in itertools.combinations(sorted(ids), 2)}
        got = {(min(a, b), max(a, b)) for a, b in zip(pdf.doc_a, pdf.doc_b)}
        missing = want - got
        return [f"{len(missing)} identical-set pairs missing, first {min(missing)}"] if missing else []

    def _census(self, pdf) -> list[str]:
        n_docs = len(self.tokens)
        n_tokens = sum(len(t) for t in self.tokens.values())
        errs = []
        if int(pdf.n_docs.sum()) != n_docs:
            errs.append(f"census covers {int(pdf.n_docs.sum())} docs, corpus has {n_docs}")
        if int(pdf.tokens_total.sum()) != n_tokens:
            errs.append(f"census covers {int(pdf.tokens_total.sum())} tokens, corpus has {n_tokens}")
        bad = [r for r in pdf.itertuples(index=False)
               if r.n_docs != r.cluster_size * r.n_clusters
               or r.docs_removable != r.n_docs - r.n_clusters
               or not 0 <= r.tokens_removable <= r.tokens_total
               or (r.cluster_size == 1 and r.tokens_removable != 0)]
        if bad:
            errs.append(f"{len(bad)} inconsistent census rows, first {bad[0]}")
        return errs


if __name__ == "__main__":
    job = json.load(sys.stdin)
    compute_oracles(job["tier"], job["tables"], job["queries"])

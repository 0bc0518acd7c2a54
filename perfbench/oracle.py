"""Independent answers the benchmark checks the engine against.

- ``TfidfOracle``: pure-Python TF-IDF term-term cosine over a
  reference-format corpus, from the documented math (the same as
  ``tests/test_golden_reference.py``): tf = occ/doc_len,
  idf = log10(N/df), cosine with absent entries 0, the query term
  excluded, zero similarities dropped, top-k by (similarity desc,
  term asc).
- ``duck_fingerprint`` / ``frame_fingerprint``: a registry query's
  DuckDB oracle SQL over the same parquet files, compared by row
  count, column names and an order-insensitive value hash, as
  ``tools/verify_local.py`` does.
"""

from __future__ import annotations

import hashlib
import math
import os
from collections import Counter, defaultdict

# Absolute tolerance on a similarity; Spark and Python sum in
# different orders, so the last bits of a double differ.
SIM_TOL = 1e-9


class TfidfOracle:
    def __init__(self, corpus_path: str):
        docs: list[Counter] = []
        with open(corpus_path) as fh:
            for line in fh:
                toks = line.split()
                if toks:
                    docs.append(Counter(toks[1:]))
        n = len(docs)
        df: Counter = Counter()
        for c in docs:
            df.update(c.keys())
        # weights[doc] = {term: tfidf}; norm2[term] = sum of squares
        self.weights: list[dict[str, float]] = []
        self.postings: dict[str, list[int]] = defaultdict(list)
        self.norm2: dict[str, float] = defaultdict(float)
        for i, c in enumerate(docs):
            total = sum(c.values())
            w = {t: (occ / total) * math.log10(n / df[t])
                 for t, occ in c.items()}
            self.weights.append(w)
            for t, v in w.items():
                self.postings[t].append(i)
                self.norm2[t] += v * v

    def ranking(self, query: str) -> list[tuple[str, float]]:
        """Every nonzero similarity to ``query``, best first."""
        docs = self.postings.get(query)
        if not docs:
            return []
        qnorm = math.sqrt(self.norm2[query])
        if qnorm == 0:
            return []
        num: dict[str, float] = defaultdict(float)
        for i in docs:
            w = self.weights[i]
            qv = w[query]
            for t, v in w.items():
                if t != query:
                    num[t] += qv * v
        out = []
        for t, x in num.items():
            den = math.sqrt(self.norm2[t]) * qnorm
            if den != 0 and x != 0:
                out.append((t, x / den))
        out.sort(key=lambda p: (-p[1], p[0]))
        return out

    def check(self, query: str, rows: list[tuple[str, float]],
              k: int) -> bool:
        """True iff ``rows`` is a correct top-k answer: the right
        length, sorted, every similarity equal to the oracle's, and no
        term left out that beats the k-th (ties within tolerance may
        come in either order)."""
        ranking = self.ranking(query)
        if len(rows) != min(k, len(ranking)):
            return False
        if not rows:
            return True
        sims = dict(ranking)
        kth = ranking[len(rows) - 1][1]
        prev = math.inf
        for term, sim in rows:
            want = sims.get(term)
            if want is None or abs(want - sim) > SIM_TOL:
                return False
            if sim > prev + SIM_TOL or want < kth - SIM_TOL:
                return False
            prev = sim
        return True


def _norm_cell(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "<null>"
    if isinstance(v, float):
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return f"{v:.6f}"
    if hasattr(v, "tolist"):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    return str(v)


def frame_fingerprint(df) -> tuple[int, list[str], str]:
    """(rows, sorted column names, order-insensitive value hash) of a
    pandas DataFrame."""
    cols = sorted(df.columns)
    rows = sorted("\x1f".join(_norm_cell(v) for v in t)
                  for t in df[cols].itertuples(index=False))
    h = hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]
    return len(df), cols, h


def duck_fingerprint(sql: str, data_dir: str,
                     tables=("documents", "embeddings")):
    """Run oracle ``sql`` in DuckDB over ``data_dir``'s parquet files."""
    import duckdb

    con = duckdb.connect()
    try:
        # The check runs after timing, so it may use every core.
        con.execute(f"SET threads={len(os.sched_getaffinity(0))}")
        con.execute("SET memory_limit='1GB'")
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{data_dir}/{t}.parquet')")
        return frame_fingerprint(con.execute(sql).fetchdf())
    finally:
        con.close()

"""Output checks. None of them uses the package's sketch, LSH or verify
code: exact Jaccard pairs come from a prefix-filtered all-pairs search in
plain Python, the entry queries' expected outputs from the DuckDB twins in
``__spark_entry__.oracle_sql``, Jaro-Winkler levels from the Python
reference, cosine pairs from numpy."""

from __future__ import annotations

import pickle
import re
import sys
import tempfile
from collections import Counter

import duckdb
import numpy as np

# RE2's \s, on which _JACCARD_SQL splits the text it trimmed of spaces
_WS = re.compile(r"[\t\n\f\r ]+")

ORACLE_TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _connect():
    """An in-memory DuckDB that spills into the run's temp dir, not the cwd."""
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{tempfile.gettempdir()}'")
    return con


def exact_jaccard_pairs(docs_parquet: str, num: int = 4, den: int = 5) -> set[tuple[int, int]]:
    """(id_a, id_b), id_a > id_b, with exact word-3-shingle Jaccard >= num/den,
    shingled as the repository's DuckDB twin ``_JACCARD_SQL`` does. An
    exact all-pairs prefix filter: two sets with Jaccard >= t share a
    shingle among the first |x| - ceil(t|x|) + 1 of each, rarest first, so
    only pairs sharing such a shingle are compared; each is then verified
    by exact set intersection. It gives the same pairs as the DuckDB twin
    at a third to a half of its time."""
    import pyarrow.parquet as pq

    table = pq.read_table(docs_parquet, columns=["doc_id", "text"])
    sets = {}
    for doc, text in zip(table.column("doc_id").to_pylist(), table.column("text").to_pylist()):
        text = text.strip(" ")
        if not text:
            continue
        words = _WS.split(text)
        if len(words) < 3:
            sets[doc] = {" ".join(words)}
        else:
            sets[doc] = {" ".join(words[i:i + 3]) for i in range(len(words) - 2)}
    df = Counter(g for s in sets.values() for g in s)
    index: dict[str, list[int]] = {}
    out = set()
    for doc, s in sets.items():
        n = len(s)
        prefix = sorted(s, key=lambda g: (df[g], g))[: n - (num * n + den - 1) // den + 1]
        for other in {o for g in prefix for o in index.get(g, ())}:
            t = sets[other]
            inter = len(s & t)
            if inter * den >= num * (n + len(t) - inter):
                out.add((max(doc, other), min(doc, other)))
        for g in prefix:
            index.setdefault(g, []).append(doc)
    return out


def co_clustered_pairs(labels: dict[int, int], groups: dict[int, int]) -> tuple[int, int]:
    """(co-clustered pairs, co-clustered pairs inside one ``groups`` group),
    from cluster x group counts instead of enumerating pairs."""
    by_cluster = Counter(labels.values())
    by_cell = Counter((labels[i], groups[i]) for i in labels)
    return (
        sum(c * (c - 1) // 2 for c in by_cluster.values()),
        sum(c * (c - 1) // 2 for c in by_cell.values()),
    )


def share(hit: int, total: int) -> float:
    """hit/total, and 1.0 for an empty total (nothing to miss)."""
    return hit / total if total else 1.0


def pair_recall(pairs, labels: dict[int, int]) -> float:
    hit = sum(a in labels and labels[a] == labels.get(b) for a, b in pairs)
    return share(hit, len(pairs))


class EntryOracle:
    """Expected outputs of the headline entry queries on one table set."""

    def __init__(self, data_dir: str):
        import __spark_entry__
        from oracle_compare import canon, value_hash

        self.canon, self.value_hash = canon, value_hash
        self.sql = __spark_entry__.oracle_sql()
        self._frames: dict = {}
        self.con = _connect()
        for t in ORACLE_TABLES:
            self.con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")

    def close(self) -> None:
        self.con.close()

    def frame(self, name: str):
        if name not in self._frames:
            self._frames[name] = self.canon(self.con.sql(self.sql[name]).df())
        return self._frames[name]

    def same(self, name: str, got) -> bool:
        """oracle_compare's gate: same rows, columns and value hash."""
        want = self.frame(name)
        got = self.canon(got)
        return (
            len(got) == len(want)
            and list(got.columns) == list(want.columns)
            and self.value_hash(got) == self.value_hash(want)
        )

    def jw_levels(self, p=0.1, lower=0.7, upper=0.9) -> set[tuple[int, int, int]]:
        """fuzzy_jw_supplier's expected (id_a, id_b, level), level > 0."""
        from fast_er_spark.functions.jw import discretize, jaro_winkler

        rows = self.con.sql("SELECT s_suppkey, s_name FROM supplier").fetchall()
        out = set()
        for i, (ia, va) in enumerate(rows):
            for ib, vb in rows[:i]:
                lvl = 2 if va == vb else discretize(jaro_winkler(va, vb, p), lower, upper)
                if lvl > 0:
                    out.add((max(ia, ib), min(ia, ib), int(lvl)))
        return out


def cosine_pairs(vecs: np.ndarray, threshold: float, margin: float) -> tuple[set, set]:
    """(pairs with cosine >= threshold + margin, pairs >= threshold - margin)
    as (i, j), i > j: the sure set a near-dup search must find and the
    widest set it may emit."""
    v = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    cos = np.tril(v @ v.T, k=-1)
    sure = {(int(i), int(j)) for i, j in zip(*np.nonzero(cos >= threshold + margin))}
    allowed = {(int(i), int(j)) for i, j in zip(*np.nonzero(cos >= threshold - margin))}
    return sure, allowed


if __name__ == "__main__":
    # python3 oracles.py <docs.parquet>...: the exact Jaccard pairs of each, pickled to stdout
    sys.stdout.buffer.write(pickle.dumps([exact_jaccard_pairs(p) for p in sys.argv[1:]]))

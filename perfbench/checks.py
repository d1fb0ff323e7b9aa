"""Reference checks. Every reference is recomputed here, independently of
the program under test; each item that differs counts as one failure.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd


def oracle_enrich(input_parquet: str) -> pd.DataFrame:
    """``(doc_id, label, n_words)`` from the repository's DuckDB oracle text
    for the mock enrichment (``__spark_entry__.oracle_sql()``), run over the
    generated input table."""
    import duckdb

    import __spark_entry__ as entry

    sql = entry.oracle_sql()["enrich_json_multicol"]
    con = duckdb.connect()
    try:
        path = input_parquet.replace("'", "''")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
        return con.execute(sql).df()
    finally:
        con.close()


def mismatches(actual: pd.DataFrame, expected: pd.DataFrame, key: str, cols) -> int:
    """Rows of ``expected`` whose ``cols`` differ in ``actual`` (a missing
    row counts), plus rows of ``actual`` that ``expected`` lacks."""
    m = expected[[key, *cols]].merge(
        actual[[key, *cols]], on=key, how="outer", suffixes=("_exp", "_act"),
        indicator=True,
    )
    bad = m["_merge"] != "both"
    for c in cols:
        bad |= m[f"{c}_exp"].astype(str) != m[f"{c}_act"].astype(str)
    return int(bad.sum())


def mock_answer(prompt: str, rules, default: str) -> tuple[str, str]:
    """The mock provider's two-field answer, recomputed: first rule keyword
    in the lowercased prompt wins; ``n_words`` is the prompt's word count."""
    low = prompt.lower()
    label = next((lab for kw, lab in rules if kw in low), default)
    return label, str(len(prompt.split()))


def rag_prompt(template: str, question: str, context: str) -> str:
    body = template.format(question=question)
    return f"Context:\n{context}\n\n{body}" if context else body


def _md5_long(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def ngram_tf(text: str, dim: int, n: int = 3) -> dict[int, int]:
    """Hashed character n-gram term frequencies of the lowercased text."""
    s = text.lower()
    tf: dict[int, int] = {}
    for i in range(max(0, len(s) - n + 1)):
        b = _md5_long(s[i : i + n]) % dim
        tf[b] = tf.get(b, 0) + 1
    return tf


class BruteForceTopK:
    """Exact top-k chunks by hashed-ngram TF cosine over every chunk."""

    def __init__(self, chunks: pd.DataFrame, dim: int):
        self.ids = chunks["chunk_id"].to_numpy()
        self.texts = chunks["text"].tolist()
        self.dim = dim
        m = np.zeros((len(chunks), dim))
        for row, t in enumerate(self.texts):
            for b, c in ngram_tf(t, dim).items():
                m[row, b] = c
        self.m = m
        self.norm = np.sqrt((m * m).sum(axis=1))

    def scores(self, query: str) -> np.ndarray:
        q = np.zeros(self.dim)
        for b, c in ngram_tf(query, self.dim).items():
            q[b] = c
        qn = np.sqrt((q * q).sum())
        with np.errstate(divide="ignore", invalid="ignore"):
            s = (self.m @ q) / (self.norm * qn)
        return np.nan_to_num(s, nan=0.0)

    def matches(self, query: str, context: str, k: int, tol: float = 1e-9) -> bool:
        """True when the retrieved context (chunk texts joined by newlines,
        rank order) holds a top-k set: its chunks' exact scores equal the
        k best exact scores (ties may pick either chunk)."""
        s = self.scores(query)
        order = np.lexsort((self.ids, -s))[:k]
        got = context.split("\n") if context else []
        if got == [self.texts[i] for i in order]:
            return True
        score_of = {}
        for i, t in enumerate(self.texts):
            score_of[t] = max(score_of.get(t, -1.0), s[i])
        if len(got) != len(order) or any(t not in score_of for t in got):
            return False
        return bool(np.allclose(sorted(score_of[t] for t in got), sorted(s[order]), atol=tol))

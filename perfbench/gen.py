"""Seeded input generators. The same seed gives the same inputs; the
program under test only ever sees the frames written from these.

Each generator also returns the measured share of the traffic property its
workload exists to exercise, recorded next to the results.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

_ONSETS = list("bcdfghjklmnprstvwz") + ["br", "ch", "st", "tr", "sh", "pl"]
_VOWELS = list("aeiou") + ["ai", "ea", "ou"]
_CODAS = ["", "", "", "n", "r", "s", "t", "l", "m", "nd", "st"]


def _rng(seed: int, salt: str) -> np.random.Generator:
    return np.random.default_rng([seed, sum(map(ord, salt)) * 7919 + len(salt)])


def vocabulary(rng: np.random.Generator, size: int) -> np.ndarray:
    """``size`` distinct pronounceable pseudo-words, so character n-grams
    behave like natural text rather than like ``w123`` tokens."""
    words: dict[str, None] = {}
    while len(words) < size:
        k = int(rng.integers(1, 4))
        w = "".join(
            _ONSETS[rng.integers(len(_ONSETS))] + _VOWELS[rng.integers(len(_VOWELS))]
            for _ in range(k)
        ) + _CODAS[rng.integers(len(_CODAS))]
        words[w] = None
    return np.array(list(words))


def zipf_p(size: int, s: float = 1.0) -> np.ndarray:
    p = 1.0 / np.arange(1, size + 1) ** s
    return p / p.sum()


def _texts(rng, vocab, p, lengths) -> list[str]:
    idx = rng.choice(len(vocab), size=int(lengths.sum()), p=p)
    words = vocab[idx]
    out, pos = [], 0
    for n in lengths:
        out.append(" ".join(words[pos : pos + n]))
        pos += n
    return out


def _with_keyword(rng, text: str, keywords, share: float) -> str:
    if rng.random() >= share:
        return text
    words = text.split(" ")
    words.insert(int(rng.integers(len(words) + 1)), keywords[rng.integers(len(keywords))])
    return " ".join(words)


def _vocab_used(texts) -> int:
    return len({w for t in texts for w in t.lower().split()})


# ------------------------------------------------------------ enrich_stream
def enrich_stream(seed: int, n_rows: int, keywords, salt: str = "stream"):
    """Rows ``(doc_id, text)``: lognormal text lengths with a long tail,
    about 40% of rows repeating an earlier row's text (so its prompt), and
    about half the texts carrying one of the mock rule's keywords."""
    rng = _rng(seed, salt)
    vocab = vocabulary(rng, 4000)
    p = zipf_p(len(vocab))
    lengths = np.clip(rng.lognormal(np.log(22), 0.9, n_rows), 3, 800).astype(int)
    texts = [_with_keyword(rng, t, keywords, 0.5) for t in _texts(rng, vocab, p, lengths)]
    repeat = rng.random(n_rows) < 0.4
    repeat[0] = False
    for i in np.flatnonzero(repeat):
        texts[i] = texts[int(rng.integers(i))]
    df = pd.DataFrame({"doc_id": np.arange(n_rows, dtype=np.int64), "text": texts})
    n_words = np.array([len(t.split()) for t in texts])
    props = {
        "rows": n_rows,
        "distinct_prompts": int(df["text"].nunique()),
        "duplicate_prompt_share": 1.0 - df["text"].nunique() / n_rows,
        "long_text_share": float(np.mean(n_words > 4 * np.median(n_words))),
        "median_words": float(np.median(n_words)),
        "max_words": int(n_words.max()),
        "keyword_share": float(np.mean([any(k in t for k in keywords) for t in texts])),
        "vocabulary_size": _vocab_used(texts),
        "text_bytes": int(sum(len(t.encode()) for t in texts)),
    }
    return df, props


# ------------------------------------------------------------- curate_dedup
def curate(seed: int, n_docs: int, salt: str = "curate"):
    """Docs ``(doc_id, text)`` over a Heaps-law vocabulary (V = 100·√N words
    drawn with Zipf ranks) with planted duplicate structure:

    - one hot near-duplicate cluster holding 10% of the docs: a 300-word
      base and copies with one word substituted (pairwise Jaccard of word
      3-shingles about 0.96), so its LSH buckets are heavily skewed;
    - about 15% of docs in 2–5-member clusters: a base of at least 80 words
      and copies with one extra word appended (pairwise Jaccard ≥ 0.975);
    - about 1% exact duplicates (case and spacing changed) of single docs.

    Doc ids are a random permutation, so clusters straddle the batch pass
    and the micro-batches. The expected kept set is the smallest doc id of
    every cluster (single docs are clusters of one): that is what
    exact-then-near dedup keeps, and what first-seen-wins incremental dedup
    keeps when docs arrive in id order.

    Docs are long enough that a MinHash estimate (32 hashes, threshold 0.8)
    cannot plausibly fall below the threshold inside a cluster: a 42-word
    cluster member, whose one unique shingle was the minimum for seven of
    32 hashes, once made a correct near_dedup keep it.
    """
    rng = _rng(seed, salt)
    vocab = vocabulary(rng, int(100 * np.sqrt(n_docs)))
    p = zipf_p(len(vocab))
    docs: list[tuple[int, str]] = []  # (cluster, text)

    def doc_len(k=1):
        return np.clip(rng.lognormal(np.log(100), 0.35, k), 80, 300).astype(int)

    n_hot = int(round(0.10 * n_docs))
    base = _texts(rng, vocab, p, np.array([300]))[0].split(" ")
    docs.append((0, " ".join(base)))
    for _ in range(n_hot - 1):
        w = list(base)
        w[int(rng.integers(len(w)))] = vocab[rng.choice(len(vocab), p=p)]
        docs.append((0, " ".join(w)))
    cluster = 1
    n_small_target = int(round(0.15 * n_docs))
    n_small = 0
    while n_small < n_small_target:
        k = int(min(rng.integers(2, 6), n_small_target - n_small + 1))
        text = _texts(rng, vocab, p, doc_len())[0]
        docs.append((cluster, text))
        for _ in range(k - 1):
            docs.append((cluster, text + " " + vocab[rng.choice(len(vocab), p=p)]))
        cluster += 1
        n_small += k
    n_exact = max(1, int(round(0.01 * n_docs)))
    n_single = n_docs - len(docs) - n_exact
    singles = _texts(rng, vocab, p, doc_len(n_single))
    first_single = cluster
    for t in singles:
        docs.append((cluster, t))
        cluster += 1
    for j in rng.choice(n_single, size=n_exact, replace=False):
        t = singles[j].split(" ")
        dup = t[0].capitalize() + "  " + "  ".join(t[1:])
        docs.append((first_single + int(j), dup))
    order = rng.permutation(len(docs))
    df = pd.DataFrame({
        "doc_id": np.arange(len(docs), dtype=np.int64),
        "text": [docs[i][1] for i in order],
        "cluster": np.array([docs[i][0] for i in order], dtype=np.int64),
    })
    expected = set(df.groupby("cluster")["doc_id"].min().tolist())
    props = {
        "docs": len(df),
        "hot_cluster_share": n_hot / len(df),
        "small_cluster_share": n_small / len(df),
        "exact_duplicate_share": n_exact / len(df),
        "clusters": int(df["cluster"].nunique()),
        "expected_kept": len(expected),
        "vocabulary_target": len(vocab),
        "vocabulary_size": _vocab_used(df["text"]),
        "text_bytes": int(df["text"].str.len().sum()),
    }
    return df[["doc_id", "text"]], expected, props


# --------------------------------------------------------------- rag_ground
def rag(seed: int, n_docs: int, n_queries: int, keywords, n_searches: int = 0,
        salt: str = "rag"):
    """A corpus ``(doc_id, text)`` of 4–14 sentence documents, query rows
    ``(qid, question)`` and ``n_searches`` search strings. Each question is
    a 4–8 word span of a random corpus sentence plus up to two random
    words, so retrieval has a true match to find; each search string is a
    6-word span, so search cost does not swing with query length from seed
    to seed. About a third of sentences carry a mock-rule keyword."""
    rng = _rng(seed, salt)
    vocab = vocabulary(rng, 3000)
    p = zipf_p(len(vocab))
    sents_per_doc = rng.integers(4, 15, n_docs)
    sent_len = rng.integers(6, 17, int(sents_per_doc.sum()))
    sents = [
        _with_keyword(rng, s, keywords, 0.33) + "."
        for s in _texts(rng, vocab, p, sent_len)
    ]
    texts, pos = [], 0
    for k in sents_per_doc:
        texts.append(" ".join(sents[pos : pos + k]))
        pos += k
    docs = pd.DataFrame({"doc_id": np.arange(n_docs, dtype=np.int64), "text": texts})
    questions = []
    for _ in range(n_queries):
        words = sents[int(rng.integers(len(sents)))].rstrip(".").split(" ")
        span = int(rng.integers(4, 9))
        start = int(rng.integers(max(1, len(words) - span + 1)))
        q = words[start : start + span]
        q += list(vocab[rng.choice(len(vocab), size=int(rng.integers(0, 3)), p=p)])
        questions.append(" ".join(q))
    queries = pd.DataFrame({"qid": np.arange(n_queries, dtype=np.int64), "question": questions})
    searches = []
    while len(searches) < n_searches:
        words = sents[int(rng.integers(len(sents)))].rstrip(".").split(" ")
        if len(words) >= 6:
            start = int(rng.integers(len(words) - 5))
            searches.append(" ".join(words[start : start + 6]))
    props = {
        "docs": n_docs,
        "queries": n_queries,
        "sentences": len(sents),
        "query_keyword_share": float(np.mean([any(k in q for k in keywords) for q in questions])),
        "vocabulary_size": _vocab_used(texts),
        "text_bytes": int(docs["text"].str.len().sum()),
    }
    return docs, queries, searches, props

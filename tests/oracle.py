"""Slow-but-obviously-correct pure-Python oracles, mirroring the reference's
score-oracle test pattern (src/testFixtures/.../BaseNeuralSearchIT.java:
1332-1345 computes expected scores from first principles in the test)."""

from __future__ import annotations

import math
import struct
from collections import Counter

from neural_search_spark.analysis.tokenizer import tokenize_py

K1, B = 1.2, 0.75


def build_oracle_index(docs: dict[int, str]):
    postings: dict[str, dict[int, int]] = {}
    doclens: dict[int, int] = {}
    for doc_id, text in docs.items():
        toks = tokenize_py(text)
        doclens[doc_id] = len(toks)
        for t, tf in Counter(toks).items():
            postings.setdefault(t, {})[doc_id] = tf
    n = len(docs)
    avgdl = sum(doclens.values()) / n if n else 0.0
    return postings, doclens, n, avgdl


def bm25_scores(
    docs: dict[int, str], terms: dict[str, float] | list[str], lucene_norms: bool = False
) -> dict[int, float]:
    if not isinstance(terms, dict):
        terms = {t: 1.0 for t in terms}
    postings, doclens, n, avgdl = build_oracle_index(docs)
    if lucene_norms:
        from neural_search_spark.analysis.lucene_norms import int4_quantize_py

        doclens = {d: int4_quantize_py(dl) for d, dl in doclens.items()}
    scores: dict[int, float] = {}
    for t in sorted(terms):  # fixed accumulation order
        if t not in postings:
            continue
        df = len(postings[t])
        idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
        for d, tf in postings[t].items():
            dl = doclens[d]
            comp = tf / (tf + K1 * (1 - B + B * dl / avgdl))
            scores[d] = scores.get(d, 0.0) + terms[t] * idf * comp
    return scores


def topk(scores: dict[int, float], k: int) -> list[tuple[int, float]]:
    return sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]


def quantize16(x: float) -> float:
    """FeatureField 16-bit quantization, copied semantics from the reference
    oracle BaseNeuralSearchIT.java:1379-1384: intBitsToFloat((floatToIntBits
    (x) >> 15) << 15)."""
    bits = struct.unpack("<i", struct.pack("<f", x))[0]
    return struct.unpack("<f", struct.pack("<i", (bits >> 15) << 15))[0]


def sparse_linear_scores(
    doc_weights: dict[int, dict[str, float]], query_tokens: dict[str, float]
) -> dict[int, float]:
    """score(d) = Σ_{t∈q∩d} w_q(t) · quantize16(w_d(t)) — reference
    query/NeuralSparseQueryBuilder.java:364-376."""
    out: dict[int, float] = {}
    for d, weights in doc_weights.items():
        s = 0.0
        for t in sorted(query_tokens):
            if t in weights:
                s += query_tokens[t] * quantize16(weights[t])
        if s > 0:
            out[d] = s
    return out


def _idf(n: int, df: int) -> float:
    return math.log(1 + (n - df + 0.5) / (df + 0.5))


def synonym_scores(docs: dict[int, str], groups: list[list[str]]) -> dict[int, float]:
    """Lucene SynonymQuery: each group scores as one pseudo-term with
    df = max member df and tf = Σ member tf (unit boosts)."""
    postings, doclens, n, avgdl = build_oracle_index(docs)
    scores: dict[int, float] = {}
    for g in groups:
        members = [t for t in g if t in postings]
        if not members:
            continue
        idf = _idf(n, max(len(postings[t]) for t in members))
        gtf: dict[int, int] = {}
        for t in members:
            for d, tf in postings[t].items():
                gtf[d] = gtf.get(d, 0) + tf
        for d, tf in sorted(gtf.items()):
            comp = tf / (tf + K1 * (1 - B + B * doclens[d] / avgdl))
            scores[d] = scores.get(d, 0.0) + idf * comp
    return scores


def mlt_terms(
    docs: dict[int, str], like: list[int], max_query_terms: int,
    min_term_freq: int, min_doc_freq: int,
) -> list[str]:
    """more_like_this term selection: the example docs' terms with
    Σtf ≥ min_term_freq and df ≥ min_doc_freq, by tf·idf desc, term asc."""
    postings, _, n, _ = build_oracle_index(docs)
    tf: Counter = Counter()
    for d in like:
        tf.update(tokenize_py(docs[d]))
    picked = [
        (tf[t] * _idf(n, len(postings[t])), t)
        for t in tf
        if tf[t] >= min_term_freq and len(postings[t]) >= min_doc_freq
    ]
    return [t for _, t in sorted(picked, key=lambda p: (-p[0], p[1]))[:max_query_terms]]

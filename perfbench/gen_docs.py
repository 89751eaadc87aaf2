"""Seeded ``documents.parquet`` generator plus a pure-Python reference of
the corpus pipeline's deterministic stages.

Documents are en/de/es/fr text: the language's ``textops.LANG_MARKERS``
words mixed into a Zipf-distributed synthetic vocabulary.  Planted on top:

- short documents (< 5 tokens) for the length gate;
- exact copies of earlier documents (exact dedup);
- near-duplicate edits of earlier documents, ~6% of tokens replaced
  (MinHash-LSH near-dup stage);
- gibberish documents of one-off random words.

``reference_stats`` recomputes ``run_corpus``'s stage counts up to the
quality gate from the same md5-derived hashes the engine uses
(``functions/hashing.py``), with no Spark involved.
"""

from __future__ import annotations

import hashlib
import random
import string

import pyarrow as pa
import pyarrow.parquet as pq

LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and"),
    "de": ("der", "die", "das", "und"),
    "es": ("el", "la", "de", "y"),
    "fr": ("le", "la", "de", "et"),
}
STOPWORDS = ("the", "a", "of", "and", "in", "to")
KEEP_LANGS = ("en", "de", "es", "fr")
MIN_TOKENS = 5
JACCARD = 0.6
P = 4294967311
MIX = 1000003
NUM_HASHES = 8
ROWS_PER_BAND = 2
VOCAB_SIZE = 20000

_SYLLABLES = [c + v for c in "bcdfghjklmnprstvz" for v in "aeiou"]


def _vocabulary(rng: random.Random, size: int) -> list[str]:
    reserved = {w for ws in LANG_MARKERS.values() for w in ws} | set(STOPWORDS)
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < size:
        w = "".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(1, 4)))
        if w not in seen and w not in reserved:
            seen.add(w)
            words.append(w)
    return words


def generate(path: str, seed: int, n_docs: int) -> dict:
    """Write ``documents.parquet`` at ``path``; return the planted counts."""
    rng = random.Random(seed)
    vocab = _vocabulary(rng, VOCAB_SIZE)
    cum = []
    acc = 0.0
    for r in range(1, VOCAB_SIZE + 1):
        acc += 1.0 / r
        cum.append(acc)
    langs = list(LANG_MARKERS)
    texts: list[str] = []
    doc_langs: list[str] = []
    planted = {"short": 0, "exact_copy": 0, "near_copy": 0, "gibberish": 0}

    def body(lang: str, n: int, words) -> list[str]:
        markers = LANG_MARKERS[lang]
        return [
            rng.choice(markers) if rng.random() < 0.25 else words()
            for _ in range(n)
        ]

    for i in range(n_docs):
        u = rng.random()
        if i >= 50 and u < 0.03:
            j = rng.randrange(i)
            texts.append(texts[j])
            doc_langs.append(doc_langs[j])
            planted["exact_copy"] += 1
            continue
        if i >= 50 and u < 0.18:
            j = rng.randrange(i)
            toks = texts[j].split(" ")
            if len(toks) >= 20:
                for k in rng.sample(range(len(toks)), max(1, len(toks) // 16)):
                    toks[k] = rng.choices(vocab, cum_weights=cum)[0]
                texts.append(" ".join(toks))
                doc_langs.append(doc_langs[j])
                planted["near_copy"] += 1
                continue
        lang = rng.choice(langs)
        if u > 0.97:
            toks = body(lang, rng.randint(1, 4), lambda: rng.choice(vocab))
            planted["short"] += 1
        elif u > 0.93:
            toks = body(
                lang,
                rng.randint(40, 120),
                lambda: "".join(
                    rng.choice(string.ascii_lowercase)
                    for _ in range(rng.randint(6, 10))
                ),
            )
            planted["gibberish"] += 1
        else:
            n = rng.randint(30, 160)
            zipf = rng.choices(vocab, cum_weights=cum, k=n)
            it = iter(zipf)
            toks = body(lang, n, lambda: next(it))
        texts.append(" ".join(toks))
        doc_langs.append(lang)
    table = pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(doc_langs, pa.string()),
            "source": pa.array([f"src{i % 8}" for i in range(n_docs)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(table, path)
    return {"docs": n_docs, **planted}


def _h(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def _lang_guess(toks: list[str]) -> str:
    counts = {
        lang: sum(t in ws for t in toks) for lang, ws in LANG_MARKERS.items()
    }
    best = max(counts.values())
    if best == 0:
        return "und"
    return next(lang for lang, c in counts.items() if c == best)


def _shingles(toks: list[str]) -> set[int]:
    wh = [_h(t) for t in toks]
    return {
        ((wh[i] * MIX + wh[i + 1]) % P * MIX + wh[i + 2]) % P
        for i in range(len(wh) - 2)
    }


def reference_stats(path: str) -> dict:
    """``run_corpus`` stage counts through the quality gate, plus the
    LSH candidate and verified pair counts of the near-dup stage."""
    t = pq.read_table(path, columns=["doc_id", "text"]).to_pydict()
    docs = list(zip(t["doc_id"], t["text"]))
    stats = {"input": len(docs)}
    kept = []
    for doc_id, text in docs:
        toks = text.split(" ")
        if len(toks) >= MIN_TOKENS and _lang_guess(toks) in KEEP_LANGS:
            kept.append((doc_id, text))
    stats["lang_and_length"] = len(kept)
    first: dict[int, int] = {}
    for doc_id, text in kept:
        fp = _h(text)
        first[fp] = min(doc_id, first.get(fp, doc_id))
    kept = [(d, x) for d, x in kept if first[_h(x)] == d]
    stats["exact_dedup"] = len(kept)
    sh = {d: _shingles(x.split(" ")) for d, x in kept}
    buckets: dict[tuple[int, str], list[int]] = {}
    for d, s in sh.items():
        if not s:
            continue
        sig = [
            min((x * (2 * k + 1) + 12345 * k + 1) % P for x in s)
            for k in range(NUM_HASHES)
        ]
        for b in range(NUM_HASHES // ROWS_PER_BAND):
            key = "_".join(
                str(v) for v in sig[b * ROWS_PER_BAND:(b + 1) * ROWS_PER_BAND]
            )
            buckets.setdefault((b, key), []).append(d)
    cands = {
        (a, b) for ds in buckets.values() for a in ds for b in ds if a < b
    }
    verified = [
        (a, b) for a, b in cands
        if len(sh[a] & sh[b]) / len(sh[a] | sh[b]) >= JACCARD
    ]
    drops = {b for _, b in verified}
    stats["near_dedup"] = len(kept) - len(drops)
    # quality_score >= 0.0 fails only a NULL score (empty text)
    stats["quality"] = sum(
        1 for d, x in kept if d not in drops and x.strip()
    )
    stats["candidate_pairs"] = len(cands)
    stats["verified_pairs"] = len(verified)
    return stats

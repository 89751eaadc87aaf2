"""Executable specs the engine is tested against — re-derivations no
product path runs, kept beside the tests that use them.

- ``brute_force_reference``: the quality classifier's training loop
  (``operators/quality.py``) in plain Python;
- ``_bpe_merges_reference``: the textbook BPE merge loop that
  ``bpe.bpe_merges`` is fuzz-tested against;
- ``bpe_segment_expr``: a small merge list applied as a pure Column
  expression — the reference ``bpe.bpe_apply`` is parity-tested
  against.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

from etl_olho_vivo_spark.operators.bpe import EOW, _merge_word


def brute_force_reference(
    texts_pos: list[str],
    texts_neg: list[str],
    *,
    n_buckets: int,
    iters: int,
    lr: float,
    l2: float,
    round_dp: int = 6,
    bucket_fn=None,
    sample_frac: float | None = None,
    balance_classes: bool = False,
    seed: int = 0,
    ids_pos: list | None = None,
    ids_neg: list | None = None,
) -> tuple[float, list[float]]:
    """Pure-Python rederivation of the SAME training loop (for tests):
    given the per-text bucket lists from ``bucket_fn``, runs the
    identical rounded GD — full-batch, or sampled-gradient when
    ``sample_frac`` is set (the same md5 qgrad-<seed>-<iter> Bernoulli
    keys, which then need the docs' ids via ``ids_pos``/``ids_neg``;
    ``balance_classes`` mirrors the per-class-rate Horvitz-Thompson
    variant) — and returns (bias, weights)."""
    import hashlib

    docs = []
    for y, texts, ids in (
        (1.0, texts_pos, ids_pos), (0.0, texts_neg, ids_neg)
    ):
        for j, t in enumerate(texts):
            buckets = bucket_fn(t)
            if buckets:
                hist: dict[int, float] = {}
                for b in buckets:
                    hist[b] = hist.get(b, 0.0) + 1.0
                tot = sum(hist.values())
                docs.append((
                    y,
                    {b: c / tot for b, c in hist.items()},
                    None if ids is None else ids[j],
                ))
    n = float(len(docs))
    sampling = sample_frac is not None and sample_frac < 1.0
    if sampling and balance_classes:
        n_pos = sum(1 for y, _, _ in docs if y == 1.0)
        n_neg = len(docs) - n_pos
        rates = {
            1.0: min(1.0, sample_frac * n / (2 * n_pos)),
            0.0: min(1.0, sample_frac * n / (2 * n_neg)),
        }
    else:
        rates = {1.0: sample_frac or 1.0, 0.0: sample_frac or 1.0}
    thresholds = {y: int(r * (1 << 32)) for y, r in rates.items()}
    iws = (
        {y: 1.0 / r for y, r in rates.items()}
        if sampling and balance_classes
        else {1.0: 1.0, 0.0: 1.0}
    )
    weights = [0.0] * n_buckets
    bias = 0.0
    for it in range(iters):
        if sampling:
            batch = []
            for y, x, did in docs:
                key = int(hashlib.md5(
                    f"{y}:{did}:qgrad-{seed}-{it}".encode()
                ).hexdigest()[:8], 16)
                if key < thresholds[y]:
                    batch.append((y, x, did))
            if not batch:
                continue
            n_it = round(sum(iws[y] for y, _, _ in batch), round_dp)
        else:
            batch, n_it = docs, n
        grad: dict[int, float] = {}
        g_bias = 0.0
        for y, x, _ in batch:
            m = bias + sum(weights[b] * v for b, v in x.items())
            resid = 1.0 / (1.0 + math.exp(-m)) - y
            g_bias += resid * iws[y]
            for b, v in x.items():
                grad[b] = grad.get(b, 0.0) + resid * v * iws[y]
        if sampling:
            # mirror the Spark numerics: sums rounded in the job,
            # normalized driver-side against the batch size, re-rounded
            for b, g in grad.items():
                weights[b] -= lr * (
                    round(round(g, round_dp) / n_it, round_dp)
                    + l2 * weights[b]
                )
            bias -= lr * round(round(g_bias, round_dp) / n_it, round_dp)
        else:
            for b, g in grad.items():
                weights[b] -= lr * (
                    round(g / n_it, round_dp) + l2 * weights[b]
                )
            bias -= lr * round(g_bias / n_it, round_dp)
        weights = [round(w, round_dp + 3) for w in weights]
        bias = round(bias, round_dp + 3)
    return bias, weights


def _bpe_merges_reference(
    histogram: list[tuple[str, int]], n_merges: int
) -> list[tuple[str, str]]:
    """The textbook O(n_merges × total_symbols) loop — recomputes every
    pair count per round.  Kept as the executable SPEC the fast
    implementation is fuzz-tested against (tests/test_bpe.py)."""
    vocab: dict[tuple[str, ...], int] = {}
    for word, count in histogram:
        symbols = tuple(word) + (EOW,)
        vocab[symbols] = vocab.get(symbols, 0) + count
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs: dict[tuple[str, str], int] = {}
        for symbols, count in vocab.items():
            for a, b in zip(symbols, symbols[1:]):
                pairs[(a, b)] = pairs.get((a, b), 0) + count
        if not pairs:
            break
        (a, b), best_n = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0])
        )
        if best_n < 2:
            break  # nothing repeats — further merges are noise
        out: dict[tuple[str, ...], int] = {}
        for symbols, count in vocab.items():
            key = tuple(_merge_word(list(symbols), a, b))
            out[key] = out.get(key, 0) + count
        vocab = out
        merges.append((a, b))
    return merges


def bpe_segment_expr(
    merges: list[tuple[str, str]], text: str = "text", sep: str = " "
) -> Column:
    """Apply a SMALL trained merge list corpus-side, as a pure Column
    expression: words become space-joined token sequences.

    Each merge compiles to one ``replace`` over a marker-delimited
    symbol string, so the expression depth grows with ``len(merges)``
    — fine for the few-hundred-merge vocabularies used in tests and
    feature pipelines; use a real tokenizer under ``mapInPandas`` for
    30k-merge production vocabularies (expression trees that deep
    stress codegen for no benefit).
    """
    if len(merges) > 512:
        raise ValueError(
            f"bpe_segment_expr is for small merge lists (<= 512); got "
            f"{len(merges)} — use bpe_apply (mapInPandas) instead"
        )
    # Every symbol is ENCLOSED in \x1f markers (m+sym+m), so the merge
    # pattern m+a+m+m+b+m can only match whole symbols — a bare
    # a+DELIM+b pattern would also match when a multi-char symbol
    # merely ENDS with `a` (e.g. symbol "aa" before "b" contains
    # "a⟂b"), silently producing out-of-vocabulary tokens.  Words are
    # joined with \x1e.  Both control chars are stripped from the
    # input first: corpus text containing them would otherwise inject
    # fake symbol boundaries.
    m, g = "\x1f", "\x1e"
    clean = F.regexp_replace(F.col(text), F.lit("[\\x1f\\x1e]"), F.lit(""))
    enclose = lambda c: F.concat(F.lit(m), c, F.lit(m))  # noqa: E731
    word_syms = F.transform(
        F.filter(F.split(clean, r"\s+"), lambda w: w != F.lit("")),
        lambda w: F.concat(
            F.array_join(F.transform(F.split(w, ""), enclose), ""),
            F.lit(m + EOW + m),
        ),
    )
    joined = F.array_join(word_syms, g)
    for a, b in merges:
        joined = F.replace(
            joined,
            F.lit(m + a + m + m + b + m),
            F.lit(m + a + b + m),
        )
    # decode: token gap (m+m) and word gap (g) → separator, then strip
    # the enclosing markers
    out = F.replace(joined, F.lit(m + m), F.lit(sep))
    out = F.replace(out, F.lit(g), F.lit(sep))
    return F.replace(out, F.lit(m), F.lit(""))

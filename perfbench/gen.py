"""Seeded inputs of the benchmark workloads: corpora and query streams.

Everything here is a pure function of the workload seed; the engine only
ever receives what these functions return.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from torchtrajectory_spark.sources.corpus import VOCAB_SIZE, gen_rows, vocab

VOCAB = np.array(vocab())
# the language keywords open the vocabulary: the stopword class of code
# (def, class, import, return, if, else, for, while, ...)
HOT_TERMS = VOCAB[:16]
_KEYWORD_RANKS = np.flatnonzero(~np.char.startswith(VOCAB, "id_"))
RUN_DOCS = 2_500
# quartile midpoints of LogNormal(ln 120, 1.3): typical doc length per run
_RUN_SCALES = 120.0 * np.exp(1.3 * np.array([-1.15, -0.32, 0.32, 1.15]))

CORPUS_COLUMNS = ["doc_id", "content"]


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def synth_docs(first_id: int, n: int, seed: int) -> pd.DataFrame:
    """``n`` docs of the engine's own synthetic corpus (uniform lengths,
    Zipf terms), ids ``first_id ..``: the same rows ``synth_corpus``
    generates for those ids."""
    rows = gen_rows(np.arange(first_id, first_id + n, dtype=np.int64), seed)
    return rows[CORPUS_COLUMNS]


def skewed_docs(n: int, seed: int) -> pd.DataFrame:
    """Length-skewed code corpus for ``batch_hot``.

    Docs come in runs of RUN_DOCS consecutive ids that share a length
    scale, the way a crawl that walks repo by repo lays files out, so doc
    lengths span ~10 to 5,000 tokens and neighbouring docs look alike.
    Each run is one language with its own ranking of the keywords, so a
    keyword that is hot in one run is rare in the next. One run in four
    holds generated code, where about a third of the docs repeat one hot
    term many times (a tf burst). All three properties are local in
    doc-id order, which is what makes the block maxes of a hot term
    differ from block to block: a posting block covers up to ~2,000
    consecutive ids after segment sharding and hot-term salting, and a
    run is longer than that. The run scales are the four quartile
    midpoints of a log-normal, dealt to the runs in seeded order, so the
    corpus's length profile and size do not drift from seed to seed.
    """
    rng = _rng(seed, 1)
    n_runs = -(-n // RUN_DOCS)
    scales = np.resize(_RUN_SCALES, n_runs)[rng.permutation(n_runs)]
    bursty_runs = set(rng.choice(n_runs, max(1, n_runs // 4), replace=False).tolist())
    lengths = np.empty(n, dtype=np.int64)
    bursty = np.zeros(n, dtype=bool)
    runs = []
    for r in range(n_runs):
        a, z = r * RUN_DOCS, min(n, (r + 1) * RUN_DOCS)
        lengths[a:z] = np.clip(scales[r] * rng.lognormal(0.0, 0.6, z - a), 10, 5000)
        if r in bursty_runs:
            bursty[a:z] = rng.random(z - a) < 0.35
        runs.append((a, z))
    starts = np.concatenate(([0], np.cumsum(lengths)[:-1]))
    idx = (rng.zipf(1.2, int(lengths.sum())) - 1) % VOCAB_SIZE
    for a, z in runs:
        # each run is one language: its own ranking of the keywords
        seg = idx[starts[a]:starts[z - 1] + lengths[z - 1]]
        kw = seg < len(_KEYWORD_RANKS)
        seg[kw] = rng.permutation(_KEYWORD_RANKS)[seg[kw]]
    toks = VOCAB[idx]
    for d in np.flatnonzero(bursty):
        s, ln = starts[d], lengths[d]
        hit = rng.random(ln) < rng.uniform(0.2, 0.5)
        toks[s:s + ln][hit] = HOT_TERMS[int(rng.integers(0, 8))]
    contents = [" ".join(toks[s:s + ln]) for s, ln in zip(starts, lengths)]
    return pd.DataFrame({"doc_id": np.arange(n, dtype=np.int64),
                         "content": contents})


def zipf_queries(seed: int, n: int) -> list[list[str]]:
    """Interactive query stream of Zipf-drawn terms. Three queries in
    every ten (positions 3, 6 and 9 of each ten) repeat an earlier term
    set drawn at random; every other query is a term set not seen before,
    drawn with 1, 2, 3, 4, 1, ... terms in turn. Shares fixed in every
    stretch of the stream keep a run's median query the same kind of
    query from seed to seed: on the same side of the engine's term-set
    memo, with the same mix of query lengths."""
    rng = _rng(seed, 2)
    out: list[list[str]] = []
    seen: set[tuple[str, ...]] = set()
    for i in range(n):
        if i % 10 in (3, 6, 9):
            out.append(out[int(rng.integers(len(out)))])
            continue
        while True:
            ranks = rng.zipf(1.2, 1 + len(seen) % 4)
            terms = tuple(sorted(set(VOCAB[(ranks - 1) % VOCAB_SIZE].tolist())))
            if terms not in seen:
                break
        seen.add(terms)
        out.append(list(terms))
    return out


def hot_batches(seed: int, n_batches: int, size: int) -> list[dict[str, list[str]]]:
    """Batches of 1-3 term queries dominated by stopword-class terms: each
    term is a hot keyword with probability 3/4, else a Zipf draw."""
    rng = _rng(seed, 3)
    batches = []
    for _ in range(n_batches):
        batch = {}
        for q in range(size):
            terms = set()
            for _ in range(int(rng.integers(1, 4))):
                if rng.random() < 0.75:
                    terms.add(str(HOT_TERMS[int(rng.integers(len(HOT_TERMS)))]))
                else:
                    terms.add(str(VOCAB[(rng.zipf(1.2) - 1) % VOCAB_SIZE]))
            batch[f"q{q:02d}"] = sorted(terms)
        batches.append(batch)
    return batches

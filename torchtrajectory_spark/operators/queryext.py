"""Extended scoring query surfaces: minimum-should-match and SynonymQuery.

Both are Lucene query types the reference engine has no analog for
(T-Torch's query surface is findTopK/findOnPath/findInRange only,
``queryEngine/Engine.java:43-151``); they complete the boolean-scoring
family next to ``operators/boolean.py`` (unscored AND/OR) and
``operators/wand.py`` (pruned top-k):

* ``topk_bm25_index_msm`` — BooleanQuery with ``minimumNumberShouldMatch``:
  only docs matching at least ``m`` distinct query terms rank, scored as
  the usual per-term BM25 sum over their matched terms.
* ``topk_bm25_index_synonym`` — ``SynonymQuery`` semantics: each synonym
  group scores as ONE pseudo-term with tf = sum of member tfs and
  df = max of member dfs (Lucene's blended docFreq), so "spark OR its
  alias" never double-counts idf the way a boolean OR would.

Scale shape (both): the per-segment kernel decodes only the query terms'
blocks (bucket+term-pruned scan, same as every other indexed query) and
emits <=k rows per segment into a global TakeOrderedAndProject. Cost class
is boolean-OR (every match scored — msm candidacy and synonym tf-blending
are per-doc aggregates over the full match set, so the block-max UB
machinery is deliberately unused, same trade as grouping/collapse).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..config import BM25_B, BM25_K1, DEFAULT_K
from ..functions.bm25 import idf_py, tf_sat_np
from .index import tombstone_ids
from .wand import (
    _EMPTY_TOPK,
    IndexMeta,
    _build_term_arrays,
    merge_topk,
    query_term_meta,
    score_segments,
)

_TOPK_SCHEMA = "doc_id bigint, score double"


def _live_union_docs(use: dict, blocked: np.ndarray | None) -> np.ndarray:
    docs = np.unique(np.concatenate([tp.docs for tp in use.values()]))
    if blocked is not None and blocked.size and docs.size:
        from .index import sorted_isin

        docs = docs[~sorted_isin(blocked, docs)]
    return docs


def _segment_topk_msm(pdf: pd.DataFrame, q: list[str], m: int, k: int,
                      meta: IndexMeta, k1: float, b: float,
                      blocked: np.ndarray | None = None) -> pd.DataFrame:
    """One segment's exact top-k under minimum-should-match ``m``."""
    idf = {t: idf_py(meta.term_df.get(t, 0.0), meta.n_docs) for t in q}
    arrays = _build_term_arrays(pdf, idf, meta.avgdl, k1, b)
    use = {t: arrays[t] for t in q if t in arrays}
    if len(use) < m:  # even matching every present term can't reach m
        return pd.DataFrame(_EMPTY_TOPK)
    docs = _live_union_docs(use, blocked)
    if docs.size == 0:
        return pd.DataFrame(_EMPTY_TOPK)
    # pass 1 — candidacy from docID membership ALONE (the docID streams
    # are already decoded; no tf/dl payload is touched), so the usually
    # large non-qualifying majority never costs a block decode
    counts = np.zeros(docs.size, dtype=np.int64)
    for term in sorted(use):
        tp = use[term]
        pos = np.clip(np.searchsorted(tp.docs, docs), 0, tp.docs.size - 1)
        counts[tp.docs[pos] == docs] += 1
    docs = docs[counts >= m]
    if docs.size == 0:
        return pd.DataFrame(_EMPTY_TOPK)
    # pass 2 — exact BM25 over the qualifying docs only (lazy per-block
    # payload decode inside tf_dl_at touches just their blocks)
    scores = np.zeros(docs.size, dtype=np.float64)
    for term in sorted(use):
        tp = use[term]
        pos = np.clip(np.searchsorted(tp.docs, docs), 0, tp.docs.size - 1)
        hit = tp.docs[pos] == docs
        hit_idx = pos[hit]
        if hit_idx.size:
            tfs, dls = tp.tf_dl_at(hit_idx)
            scores[hit] += idf[term] * tf_sat_np(tfs, dls, meta.avgdl,
                                                 k1, b)
    sel = np.lexsort((docs, -scores))[:k]
    return pd.DataFrame({"doc_id": docs[sel], "score": scores[sel]})


def topk_bm25_index_msm(
    spark: SparkSession,
    index_dir: str,
    query_terms: list[str],
    min_should_match: int,
    k: int = DEFAULT_K,
    meta: IndexMeta | None = None,
    buckets: int | None = None,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Top-k BM25 over docs matching >= ``min_should_match`` distinct
    query terms (Lucene ``BooleanQuery.setMinimumNumberShouldMatch``).
    m=1 degenerates to the plain OR ranking; m=len(terms) to AND."""
    q = sorted(set(str(t) for t in query_terms))
    m = int(min_should_match)
    if not 1 <= m <= len(q):
        raise ValueError(
            f"min_should_match={m} out of range 1..{len(q)} for {q!r}")
    if meta is None:
        meta = query_term_meta(spark, index_dir, q, buckets)
    dead = tombstone_ids(index_dir)
    return merge_topk(score_segments(
        spark, index_dir, q,
        lambda pdf: _segment_topk_msm(pdf, q, m, k, meta, k1, b,
                                      blocked=dead),
        _TOPK_SCHEMA, buckets=buckets), k)


def _segment_topk_synonym(pdf: pd.DataFrame, groups: list[list[str]],
                          gidf: list[float], k: int, meta: IndexMeta,
                          k1: float, b: float,
                          blocked: np.ndarray | None = None) -> pd.DataFrame:
    """One segment's exact top-k under SynonymQuery scoring: per group,
    tf = sum of member tfs in the doc, idf fixed driver-side from the
    group's blended (max) df."""
    all_terms = sorted({t for g in groups for t in g})
    idf0 = {t: 0.0 for t in all_terms}  # member_ub unused in this kernel
    arrays = _build_term_arrays(pdf, idf0, meta.avgdl, k1, b)
    use = {t: arrays[t] for t in all_terms if t in arrays}
    if not use:
        return pd.DataFrame(_EMPTY_TOPK)
    docs = _live_union_docs(use, blocked)
    if docs.size == 0:
        return pd.DataFrame(_EMPTY_TOPK)
    scores = np.zeros(docs.size, dtype=np.float64)
    for g, idf_g in zip(groups, gidf):
        tf_sum = np.zeros(docs.size, dtype=np.float64)
        dl = np.zeros(docs.size, dtype=np.float64)
        any_hit = np.zeros(docs.size, dtype=bool)
        for t in sorted(set(g)):
            tp = use.get(t)
            if tp is None:
                continue
            pos = np.clip(np.searchsorted(tp.docs, docs), 0,
                          tp.docs.size - 1)
            hit = tp.docs[pos] == docs
            hit_idx = pos[hit]
            if hit_idx.size:
                tfs, dls = tp.tf_dl_at(hit_idx)
                tf_sum[hit] += tfs
                dl[hit] = dls  # dl is per-doc, identical across members
                any_hit |= hit
        if any_hit.any():
            scores[any_hit] += idf_g * tf_sat_np(
                tf_sum[any_hit], dl[any_hit], meta.avgdl, k1, b)
    sel = np.lexsort((docs, -scores))[:k]
    return pd.DataFrame({"doc_id": docs[sel], "score": scores[sel]})


def topk_bm25_index_synonym(
    spark: SparkSession,
    index_dir: str,
    groups: list[list[str]],
    k: int = DEFAULT_K,
    meta: IndexMeta | None = None,
    buckets: int | None = None,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Top-k BM25 where each ``groups`` entry scores as ONE pseudo-term
    (Lucene ``SynonymQuery``): tf = sum of member tfs, df = max of member
    dfs. A single-term group is exactly a plain query term, so mixed
    queries compose: ``[["spark", "pyspark"], ["join"]]``."""
    groups = [sorted({str(t) for t in g}) for g in groups if g]
    if not groups:
        raise ValueError("topk_bm25_index_synonym: no groups")
    all_terms = sorted({t for g in groups for t in g})
    if meta is None:
        meta = query_term_meta(spark, index_dir, all_terms, buckets)
    # blended statistics driver-side: df_g = max member df (Lucene's
    # SynonymQuery docFreq), bounded driver state (len(groups) floats)
    gidf = [
        idf_py(max((meta.term_df.get(t, 0.0) for t in g), default=0.0),
               meta.n_docs)
        for g in groups
    ]
    dead = tombstone_ids(index_dir)
    return merge_topk(score_segments(
        spark, index_dir, all_terms,
        lambda pdf: _segment_topk_synonym(pdf, groups, gidf, k, meta, k1, b,
                                          blocked=dead),
        _TOPK_SCHEMA, buckets=buckets), k)

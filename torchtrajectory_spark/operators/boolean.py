"""Boolean retrieval: OR (path query) and AND (strict path query).

Reference semantics:
* OR  — trajectories sharing >=1 edge with the query path,
  ``base/invertedIndex/EdgeInvertedIndex.findByPath:52-62`` (J2).
* AND — trajectories containing *all* query edges (relational division),
  ``EdgeInvertedIndex.findByStrictPath:65-89`` (J3). The reference counts
  duplicate query edges (a doc matching one repeated edge can pass) — we use
  distinct query terms, the documented divergence (SURVEY.md §2.3 J3 note).

Two physical strategies:
* corpus-direct: ``arrays_overlap`` / conjunctive ``array_contains`` on the
  tokenized corpus — single scan, zero shuffles, fully codegen'd.
* index-backed: semi-join against the postings table (see ``index.py``) —
  the 10^12-file path, where only matching term buckets are read.
Both return identical (doc_id) sets; tests assert it.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .stats import tokenized


def bool_or(df: DataFrame, query_terms: list[str], id_col: str = "doc_id",
            text_col: str = "text", analyzer: str = "ws") -> DataFrame:
    """Docs containing >= 1 query term. Single scan, no shuffle, no join."""
    tok = tokenized(df, id_col, text_col, analyzer)
    q = F.array(*[F.lit(str(t)) for t in query_terms])
    return tok.where(F.arrays_overlap("tokens", q)).select("doc_id")


def bool_and(df: DataFrame, query_terms: list[str], id_col: str = "doc_id",
             text_col: str = "text", analyzer: str = "ws") -> DataFrame:
    """Docs containing *all* distinct query terms (relational division)."""
    tok = tokenized(df, id_col, text_col, analyzer)
    terms = sorted({str(t) for t in query_terms})
    cond = reduce(
        lambda a, b: a & b,
        [F.array_contains("tokens", t) for t in terms],
    )
    return tok.where(cond).select("doc_id")


def bool_or_index(postings_flat: DataFrame, query_terms: list[str]) -> DataFrame:
    """OR over a flat postings DF (term, doc_id, ...): semi-join + distinct.

    Mirrors J2: ``postings.join(broadcast(qterms), "term").distinct()``.
    """
    q = [str(t) for t in query_terms]
    return (
        postings_flat.where(F.col("term").isin(q))
        .select("doc_id")
        .distinct()
    )


def bool_and_index(postings_flat: DataFrame, query_terms: list[str]) -> DataFrame:
    """AND via count-matching (relational division), mirrors J3."""
    terms = sorted({str(t) for t in query_terms})
    return (
        postings_flat.where(F.col("term").isin(terms))
        .groupBy("doc_id")
        .agg(F.countDistinct("term").alias("n_match"))
        .where(F.col("n_match") == F.lit(len(terms)))
        .select("doc_id")
    )


def _bool_index_blocks(spark, index_dir: str, query_terms: list[str],
                       mode: str, buckets: int | None = None) -> DataFrame:
    """Segment-local boolean retrieval straight from compressed blocks.

    One segment-aligned ``mapInPandas`` task per segment group
    (:func:`wand.score_segments`) decodes ONLY the query terms' docID
    streams (bucket+term row-group pruning, same as the WAND path) and
    computes the union / intersection with numpy set ops. Segments are
    doc-disjoint, so per-segment results concatenate with no global
    distinct — the flat-rows formulation paid a decode-explode stage
    plus a corpus-keyed shuffle for the same answer. Salted sub-lists of
    a hot term union naturally (np.unique).
    """
    import pandas as pd

    from .index import sorted_isin, tombstone_ids
    from .wand import score_segments

    q = sorted({str(t) for t in query_terms})
    nq = len(q)
    dead = tombstone_ids(index_dir)

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        out = decode_match_docs(pdf, mode, nq)
        if out is None:
            return pd.DataFrame({"doc_id": pd.Series(dtype="int64")})
        if dead is not None and out.size:
            out = out[~sorted_isin(dead, out)]  # tombstone mask
        return pd.DataFrame({"doc_id": out})

    return score_segments(spark, index_dir, q, run, "doc_id bigint",
                          columns=("term", "doc_gaps"), buckets=buckets)


def decode_match_docs(pdf, mode: str, nq: int):
    """SHARED per-segment boolean kernel: decode each term's docID
    streams from its compressed blocks (salted sub-lists of a hot term
    union via np.unique), then union (``or``) / smallest-first intersect
    (``and``) across terms. Returns a sorted unique ndarray, or None
    when an ``and`` term has no blocks in this segment (segments are
    doc-disjoint, so absence is final). The single implementation behind
    ``_bool_index_blocks``, ``facet_counts``, and the must/must_not
    clause sets of ``wand.topk_bm25_index_boolean`` — a codec or salting
    change lands in one place."""
    import numpy as np

    from ..functions import codec

    per_term = []
    for _term, grp in pdf.groupby("term"):
        arrs = [codec.decode_sorted(g) for g in grp["doc_gaps"]]
        per_term.append(np.unique(np.concatenate(arrs)))
    if not per_term or (mode == "and" and len(per_term) < nq):
        return None
    if mode == "or":
        return np.unique(np.concatenate(per_term))
    per_term.sort(key=len)
    out = per_term[0]
    for arr in per_term[1:]:
        out = np.intersect1d(out, arr, assume_unique=True)
        if out.size == 0:
            break
    return out


def match_hit_rows(blk, st, mode: str, nq: int, dead):
    """SHARED per-segment prologue of the match-then-analyze operators
    (``facet_counts`` / ``facet_ranges`` / ``sort_by_field``): boolean
    docID match via :func:`decode_match_docs`, tombstone mask, then the
    segment's doc_stats rows for the surviving docs. Returns the hit
    rows (possibly empty), or None when the segment has no match — a
    tombstone or matching fix lands in one place."""
    import numpy as np

    from .index import sorted_isin

    match = decode_match_docs(blk, mode, nq)
    if match is None:
        return None
    if dead is not None and match.size:
        match = match[~sorted_isin(dead, match)]
    if match.size == 0 or not len(st):
        return None
    return st[np.isin(st["doc_id"].to_numpy(), match)]


def bool_or_index_blocks(spark, index_dir: str, query_terms: list[str],
                         buckets: int | None = None) -> DataFrame:
    """OR (J2) from the compressed index — see ``_bool_index_blocks``."""
    return _bool_index_blocks(spark, index_dir, query_terms, "or", buckets)


def bool_and_index_blocks(spark, index_dir: str, query_terms: list[str],
                          buckets: int | None = None) -> DataFrame:
    """AND (J3) from the compressed index — see ``_bool_index_blocks``."""
    return _bool_index_blocks(spark, index_dir, query_terms, "and", buckets)


def sort_by_field(spark, index_dir: str, query_terms: list[str],
                  sort_col: str, k: int = 10, mode: str = "or",
                  ascending: bool = False,
                  buckets: int | None = None) -> DataFrame:
    """Doc-values sort (Lucene ``Sort``/``SortField`` analog): the docs
    matching the boolean query, ordered by a NUMERIC doc-store column
    instead of relevance — (doc_id, sort_value), ties doc_id ASC,
    limit k. Docs with a NULL sort value are dropped (Lucene's
    missing-values-last policy, taken to its top-k conclusion).

    Scale shape: the match and the per-segment top-k both happen inside
    one per-segment cogroup (postings blocks x doc_stats, both pruned
    and segment-partitioned); only segments x k rows shuffle into the
    global TakeOrderedAndProject merge.
    """
    import numpy as np
    import pandas as pd

    from .index import read_doc_stats, tombstone_ids
    from .wand import _q_blocks

    if mode not in ("or", "and"):
        raise ValueError(f"sort_by_field: unknown mode {mode!r}")
    q = sorted({str(t) for t in query_terms})
    nq = len(q)
    blocks = _q_blocks(spark, index_dir, q, buckets).select(
        "segment", "term", "doc_gaps"
    )
    stats = read_doc_stats(spark, index_dir).select(
        "segment", "doc_id",
        F.col(sort_col).cast("double").alias("sort_value"),
    )
    dead = tombstone_ids(index_dir)
    kk = int(k)
    empty = pd.DataFrame({"doc_id": pd.Series(dtype="int64"),
                          "sort_value": pd.Series(dtype="float64")})

    def run(blk: pd.DataFrame, st: pd.DataFrame) -> pd.DataFrame:
        hit = match_hit_rows(blk, st, mode, nq, dead)
        if hit is None:
            return empty
        hit = hit[hit["sort_value"].notna()]
        if not len(hit):
            return empty
        v = hit["sort_value"].to_numpy(dtype=np.float64)
        order = np.lexsort((hit["doc_id"].to_numpy(),
                            v if ascending else -v))[:kk]
        return hit.iloc[order][["doc_id", "sort_value"]]

    per_seg = blocks.groupBy("segment").cogroup(
        stats.groupBy("segment")
    ).applyInPandas(run, schema="doc_id bigint, sort_value double")
    key = (F.col("sort_value").asc() if ascending
           else F.col("sort_value").desc())
    return per_seg.orderBy(key, F.col("doc_id").asc()).limit(kk)


def facet_counts(spark, index_dir: str, query_terms: list[str],
                 facet_col: str, k: int = 10, mode: str = "or",
                 buckets: int | None = None) -> DataFrame:
    """Facet counts over a boolean match (Lucene facets analog): docs
    matching the query (OR / AND over distinct terms) grouped by a
    doc-store metadata column, top-k by (count DESC, value ASC).

    Scale shape: the match and the facet tally both happen INSIDE one
    per-segment cogroup (postings blocks x doc_stats, both sides
    segment-partitioned and pruned), so the only shuffled rows are the
    per-segment (value, partial_count) pairs — facet-cardinality-sized,
    never corpus-sized. The reference has no faceting; this is the
    result-set analytics surface a search UI needs.
    """
    import numpy as np
    import pandas as pd

    from .index import read_doc_stats, tombstone_ids
    from .wand import _q_blocks

    if mode not in ("or", "and"):
        raise ValueError(f"facet_counts: unknown mode {mode!r}")
    q = sorted({str(t) for t in query_terms})
    nq = len(q)
    blocks = _q_blocks(spark, index_dir, q, buckets).select(
        "segment", "term", "doc_gaps"
    )
    stats = read_doc_stats(spark, index_dir).select(
        "segment", "doc_id", F.col(facet_col).cast("string").alias("value")
    )
    dead = tombstone_ids(index_dir)

    def run(blk: pd.DataFrame, st: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"value": pd.Series(dtype="object"),
                              "cnt": pd.Series(dtype="int64")})
        hit = match_hit_rows(blk, st, mode, nq, dead)
        if hit is None:
            return empty
        vc = hit.groupby("value", dropna=False).size()
        return pd.DataFrame({"value": vc.index.astype(object),
                             "cnt": vc.to_numpy(dtype=np.int64)})

    per_seg = blocks.groupBy("segment").cogroup(
        stats.groupBy("segment")
    ).applyInPandas(run, schema="value string, cnt bigint")
    return (
        per_seg.groupBy("value").agg(F.sum("cnt").alias("n_docs"))
        # asc_nulls_last: Spark default sorts NULL FIRST in ASC while
        # DuckDB sorts NULLS LAST — a NULL facet group tying at the k
        # boundary must resolve identically on both sides (ADVICE r4)
        .orderBy(F.col("n_docs").desc(), F.col("value").asc_nulls_last())
        .limit(int(k))
    )


def facet_ranges(spark, index_dir: str, query_terms: list[str],
                 facet_col: str, width: float, mode: str = "or",
                 buckets: int | None = None) -> DataFrame:
    """Numeric range facet over a boolean match (Lucene
    ``LongRangeFacetCounts`` / Elasticsearch ``histogram`` aggregation
    analog): docs matching the query bucketed by
    ``floor(value / width) * width`` over a NUMERIC doc-store column
    (including the index's own ``dl`` doc value), one (bucket_lo,
    n_docs) row per non-empty bucket, bucket ASC. NULL values drop
    (no bucket to assign).

    Scale shape: identical to :func:`facet_counts` — match + tally
    inside one per-segment cogroup, only (bucket, partial_count) rows
    shuffle, bucket-cardinality-sized (corpus range / width), never
    corpus-sized.
    """
    import numpy as np
    import pandas as pd

    from .index import read_doc_stats, tombstone_ids
    from .wand import _q_blocks

    if mode not in ("or", "and"):
        raise ValueError(f"facet_ranges: unknown mode {mode!r}")
    import math

    w = float(width)
    if not (w > 0 and math.isfinite(w)):
        raise ValueError(
            f"facet_ranges: width must be a finite positive number, "
            f"got {width!r}")
    q = sorted({str(t) for t in query_terms})
    nq = len(q)
    blocks = _q_blocks(spark, index_dir, q, buckets).select(
        "segment", "term", "doc_gaps"
    )
    stats = read_doc_stats(spark, index_dir).select(
        "segment", "doc_id", F.col(facet_col).cast("double").alias("v")
    )
    dead = tombstone_ids(index_dir)

    def run(blk: pd.DataFrame, st: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"bucket_lo": pd.Series(dtype="float64"),
                              "cnt": pd.Series(dtype="int64")})
        hit = match_hit_rows(blk, st, mode, nq, dead)
        if hit is None:
            return empty
        v = hit["v"].to_numpy(dtype=np.float64)
        v = v[~np.isnan(v)]
        if not v.size:
            return empty
        lo = np.floor(v / w) * w
        uniq, cnt = np.unique(lo, return_counts=True)
        return pd.DataFrame({"bucket_lo": uniq,
                             "cnt": cnt.astype(np.int64)})

    per_seg = blocks.groupBy("segment").cogroup(
        stats.groupBy("segment")
    ).applyInPandas(run, schema="bucket_lo double, cnt bigint")
    return (
        per_seg.groupBy("bucket_lo").agg(F.sum("cnt").alias("n_docs"))
        .orderBy(F.col("bucket_lo").asc())
    )

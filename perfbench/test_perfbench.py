"""Tests of the benchmark's own parts.

    python -m pytest perfbench/test_perfbench.py -q

The oracle tests need no Spark; the corpus test builds two small indexes
on ``local[4]``.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import gen  # noqa: E402
from oracle import BruteForce, mismatch  # noqa: E402

DOCS = ["def f ( x ) : return x", "def g ( ) : pass", "return return return x",
        "class A : def h ( ) : return 1", "x = 1 + 2"]


@pytest.fixture
def bf():
    return BruteForce(np.arange(len(DOCS)), DOCS)


def test_oracle_ranks_by_score_then_doc_id(bf):
    top = bf.topk(["return"], 10)
    assert [d for d, _ in top] == [2, 0, 3]
    assert top[0][1] > top[1][1] > top[2][1] > 0


@pytest.mark.parametrize("perturb", [
    lambda r: [(r[0][0], r[0][1] + 1e-6), *r[1:]],       # score off
    lambda r: [r[1], r[0], *r[2:]],                      # two ranks swapped
    lambda r: r[:-1],                                    # a row missing
    lambda r: [(r[0][0] + 100, r[0][1]), *r[1:]],        # wrong doc
])
def test_mismatch_catches_a_perturbed_result(bf, perturb):
    want = bf.topk(["return", "def"], 10)
    assert mismatch(want, want) is None
    assert mismatch(perturb(want), want) is not None


def test_content_sha256(bf):
    import hashlib

    assert bf.content_sha256(3) == hashlib.sha256(DOCS[3].encode()).hexdigest()


def test_inputs_are_a_function_of_the_seed():
    assert gen.zipf_queries(5, 200) == gen.zipf_queries(5, 200)
    assert gen.hot_batches(5, 2, 64) == gen.hot_batches(5, 2, 64)
    a, b = gen.skewed_docs(3000, 5), gen.skewed_docs(3000, 5)
    assert a.equals(b)
    assert not a.equals(gen.skewed_docs(3000, 6))


def _block_ub_cv(spark, pdf, index_dir) -> float:
    """Median over the hot terms of the coefficient of variation of
    their blocks' BM25 upper bound idf * tf_sat(max_tf, min_dl); idf is
    one constant per term, so it drops out of the ratio."""
    from pyspark.sql import functions as F

    from torchtrajectory_spark.operators.index import build_index, read_postings

    build_index(spark, spark.createDataFrame(pdf).repartition(4), index_dir,
                text_col="content", analyzer="code", n_segments=2)
    blocks = (read_postings(spark, index_dir)
              .where(F.col("term").isin([str(t) for t in gen.HOT_TERMS]))
              .select("term", "max_tf", "min_dl").toPandas())
    avgdl = pdf["content"].str.split().str.len().mean()
    tf, dl = blocks["max_tf"], blocks["min_dl"]
    blocks["ub"] = tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
    g = blocks.groupby("term")["ub"]
    return float((g.std() / g.mean()).median())


def test_skewed_corpus_spreads_block_max_scores(tmp_path):
    """Block-max skipping needs block maxes that differ across a hot
    term's blocks; the engine's uniform synthetic corpus barely has that,
    the batch_hot corpus must."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    from torchtrajectory_spark.session import get_spark

    spark = get_spark("perfbench-test", cores=4)
    skewed = _block_ub_cv(spark, gen.skewed_docs(10_000, 1), str(tmp_path / "skewed"))
    uniform = _block_ub_cv(spark, gen.synth_docs(0, 10_000, 1), str(tmp_path / "uniform"))
    assert skewed > 0.03
    assert skewed > 3 * uniform

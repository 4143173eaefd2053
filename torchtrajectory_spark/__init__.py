"""torchtrajectory_spark — a PySpark-native inverted-index + BM25 top-k engine.

A from-scratch re-expression of the query/data-processing capabilities of
T-Torch (tgbnhy/torchtrajectory, SIGIR'18) as a source-code full-text engine:

- vectorized pandas/Arrow-UDF tokenization of ``content``
  (analog of map-matching, reference
  ``mapMatching/algorithm/PrecomputedHiddenMarkovModel.java:119-281``)
- SPIMI-style per-partition posting-list construction
  (analog of ``base/invertedIndex/InvertedIndex.java:49-136``)
- delta-gap + varint block compression with per-block max-score metadata
  (analog of JavaFastPFOR use at ``InvertedIndex.java:26-27,116-117``)
- block-max WAND top-k BM25 with a bounded heap
  (analog of the UB-ordered scan + early termination at
  ``base/invertedIndex/EdgeInvertedIndex.java:102-177``)
- boolean OR / AND path queries
  (``EdgeInvertedIndex.java:52-89``)
- per-partition checkpoint manifests with lineage + metrics, resumable build

Everything is DataFrame-first: Catalyst owns pushdown/pruning/join choice;
Python appears only inside Arrow-batched UDFs (tokenize, codec, WAND loop).
"""

__version__ = "0.1.0"

# first import inside a Spark task = this worker's first engine UDF:
# stop the per-task zip re-reads there (see zipguard)
from .zipguard import install_on_worker as _install_zip_guard  # noqa: E402

_install_zip_guard()

from .engine import Engine  # noqa: E402,F401  (public facade)

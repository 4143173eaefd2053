"""The two closed-loop workloads: one driver thread issues one engine
call at a time on ``local[2]``.

* ``interactive``: ``Engine.find_topk(terms, k=10).collect()`` one query at
  a time on the engine's synthetic corpus; Spark fixed cost dominates.
* ``batch_hot``: ``Engine.find_topk_many`` with 64 hot-term queries per call
  on a length-skewed corpus; transfer, decode and the UB/theta loop
  dominate, and block-max skipping actually happens.

End-to-end metrics come from untraced calls. With ``trace`` on, a seeded
half of each ten read calls is traced (job group + span), and after the
loop the run makes the per-layer decomposition calls and one write probe
(``add_documents``, ``delete``, ``compact_index``), which are extra work.
"""

from __future__ import annotations

import os
import statistics
import time
from contextlib import nullcontext

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from torchtrajectory_spark.engine import Engine
from torchtrajectory_spark.functions.codec import decode_sorted, decode_u32s
from torchtrajectory_spark.functions.tokenizer import tokenize_py
from torchtrajectory_spark.operators.index import (
    build_index,
    build_segment_postings,
    bucket_of,
    compact_index,
    emit_postings,
    index_stats,
    read_doc_stats,
    read_postings,
    tombstone_ids,
)
from torchtrajectory_spark.operators.wand import query_term_meta, topk_bm25_index

import gen
import probes
from oracle import BruteForce, mismatch

# Two task slots on a 4-core host leave two cores for the Spark driver, the
# JVM's own threads and the Python worker daemon, so that load from
# outside the run slows it less than when every core runs a task; on a
# 4-core VM two concurrent runs slowed each other's median query by up
# to 2.1x at local[4] and by 1.3x at local[2]. Sizes keep an untraced run
# near 40 s there (session start ~4 s, one build ~7 s, warmup ~4 s, 20 s
# of loop, the checks), so that 4 + 22 x 2 runs fit the benchmark's time
# budget even when a busy host makes them 1.5x slower.
CORES = 2
N_DOCS = 10_000
SEGMENTS = 2
BUCKETS = 64
K = 10
BATCH = 64
ADD_DOCS = 1_000
DELETES = 100
CHECK_SAMPLE = 16
DECOMPOSE_SAMPLE = 5
TOKENIZE_SAMPLE = 1_000
WARM_QUERIES = 8
WARM_BATCHES = 5
PAYLOAD = ["doc_gaps", "tfs", "dls"]
SCAN_COLUMNS = ["segment", "term", "n_docs", "max_tf", "min_dl", *PAYLOAD]


def _p50(xs) -> float:
    return float(statistics.median(xs))


class Run:
    """One benchmark run of one workload; ``execute`` returns the result."""

    def __init__(self, spark, session_s: float, workload: str, seed: int,
                 seconds: int, trace: bool, work: str):
        self.spark = spark
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.idx = os.path.join(work, "index")
        self.corpus_dir = os.path.join(work, "corpus")
        self.tracer = probes.Tracer(trace)
        self.jobs = probes.JobCounter(spark.sparkContext)
        self.layer: dict[str, tuple[float, str]] = {"spark.session_start_s": (session_s, "s")}
        self.session_s = session_s
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.ops: list[dict] = []         # every engine call: kind, wall, traced
        self.reads: list[dict] = []       # read calls with their results
        self.stream = (gen.hot_batches(seed, 200, BATCH) if workload == "batch_hot"
                       else gen.zipf_queries(seed, 5_000))

    # ------------------------------------------------------------ calls --
    def _call(self, kind: str, fn, traced: bool, request: str):
        """Run one engine call; a raised error counts as a failed op."""
        self.attempted += 1
        group = self.jobs.begin() if traced else None
        out = None
        host0 = probes.host_cpu_times()
        t0 = time.perf_counter()
        with self.tracer.span(kind, request) if traced else nullcontext():
            try:
                out = fn()
            except Exception as e:  # the loop goes on; the op counts as failed
                self.failed += 1
                self.errors.append(f"{kind}: {e!r}"[:400])
        wall = time.perf_counter() - t0
        op = {"kind": kind, "request": request, "wall_s": wall, "traced": traced,
              "steal": probes.steal_share(host0, probes.host_cpu_times())}
        if traced:
            op.update(self.jobs.end(group))
        self.ops.append(op)
        return out, op

    def _read(self, n: int, terms_or_batch, traced: bool) -> None:
        if self.workload == "batch_hot":
            batch = terms_or_batch
            rows, op = self._call(
                "engine.find_topk_many",
                lambda: self.engine.find_topk_many(batch, k=K).collect(),
                traced, f"read-{n}")
            got = {qid: [] for qid in batch}
            for r in rows or ():
                got[r["query_id"]].append((int(r["doc_id"]), float(r["score"])))
            for qid, terms in batch.items():
                self.reads.append({"terms": terms, "op": len(self.ops) - 1,
                                   "got": None if rows is None
                                   else sorted(got[qid], key=lambda x: (-x[1], x[0]))})
            op["queries"] = len(batch)
        else:
            terms = terms_or_batch
            rows, op = self._call(
                "engine.find_topk",
                lambda: self.engine.find_topk(terms, k=K).collect(),
                traced, f"read-{n}")
            self.reads.append({"terms": terms, "op": len(self.ops) - 1,
                               "got": None if rows is None
                               else [(int(r["doc_id"]), float(r["score"])) for r in rows]})
            op["queries"] = 1

    # ------------------------------------------------------------ setup --
    def setup(self) -> None:
        spark = self.spark
        with self.tracer.span("setup.corpus", "setup"):
            t0 = time.perf_counter()
            docs = (gen.skewed_docs(N_DOCS, self.seed) if self.workload == "batch_hot"
                    else gen.synth_docs(0, N_DOCS, self.seed))
            spark.createDataFrame(docs).repartition(CORES).write.parquet(self.corpus_dir)
            self.corpus = spark.read.parquet(self.corpus_dir)
            corpus_s = time.perf_counter() - t0
        with self.tracer.span("index.build_index", "setup"):
            cpu0, t0 = probes.cpu_seconds(os.getpid()), time.perf_counter()
            build_index(spark, self.corpus, self.idx, id_col="doc_id",
                        text_col="content", analyzer="code",
                        n_segments=SEGMENTS, buckets=BUCKETS,
                        min_input_partitions=CORES)
            self.build_s = time.perf_counter() - t0
            build_cpu_s = probes.cpu_seconds(os.getpid()) - cpu0
        with self.tracer.span("engine.from_index", "setup"):
            t0 = time.perf_counter()
            self.engine = Engine.from_index(spark, self.idx)
            open_s = time.perf_counter() - t0
        with self.tracer.span("setup.warmup", "setup"):
            # the stream's tail, which the loop never reaches
            t0 = time.perf_counter()
            if self.workload == "batch_hot":
                for batch in self.stream[-WARM_BATCHES:]:
                    self.engine.find_topk_many(batch, k=K).collect()
            else:
                for q in self.stream[-WARM_QUERIES:]:
                    self.engine.find_topk(q, k=K).collect()
            warm_s = time.perf_counter() - t0
        self.setup_parts = {"session_s": self.session_s, "corpus_s": corpus_s,
                            "build_s": self.build_s, "open_s": open_s,
                            "warmup_s": warm_s}
        self.setup_s = sum(self.setup_parts.values())
        self.layer["engine.open_ms"] = (open_s * 1e3, "ms")
        self.layer["index.build_cpu_s"] = (build_cpu_s, "s")

    # ------------------------------------------------------------- loop --
    def loop(self) -> None:
        """Closed loop for ``seconds``. With tracing on, a seeded five of
        each ten read calls are traced and the other five are not, so both
        halves see the same share of the stream's repeated term sets."""
        rng = np.random.default_rng([self.seed, 4])
        mask = np.concatenate([rng.permutation(10) < 5
                               for _ in range(len(self.stream) // 10)])
        deadline = time.perf_counter() + self.seconds
        n = 0

        def short() -> bool:
            # at least one untraced read and, when tracing, one traced read
            traced = int(mask[:n].sum()) if self.trace else 0
            return n == traced or (self.trace and traced == 0)

        while time.perf_counter() < deadline or short():
            self._read(n, self.stream[n], self.trace and bool(mask[n]))
            n += 1

    def _write_probe(self) -> None:
        """One ``add_documents`` of ADD_DOCS new docs as one segment, one
        ``delete`` of DELETES seeded ids, then one ``compact_index`` into
        a fresh directory; every call traced."""
        new = self.spark.createDataFrame(gen.synth_docs(N_DOCS, ADD_DOCS, self.seed))
        self._call("engine.add_documents", lambda: self.engine.add_documents(new),
                   True, "write")
        ids = np.sort(np.random.default_rng([self.seed, 5]).choice(
            N_DOCS + ADD_DOCS, DELETES, replace=False))
        self._call("engine.delete", lambda: self.engine.delete(ids.tolist()),
                   True, "write")
        self.compact_dir = self.idx + "_compact"
        self._call("index.compact_index",
                   lambda: compact_index(self.spark, self.idx, self.compact_dir),
                   True, "write")

    # ------------------------------------------------------------ check --
    def check(self) -> None:
        """Compare a seeded sample of the loop's results with the
        brute-force oracle, and the sampled rows' ``content_sha256``
        with the generated content; a call with any mismatch in its
        sampled results is one failed op."""
        docs = (pq.read_table(self.corpus_dir, columns=gen.CORPUS_COLUMNS).to_pandas()
                .sort_values("doc_id", ignore_index=True))
        self.content_bytes = int(docs["content"].str.encode("utf-8").str.len().sum())
        bf = BruteForce(docs["doc_id"].to_numpy(), docs["content"].tolist())
        answered = [r for r in self.reads if r["got"] is not None]
        pick = np.random.default_rng([self.seed, 9]).choice(
            len(answered), min(CHECK_SAMPLE, len(answered)), replace=False)
        sampled = [answered[i] for i in sorted(pick)]
        wrong: set[int] = set()  # indexes into self.ops
        for r in sampled:
            why = mismatch(r["got"], bf.topk(r["terms"], K))
            if why:
                wrong.add(r["op"])
                self.errors.append(f"result of {r['terms']}: {why}")
        seen = {d for r in sampled for d, _ in r["got"]}
        if seen:
            stored = (read_doc_stats(self.spark, self.idx)
                      .where(F.col("doc_id").isin(sorted(seen)))
                      .select("doc_id", "content_sha256").collect())
            by_id = {int(r["doc_id"]): r["content_sha256"] for r in stored}
            for d in sorted(seen):
                if by_id.get(d) != bf.content_sha256(d):
                    wrong.update(r["op"] for r in sampled if d in dict(r["got"]))
                    self.errors.append(f"doc_stats.content_sha256 of doc {d}")
        self.failed += len(wrong)
        self.checked = len(pick)
        self.docs = docs

    # ----------------------------------------------------- end to end --
    def end_to_end(self, loop_cpu_s: float) -> dict:
        walls = [o["wall_s"] for o in self.ops if "queries" in o and not o["traced"]]
        index_bytes, _ = probes.du(self.idx)
        return {
            "setup_s": (self.setup_s, "s"),
            "build_files_per_s": (N_DOCS / self.build_s, "files/s"),
            "read_p50_ms": (_p50(walls) * 1e3, "ms"),
            "cpu_ms_per_op": (loop_cpu_s * 1e3 / len(self.ops), "ms"),
            "worker_rss_peak_mb": (self.peak_mb["children"], "MB"),
            "index_bytes_per_content_byte": (index_bytes / self.content_bytes, "ratio"),
        }

    def extras(self) -> dict:
        """Workload-specific figures kept in the result file."""
        out = {}
        reads = [o for o in self.ops if "queries" in o and not o["traced"]]
        if reads:
            out["read_qps"] = (sum(o["queries"] for o in reads)
                               / sum(o["wall_s"] for o in reads), "queries/s")
        out["read_calls"] = (sum("queries" in o for o in self.ops), "count")
        out.update({f"setup.{k}": (v, "s") for k, v in self.setup_parts.items()})
        # the JVM's RSS follows G1's heap sizing more than the engine's use
        # (+-20% between runs of one seed), so it is kept out of the gated set
        out["jvm_rss_peak_mb"] = (self.peak_mb["root"], "MB")
        out["rss_peak_mb"] = (self.peak_mb["total"], "MB")
        return out

    # -------------------------------------------------------- per layer --
    def per_layer(self) -> dict:
        spark, L = self.spark, self.layer
        traced = [o for o in self.ops if "queries" in o and o["traced"]]
        plain = [o for o in self.ops if "queries" in o and not o["traced"]]
        nq = sum(o["queries"] for o in traced)
        for key in ("jobs", "stages", "tasks"):
            L[f"spark.{key}_per_query"] = (sum(o[key] for o in traced) / nq, "count")
        L["spark.failed_tasks"] = (sum(o.get("failed_tasks", 0) for o in self.ops), "count")
        L["trace.overhead_ratio"] = (_p50([o["wall_s"] for o in traced])
                                     / _p50([o["wall_s"] for o in plain]), "ratio")
        seen, repeats = set(), 0
        for r in self.reads:
            key = frozenset(r["terms"])
            repeats += key in seen
            seen.add(key)
        L["engine.term_set_repeat_share"] = (repeats / len(self.reads), "ratio")

        # index state at the end of the loop, before the write probe
        stats = index_stats(spark, self.idx).toPandas()
        L["index.compression_ratio"] = (stats["raw_bytes"].sum()
                                        / stats["payload_bytes"].sum(), "ratio")
        for name, subdirs in (("postings", ["postings"]), ("doc_stats", ["doc_stats"]),
                              ("terms", ["terms", "terms_sorted"])):
            L[f"index.{name}_bytes"] = (sum(probes.du(os.path.join(self.idx, d))[0]
                                            for d in subdirs), "bytes")
        L["index.files"] = (probes.du(self.idx)[1], "count")

        self._decompose_queries()
        self._decompose_build()
        # the loops only read: one write probe after them measures the
        # write-side layers on this workload's index
        self._write_probe()
        wall = {o["kind"]: o["wall_s"] for o in self.ops if o["request"] == "write"}
        L["index.add_ms"] = (wall["engine.add_documents"] * 1e3, "ms")
        L["index.delete_ms"] = (wall["engine.delete"] * 1e3, "ms")
        ts = tombstone_ids(self.idx)
        L["index.segments_end"] = (len(index_stats(spark, self.idx).collect()), "count")
        L["index.tombstones_end"] = (0 if ts is None else int(ts.size), "count")
        L["index.compact_bytes_rewritten"] = (probes.du(self.compact_dir)[0], "bytes")
        self._tokenizer_rate()
        return L

    def _decompose_queries(self) -> None:
        """query_term_meta -> postings scan -> codec decode ->
        topk_bm25_index(meta=...) on a seeded sample of the loop's queries."""
        spark, idx = self.spark, self.idx
        m0 = query_term_meta(spark, idx, [], BUCKETS)
        scalars = (m0.n_docs, m0.avgdl)  # cached per opened index, as Engine does
        pick = np.random.default_rng([self.seed, 10]).choice(
            len(self.reads), min(DECOMPOSE_SAMPLE, len(self.reads)), replace=False)
        rows = []
        for i in sorted(pick):
            q = sorted(set(self.reads[i]["terms"]))
            req = f"decompose-{i}"
            with self.tracer.span("decompose", req):
                t0 = time.perf_counter()
                with self.tracer.span("wand.query_term_meta"):
                    meta = query_term_meta(spark, idx, q, BUCKETS, scalars)
                t1 = time.perf_counter()
                with self.tracer.span("index.postings_scan"):
                    bks = sorted({bucket_of(t, BUCKETS) for t in q})
                    pdf = (read_postings(spark, idx).where(F.col("bucket").isin(bks))
                           .where(F.col("term").isin(q)).select(*SCAN_COLUMNS).toPandas())
                t2 = time.perf_counter()
                with self.tracer.span("codec.decode"):
                    for gaps, tfs, dls in zip(*(pdf[c] for c in PAYLOAD)):
                        decode_sorted(gaps)
                        decode_u32s(tfs)
                        decode_u32s(dls)
                t3 = time.perf_counter()
                with self.tracer.span("wand.topk_bm25_index"):
                    res = topk_bm25_index(spark, idx, q, K, meta=meta,
                                          buckets=BUCKETS).collect()
                t4 = time.perf_counter()
            nbytes = int(sum(pdf[c].map(len).sum() for c in PAYLOAD)) if len(pdf) else 0
            rows.append({"meta": t1 - t0, "scan": t2 - t1, "decode": t3 - t2,
                         "topk": t4 - t3, "blocks": len(pdf), "bytes": nbytes,
                         "cands": int(pdf["n_docs"].sum()) if len(pdf) else 0,
                         "results": len(res)})
        L = self.layer
        med = lambda k: _p50([r[k] for r in rows]) * 1e3  # noqa: E731
        mean = lambda k: sum(r[k] for r in rows) / len(rows)  # noqa: E731
        L["wand.term_meta_ms"] = (med("meta"), "ms")
        L["wand.topk_ms"] = (med("topk"), "ms")
        L["wand.residual_ms"] = (_p50([r["topk"] - r["scan"] - r["decode"]
                                       for r in rows]) * 1e3, "ms")
        L["wand.candidates_per_query"] = (mean("cands"), "count")
        L["wand.results_per_candidate"] = (sum(r["results"] for r in rows)
                                           / max(1, sum(r["cands"] for r in rows)), "ratio")
        L["index.postings_scan_ms"] = (med("scan"), "ms")
        L["index.blocks_read_per_query"] = (mean("blocks"), "count")
        L["index.bytes_read_per_query"] = (mean("bytes"), "bytes")
        L["codec.decode_ms"] = (med("decode"), "ms")
        L["codec.blocks_decoded_per_query"] = (mean("blocks"), "count")
        L["codec.decode_mb_per_s"] = (sum(r["bytes"] for r in rows) / 1e6
                                      / sum(r["decode"] for r in rows), "MB/s")

    def _decompose_build(self) -> None:
        """emit_postings and build_segment_postings over the whole corpus,
        each into Spark's noop sink."""
        spark = self.spark
        key = "spark.sql.adaptive.coalescePartitions.enabled"
        prev = spark.conf.get(key)
        spark.conf.set(key, "false")  # as build_index sets it for its shuffle
        try:
            with self.tracer.span("index.emit_postings", "build-decompose"):
                t0 = time.perf_counter()
                emit_postings(self.corpus, "doc_id", "content", "code") \
                    .write.format("noop").mode("overwrite").save()
                emit_s = time.perf_counter() - t0
            with self.tracer.span("index.build_segment_postings", "build-decompose"):
                t0 = time.perf_counter()
                build_segment_postings(spark, self.corpus, "doc_id", "content", "code",
                                       BUCKETS).write.format("noop").mode("overwrite").save()
                seg_s = time.perf_counter() - t0
        finally:
            spark.conf.set(key, prev)
        self.layer["index.emit_s"] = (emit_s, "s")
        self.layer["index.segment_postings_s"] = (seg_s, "s")
        self.layer["index.build_commit_s"] = (self.build_s - seg_s, "s")

    def _tokenizer_rate(self) -> None:
        """Single-threaded ``tokenize_py(..., "code")`` over a seeded
        sample of the corpus; median of three passes."""
        pick = np.random.default_rng([self.seed, 11]).choice(
            len(self.docs), TOKENIZE_SAMPLE, replace=False)
        texts = self.docs["content"].iloc[np.sort(pick)].tolist()
        rates = []
        for _ in range(3):
            t0 = time.perf_counter()
            n = sum(len(tokenize_py(t, "code")) for t in texts)
            rates.append(n / (time.perf_counter() - t0))
        self.layer["tokenizer.tokens_per_s"] = (_p50(rates), "tokens/s")

    # ---------------------------------------------------------- driver --
    def execute(self) -> dict:
        """Set up, run the loop, check outputs; return metrics and state."""
        peak = probes.PeakRss(self.spark.sparkContext._gateway.proc.pid)
        peak.start()
        try:
            self.setup()
            cpu0 = probes.cpu_seconds(os.getpid())
            self.loop()
            loop_cpu_s = probes.cpu_seconds(os.getpid()) - cpu0
        finally:
            self.peak_mb = peak.stop()
        self.check()
        metrics = (self.per_layer() if self.trace
                   else self.end_to_end(loop_cpu_s))
        return {
            "metrics": metrics,
            "extras": self.extras(),
            "attempted": self.attempted,
            "failed": self.failed,
            "checked_results": self.checked,
            "errors": self.errors,
            "ops": self.ops,
            "spans": self.tracer.spans,
        }

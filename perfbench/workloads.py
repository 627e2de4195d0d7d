"""The benchmark's workloads, each driving public ``vspace_spark``
entry points with default arguments except the ones that define the
workload.

A workload object exposes:

- ``cold``: whether its measured pass is the first in a fresh session;
- ``warm_up(spark)``: untimed set-up work and, unless ``cold``, one pass
  over a warm-up input;
- ``run_once(spark)``: one timed pass over the full input, returning a
  ``Rep`` whose outputs were checked after the clock stopped;
- ``traced(spark, tracer)``: the same pass with a span around every
  layer call, returning the layer counters.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
import uuid
from dataclasses import dataclass, field

import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
from vspace_spark.functions import text
from vspace_spark.io import sinks, sources
from vspace_spark.operators import stats
from vspace_spark.operators.dedup import hierarchical_codebook, minhash_lsh_pairs
from vspace_spark.operators.graph import dedup_clusters
from vspace_spark.operators.similarity import ivf_topk
from vspace_spark.operators.textanalysis import quality_score
from vspace_spark.pipelines import corpus_job
from vspace_spark.streaming.corpus import DOCUMENTS_SCHEMA, streaming_term_stats

# Output checks: the share of true near-duplicate pairs found, of
# emitted pairs that are true, and of exact top-10 neighbours returned,
# below which a repetition counts as failed.
PAIR_RECALL_FLOOR = 0.8
PAIR_PRECISION_FLOOR = 0.8
RECALL_AT_10_FLOOR = 0.75


@dataclass
class Rep:
    """One timed pass: wall time, per-batch latencies, the output's
    accuracy against the expected output (1.0 = exact), accuracy
    details, and why its output check failed (``None`` if it passed)."""

    seconds: float
    start: float = 0.0  # perf_counter at the start of the pass
    batches: list[float] = field(default_factory=list)
    accuracy: float = 0.0
    guards: dict[str, float] = field(default_factory=dict)
    error: str | None = None


def _files(path: str) -> list[str]:
    return [
        os.path.join(d, f)
        for d, _, fs in os.walk(path)
        for f in fs
        if not f.startswith((".", "_"))
    ]


def _null_step(name, fn):
    return fn()


class CorpusJob:
    """``pipelines.corpus_job.run_job`` over the five input formats. A
    batch job runs once per session, so the measured pass is cold.

    Its traced run also traces ``streaming.corpus``: the same term
    statistics computed by a stream (see ``StatsStream``)."""

    name = "corpus_job"
    cold = True
    has_batches = False

    def __init__(self, inputs: str, work: str, seed: int):
        self.dir, self.meta = gen.generate(self.name, seed, inputs)
        self.out = os.path.join(work, "out", self.name)
        self.stream = StatsStream(inputs, work, seed)

    def config(self) -> corpus_job.JobConfig:
        d = self.dir
        return corpus_job.JobConfig(
            stagingloc=d,
            corpus=os.path.join(d, "corpus.txt"),
            index2doc=os.path.join(d, "index.tsv"),
            src2sub=os.path.join(d, "src2sub.txt"),
            phrases=os.path.join(d, "phrases.txt"),
            collections=os.path.join(d, "collections.txt"),
            output_folder=self.out,
            maxngrams=gen.PARAMS[self.name]["maxngrams"],
        )

    def warm_up(self, spark) -> None:
        pass

    def run_once(self, spark) -> Rep:
        t0 = time.perf_counter()
        corpus_job.run_job(spark, self.config())
        return self.check(Rep(time.perf_counter() - t0))

    def check(self, rep: Rep) -> Rep:
        """Compare both stats outputs with the generator's rows."""
        cols = {
            "global": ["token", "document_frequency", "term_frequency", "tdsum"],
            "source": ["token", "source", "document_frequency", "term_frequency", "tdsum"],
        }
        agreement = {}
        for label, names in cols.items():
            table = pq.read_table(os.path.join(self.out, f"{label}_stats"))
            got = zip(*(table.column(c).to_pylist() for c in names))
            if label == "source":  # the partition column reads back as a category
                got = ((t, str(s), *rest) for t, s, *rest in got)
            agreement[label] = gen.row_agreement(got, gen.read_expected(self.dir, label))
        rep.accuracy = min(agreement.values())
        bad = [f"{k}_stats agreement {v:.4f}" for k, v in agreement.items() if v != 1.0]
        rep.error = "; ".join(bad) or None
        return rep

    def traced(self, spark, tr) -> tuple[Rep, dict[str, float]]:
        """``run_job`` itself, with every layer function it resolves at
        call time replaced by a span-and-materialise shim."""
        calls = tr.calls
        shims = [
            (sources, fn, f"io.sources.{fn}")
            for fn in ("load_phrases", "load_collections", "load_raw_corpus", "load_index", "load_sources")
        ] + [
            (sinks, "write_parquet", "io.sinks.write_parquet"),
            (corpus_job, "build_vocabulary", "operators.stats.build_vocabulary"),
            (corpus_job, "term_stats", "operators.stats.term_stats"),
            (stats, "tokenized_documents", "operators.stats.tokenized_documents"),
            (stats, "compute_stats", "operators.stats.compute_stats"),
            (
                corpus_job,
                "combine_corpus_with_sources",
                "pipelines.corpus_job.combine_corpus_with_sources",
            ),
        ]
        untraced_tokenize = stats.tokenized_documents
        t0 = time.perf_counter()
        with tr.patched(shims, normalizer=(text, "normalize_col", "functions.text.normalize")):
            with tr.span("pipelines.corpus_job.run_job"):
                corpus_job.run_job(spark, self.config())
        rep = self.check(Rep(time.perf_counter() - t0, start=t0))

        # counters, outside every span, from the frames the shims saw
        def first(name):
            return next(c for c in calls if c["name"] == name)

        tok = first("operators.stats.tokenized_documents")
        ungated = dict(tok["kwargs"], vocabulary=None)
        exploded = untraced_tokenize(*tok["args"], **ungated).agg(F.sum("tf")).first()[0]
        kept = tok["out"].agg(F.sum("tf")).first()[0]
        docs = first("io.sources.load_raw_corpus")["out"].count()
        with_source = first("pipelines.corpus_job.combine_corpus_with_sources")["out"]
        cfg = self.config()
        inputs = [cfg.corpus, cfg.index2doc, cfg.src2sub, cfg.phrases, cfg.collections]
        written = _files(cfg.output_folder)
        counters = {
            "io.sources.docs_out": docs,
            "io.sources.bytes_in": sum(os.path.getsize(p) for p in inputs),
            "operators.stats.grams_exploded": exploded,
            "operators.stats.gate_keep_ratio": kept / exploded,
            "pipelines.corpus_job.source_fanout": with_source.count() / docs,
            "io.sinks.bytes_written": sum(os.path.getsize(p) for p in written),
            "io.sinks.files_written": len(written),
        }
        self.stream.warm_up(spark)
        stream_rep, stream_counters = self.stream.traced(spark, tr)
        if stream_rep.error:
            rep.error = "; ".join(filter(None, (rep.error, stream_rep.error)))
        return rep, {**counters, **stream_counters}


class NearDedup:
    """Near-duplicate removal: ``minhash_lsh_pairs`` candidate pairs
    kept at the threshold, ``dedup_clusters`` over them, then the best
    document of each cluster by ``quality_score``. The kept pairs are
    an eager ``localCheckpoint`` between the pair and cluster stages,
    the stage boundary the repository's own multi-stage queries use.
    A batch job, so the measured pass is cold, like ``CorpusJob``'s."""

    name = "near_dedup"
    cold = True
    has_batches = False

    def __init__(self, inputs: str, work: str, seed: int):
        self.dir, self.meta = gen.generate(self.name, seed, inputs)
        self.p = gen.PARAMS[self.name]
        with open(os.path.join(self.dir, "true_pairs.json")) as fh:
            self.true_pairs = {tuple(x) for x in json.load(fh)}

    def pipeline(self, spark, step=_null_step):
        """The workload's calls; ``step(name, fn)`` runs each layer call.
        Returns the kept pairs, the cluster labels and the keepers."""
        docs = spark.read.parquet(os.path.join(self.dir, "docs.parquet"))
        pairs = step(
            "operators.dedup.minhash_lsh_pairs",
            lambda: minhash_lsh_pairs(docs, shingle_n=self.p["shingle_n"])
            .filter(F.col("est_jaccard") >= self.p["threshold"])
            .select("a", "b")
            .localCheckpoint(),
        )
        comps = step("operators.graph.dedup_clusters", lambda: dedup_clusters(docs, pairs))
        quality = step(
            "operators.textanalysis.quality_score",
            lambda: docs.select("doc_id", quality_score("text").alias("quality")),
        )
        best = (
            comps.join(quality, "doc_id")
            .groupBy("component")
            .agg(F.max(F.struct("quality", (-F.col("doc_id")).alias("negid"))).alias("m"))
            .select("component", (-F.col("m.negid")).alias("keeper"))
        )
        return (
            [tuple(r) for r in pairs.collect()],
            [tuple(r) for r in comps.select("doc_id", "component").collect()],
            [tuple(r) for r in best.collect()],
        )

    def warm_up(self, spark) -> None:
        pass

    def run_once(self, spark) -> Rep:
        t0 = time.perf_counter()
        out = self.pipeline(spark)
        return self.check(Rep(time.perf_counter() - t0), *out)

    def check(self, rep: Rep, pairs, labels, keepers) -> Rep:
        """Pairs against the exact-Jaccard pairs; clusters against the
        connected components of the kept pairs; one keeper per cluster."""
        found = {(min(a, b), max(a, b)) for a, b in pairs}
        hit = len(found & self.true_pairs)
        recall = hit / len(self.true_pairs)
        precision = hit / max(1, len(found))
        rep.guards = {"pair_recall": recall, "pair_precision": precision}
        rep.accuracy = 2 * recall * precision / max(1e-12, recall + precision)
        clusters: dict[int, set] = {}
        for doc, comp in labels:
            clusters.setdefault(comp, set()).add(doc)
        errors = []
        if recall < PAIR_RECALL_FLOOR:
            errors.append(f"pair recall {recall:.3f} < {PAIR_RECALL_FLOOR}")
        if precision < PAIR_PRECISION_FLOOR:
            errors.append(f"pair precision {precision:.3f} < {PAIR_PRECISION_FLOOR}")
        expected = gen.components(sorted(doc for doc, _ in labels), found)
        if len(labels) != self.meta["docs"] or sorted(map(frozenset, clusters.values()), key=min) != expected:
            errors.append("clusters differ from the components of the kept pairs")
        if sorted(c for c, _ in keepers) != sorted(clusters) or any(
            k not in clusters.get(c, ()) for c, k in keepers
        ):
            errors.append("not one keeper inside each cluster")
        rep.error = "; ".join(errors) or None
        return rep

    def traced(self, spark, tr) -> tuple[Rep, dict[str, float]]:
        t0 = time.perf_counter()
        out = self.pipeline(spark, tr.step)
        rep = self.check(Rep(time.perf_counter() - t0, start=t0), *out)
        docs = spark.read.parquet(os.path.join(self.dir, "docs.parquet"))
        candidates = {
            (min(a, b), max(a, b))
            for a, b in minhash_lsh_pairs(docs, shingle_n=self.p["shingle_n"])
            .select("a", "b")
            .collect()
        }
        return rep, {
            "operators.dedup.candidate_pairs": len(candidates),
            "operators.dedup.verified_ratio": len(candidates & self.true_pairs)
            / max(1, len(candidates)),
            **rep.guards,
        }


class StatsStream:
    """``streaming.corpus.streaming_term_stats`` over a file stream that
    replays the documents one file per trigger, run to completion. Not
    a workload of its own: ``CorpusJob``'s traced run traces it."""

    name = "stats_stream"

    def __init__(self, inputs: str, work: str, seed: int):
        self.dir, self.meta = gen.generate(self.name, seed, inputs)
        self.work = os.path.join(work, "stream")
        self.max_n = gen.PARAMS[self.name]["max_n"]

    def _stream(self, spark, folder="documents.parquet", tracer=None):
        """Run one stream over ``folder`` to completion; returns the
        query, its wall time, and the final state as rows."""
        tag = "s" + uuid.uuid4().hex[:12]
        ckpt = os.path.join(self.work, tag)
        src = (
            spark.readStream.schema(DOCUMENTS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(self.dir, folder))
        )
        t0 = time.perf_counter()
        query = (
            streaming_term_stats(src, 1, self.max_n)
            .writeStream.format("memory")
            .queryName(tag)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        if tracer is not None:
            tracer.adopt_group(str(query.runId), len(tracer.spans) - 1)
        query.awaitTermination()
        elapsed = time.perf_counter() - t0
        rows = [tuple(r) for r in spark.table(tag).collect()]
        spark.catalog.dropTempView(tag)
        shutil.rmtree(ckpt, ignore_errors=True)
        return query, elapsed, rows

    def warm_up(self, spark) -> None:
        self._stream(spark, "warmup.parquet")

    def _rep(self, query, elapsed, rows) -> Rep:
        rep = Rep(elapsed)
        rep.batches = [p["durationMs"]["triggerExecution"] / 1e3 for p in query.recentProgress]
        rep.accuracy = gen.row_agreement(rows, gen.read_expected(self.dir, "stats"))
        if rep.accuracy != 1.0:
            rep.error = f"stream state agreement {rep.accuracy:.4f}"
        elif len(rep.batches) != gen.PARAMS[self.name]["files"]:
            rep.error = f"{len(rep.batches)} micro-batches, expected one per file"
        return rep

    def run_once(self, spark) -> Rep:
        return self._rep(*self._stream(spark))

    def traced(self, spark, tr) -> tuple[Rep, dict[str, float]]:
        with tr.span("streaming.corpus.streaming_term_stats"):
            query, elapsed, rows = self._stream(spark, tracer=tr)
        progress = query.recentProgress
        state = progress[-1]["stateOperators"][0]
        counters = {
            "streaming.corpus.batches": len(progress),
            "streaming.corpus.add_batch_ms": statistics.median(
                p["durationMs"]["addBatch"] for p in progress
            ),
            "streaming.corpus.trigger_ms": statistics.median(
                p["durationMs"]["triggerExecution"] for p in progress
            ),
            "streaming.corpus.state_rows": state["numRowsTotal"],
            "streaming.corpus.state_mem_mb": state["memoryUsedBytes"] / 2**20,
        }
        return self._rep(query, elapsed, rows), counters


class AnnTopk:
    """A single-client closed loop of query batches, each one
    ``operators.similarity.ivf_topk`` call (k=10) with the centers
    ``operators.dedup.hierarchical_codebook`` trained during set-up."""

    name = "ann_topk"
    cold = False
    has_batches = True
    # too few batches for a quantile with ten beyond it: the slowest
    tail_q = 1.0

    def __init__(self, inputs: str, work: str, seed: int):
        self.dir, self.meta = gen.generate(self.name, seed, inputs)
        self.p = gen.PARAMS[self.name]
        with open(os.path.join(self.dir, "exact_topk.json")) as fh:
            self.exact = {int(q): set(ns) for q, ns in json.load(fh).items()}
        self.centers = None

    def _corpus(self, spark):
        return spark.read.parquet(os.path.join(self.dir, "corpus.parquet"))

    def train(self, spark):
        return hierarchical_codebook(self._corpus(spark), self.p["n_cells"])[0]

    def _loop(self, spark, prefix: str, count: int, step=_null_step):
        corpus = self._corpus(spark)
        rows, batches = [], []
        for b in range(count):
            t0 = time.perf_counter()
            queries = spark.read.parquet(os.path.join(self.dir, f"{prefix}-{b:03d}.parquet"))
            rows += step(
                "operators.similarity.ivf_topk",
                lambda: ivf_topk(queries, corpus, k=self.p["k"], centers=self.centers).collect(),
            )
            batches.append(time.perf_counter() - t0)
        return rows, batches

    def warm_up(self, spark) -> None:
        self.centers = self.train(spark)
        self._loop(spark, "warmup", self.p["warmup_batches"])

    def run_once(self, spark, step=_null_step) -> Rep:
        t0 = time.perf_counter()
        rows, batches = self._loop(spark, "batch", self.p["batches"], step)
        rep = Rep(time.perf_counter() - t0, start=t0, batches=batches)
        got: dict[int, list[int]] = {}
        for r in rows:
            got.setdefault(r["query_id"], []).append(r["neighbor_id"])
        k = self.p["k"]
        recall = statistics.mean(
            len(set(got.get(q, ())) & ns) / k for q, ns in self.exact.items()
        )
        rep.accuracy = recall
        rep.guards = {"recall_at_10": recall}
        if any(len(v) != k for v in got.values()) or got.keys() != self.exact.keys():
            rep.error = f"not exactly {k} neighbours for every query"
        elif recall < RECALL_AT_10_FLOOR:
            rep.error = f"recall@10 {recall:.3f} < {RECALL_AT_10_FLOOR}"
        return rep

    def traced(self, spark, tr) -> tuple[Rep, dict[str, float]]:
        # set-up's training again, under its own span, outside the timed pass
        with tr.span("operators.dedup.hierarchical_codebook"):
            self.centers = self.train(spark)
        rep = self.run_once(spark, tr.step)
        return rep, dict(rep.guards)


WORKLOADS = {w.name: w for w in (CorpusJob, NearDedup, AnnTopk)}

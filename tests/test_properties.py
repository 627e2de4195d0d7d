"""Property-based tests (FIXTURES.md §7): invariants of the term-
statistics pipeline over hypothesis-generated corpora."""

from __future__ import annotations

import re
from collections import Counter

import pytest

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Row
from pyspark.sql import functions as F

from vspace_spark.operators.stats import term_stats, tokenized_documents

WORDS = st.sampled_from(
    ["the", "a", "data", "spark", "nferdoccount_1", "x", "query", "join"]
)
DOC = st.lists(WORDS, min_size=0, max_size=12).map(" ".join)
CORPUS = st.lists(DOC, min_size=1, max_size=8)


def _docs_df(spark, texts):
    return spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    )


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(corpus=CORPUS)
def test_stats_invariants(spark, corpus):
    docs = _docs_df(spark, corpus)
    stats = term_stats(docs, min_n=1, max_n=2).collect()
    for r in stats:
        # 1. tf ≥ df for every token
        assert r.term_frequency >= r.document_frequency
        # 4. no token MATCHES the anchored docid pattern (the reference
        # gate is a full-match on the gram string — a bigram containing
        # a docid token legitimately survives, base.py:378,386)
        import re

        assert not re.fullmatch(r"nferdoccount_[0-9]+", r.token)
        # 5. n-gram bound is exact
        assert r.token.count(" ") <= 1
        # tdsum ≥ df (every containing doc has wc ≥ 1)
        assert r.tdsum >= r.document_frequency


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(corpus=CORPUS)
def test_unigram_conservation(spark, corpus):
    """2. Σ tf over a doc's unigrams = that doc's wc (minus dropped
    docid tokens)."""
    docs = _docs_df(spark, corpus)
    perdoc = tokenized_documents(docs).collect()
    by_doc: dict[int, list] = {}
    for r in perdoc:
        by_doc.setdefault(r.doc_id, []).append(r)
    for doc_id, rows in by_doc.items():
        text = corpus[doc_id]
        kept = [
            w
            for w in text.split()
            if w and not w.startswith("nferdoccount_")
        ]
        assert sum(r.tf for r in rows) == len(kept)
        # wc counts ALL unigrams pre-filter (reference semantics)
        assert all(r.wc == len([w for w in text.split() if w]) for r in rows)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(corpus=CORPUS)
def test_per_source_vs_global_df(spark, corpus):
    """3. Global document_frequency = Σ per-source df when each doc has
    exactly one source."""
    docs = _docs_df(spark, corpus).withColumn(
        "source", F.concat(F.lit("s"), (F.col("doc_id") % 2).cast("string"))
    )
    global_stats = {
        r.token: r.document_frequency
        for r in term_stats(docs, min_n=1, max_n=1).collect()
    }
    per_source = term_stats(docs, group_cols=["source"], min_n=1, max_n=1)
    summed = {
        r.token: r.total
        for r in per_source.groupBy("token")
        .agg(F.sum("document_frequency").alias("total"))
        .collect()
    }
    assert summed == global_stats


def _oracle_doc_tokens(texts, max_n, vocab, split=str.split):
    """Plain-Python vocabulary-gated per-document counts,
    ``{(doc_id, token): (wc, tf)}``: every gram of every document, docid
    grams dropped, a gram containing a space kept only if in ``vocab``
    (reference DAWG gate, vspace/pipelines/base.py:385-389)."""
    out = {}
    for doc_id, text in enumerate(texts):
        toks = split(text)
        grams = Counter(
            " ".join(toks[j : j + n])
            for n in range(1, max_n + 1)
            for j in range(len(toks) - n + 1)
        )
        for gram, tf in grams.items():
            if re.fullmatch(r"nferdoccount_[0-9]+", gram):
                continue
            if " " in gram and gram not in vocab:
                continue
            out[(doc_id, gram)] = (len(toks), tf)
    return out


def _gated(spark, texts, vocab_rows, max_n, **kwargs):
    vocab = spark.createDataFrame([(t,) for t in vocab_rows], "token string")
    rows = tokenized_documents(
        _docs_df(spark, texts), max_n=max_n, vocabulary=vocab, **kwargs
    ).collect()
    return {(r.doc_id, r.token): (r.wc, r.tf) for r in rows}


def test_gate_custom_tokenizer_spaced_unigrams(spark):
    """A tokenizer whose unigrams contain spaces: those unigrams are
    gated like multi-grams (kept only when in vocabulary)."""
    texts = ["new york,boston,new york", "boston,la paz,boston"]
    vocab = ["new york", "boston new york", "la paz boston"]
    got = _gated(
        spark, texts, vocab, max_n=2, tokenizer=lambda c: F.split(c, ",")
    )
    want = _oracle_doc_tokens(texts, 2, set(vocab), split=lambda t: t.split(","))
    assert got == want
    assert (0, "new york") in got and (1, "la paz") not in got


def test_gate_duplicate_vocabulary_rows_do_not_multiply(spark):
    texts = ["the data spark data spark", "data spark join"]
    vocab = ["data spark", "data spark", "data spark", "spark join"]
    got = _gated(spark, texts, vocab, max_n=3)
    assert got == _oracle_doc_tokens(texts, 3, set(vocab))
    assert got[(0, "data spark")] == (5, 2)


def test_gate_empty_vocabulary_keeps_only_unigrams(spark):
    texts = ["the data spark", "nferdoccount_1 x x", ""]
    got = _gated(spark, texts, [], max_n=3)
    assert got == _oracle_doc_tokens(texts, 3, set())
    assert got and all(" " not in token for _, token in got)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    corpus=CORPUS,
    vocab=st.lists(st.lists(WORDS, min_size=1, max_size=3).map(" ".join), max_size=8),
)
def test_gate_matches_python_oracle(spark, corpus, vocab):
    """Random corpora and vocabularies (unigram entries, duplicates and
    docid grams included) gate exactly like the Python oracle."""
    assert _gated(spark, corpus, vocab, max_n=3) == _oracle_doc_tokens(
        corpus, 3, set(vocab)
    )


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    frac_lo=st.floats(min_value=0.05, max_value=0.45),
    frac_hi=st.floats(min_value=0.5, max_value=0.95),
    salt=st.sampled_from(["", "v2", "epoch3"]),
)
def test_sampling_invariants(spark, frac_lo, frac_hi, salt):
    """deterministic_sample: (1) growing the fraction only ADDS rows
    (monotone containment — a bigger sample of the same salt is a
    superset, the property that makes staged experiments comparable);
    (2) train/val/test partitions the keyspace exactly."""
    from vspace_spark.operators.sampling import (
        deterministic_sample,
        train_test_split_col,
    )

    docs = _docs_df(spark, ["d"] * 200).select("doc_id")
    lo = {r.doc_id for r in deterministic_sample(docs, "doc_id", frac_lo, salt).collect()}
    hi = {r.doc_id for r in deterministic_sample(docs, "doc_id", frac_hi, salt).collect()}
    assert lo <= hi
    splits = docs.select(
        "doc_id", train_test_split_col("doc_id", salt=salt).alias("s")
    ).collect()
    assert len(splits) == 200
    assert {r.s for r in splits} <= {"train", "val", "test"}


PACK_WCS = st.lists(st.integers(min_value=1, max_value=40), min_size=1, max_size=60)
PACK_BUDGET = st.integers(min_value=1, max_value=64)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(wcs=PACK_WCS, budget=PACK_BUDGET)
def test_pack_plan_invariants(spark, wcs, budget):
    """Concat-then-chunk invariants for arbitrary corpora/budgets:
    offsets are the exclusive prefix sum in order (gap- and
    overlap-free), the span count matches the offsets, and the
    stream's total length is preserved."""
    from vspace_spark.operators.packing import pack_plan

    df = spark.createDataFrame(
        [Row(doc_id=i, wc=w) for i, w in enumerate(wcs)]
    )
    rows = {
        r.doc_id: r
        for r in pack_plan(df, budget=budget).collect()
    }
    assert len(rows) == len(wcs)
    offset = 0
    for i, w in enumerate(wcs):
        r = rows[i]
        assert r.start_offset == offset
        assert r.first_seq == offset // budget
        assert r.n_seqs == (offset + w - 1) // budget - offset // budget + 1
        offset += w
    assert offset == sum(wcs)


def test_hll_estimate_accuracy_across_cardinalities():
    """HLL raw-estimate accuracy (oracle-side — oracle parity ties the
    Spark plan to this arithmetic bit-for-bit). A SINGLE draw at m=64
    legitimately swings +-35% (measured across salts; raw HLL sigma is
    ~13% plus small-m tail), so assert the estimator is UNBIASED: mean
    relative error over 8 independent key families within +-12%, every
    single draw within +-40%."""
    import duckdb

    from vspace_spark.queries import ORACLES, load_all

    load_all()
    con = duckdb.connect()
    parts = " UNION ALL ".join(
        f"SELECT 'fam{p}' AS event_type, '{p}:' || i::VARCHAR AS user_id "
        f"FROM range(1000) t(i)"
        for p in "abcdefgh"
    )
    con.execute(f"CREATE TABLE events AS {parts}")
    df = con.execute(ORACLES["user_hll_distinct"]).df()
    rels = [(est - ex) / ex for ex, est in
            zip(df.exact_distinct, df.hll_estimate)]
    assert all(abs(r) <= 0.40 for r in rels), rels
    assert abs(sum(rels) / len(rels)) <= 0.12, rels


# Collapse-path equality under the r5 clone-density probe: corpora
# drawn to straddle the probe boundary (duplicate docs likely, so some
# examples collapse and some skip) — both paths must emit the
# identical pair list either way. Small word pool makes shared
# shingles and verbatim clones common.
_DEDUP_DOC = st.lists(
    st.sampled_from(["aa", "bb", "cc", "dd"]), min_size=0, max_size=6
).map(" ".join)
_DEDUP_CORPUS = st.lists(_DEDUP_DOC, min_size=1, max_size=10)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(corpus=_DEDUP_CORPUS)
def test_jaccard_collapse_and_raw_paths_identical(spark, corpus):
    from vspace_spark.operators.dedup import shingle_pairs_jaccard

    docs = _docs_df(spark, corpus)
    rows = lambda df: sorted(
        (r.a, r.b, round(r.jaccard, 12)) for r in df.collect()
    )
    collapsed = rows(
        shingle_pairs_jaccard(docs, n=2, threshold=0.4, collapse_exact=True)
    )
    raw = rows(
        shingle_pairs_jaccard(docs, n=2, threshold=0.4, collapse_exact=False)
    )
    assert collapsed == raw


# strings from a tiny alphabet force near-miss edit-distance pairs and
# hot shared q-grams — the adversarial regime for count filtering
_FUZZY_KEY = st.text(alphabet="abc", min_size=0, max_size=24)
_FUZZY_CORPUS = st.lists(_FUZZY_KEY, min_size=2, max_size=12)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(corpus=_FUZZY_CORPUS)
@pytest.mark.slow  # >20 s (measured r14): driver verify-window budget
def test_qgram_pairs_match_exhaustive_in_guarantee_domain(spark, corpus):
    """qgram_edit_pairs' count-filter bound is SOUND: over random
    small-alphabet keys, the inverted-index path must emit exactly the
    exhaustive path's pairs restricted to the guarantee domain
    max(len(a), len(b)) >= q*(k+1) — and never a pair outside the
    distance budget. Keys below the domain are excluded from the
    comparison (the operator documents them as not guaranteed)."""
    from pyspark.sql import Row

    from vspace_spark.operators.dedup import (
        edit_distance_pairs,
        qgram_edit_pairs,
    )

    q, k = 2, 2
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(corpus)]
    )
    key = F.col("text")
    got = {
        (r.a, r.b, r.dist)
        for r in qgram_edit_pairs(
            docs, key, block=[], q=q, max_dist=k
        ).collect()
    }
    lens = {i: len(t) for i, t in enumerate(corpus)}
    want = {
        (r.a, r.b, r.dist)
        for r in edit_distance_pairs(
            docs, key, block=[], max_dist=k
        ).collect()
        if max(lens[r.a], lens[r.b]) >= q * (k + 1)
    }
    # every guaranteed pair recovered...
    assert want <= got, f"missed: {want - got}"
    # ...and nothing over budget or self-paired ever emitted
    for a, b, dist in got:
        assert a < b and 0 <= dist <= k
    # hot-gram guard (cap=2 on a 3-letter alphabet: hot grams are
    # routine, both lanes exercised): still sound in the guarantee
    # domain, valid everywhere, and never below the unguarded path
    # (the exhaustive hot lane can only ADD short/hot pairs the
    # index's positional join misses outside the domain)
    guarded = {
        (r.a, r.b, r.dist)
        for r in qgram_edit_pairs(
            docs, key, block=[], q=q, max_dist=k, hot_gram_cap=2
        ).collect()
    }
    assert want <= guarded, f"guard missed: {want - guarded}"
    assert got <= guarded, f"guard lost: {got - guarded}"
    for a, b, dist in guarded:
        assert a < b and 0 <= dist <= k


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(corpus=_FUZZY_CORPUS)
@pytest.mark.slow  # >20 s (measured r14): driver verify-window budget
def test_passjoin_pairs_match_exhaustive_everywhere(spark, corpus):
    """passjoin_edit_pairs is EXACT at every key length (no guarantee
    domain to restrict to): over random small-alphabet keys — the
    regime that exercises every lane (short residual, segment index,
    both multi-match window caps) and every edit orientation — the
    segment path must emit exactly the exhaustive path's pairs. This
    is the empirical pin for the multi-match-aware substring windows
    (Li/Deng/Feng Lemma 3): any unsound tightening of the position
    window loses a pair here."""
    from pyspark.sql import Row

    from vspace_spark.operators.dedup import (
        edit_distance_pairs,
        passjoin_edit_pairs,
    )

    k = 3
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(corpus)]
    )
    key = F.col("text")
    got = {
        (r.a, r.b, r.dist)
        for r in passjoin_edit_pairs(
            docs, key, block=[], max_dist=k
        ).collect()
    }
    want = {
        (r.a, r.b, r.dist)
        for r in edit_distance_pairs(
            docs, key, block=[], max_dist=k
        ).collect()
    }
    assert got == want, f"diff: {got ^ want}"

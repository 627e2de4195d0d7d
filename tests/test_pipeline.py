"""End-to-end test of the config-driven corpus job (FIXTURES.md §1-4):
builds the reference's five input files in a tmpdir, runs the pipeline,
and checks the stats outputs against hand-computable expectations —
the golden-file test the reference never had (SURVEY.md §5)."""

from __future__ import annotations

import os
import textwrap

import pytest

from vspace_spark.io.sources import RECORD_DELIMITER
from vspace_spark.pipelines.corpus_job import JobConfig, run_job

DOCS = [
    "the quick brown fox",             # doc 0
    "the quick brown fox",             # doc 1 — exact dup
    "machine learning rocks",          # doc 2 — bigram in vocab
    "nferdoccount_7 the\nend",         # doc 3 — docid token must drop;
    #                                    spans a newline (the sentinel is
    #                                    the record delimiter, so multi-
    #                                    line documents must NOT fragment)
    "unknown multi gram here",         # doc 4 — bigrams NOT in vocab
]

INDEX_ROWS = [
    # document_index, url, subsource, year, meta1, title, author, m2, m3, m4
    (0, "u0", "subA", 2020), (1, "u1", "subA", 2020),
    (2, "u2", "subB", 2021), (3, "u3", "subB", 2021),
    (4, "u4", "subC", 2022),  # subC absent from src2sub → inner-join drop
]

SRC2SUB = ["src0 subA,subB", "src1 subB"]

PHRASES = ["machine_learning extra ignored", "quick_brown x"]
COLLECTIONS = ["machine_learning", "brown_fox"]


def _write_job(root, extra_conf: str = "", docs=DOCS) -> JobConfig:
    """Write the five input files and ``job.conf`` under ``root``;
    ``extra_conf`` adds ``[job]`` lines."""
    corpus = root / "corpus.txt"
    # documents separated by the sentinel on its own line — the layout
    # the reference's Hadoop record-delimiter reader handles and the
    # line-split fast path cannot (fragments doc 3 at its newline)
    corpus.write_text(f"\n{RECORD_DELIMITER}\n".join(docs))
    (root / "index.tsv").write_text(
        "\n".join(
            "\t".join(map(str, r + ("m1", "t", "a", "m2", "m3", "m4")))
            for r in INDEX_ROWS
        )
    )
    (root / "src2sub.txt").write_text("\n".join(SRC2SUB))
    (root / "phrases.txt").write_text("\n".join(PHRASES))
    (root / "collections.txt").write_text("\n".join(COLLECTIONS))
    (root / "job.conf").write_text(
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
        + extra_conf
    )
    return JobConfig.from_ini(str(root / "job.conf"))


@pytest.fixture(scope="module")
def job_outputs(spark, tmp_path_factory):
    config = _write_job(tmp_path_factory.mktemp("vspace_job"))
    metrics: dict[str, float] = {}
    outputs = run_job(spark, config, metrics_out=metrics)
    outputs["_metrics"] = metrics
    return spark, outputs


def _read(spark, outputs, name):
    return spark.read.parquet(outputs[name])


def test_vocabulary_union_distinct_translate(job_outputs):
    spark, outputs = job_outputs
    vocab = {r.token: r.tokenid for r in _read(spark, outputs, "vocabulary").collect()}
    # underscores→spaces, first-field-of-phrases, union+distinct
    assert set(vocab) == {"machine learning", "quick brown", "brown fox"}
    # deterministic dense ids in token order
    assert [vocab[t] for t in sorted(vocab)] == [0, 1, 2]


def test_observe_metrics_ride_existing_actions(job_outputs):
    """DataFrame.observe counters filled by run_job's own writes —
    no extra count() jobs; values match the fixture exactly."""
    spark, outputs = job_outputs
    m = outputs["_metrics"]
    assert m["n_docs"] == len(DOCS)
    stats = _read(spark, outputs, "global_stats")
    assert m["n_terms"] == stats.count()
    assert m["normalized_chars"] > 0
    assert m["total_term_occurrences"] > 0


def test_global_stats_semantics(job_outputs):
    spark, outputs = job_outputs
    stats = {
        r.token: (r.document_frequency, r.term_frequency, r.tdsum)
        for r in _read(spark, outputs, "global_stats").collect()
    }
    # unigrams always pass the gate
    assert stats["the"] == (3, 3, 11)  # docs 0,1 (wc 4) + doc 3 (wc 3)
    # vocabulary-gated bigrams: present iff in vocab
    assert stats["quick brown"] == (2, 2, 8)
    assert stats["machine learning"] == (1, 1, 3)
    assert "unknown multi" not in stats  # bigram not in vocab
    # docid tokens dropped entirely
    assert not any("nferdoccount" in t for t in stats)
    # exact n-gram bounds: maxngrams=2 → no trigrams
    assert all(t.count(" ") <= 1 for t in stats)


def test_source_stats_fanout_and_drop(job_outputs):
    spark, outputs = job_outputs
    stats = _read(spark, outputs, "source_stats")
    by_src = {
        (r.token, r.source): r.document_frequency for r in stats.collect()
    }
    # subA docs (0,1) reach src0 only; subB docs (2,3) reach src0 AND src1
    assert by_src[("quick", "src0")] == 2
    assert by_src[("machine learning", "src0")] == 1
    assert by_src[("machine learning", "src1")] == 1
    # doc 4 (subC) dropped by the inner join
    assert ("unknown", "src0") not in by_src
    # Hive-style partitioning on disk (K3)
    parts = os.listdir(outputs["source_stats"])
    assert any(p.startswith("source=") for p in parts)


def test_normalized_corpus_written(job_outputs):
    """One row per fixture document: its index, a tab, and its text
    lower-cased to space-joined word runs."""
    import re

    spark, outputs = job_outputs
    rows = _read(spark, outputs, "normalized_corpus").collect()
    want = [
        f"{i}\t" + " ".join(re.findall(r"[a-zA-Z0-9_]+", doc.lower()))
        for i, doc in enumerate(DOCS)
    ]
    assert sorted(r.value for r in rows) == sorted(want)


def test_lenient_decode_strips_control_chars(spark, tmp_path):
    """S4 (reference: vspace/pipelines/base.py:234-266): \\x00, \\x01
    and tabs are stripped from decoded lines."""
    from vspace_spark.io.sources import load_and_decode

    p = tmp_path / "dirty.txt"
    p.write_bytes(b"clean line\na\x00b\x01c\td\nlast\n")
    lines = [r.line for r in load_and_decode(spark, str(p)).collect()]
    assert "clean line" in lines
    assert "abcd" in lines  # control chars + tab removed
    assert all("\x00" not in x and "\t" not in x for x in lines)


def test_job_config_splits_honored(spark, tmp_path):
    """O5 (reference: vspace/pipelines/base.py:418-420): the INI
    `splits` key still tunes spark.sql.shuffle.partitions."""
    from vspace_spark.pipelines.corpus_job import JobConfig

    conf = tmp_path / "j.conf"
    conf.write_text(
        "[job]\nstagingloc = /tmp\ncorpus = c\nindex2doc = i\n"
        "src2sub = s\nphrases = p\ncollections = k\n"
        "outputFolder = /tmp/o\nsplits = 7\n"
    )
    jc = JobConfig.from_ini(str(conf))
    assert jc.splits == 7


def test_splits_scoped_to_the_job(spark, tmp_path, monkeypatch):
    """``splits`` sets spark.sql.shuffle.partitions while the job runs
    and the previous value comes back when it ends."""
    from vspace_spark.io import sinks

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    assert before != "7"
    during = []
    write = sinks.write_parquet

    def recording_write(df, path, **kwargs):
        during.append(spark.conf.get(key))
        return write(df, path, **kwargs)

    monkeypatch.setattr(sinks, "write_parquet", recording_write)
    run_job(spark, _write_job(tmp_path, "splits = 7\n"))
    assert during and set(during) == {"7"}
    assert spark.conf.get(key) == before


def test_failed_job_releases_cached_frames(spark, tmp_path, monkeypatch):
    """A sink that raises mid-job leaves none of the job's cached frames
    (vocabulary, normalized corpus, per-document token counts) in the
    cache."""
    from pyspark import StorageLevel

    from vspace_spark.io import sinks
    from vspace_spark.operators import stats
    from vspace_spark.pipelines import corpus_job

    seen, levels_at_failure = [], []
    write = sinks.write_parquet
    build_vocabulary = corpus_job.build_vocabulary
    tokenized_documents = stats.tokenized_documents

    def failing_write(df, path, **kwargs):
        if path.endswith("global_stats"):
            levels_at_failure.extend(f.storageLevel for f in seen)
            raise OSError("disk full")
        return write(df, path, **kwargs)

    def recording_vocabulary(*args, **kwargs):
        seen.append(build_vocabulary(*args, **kwargs))
        return seen[-1]

    def recording_tokens(docs, *args, **kwargs):
        seen.append(docs)
        seen.append(tokenized_documents(docs, *args, **kwargs))
        return seen[-1]

    monkeypatch.setattr(sinks, "write_parquet", failing_write)
    monkeypatch.setattr(corpus_job, "build_vocabulary", recording_vocabulary)
    monkeypatch.setattr(stats, "tokenized_documents", recording_tokens)
    with pytest.raises(OSError, match="disk full"):
        run_job(spark, _write_job(tmp_path))
    none = StorageLevel(False, False, False, False)
    assert len(levels_at_failure) == 3 and none not in levels_at_failure
    assert [df.storageLevel for df in seen] == [none] * 3


@pytest.mark.parametrize("fail", [False, True], ids=["success", "raises"])
def test_job_group_restored(spark, tmp_path, monkeypatch, fail):
    """The caller's job group, description and interrupt flag are back
    on its thread when run_job returns or raises."""
    from vspace_spark.io import sinks

    sc = spark.sparkContext
    keys = (
        "spark.jobGroup.id",
        "spark.job.description",
        "spark.job.interruptOnCancel",
    )
    sc.setJobGroup("caller", "caller's own work", interruptOnCancel=True)
    before = {k: sc.getLocalProperty(k) for k in keys}
    groups = []
    write = sinks.write_parquet

    def recording_write(df, path, **kwargs):
        groups.append(sc.getLocalProperty("spark.jobGroup.id"))
        if fail and path.endswith("global_stats"):
            raise OSError("disk full")
        return write(df, path, **kwargs)

    monkeypatch.setattr(sinks, "write_parquet", recording_write)
    try:
        if fail:
            with pytest.raises(OSError, match="disk full"):
                run_job(spark, _write_job(tmp_path))
        else:
            run_job(spark, _write_job(tmp_path))
        assert "stats" in groups and "caller" not in groups
        assert {k: sc.getLocalProperty(k) for k in keys} == before
        assert before["spark.jobGroup.id"] == "caller"
    finally:
        for k in keys:
            sc.setLocalProperty(k, None)


def test_doc_without_index_row_only_in_global_stats(spark, tmp_path):
    """A document with no index row counts in global_stats (stats come
    from the whole corpus) and never reaches source_stats (the
    document_index ⋈ source join drops it)."""
    outputs = run_job(spark, _write_job(tmp_path, docs=DOCS + ["orphan zebra"]))
    global_df = {
        r.token: r.document_frequency
        for r in _read(spark, outputs, "global_stats").collect()
    }
    assert global_df["orphan"] == 1 and global_df["zebra"] == 1
    source_tokens = {r.token for r in _read(spark, outputs, "source_stats").collect()}
    assert not {"orphan", "zebra"} & source_tokens
    assert "quick" in source_tokens

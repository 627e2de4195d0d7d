"""Plan-quality gates: the physical plans we'd want at 100 TB, asserted
at test scale. A regression here (a filter that stops pushing down, a
dimension join that stops broadcasting) is a scale bug even when the
small-SF answer stays correct."""

from __future__ import annotations

import re

import pytest

from pyspark.sql import functions as F

from vspace_spark.plans.explain import (
    formatted_plan,
    has_broadcast_join,
    has_partial_aggregation,
    pushed_filters,
    read_schema_columns,
)
from vspace_spark.queries import QUERIES, load_all

load_all()


def test_q1_filter_pushed_to_parquet_scan(spark, sf_dir):
    df = QUERIES["q1_pricing_summary"](spark, sf_dir)
    pushed = pushed_filters(df)
    assert "l_shipdate" in pushed, f"shipdate filter not pushed:\n{pushed}"


def test_q1_column_pruning(spark, sf_dir):
    df = QUERIES["q1_pricing_summary"](spark, sf_dir)
    cols = set(read_schema_columns(df))
    # 16-column table, 7 needed — the scan must not read the rest
    assert "l_orderkey" not in cols and "l_partkey" not in cols, cols
    assert {"l_quantity", "l_extendedprice", "l_shipdate"} <= cols


def test_q5_dimension_joins_broadcast(spark, sf_dir):
    df = QUERIES["q5_nation_revenue"](spark, sf_dir)
    assert has_broadcast_join(df)


def test_q5_region_filter_pushed(spark, sf_dir):
    df = QUERIES["q5_nation_revenue"](spark, sf_dir)
    assert "r_name" in pushed_filters(df)


def test_term_stats_partial_aggregation(spark, sf_dir):
    df = QUERIES["term_stats_unigram"](spark, sf_dir)
    assert has_partial_aggregation(df)


def test_term_stats_scan_reads_only_needed_columns(spark, sf_dir):
    df = QUERIES["term_stats_unigram"](spark, sf_dir)
    cols = set(read_schema_columns(df))
    assert "lang" not in cols and "n_chars" not in cols, cols


def test_vocab_gate_is_broadcast_semi_join(spark, sf_dir):
    df = QUERIES["vocab_gated_stats"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan[:2000]


def _final_tree(plan: str) -> str:
    """The formatted plan's operator tree without AQE's "Initial Plan"
    subtrees, which repeat every operator of a plan (or of a cached
    relation's plan) that has already run."""
    kept, skip_from = [], None
    for line in plan.split("\n\n", 1)[0].splitlines():
        col = len(line) - len(line.lstrip(" :|+-"))
        if skip_from is not None and col >= skip_from:
            continue
        skip_from = None
        if "== Initial Plan ==" in line:
            skip_from = line.index("==")
            continue
        kept.append(line)
    return "\n".join(kept)


def _generate_nodes(plan: str) -> set[str]:
    """Distinct Generate (explode) operator ids: a cached relation
    repeats its nodes, under the same ids, once per scan of it."""
    return set(re.findall(r"Generate \((\d+)\)", _final_tree(plan)))


def test_vocab_gated_stats_explodes_once(spark, sf_dir):
    """The gate is a single pass over the one cached token stream: one
    explode, one broadcast LEFT SEMI join, and the stream is scanned
    twice (vocabulary build + gate) rather than once per gate branch.
    Checked before and after the query (and its cache) has run."""
    df = QUERIES["vocab_gated_stats"](spark, sf_dir)
    for ran in (False, True):
        if ran:
            df.count()
        plan = formatted_plan(df)
        tree = _final_tree(plan)
        assert len(_generate_nodes(plan)) == 1, tree
        assert "BroadcastHashJoin LeftSemi" in tree, tree
        assert tree.count("InMemoryTableScan") == 2, tree


def test_gated_tokenized_documents_explode_once(spark):
    """tokenized_documents with a vocabulary explodes the corpus once:
    unigrams and multi-grams share one Generate and one semi join."""
    from vspace_spark.operators.stats import tokenized_documents

    docs = spark.createDataFrame([(0, "a b c"), (1, "b c d")], "doc_id long, text string")
    vocab = spark.createDataFrame([("b c",)], "token string")
    plan = formatted_plan(tokenized_documents(docs, max_n=3, vocabulary=vocab))
    assert len(_generate_nodes(plan)) == 1, plan[:3000]
    assert plan.count("Join type: LeftSemi") == 1, plan[:3000]
    assert "BroadcastHashJoin LeftSemi" in plan, plan[:3000]


def test_price_band_join_is_broadcast_not_cartesian(spark, sf_dir):
    df = QUERIES["part_price_bands"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_ann_bruteforce_broadcasts_queries(spark, sf_dir):
    df = QUERIES["ann_bruteforce_top5"](spark, sf_dir)
    assert has_broadcast_join(df)


def test_semi_anti_joins_planned_as_such(spark, sf_dir):
    semi = QUERIES["customers_with_high_value_order"](spark, sf_dir)
    anti = QUERIES["customers_without_orders"](spark, sf_dir)
    assert "LeftSemi" in formatted_plan(semi)
    assert "LeftAnti" in formatted_plan(anti)


def test_flagship_scan_is_columnar(spark, sf_dir):
    # AQE's pre-execution formatted plan omits WholeStageCodegen
    # annotations; the vectorized parquet reader ("Batched: true") is
    # the part worth guarding — it's what keeps the scan off the
    # row-at-a-time path.
    df = QUERIES["q1_pricing_summary"](spark, sf_dir)
    assert "Batched: true" in formatted_plan(df)


def test_aqe_enabled(spark):
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"


def test_partitioned_write_enables_partition_pruning(spark, sf_dir, tmp_path):
    """K3 layout as a scale feature: a source-partitioned parquet write
    must let a source-filtered read prune directories (PartitionFilters
    in the scan, not a full-data filter)."""
    from vspace_spark.io.sinks import write_parquet
    from vspace_spark.io.tables import load_table as lt

    out = str(tmp_path / "by_source")
    write_parquet(
        lt(spark, sf_dir, "documents").select("doc_id", "text", "source"),
        out,
        partition_by=["source"],
    )
    back = spark.read.parquet(out).filter(F.col("source") == "src0")
    plan = formatted_plan(back)
    assert "PartitionFilters" in plan and "src0" in plan
    import os

    assert any(d.startswith("source=") for d in os.listdir(out))


def test_vocabulary_has_no_single_partition_window(spark, sf_dir):
    """The vocabulary id assignment must never funnel all tokens through
    one task: every window in the plan needs a non-empty partition spec
    (two-phase numbering, VERDICT r1 scale-killer #1). An unpartitioned
    ``Window.orderBy`` renders as ``], [], [`` (empty partition list)
    in the formatted Arguments line."""
    df = QUERIES["vocabulary"](spark, sf_dir)
    plan = formatted_plan(df)
    offenders = [
        line
        for line in plan.splitlines()
        if "windowspecdefinition" in line and "], [], [" in line
    ]
    assert not offenders, offenders


def test_training_order_has_no_single_partition_window(spark, sf_dir):
    """Same invariant for the epoch-shuffle positions: global order
    must come from the two-phase numbering, never an unpartitioned
    window over the whole corpus."""
    df = QUERIES["doc_training_order"](spark, sf_dir)
    plan = formatted_plan(df)
    offenders = [
        line
        for line in plan.splitlines()
        if "windowspecdefinition" in line and "], [], [" in line
    ]
    assert not offenders, offenders


@pytest.mark.slow  # >20 s (measured r14): driver verify-window budget
def test_repo_wide_plan_invariants(spark, sf_dir):
    """Engine-wide physical-plan audit over EVERY registered batch
    query: (1) no CartesianProduct anywhere — every non-equi join must
    ride a broadcast (BroadcastNestedLoopJoin with a dimension-sized
    side), never an all-pairs shuffle; (2) no BatchEvalPython — the
    row-at-a-time Python UDF evaluator; every Python path must be
    Arrow-vectorized (ArrowEvalPython / MapInPandas / FlatMapGroups).
    Streaming queries are skipped (their plan is the memory-sink
    batch read); a handful of queries run jobs at build time
    (corpus_job_ini) and are audited via their result plans like the
    rest."""
    banned = {
        "CartesianProduct": "all-pairs shuffle join",
        "BatchEvalPython": "row-at-a-time Python UDF",
    }
    failures: list[str] = []
    for name, fn in QUERIES.items():
        if name.startswith("stream_"):
            continue
        plan = formatted_plan(fn(spark, sf_dir))
        for op, why in banned.items():
            if op in plan:
                failures.append(f"{name}: {op} ({why})")
    assert not failures, failures


def test_no_unbounded_driver_collect_in_engine_source():
    """Source-level scale audit: every ``.collect()`` / ``.toPandas()``
    in the engine (vspace_spark/) must carry a ``bounded-collect``
    marker on the same or an adjacent line, documenting why the result
    is driver-safe (scalar, per-partition row, dimension-sized). A new
    unmarked collect is treated as a full-table driver materialization
    until proven otherwise — the exact failure mode VERDICT r2 flagged
    in the old corpus_job_ini fixture shim."""
    import re
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent / "vspace_spark"
    offenders: list[str] = []
    for path in sorted(root.rglob("*.py")):
        lines = path.read_text().splitlines()
        for i, line in enumerate(lines):
            if re.search(r"\.collect\(\)|\.toPandas\(\)", line):
                context = lines[max(0, i - 1) : min(len(lines), i + 2)]
                if not any("bounded-collect" in c for c in context):
                    offenders.append(f"{path.relative_to(root)}:{i + 1}")
    assert not offenders, (
        f"unmarked driver collect(s): {offenders} — justify with a "
        f"'bounded-collect: <why>' comment or rewrite with Spark writers"
    )


def test_tfidf_search_df_agg_after_term_filter(spark, sf_dir):
    """VERDICT r2 #3: document frequency must be computed on the
    broadcast-term-filtered stream, not the full vocabulary. Plan
    evidence: every join broadcasts (the old shape's vocabulary-sized
    df table forced a shuffle join at scale), so no SortMergeJoin and
    no Exchange feeding a join."""
    plan = formatted_plan(QUERIES["tfidf_search"](spark, sf_dir))
    assert "SortMergeJoin" not in plan, plan[:2000]
    assert plan.count("BroadcastHashJoin") >= 2, plan[:2000]


def test_no_unbounded_per_key_array_in_engine_source():
    """VERDICT r3 #5: every ``collect_list`` in the engine must carry a
    ``bounded-list`` marker on the same or an adjacent line, naming the
    bound on the per-key array (doc-length, calendar, dimension size,
    or an explicit row_number cap). An unmarked collect_list is treated
    as an unbounded per-key materialization — the hot-vertex/bot-user
    OOM shape that killed the old PageRank fold — until justified."""
    import re
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent / "vspace_spark"
    offenders: list[str] = []
    for path in sorted(root.rglob("*.py")):
        lines = path.read_text().splitlines()
        for i, line in enumerate(lines):
            if re.search(r"\bcollect_list\(", line):
                context = lines[max(0, i - 2) : min(len(lines), i + 2)]
                if not any("bounded-list" in c for c in context):
                    offenders.append(f"{path.relative_to(root)}:{i + 1}")
    assert not offenders, (
        f"unmarked collect_list(s): {offenders} — justify with a "
        f"'bounded-list: <bound>' comment, cap with a row_number "
        f"filter, or restructure as a partial-aggregable SUM"
    )


def test_keyed_tmp_dir_concurrent_isolation(monkeypatch):
    """SPARK_GRAFT_CONCURRENT=1 mixes a per-process token into the
    keyed fixture dir so two processes benching the SAME sf dir stop
    clobbering each other's staged fixtures (ADVICE r5); default stays
    the single fixed leak-free dir."""
    import os

    from vspace_spark.io.sinks import keyed_tmp_dir

    monkeypatch.delenv("SPARK_GRAFT_CONCURRENT", raising=False)
    base = keyed_tmp_dir("t_adv5", "/root/testdata/sf0.001")
    assert keyed_tmp_dir("t_adv5", "/root/testdata/sf0.001") == base
    monkeypatch.setenv("SPARK_GRAFT_CONCURRENT", "1")
    iso = keyed_tmp_dir("t_adv5", "/root/testdata/sf0.001")
    assert iso != base
    assert iso.endswith(f"_p{os.getpid()}")

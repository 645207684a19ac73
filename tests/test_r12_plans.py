"""Round-12 optimization regressions: the plan shapes the r12 changes
established, pinned so they can't silently revert.

Result identity for every touched query is already covered by
test_oracle_parity.py (all-registry DuckDB comparison); these tests pin
the *physical* properties the optimizations bought:

  1. nation_revenue / top_revenue_orders stream the lineitem fact —
     no BroadcastExchange may carry lineitem columns (the pre-r12 plan
     collected the whole pruned fact through the driver).
  2. arbitrage_scan applies the pair-universe predicate before the
     latest-per-key aggregation, with the range half pushed to the scan.
  3. the kalshi book family parses the JSON snapshot exactly once —
     the emptiness gate tests the pre-serialization arrays, so the
     Filter can no longer re-run the to_json→from_json round trip.
  4. the dedup band self-joins are pinned off the broadcast path
     (O(docs) build sides; sf1 OOM class from r11).
  5. the similarity expr-string fast path is value-identical to the
     lambda-API path it shortcuts.
"""

from __future__ import annotations

import re

import pytest

import financial_arbitrage_data_pipeline_spark.operators  # noqa: F401
from financial_arbitrage_data_pipeline_spark.plans import REGISTRY


def plan_of(spark, name: str, sf_dir: str) -> str:
    df = REGISTRY[name].builder(spark, sf_dir)
    return spark._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def broadcast_blocks(plan: str) -> list[str]:
    """The detail blocks of every BroadcastExchange node in a formatted
    plan (header line through the next blank line)."""
    return re.findall(
        r"^\(\d+\) BroadcastExchange.*?(?=\n\n)", plan, re.M | re.S
    )


@pytest.mark.parametrize("name", ["nation_revenue", "top_revenue_orders"])
def test_fact_table_never_broadcast(name, spark, sf_dir):
    p = plan_of(spark, name, sf_dir)
    # the customer⋈orders build side is a pinned shuffled-hash join
    assert "ShuffledHashJoin" in p
    # no broadcast node may carry lineitem columns: l_extendedprice is
    # in every lineitem projection these queries read
    offenders = [b for b in broadcast_blocks(p) if "l_extendedprice" in b]
    assert not offenders, f"{name}: lineitem broadcast again:\n{offenders[0]}"


def test_arbitrage_scan_prefilters_pair_universe(spark, sf_dir):
    p = plan_of(spark, "arbitrage_scan", sf_dir)
    # the range half of the pair predicate reaches the parquet scan
    assert "LessThan(user_id,200)" in p
    # the %10 residual is applied in a Filter before the aggregation
    assert re.search(r"\(user_id#\d+L % 10\)", p), "modulo residual gone"


@pytest.mark.parametrize(
    "name",
    ["kalshi_book_summary", "book_vwap_fill", "book_imbalance_microprice"],
)
def test_kalshi_family_parses_snapshot_once(name, spark, sf_dir):
    p = plan_of(spark, name, sf_dir)
    # pre-r12 the Filter re-ran the round trip once per side: 3 parses
    assert p.count("from_json") == 1, f"{name}: {p.count('from_json')} parses"


@pytest.mark.parametrize(
    "name",
    [
        "minhash_lsh_dedup",
        "simhash_dedup",
        "minhash_estimate_quality",
        "winnow_match_pairs",
    ],
)
def test_dedup_band_self_joins_never_broadcast(name, spark, sf_dir):
    # every join in these plans has an O(docs) build side (bands/pairs
    # tables, 4 rows per doc; winnowing postings) — r11's sf1 OOM class;
    # all pinned SHUFFLE_HASH. No BroadcastHashJoin may appear at all.
    p = plan_of(spark, name, sf_dir)
    assert "ShuffledHashJoin" in p
    assert "BroadcastHashJoin" not in p, f"{name}: band join broadcast again"


def test_headline_builders_bounded_py4j_chatter(spark, sf_dir):
    """r12 batch 2 (guide §1.2 applied to the driver): every headline
    builder constructs its expressions as expr STRINGS, so plan build is
    a handful of py4j round trips instead of one per Column node. Before
    the change the ten builders cost 8,970 calls ≈ 1.8 s of driver time
    billed to EVERY bench run; after, 1,261. Result identity is covered
    by test_oracle_parity; this pins the mechanism — a reintroduction of
    per-node chatter shows up as a call-count explosion long before it
    is visible in noisy wall time. Cap = ~2.5x the measured total."""
    from py4j.java_gateway import GatewayClient

    headline = sorted(n for n, s in REGISTRY.items() if s.headline)
    for name in headline:  # warm: imports, load_table memoization
        REGISTRY[name].builder(spark, sf_dir)

    counter = {"n": 0}
    orig = GatewayClient.send_command

    def counted(self, *a, **k):
        counter["n"] += 1
        return orig(self, *a, **k)

    GatewayClient.send_command = counted
    try:
        per_query = {}
        for name in headline:
            counter["n"] = 0
            REGISTRY[name].builder(spark, sf_dir)
            per_query[name] = counter["n"]
    finally:
        GatewayClient.send_command = orig

    total = sum(per_query.values())
    # Guard against vacuous passes (ADVICE r12): if a pyspark/py4j
    # upgrade routes commands through a different client class, the
    # patched counter stops counting and the cap would pass on zeros.
    # Every builder makes at least SOME JVM calls, so a zero total means
    # the instrumentation is dead, not that the builders got free.
    assert total > 0, (
        "py4j chatter counter registered zero calls — the patched "
        "GatewayClient.send_command is no longer the command path; "
        "re-baseline this test against the current py4j client class"
    )
    assert total <= 3200, f"headline plan-build chatter regressed: {per_query}"


def test_similarity_expr_fast_path_is_value_identical(spark):
    from financial_arbitrage_data_pipeline_spark.operators.similarity import (
        dot_ll,
        quantized,
        sq_norm,
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [([0.3195, -1.25, 0.0], [2.0, 0.5, -3.125])],
        "a array<float>, b array<float>",
    ).select(
        quantized("a").alias("qa_s"),
        quantized(F.col("a")).alias("qa_c"),
        quantized("b").alias("qb_s"),
        quantized(F.col("b")).alias("qb_c"),
    )
    row = df.select(
        "qa_s",
        "qa_c",
        dot_ll("qa_s", "qb_s").alias("dot_s"),
        dot_ll(F.col("qa_c"), F.col("qb_c")).alias("dot_c"),
        sq_norm("qa_s").alias("nsq_s"),
        sq_norm(F.col("qa_c")).alias("nsq_c"),
    ).head()
    assert row.qa_s == row.qa_c
    assert row.dot_s == row.dot_c
    assert row.nsq_s == row.nsq_c
    # and the float32→double cast order is preserved by the expr path:
    # 0.3195f*1000 must round to 319, not 320 (the f32-multiply trap)
    assert row.qa_s[0] == 319

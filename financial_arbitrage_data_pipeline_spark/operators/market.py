"""Market-domain queries: the reference's orderbook/ETL/scan semantics
(SURVEY §2.2, §2.3, §3.3, §3.4) exercised over deterministic derivations
of the driver's testdata (TESTDATA.md forbids synthesizing our own input
tables, so books and quotes are pure functions of testdata rows).

Derivation conventions (identical in the Spark builders and the DuckDB
oracles):
- Kalshi books from lineitem: ticker = l_orderkey; level price_cents =
  l_partkey % 97 + 1, qty = int(l_quantity); odd line numbers are YES
  levels, even are NO levels.
- Market quotes from events: pair key = user_id; cents values derived
  with round(value*100) so double→int conversion is engine-independent
  (Spark casts truncate, DuckDB casts round — round() first makes them
  agree).

The Spark side uses the real engine operators (JSON round-trip +
higher-order functions from operators/orderbook.py); the oracle computes
the same *result* with plain SQL — parity checks semantics, not plans.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..plans.registry import query
from ..sources.tables import load_table
from . import orderbook as ob

# ---------------------------------------------------------------------------
# Shared derivations
# ---------------------------------------------------------------------------


def _kalshi_books(
    spark: SparkSession, sf_dir: str, require: Column | str | None = None
) -> DataFrame:
    """lineitem → one Kalshi book per order, then a JSON round-trip through
    the engine's snapshot format: the book is serialized exactly as
    Virginia does (`virginia/coordinator.py:458` json.dumps of the raw
    dict) and re-parsed with from_json (P11) — so every downstream op
    consumes the same parsed shape a stored snapshot would yield.

    `require` is an optional predicate over the PRE-serialization `yes`/
    `no` level arrays. Callers that gate on side emptiness must pass it
    here rather than filtering on `book.yes`/`book.no` after the parse:
    the JSON round-trip preserves array sizes exactly (collect_list
    yields non-null arrays; to_json/from_json keep every element), so
    the predicates are equivalent — but a post-parse filter makes the
    Filter operator re-evaluate the whole to_json→from_json round trip
    per side (CollapseProject keeps `book` in its own Project, and
    PushDownPredicates substitutes the parse into the condition), tripling
    the dominant per-row cost and parsing books that are then discarded
    (guide §1.2: don't compute things you throw away)."""
    li = load_table(spark, sf_dir, "lineitem")
    level = "array(CAST(l_partkey % 97 + 1 AS INT), CAST(l_quantity AS INT))"
    # repartition on the group key BEFORE the collect_list groupBy:
    # collect_list is non-reducing, so map-side partial aggregation
    # builds per-task hashmaps of lists without shrinking the shuffle at
    # all — pre-shuffling raw level rows moves the (heavy) list build
    # after the exchange, co-partitioned, with no second exchange.
    # ~35% faster here and strictly less work at any scale. Expressions
    # are expr STRINGS (r12, guide §1.2): one py4j round trip per
    # projection instead of one per Column node.
    src = li.selectExpr(
        "l_orderkey AS ticker",
        f"CASE WHEN l_linenumber % 2 = 1 THEN {level} END AS ylev",
        f"CASE WHEN NOT (l_linenumber % 2 = 1) THEN {level} END AS nlev",
    ).repartition("ticker")
    books = src.groupBy("ticker").agg(
        F.expr("collect_list(ylev)").alias("yes"),
        F.expr("collect_list(nlev)").alias("no"),
    )
    if require is not None:
        books = books.filter(require)
    # serialize → market_snapshot.full_orderbook → parse (P11)
    snap = books.selectExpr(
        "ticker", "to_json(struct(yes, no)) AS full_orderbook"
    )
    return snap.select("ticker", ob.parse_kalshi_book("full_orderbook").alias("book"))


_KALSHI_LEVELS_SQL = """
  SELECT l_orderkey AS ticker,
         (l_partkey % 97 + 1) AS price,
         CAST(l_quantity AS BIGINT) AS qty,
         (l_linenumber % 2 = 1) AS is_yes
  FROM lineitem
"""


# ---------------------------------------------------------------------------
# P3 + P11 + F9: best-of-book summary
# ---------------------------------------------------------------------------
@query(
    "kalshi_book_summary",
    oracle=f"""
WITH lv AS ({_KALSHI_LEVELS_SQL})
SELECT ticker,
       MAX(CASE WHEN is_yes THEN price END) AS yes_best_bid,
       MIN(CASE WHEN is_yes THEN price END) AS yes_best_ask,
       MAX(CASE WHEN NOT is_yes THEN price END) AS no_best_bid,
       MIN(CASE WHEN NOT is_yes THEN price END) AS no_best_ask,
       COUNT(CASE WHEN is_yes THEN 1 END) AS yes_depth,
       CAST(SUM(CASE WHEN is_yes THEN qty ELSE 0 END) AS BIGINT) AS yes_qty
FROM lv
GROUP BY ticker
HAVING COUNT(CASE WHEN is_yes THEN 1 END) > 0
   AND COUNT(CASE WHEN NOT is_yes THEN 1 END) > 0
""",
    headline=True,
    tags=("P3", "P11", "F9"),
)
def kalshi_book_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-of-book per ticker through the full snapshot path: build book →
    to_json (the stored `full_orderbook` blob) → from_json (P11) →
    higher-order-function extraction (P3) → null/shape guards (F9,
    `opportunity_scanner.py:155-157`). All JVM-side codegen; one shuffle
    (the groupBy building the books)."""
    books = _kalshi_books(
        spark, sf_dir, require="size(yes) > 0 AND size(no) > 0"
    )
    # the P3 extraction HOFs as expr strings (identical trees to the
    # orderbook.py Column helpers; one py4j round trip per column)
    return books.selectExpr(
        "ticker",
        "CAST(array_max(transform(book.yes, x -> x[0])) AS BIGINT) AS yes_best_bid",
        "CAST(array_min(transform(book.yes, x -> x[0])) AS BIGINT) AS yes_best_ask",
        "CAST(array_max(transform(book.no, x -> x[0])) AS BIGINT) AS no_best_bid",
        "CAST(array_min(transform(book.no, x -> x[0])) AS BIGINT) AS no_best_ask",
        "CAST(size(book.yes) AS BIGINT) AS yes_depth",
        "aggregate(book.yes, CAST(0 AS BIGINT), (acc, x) -> acc + CAST(x[1] AS BIGINT))"
        " AS yes_qty",
    )


# ---------------------------------------------------------------------------
# P8: VWAP fill-price book walk
# ---------------------------------------------------------------------------
@query(
    "book_vwap_fill",
    oracle=f"""
WITH lv AS ({_KALSHI_LEVELS_SQL}),
yes AS (SELECT ticker, price, qty FROM lv WHERE is_yes),
w AS (
  SELECT ticker, price, qty,
         COALESCE(SUM(qty) OVER (PARTITION BY ticker ORDER BY price DESC, qty
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS cum_before
  FROM yes
)
SELECT ticker,
       CASE WHEN SUM(qty) >= 100
            THEN CAST(SUM(LEAST(qty, GREATEST(100 - cum_before, 0)) * price) AS DOUBLE) / 100.0
            ELSE 0.0 END AS vwap_cents
FROM w
GROUP BY ticker
""",
    tags=("P8",),
)
def book_vwap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill-price walk (P8, `virginia/api/data_feed.py:99-126`): average
    price to fill 100 contracts walking the YES side best-first; 0.0 if
    the book is too thin. Implemented as an `aggregate()` HOF with a
    (remaining, cost) struct accumulator — stays in codegen, no UDF."""
    # guard (F9): only books with a non-empty YES side, matching the
    # oracle's grouped-CTE domain — applied pre-serialization (see
    # _kalshi_books.require) so the Filter doesn't re-run the JSON parse
    books = _kalshi_books(spark, sf_dir, require=F.size("yes") > 0)
    yes_sorted = ob.sort_levels_best_first(F.col("book.yes"))
    return (
        books.select(
            "ticker",
            ob.vwap_fill_cents(yes_sorted, 100).alias("vwap_cents"),
        )
    )


# ---------------------------------------------------------------------------
# P5 / P6 / P7: ETL price normalization (§3.4)
# ---------------------------------------------------------------------------
@query(
    "normalized_prices",
    oracle="""
WITH q AS (
  SELECT event_id,
         CASE WHEN user_id % 2 = 0 THEN 'kalshi' ELSE 'polymarket' END AS source,
         (CAST(round(value * 100) AS BIGINT) % 99 + 1) / 100.0 AS yes_raw,
         (CAST(round(value * 100) AS BIGINT) % 89 + 1) / 100.0 AS no_raw
  FROM events
)
SELECT event_id, source,
       CASE WHEN source = 'kalshi' THEN yes_raw
            WHEN yes_raw > 0.5 THEN no_raw ELSE yes_raw END AS yes_price,
       CASE WHEN source = 'kalshi' THEN 1.0 - yes_raw
            WHEN yes_raw > 0.5 THEN yes_raw ELSE no_raw END AS no_price
FROM q
""",
    tags=("P5", "P6", "P7"),
)
def normalized_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ETL normalization branch (`etl/query.py:182-238`): Kalshi rows
    get cents→dollars (P5) + YES→NO complement (P6); Polymarket rows get
    the direction swap at yes_mid > 0.5 (P7, strict boundary). Narrow
    per-row expressions — no shuffle at all."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    yes_raw = ob.cents_to_dollars(cents % 99 + 1)
    no_raw = ob.cents_to_dollars(cents % 89 + 1)
    src = F.when(F.col("user_id") % 2 == 0, F.lit("kalshi")).otherwise(F.lit("polymarket"))
    swapped = ob.direction_swap(yes_raw, no_raw)
    return ev.select(
        "event_id",
        src.alias("source"),
        F.when(src == "kalshi", yes_raw)
        .otherwise(swapped.getField("yes_price"))
        .alias("yes_price"),
        F.when(src == "kalshi", ob.yes_to_no(yes_raw))
        .otherwise(swapped.getField("no_price"))
        .alias("no_price"),
    )


# ---------------------------------------------------------------------------
# J1 + J2 + F5 + F6 + A7: the opportunity scan, batch form (§3.3)
# ---------------------------------------------------------------------------
_SCAN_ORACLE = """
WITH bounds AS (SELECT MAX(epoch_us(ts)) AS max_us FROM events),
kalshi AS (
  SELECT user_id,
         (CAST(round(value * 100) AS BIGINT) % 97 + 1) / 100.0 AS yes_bid,
         (CAST(round(value * 100) AS BIGINT) % 89 + 1) / 100.0 AS no_bid,
         epoch_us(ts) AS ts_us
  FROM events
  WHERE event_type IN ('click', 'view')
  QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
),
poly AS (
  SELECT user_id,
         (CAST(round(value * 100) AS BIGINT) % 99 + 1) / 100.0 AS yes_price,
         1.0 - (CAST(round(value * 100) AS BIGINT) % 99 + 1) / 100.0 AS no_price,
         epoch_us(ts) AS ts_us
  FROM events
  WHERE event_type IN ('purchase', 'signup', 'error')
  QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
),
pairs AS (
  SELECT c_custkey AS pair_id FROM customer
  WHERE c_custkey < 200 AND c_custkey % 10 <> 0
),
joined AS (
  SELECT p.pair_id,
         k.yes_bid AS kalshi_yes_bid, k.no_bid AS kalshi_no_bid,
         m.yes_price AS poly_yes, m.no_price AS poly_no
  FROM pairs p
  JOIN kalshi k ON k.user_id = p.pair_id
  JOIN poly m ON m.user_id = p.pair_id
  CROSS JOIN bounds b
  WHERE k.ts_us >= b.max_us - 86400000000 AND m.ts_us >= b.max_us - 86400000000
),
scored AS (
  SELECT *,
         (kalshi_yes_bid - poly_yes) / poly_yes AS margin_yes,
         (kalshi_no_bid - poly_no) / poly_no AS margin_no,
         (poly_yes < kalshi_yes_bid) AS yes_ok,
         (poly_no < kalshi_no_bid) AS no_ok
  FROM joined
)
SELECT pair_id,
       CASE WHEN yes_ok AND (NOT no_ok OR margin_yes >= margin_no)
            THEN 'kalshi_yes_polymarket_no' ELSE 'kalshi_no_polymarket_yes' END
         AS arbitrage_type,
       CASE WHEN yes_ok AND (NOT no_ok OR margin_yes >= margin_no)
            THEN kalshi_yes_bid ELSE kalshi_no_bid END AS kalshi_price,
       CASE WHEN yes_ok AND (NOT no_ok OR margin_yes >= margin_no)
            THEN poly_yes ELSE poly_no END AS poly_price,
       CASE WHEN yes_ok AND (NOT no_ok OR margin_yes >= margin_no)
            THEN margin_yes ELSE margin_no END AS profit_margin
FROM scored
WHERE (yes_ok OR no_ok)
  AND (CASE WHEN yes_ok AND (NOT no_ok OR margin_yes >= margin_no)
            THEN margin_yes ELSE margin_no END) > 0.02
"""


@query("arbitrage_scan", oracle=_SCAN_ORACLE, headline=True, tags=("J1", "J2", "F5", "F6", "A7"))
def arbitrage_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE core operator (J1, `opportunity_scanner.py:376-500`), batch
    form: latest fresh state per venue per pair key (W3), inner-joined
    through a broadcast pair universe (J2) with an active-pair filter
    (F1), freshness gate on event time (F5 — 24h horizon here so the
    static fixture keeps both sides alive; the streaming form uses the
    reference's 60s), YES/NO margin math on normalized prices
    (`_detect_simple_arbitrage`, the non-shadowed definition at
    `opportunity_scanner.py:431-500`), profit threshold (F6, 0.02 per
    `virginia/utils/config.py:270`), best side per pair (A7).

    Scale shape: ONE scan of events and ONE shuffle on the pair key —
    both venues' latest states come from venue-conditional max_by in a
    single aggregation (partial map-side combine applies) — then a
    broadcast dim join (no shuffle) and a scalar freshness bound via a
    1-row broadcast cross join. At 100 TB the latest-per-key state lives
    in Structured Streaming (streaming/scan.py) — this plan is its
    deterministic batch equivalent for the oracle."""
    ev = load_table(spark, sf_dir, "events")
    # All per-row math as expr STRINGS (r12, guide §1.2 applied to the
    # driver): the Column-API form of this builder cost ~2,400 py4j
    # round trips per build (~0.3 s billed to every bench run); the
    # parsed trees are identical. Double literals carry the D suffix so
    # SQL parsing matches F.lit(float) exactly.
    cents = "CAST(round(value * 100) AS BIGINT)"
    order_key = "named_struct('ts', ts, 'event_id', event_id)"

    # Both venues' latest-per-key states in ONE scan + ONE shuffle:
    # venue-conditional max_by (the ordering key is null for the other
    # venue's rows, which max_by ignores) replaces the two windowed
    # row_number passes — at 100 TB this halves the dominant scan and
    # removes a per-key sort.
    #
    # The user_id predicate is the semi-join over-approximation of the
    # pair-universe inner join below (guide §3.2): every surviving row
    # must join a pair_id satisfying (c_custkey < 200 AND c_custkey % 10
    # != 0), so the same predicate on user_id drops definitely-non-
    # matching rows BEFORE the groupBy — the range half pushes to the
    # parquet scan (PushedFilters: LessThan(user_id,200)) and the
    # aggregation shrinks from every user to the pair universe (~1000×
    # at sf0.1). Rows kept here that lack a customer match are still
    # dropped by the join, so results are identical.
    latest = (
        ev.where(
            "event_type IN ('click', 'view', 'purchase', 'signup', 'error') "
            "AND user_id < 200 AND user_id % 10 != 0"
        )
        .groupBy(F.expr("user_id AS pair_key"))
        .agg(
            F.expr(
                "max_by(named_struct("
                f"'yes_bid', CAST({cents} % 97 + 1 AS DOUBLE) / 100.0D, "
                f"'no_bid', CAST({cents} % 89 + 1 AS DOUBLE) / 100.0D, "
                "'ts_us', ts div 1000), "
                "CASE WHEN event_type IN ('click', 'view') "
                f"THEN {order_key} END)"
            ).alias("k"),
            F.expr(
                "max_by(named_struct("
                f"'yes_price', CAST({cents} % 99 + 1 AS DOUBLE) / 100.0D, "
                f"'no_price', 1.0D - CAST({cents} % 99 + 1 AS DOUBLE) / 100.0D, "
                "'ts_us', ts div 1000), "
                "CASE WHEN NOT event_type IN ('click', 'view') "
                f"THEN {order_key} END)"
            ).alias("p"),
        )
        .where("k IS NOT NULL AND p IS NOT NULL")
        .selectExpr(
            "pair_key",
            "k.yes_bid AS kalshi_yes_bid",
            "k.no_bid AS kalshi_no_bid",
            "k.ts_us AS k_ts_us",
            "p.yes_price AS poly_yes",
            "p.no_price AS poly_no",
            "p.ts_us AS p_ts_us",
        )
    )
    pairs = (
        load_table(spark, sf_dir, "customer")
        .where("c_custkey < 200 AND c_custkey % 10 != 0")
        .selectExpr("c_custkey AS pair_id")
    )
    bounds = ev.agg(F.expr("max(ts div 1000) AS max_us"))

    horizon = 86_400_000_000  # µs; batch-fixture freshness window (F5)
    joined = (
        latest.join(F.broadcast(pairs), F.col("pair_key") == F.col("pair_id"))
        .crossJoin(F.broadcast(bounds))
        .where(
            f"k_ts_us >= max_us - {horizon} AND p_ts_us >= max_us - {horizon}"
        )
    )
    margin_yes = "(kalshi_yes_bid - poly_yes) / poly_yes"
    margin_no = "(kalshi_no_bid - poly_no) / poly_no"
    take_yes = (
        "(poly_yes < kalshi_yes_bid) AND "
        f"(NOT (poly_no < kalshi_no_bid) OR ({margin_yes}) >= ({margin_no}))"
    )
    return (
        joined.selectExpr(
            "pair_id",
            f"CASE WHEN {take_yes} THEN 'kalshi_yes_polymarket_no' "
            "ELSE 'kalshi_no_polymarket_yes' END AS arbitrage_type",
            f"CASE WHEN {take_yes} THEN kalshi_yes_bid ELSE kalshi_no_bid END"
            " AS kalshi_price",
            f"CASE WHEN {take_yes} THEN poly_yes ELSE poly_no END AS poly_price",
            f"CASE WHEN {take_yes} THEN {margin_yes} ELSE {margin_no} END"
            " AS profit_margin",
            "(poly_yes < kalshi_yes_bid) OR (poly_no < kalshi_no_bid) AS any_ok",
        )
        .where("any_ok AND profit_margin > 0.02D")
        .drop("any_ok")
    )


# ---------------------------------------------------------------------------
# P10: line-protocol export
# ---------------------------------------------------------------------------
_LP_ORACLE = """
WITH src AS (
  SELECT event_id,
         CASE WHEN user_id % 2 = 0 THEN 'kalshi' ELSE 'polymarket' END AS source,
         'MKT-' || CAST(user_id AS VARCHAR) AS ticker,
         replace(CASE WHEN event_id % 7 = 0 THEN event_type || '"x"'
                      ELSE event_type END, '"', '\\"') AS v,
         epoch_us(ts) * 1000 AS ts_ns
  FROM events
)
SELECT event_id,
       'market_snapshot,source=' || source || ',ticker=' || ticker
         || ' status="' || v || '" ' || CAST(ts_ns AS VARCHAR) AS line
FROM src
"""


@query("line_protocol_export", oracle=_LP_ORACLE, tags=("P10",))
def line_protocol_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-protocol export lane (P10, `database/models/influx.py:105-146`):
    every snapshot row rendered as a `measurement,tags field="v" ts_ns`
    string, including the double-quote escaping rule (rows where
    event_id % 7 = 0 get a quoted token injected to exercise it). Pure
    narrow projection — no shuffle; at scale this is a map-only export
    stage feeding whatever Influx-compatible consumer remains."""
    ev = load_table(spark, sf_dir, "events")
    src = F.when(F.col("user_id") % 2 == 0, F.lit("kalshi")).otherwise(
        F.lit("polymarket")
    )
    ticker = F.concat(F.lit("MKT-"), F.col("user_id").cast("string"))
    status = F.when(
        F.col("event_id") % 7 == 0, F.concat(F.col("event_type"), F.lit('"x"'))
    ).otherwise(F.col("event_type"))
    ts_ns = F.expr("(ts div 1000) * 1000")
    return ev.select(
        "event_id",
        ob.line_protocol("market_snapshot", src, ticker, "status", status, ts_ns).alias(
            "line"
        ),
    )


# ---------------------------------------------------------------------------
# J3: snapshot-correlation semi-join (array_contains)
# ---------------------------------------------------------------------------
@query(
    "snapshot_correlation",
    oracle="""
SELECT o.o_orderkey AS orderkey, o.o_totalprice
FROM orders o
WHERE EXISTS (
  SELECT 1 FROM lineitem l
  WHERE l.l_orderkey = o.o_orderkey
    AND (l.l_partkey = 100 OR (l.l_linenumber = 1 AND l.l_partkey % 1000 = 100))
)
""",
    tags=("J3",),
)
def snapshot_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trades correlated to a snapshot id: `executed_snapshot_id = x OR
    analyzed_snapshot_ids @> x` (J3, `database/postgres/writer.py:470-497`
    — replacing its JSONB LIKE-pattern hack with array_contains). Built by
    aggregating lineitem into per-order id arrays, then filtering with
    array_contains — the declarative LEFT SEMI shape."""
    li = load_table(spark, sf_dir, "lineitem")
    per_order = li.groupBy("l_orderkey").agg(
        F.collect_set("l_partkey").alias("analyzed_snapshot_ids"),
        # l_linenumber is not unique per order in this testdata: the
        # "executed" correlation holds if ANY first-line row matches
        F.max(
            F.when((F.col("l_linenumber") == 1) & (F.col("l_partkey") % 1000 == 100), True)
        ).alias("executed_hit"),
    )
    hits = per_order.filter(
        F.array_contains("analyzed_snapshot_ids", F.lit(100)) | F.col("executed_hit")
    )
    o = load_table(spark, sf_dir, "orders")
    return o.join(hits, o.o_orderkey == hits.l_orderkey, "left_semi").select(
        F.col("o_orderkey").alias("orderkey"), "o_totalprice"
    )


# ---------------------------------------------------------------------------
# P9: timing-chain latency derivations
# ---------------------------------------------------------------------------
@query(
    "timing_chain_stats",
    oracle="""
WITH chain AS (
  SELECT event_type,
         epoch_us(ts) * 1000 AS api_call_start_ns,
         epoch_us(ts) * 1000 + (event_id % 500 + 1) * 1000000 AS api_response_ns,
         epoch_us(ts) * 1000 + (event_id % 500 + 1) * 1000000 + (user_id + 1) * 100000
           AS processing_complete_ns
  FROM events
)
SELECT event_type,
       CAST(SUM((api_response_ns - api_call_start_ns) / 1000) AS DOUBLE) / COUNT(*)
         AS avg_api_latency_us,
       MAX((processing_complete_ns - api_call_start_ns) / 1000) AS max_pipeline_latency_us,
       COUNT(*) AS n
FROM chain
GROUP BY event_type
""",
    tags=("P9",),
)
def timing_chain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latency derivations over a ns timing chain (P9: `(t2-t1)/1000` µs,
    `ireland/api/data_feed.py:95-114`). The chain is derived
    deterministically from events so the math — not the fixture — is under
    test. Integer-exact throughout."""
    ev = load_table(spark, sf_dir, "events")
    start = F.expr("(ts div 1000) * 1000")
    resp = start + (F.col("event_id") % 500 + 1) * 1_000_000
    done = resp + (F.col("user_id") + 1) * 100_000
    chain = ev.select(
        "event_type",
        start.alias("api_call_start_ns"),
        resp.alias("api_response_ns"),
        done.alias("processing_complete_ns"),
    )
    api_lat = ob.latency_us("api_call_start_ns", "api_response_ns")
    pipe_lat = ob.pipeline_latency_us("api_call_start_ns", "processing_complete_ns")
    return chain.groupBy("event_type").agg(
        (F.sum(api_lat).cast("double") / F.count(F.lit(1))).alias("avg_api_latency_us"),
        F.max(pipe_lat).alias("max_pipeline_latency_us"),
        F.count(F.lit(1)).alias("n"),
    )


# ---------------------------------------------------------------------------
# J1 over time: the pair-margin research timeline (what the reference's
# ETL users build in pandas from get_ticker_data pulls — §3.4's next step)
# ---------------------------------------------------------------------------
_MARGIN_TIMELINE_ORACLE = """
WITH k AS (
  SELECT user_id, epoch_us(ts) - epoch_us(ts) % 3600000000 AS bucket_us,
         (CAST(round(value * 100) AS BIGINT) % 97 + 1) / 100.0 AS kalshi_yes_bid
  FROM events
  WHERE event_type IN ('click', 'view')
  QUALIFY ROW_NUMBER() OVER (
    PARTITION BY user_id, epoch_us(ts) - epoch_us(ts) % 3600000000
    ORDER BY ts DESC, event_id DESC) = 1
),
p AS (
  SELECT user_id, epoch_us(ts) - epoch_us(ts) % 3600000000 AS bucket_us,
         (CAST(round(value * 100) AS BIGINT) % 99 + 1) / 100.0 AS poly_yes
  FROM events
  WHERE event_type IN ('purchase', 'signup', 'error')
  QUALIFY ROW_NUMBER() OVER (
    PARTITION BY user_id, epoch_us(ts) - epoch_us(ts) % 3600000000
    ORDER BY ts DESC, event_id DESC) = 1
)
SELECT k.user_id AS pair_key, k.bucket_us, k.kalshi_yes_bid, p.poly_yes,
       (k.kalshi_yes_bid - p.poly_yes) / p.poly_yes AS margin_yes
FROM k JOIN p ON k.user_id = p.user_id AND k.bucket_us = p.bucket_us
"""


def margin_buckets(ev: DataFrame, period_us: int = 3_600_000_000) -> DataFrame:
    """The cross-venue margin-series core, shared by the
    pair_margin_timeline query and etl.pair_history: per (pair, bucket),
    the last quote of EACH venue (the same venue-conditional max_by as
    arbitrage_scan, keyed one level finer), buckets where both venues
    quoted, margin = (k-p)/p. One scan + one shuffle on (pair, bucket).
    Expressions are expr strings (the trees of the orderbook.py
    cents_to_dollars helper; one py4j round trip per column); the
    bucket width is `int()`-checked before it enters the text."""
    p = int(period_us)
    cents = "CAST(round(value * 100) AS BIGINT)"
    is_kalshi = "event_type IN ('click', 'view')"
    order_key = "struct(ts AS ts, event_id AS event_id)"

    def last(price_mod: int, when: str, alias: str) -> Column:
        return F.expr(
            f"max_by(CAST({cents} % {price_mod} + 1 AS DOUBLE) / 100.0D,"
            f" CASE WHEN {when} THEN {order_key} END) AS {alias}"
        )

    return (
        ev.groupBy(
            F.expr("user_id AS pair_key"),
            F.expr(f"(ts div 1000) - (ts div 1000) % {p} AS bucket_us"),
        )
        .agg(
            last(97, is_kalshi, "kalshi_yes_bid"),
            last(99, f"NOT ({is_kalshi})", "poly_yes"),
        )
        .filter("kalshi_yes_bid IS NOT NULL AND poly_yes IS NOT NULL")
        .selectExpr(
            "pair_key",
            "bucket_us",
            "kalshi_yes_bid",
            "poly_yes",
            "(kalshi_yes_bid - poly_yes) / poly_yes AS margin_yes",
        )
    )


@query(
    "pair_margin_timeline",
    oracle=_MARGIN_TIMELINE_ORACLE,
    tags=("J1", "A6", "A7"),
)
def pair_margin_timeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly cross-venue margin history per pair (see margin_buckets for
    the plan shape); at 100 TB this is the continuous aggregate the
    research UI reads, maintained incrementally per partition-hour. The
    reference's users assemble exactly this series by hand from
    per-venue `get_ticker_data` pulls (`etl/query.py:78-263`)."""
    return margin_buckets(load_table(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# Microstructure signals from the parsed book: imbalance + microprice —
# the inputs the reference's scanner would want NEXT (it stops at
# best-of-book + margin; these are the standard refinements).
# ---------------------------------------------------------------------------
@query(
    "book_imbalance_microprice",
    oracle=f"""
WITH lv AS ({_KALSHI_LEVELS_SQL}),
s AS (
  SELECT ticker,
         MAX(CASE WHEN is_yes THEN price END) AS bid_px,
         100 - MAX(CASE WHEN NOT is_yes THEN price END) AS ask_px,
         CAST(SUM(CASE WHEN is_yes THEN qty ELSE 0 END) AS BIGINT) AS bid_qty,
         CAST(SUM(CASE WHEN NOT is_yes THEN qty ELSE 0 END) AS BIGINT) AS ask_qty
  FROM lv GROUP BY ticker
  HAVING COUNT(CASE WHEN is_yes THEN 1 END) > 0
     AND COUNT(CASE WHEN NOT is_yes THEN 1 END) > 0
)
SELECT ticker, bid_px, ask_px, bid_qty, ask_qty,
       CAST(bid_qty - ask_qty AS DOUBLE) / (bid_qty + ask_qty) AS imbalance,
       CAST(ask_px * bid_qty + bid_px * ask_qty AS DOUBLE) / (bid_qty + ask_qty)
         AS microprice_cents
FROM s
""",
    tags=("P3", "P6", "microstructure"),
)
def book_imbalance_microprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-book imbalance and size-weighted microprice per ticker,
    computed through the full snapshot path (book build → JSON round
    trip → HOF extraction): the YES side quotes bids, the NO side's
    complement quotes asks (P6), imbalance = (bq−aq)/(bq+aq), microprice
    = (ask·bq + bid·aq)/(bq+aq) — the classic queue-weighted fair-value
    estimate. All sums are integers; the single double divide is
    IEEE-identical in both engines. Same one-shuffle plan as
    kalshi_book_summary (shared `_kalshi_books`)."""
    books = _kalshi_books(
        spark, sf_dir, require=(F.size("yes") > 0) & (F.size("no") > 0)
    )
    yes, no = F.col("book.yes"), F.col("book.no")
    bid_px = ob.best_bid_cents(yes).cast("long")
    ask_px = (F.lit(100) - ob.best_bid_cents(no)).cast("long")
    bid_qty = ob.side_quantity(yes)
    ask_qty = ob.side_quantity(no)
    tot = bid_qty + ask_qty
    return (
        books.select(
            "ticker",
            bid_px.alias("bid_px"),
            ask_px.alias("ask_px"),
            bid_qty.alias("bid_qty"),
            ask_qty.alias("ask_qty"),
            ((bid_qty - ask_qty).cast("double") / tot).alias("imbalance"),
            (
                (ask_px * bid_qty + bid_px * ask_qty).cast("double") / tot
            ).alias("microprice_cents"),
        )
    )


# ---------------------------------------------------------------------------
# Historical backtest: tick-by-tick arbitrage PnL accounting — what a user
# of the live scanner runs next (same decision rules, replayed over the
# whole history instead of latest-state-only)
# ---------------------------------------------------------------------------

_BT_FRESH_US = 86_400_000_000  # the scan's freshness gate
_BT_THRESHOLD = 0.02  # the scan's margin threshold


@query(
    "arbitrage_backtest_pnl",
    oracle=f"""
WITH k AS (
  SELECT user_id, epoch_us(ts) AS ts_us, event_id,
         (CAST(round(value * 100) AS BIGINT) % 97 + 1) / 100.0 AS yes_bid,
         (CAST(round(value * 100) AS BIGINT) % 89 + 1) / 100.0 AS no_bid
  FROM events WHERE event_type IN ('click', 'view')
),
p AS (
  SELECT user_id, epoch_us(ts) AS ts_us, event_id,
         (CAST(round(value * 100) AS BIGINT) % 99 + 1) / 100.0 AS yes_price,
         1.0 - (CAST(round(value * 100) AS BIGINT) % 99 + 1) / 100.0 AS no_price
  FROM events WHERE event_type IN ('purchase', 'signup', 'error')
),
pairs AS (
  SELECT c_custkey AS pair_id FROM customer
  WHERE c_custkey < 200 AND c_custkey % 10 <> 0
),
merged AS (
  SELECT user_id, ts_us, event_id, 0 AS is_k,
         NULL::DOUBLE AS yes_bid, NULL::DOUBLE AS no_bid,
         yes_price, no_price, ts_us AS p_ts
  FROM p
  UNION ALL
  SELECT user_id, ts_us, event_id, 1 AS is_k,
         yes_bid, no_bid, NULL, NULL, NULL
  FROM k
),
aligned AS (
  SELECT user_id, ts_us, event_id, is_k, yes_bid, no_bid,
         LAST_VALUE(yes_price IGNORE NULLS) OVER w AS poly_yes,
         LAST_VALUE(no_price IGNORE NULLS) OVER w AS poly_no,
         LAST_VALUE(p_ts IGNORE NULLS) OVER w AS poly_ts
  FROM merged
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, is_k, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
ticks AS (
  SELECT a.user_id AS pair_id, a.ts_us, a.event_id,
         a.yes_bid, a.no_bid, a.poly_yes, a.poly_no,
         (a.yes_bid - a.poly_yes) / a.poly_yes AS margin_yes,
         (a.no_bid - a.poly_no) / a.poly_no AS margin_no,
         (a.poly_yes < a.yes_bid) AS yes_ok,
         (a.poly_no < a.no_bid) AS no_ok
  FROM aligned a
  JOIN pairs ON pairs.pair_id = a.user_id
  WHERE a.is_k = 1 AND a.poly_ts IS NOT NULL
    AND a.ts_us - a.poly_ts <= {_BT_FRESH_US}
),
trades AS (
  SELECT pair_id, ts_us,
         CAST(round((CASE WHEN yes_ok AND (NOT no_ok OR margin_yes >= margin_no)
                          THEN margin_yes ELSE margin_no END) * 10000)
              AS BIGINT) AS pnl_bp
  FROM ticks
  WHERE (yes_ok OR no_ok)
    AND (CASE WHEN yes_ok AND (NOT no_ok OR margin_yes >= margin_no)
              THEN margin_yes ELSE margin_no END) > {_BT_THRESHOLD}
)
SELECT pair_id,
       CAST(COUNT(*) AS BIGINT) AS n_trades,
       CAST(SUM(pnl_bp) AS BIGINT) AS pnl_bp_total,
       CAST(MIN(ts_us) AS BIGINT) AS first_trade_ts_us,
       CAST(MAX(ts_us) AS BIGINT) AS last_trade_ts_us
FROM trades GROUP BY pair_id
""",
    tags=("J1", "F5", "F6", "backtest", "timeseries"),
)
def arbitrage_backtest_pnl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BACKTEST the live scanner's decision rules over the whole history:
    every Kalshi tick is as-of-aligned with the latest Polymarket quote
    for its pair (union + IGNORE NULLS last_value window — the engine's
    standard as-of idiom, one sort-shuffle, no range join), gated by the
    same 24 h freshness rule, scored with the same margin/side-selection
    logic as `arbitrage_scan`/the streaming fold, and every
    above-threshold tick is booked as a trade at round(margin x 1e4)
    basis points. Output: per-pair trade count, total PnL (integer bp),
    and the active window. This is latest-state's missing complement —
    the scanner says what to do NOW; the backtest says what the rule
    WOULD have earned, tick by tick, which is how a threshold gets
    chosen before deployment. Floats appear only in the fixed
    derive-margin op sequence (identical in both engines); the booked
    PnL is integer."""
    events = load_table(spark, sf_dir, "events")
    cents = F.expr("cast(round(value * 100) as bigint)")
    k = events.filter(F.col("event_type").isin("click", "view")).select(
        "user_id",
        F.expr("ts div 1000").alias("ts_us"),
        "event_id",
        ((cents % 97 + 1) / 100.0).alias("yes_bid"),
        ((cents % 89 + 1) / 100.0).alias("no_bid"),
    )
    p = events.filter(
        F.col("event_type").isin("purchase", "signup", "error")
    ).select(
        "user_id",
        F.expr("ts div 1000").alias("ts_us"),
        "event_id",
        ((cents % 99 + 1) / 100.0).alias("yes_price"),
        (1.0 - (cents % 99 + 1) / 100.0).alias("no_price"),
    )
    pairs = (
        load_table(spark, sf_dir, "customer")
        .filter((F.col("c_custkey") < 200) & (F.col("c_custkey") % 10 != 0))
        .select(F.col("c_custkey").alias("pair_id"))
    )
    merged = p.select(
        "user_id", "ts_us", "event_id",
        F.lit(0).alias("is_k"),
        F.lit(None).cast("double").alias("yes_bid"),
        F.lit(None).cast("double").alias("no_bid"),
        "yes_price", "no_price",
        F.col("ts_us").alias("p_ts"),
    ).unionByName(
        k.select(
            "user_id", "ts_us", "event_id",
            F.lit(1).alias("is_k"),
            "yes_bid", "no_bid",
            F.lit(None).cast("double").alias("yes_price"),
            F.lit(None).cast("double").alias("no_price"),
            F.lit(None).cast("long").alias("p_ts"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "is_k", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    aligned = merged.select(
        "user_id", "ts_us", "event_id", "is_k", "yes_bid", "no_bid",
        F.last("yes_price", ignorenulls=True).over(w).alias("poly_yes"),
        F.last("no_price", ignorenulls=True).over(w).alias("poly_no"),
        F.last("p_ts", ignorenulls=True).over(w).alias("poly_ts"),
    )
    ticks = (
        aligned.filter(
            (F.col("is_k") == 1)
            & F.col("poly_ts").isNotNull()
            & (F.col("ts_us") - F.col("poly_ts") <= _BT_FRESH_US)
        )
        .join(F.broadcast(pairs), aligned.user_id == pairs.pair_id)
        .select(
            "pair_id", "ts_us",
            ((F.col("yes_bid") - F.col("poly_yes")) / F.col("poly_yes")).alias(
                "margin_yes"
            ),
            ((F.col("no_bid") - F.col("poly_no")) / F.col("poly_no")).alias(
                "margin_no"
            ),
            (F.col("poly_yes") < F.col("yes_bid")).alias("yes_ok"),
            (F.col("poly_no") < F.col("no_bid")).alias("no_ok"),
        )
    )
    chosen = F.when(
        F.col("yes_ok") & (~F.col("no_ok") | (F.col("margin_yes") >= F.col("margin_no"))),
        F.col("margin_yes"),
    ).otherwise(F.col("margin_no"))
    trades = ticks.filter(
        (F.col("yes_ok") | F.col("no_ok")) & (chosen > _BT_THRESHOLD)
    ).select(
        "pair_id", "ts_us", F.round(chosen * 10000).cast("long").alias("pnl_bp")
    )
    return trades.groupBy("pair_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_trades"),
        F.sum("pnl_bp").cast("long").alias("pnl_bp_total"),
        F.min("ts_us").cast("long").alias("first_trade_ts_us"),
        F.max("ts_us").cast("long").alias("last_trade_ts_us"),
    )


@query(
    "backtest_equity_drawdown",
    oracle=f"""
WITH k AS (
  SELECT user_id, epoch_us(ts) AS ts_us, event_id,
         (CAST(round(value * 100) AS BIGINT) % 97 + 1) / 100.0 AS yes_bid,
         (CAST(round(value * 100) AS BIGINT) % 89 + 1) / 100.0 AS no_bid
  FROM events WHERE event_type IN ('click', 'view')
),
p AS (
  SELECT user_id, epoch_us(ts) AS ts_us, event_id,
         (CAST(round(value * 100) AS BIGINT) % 99 + 1) / 100.0 AS yes_price,
         1.0 - (CAST(round(value * 100) AS BIGINT) % 99 + 1) / 100.0 AS no_price
  FROM events WHERE event_type IN ('purchase', 'signup', 'error')
),
pairs AS (
  SELECT c_custkey AS pair_id FROM customer
  WHERE c_custkey < 200 AND c_custkey % 10 <> 0
),
merged AS (
  SELECT user_id, ts_us, event_id, 0 AS is_k,
         NULL::DOUBLE AS yes_bid, NULL::DOUBLE AS no_bid,
         yes_price, no_price, ts_us AS p_ts
  FROM p
  UNION ALL
  SELECT user_id, ts_us, event_id, 1, yes_bid, no_bid, NULL, NULL, NULL
  FROM k
),
aligned AS (
  SELECT user_id, ts_us, event_id, is_k, yes_bid, no_bid,
         LAST_VALUE(yes_price IGNORE NULLS) OVER w AS poly_yes,
         LAST_VALUE(no_price IGNORE NULLS) OVER w AS poly_no,
         LAST_VALUE(p_ts IGNORE NULLS) OVER w AS poly_ts
  FROM merged
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, is_k, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
ticks AS (
  SELECT a.user_id AS pair_id, a.ts_us, a.event_id,
         (a.yes_bid - a.poly_yes) / a.poly_yes AS margin_yes,
         (a.no_bid - a.poly_no) / a.poly_no AS margin_no,
         (a.poly_yes < a.yes_bid) AS yes_ok,
         (a.poly_no < a.no_bid) AS no_ok
  FROM aligned a
  JOIN pairs ON pairs.pair_id = a.user_id
  WHERE a.is_k = 1 AND a.poly_ts IS NOT NULL
    AND a.ts_us - a.poly_ts <= {_BT_FRESH_US}
),
trades AS (
  SELECT pair_id, ts_us, event_id,
         CAST(round((CASE WHEN yes_ok AND (NOT no_ok OR margin_yes >= margin_no)
                          THEN margin_yes ELSE margin_no END) * 10000)
              AS BIGINT) - 250 AS pnl_bp
  FROM ticks
  WHERE (yes_ok OR no_ok)
    AND (CASE WHEN yes_ok AND (NOT no_ok OR margin_yes >= margin_no)
              THEN margin_yes ELSE margin_no END) > {_BT_THRESHOLD}
),
equity AS (
  SELECT pair_id, ts_us, event_id,
         SUM(pnl_bp) OVER (PARTITION BY pair_id
                           ORDER BY ts_us, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS equity_bp
  FROM trades
),
dd AS (
  SELECT pair_id, equity_bp,
         MAX(equity_bp) OVER (PARTITION BY pair_id
                              ORDER BY ts_us, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - equity_bp AS drawdown_bp
  FROM equity
)
SELECT pair_id,
       CAST(COUNT(*) AS BIGINT) AS n_trades,
       CAST(MAX(equity_bp) AS BIGINT) AS peak_equity_bp,
       CAST(MAX(drawdown_bp) AS BIGINT) AS max_drawdown_bp,
       CAST(MIN(equity_bp) AS BIGINT) AS trough_equity_bp
FROM dd GROUP BY pair_id
""",
    tags=("backtest", "risk", "W-windows"),
)
def backtest_equity_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RISK metrics over the backtest's equity curve: the same trade
    stream as `arbitrage_backtest_pnl` but with a 25 bp per-trade cost
    haircut (so the curve actually goes down sometimes), folded into a
    running cumulative-equity window and a running-peak drawdown — the
    max-drawdown / peak / trough numbers a strategy review asks for
    before the threshold ships. Two stacked windows on one
    (pair, time)-sorted frame: cumulative sum, then running max — a
    single sort-shuffle per pair partition, the same plan family as
    max_drawdown_per_ticker but over DERIVED trades rather than raw
    prices. All equity arithmetic is integer basis points."""
    events = load_table(spark, sf_dir, "events")
    cents = F.expr("cast(round(value * 100) as bigint)")
    k = events.filter(F.col("event_type").isin("click", "view")).select(
        "user_id", F.expr("ts div 1000").alias("ts_us"), "event_id",
        ((cents % 97 + 1) / 100.0).alias("yes_bid"),
        ((cents % 89 + 1) / 100.0).alias("no_bid"),
    )
    p = events.filter(
        F.col("event_type").isin("purchase", "signup", "error")
    ).select(
        "user_id", F.expr("ts div 1000").alias("ts_us"), "event_id",
        ((cents % 99 + 1) / 100.0).alias("yes_price"),
        (1.0 - (cents % 99 + 1) / 100.0).alias("no_price"),
    )
    pairs = (
        load_table(spark, sf_dir, "customer")
        .filter((F.col("c_custkey") < 200) & (F.col("c_custkey") % 10 != 0))
        .select(F.col("c_custkey").alias("pair_id"))
    )
    merged = p.select(
        "user_id", "ts_us", "event_id", F.lit(0).alias("is_k"),
        F.lit(None).cast("double").alias("yes_bid"),
        F.lit(None).cast("double").alias("no_bid"),
        "yes_price", "no_price", F.col("ts_us").alias("p_ts"),
    ).unionByName(
        k.select(
            "user_id", "ts_us", "event_id", F.lit(1).alias("is_k"),
            "yes_bid", "no_bid",
            F.lit(None).cast("double").alias("yes_price"),
            F.lit(None).cast("double").alias("no_price"),
            F.lit(None).cast("long").alias("p_ts"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "is_k", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    aligned = merged.select(
        "user_id", "ts_us", "event_id", "is_k", "yes_bid", "no_bid",
        F.last("yes_price", ignorenulls=True).over(w).alias("poly_yes"),
        F.last("no_price", ignorenulls=True).over(w).alias("poly_no"),
        F.last("p_ts", ignorenulls=True).over(w).alias("poly_ts"),
    )
    ticks = (
        aligned.filter(
            (F.col("is_k") == 1)
            & F.col("poly_ts").isNotNull()
            & (F.col("ts_us") - F.col("poly_ts") <= _BT_FRESH_US)
        )
        .join(F.broadcast(pairs), aligned.user_id == pairs.pair_id)
        .select(
            "pair_id", "ts_us", "event_id",
            ((F.col("yes_bid") - F.col("poly_yes")) / F.col("poly_yes")).alias("margin_yes"),
            ((F.col("no_bid") - F.col("poly_no")) / F.col("poly_no")).alias("margin_no"),
            (F.col("poly_yes") < F.col("yes_bid")).alias("yes_ok"),
            (F.col("poly_no") < F.col("no_bid")).alias("no_ok"),
        )
    )
    chosen = F.when(
        F.col("yes_ok") & (~F.col("no_ok") | (F.col("margin_yes") >= F.col("margin_no"))),
        F.col("margin_yes"),
    ).otherwise(F.col("margin_no"))
    trades = ticks.filter(
        (F.col("yes_ok") | F.col("no_ok")) & (chosen > _BT_THRESHOLD)
    ).select(
        "pair_id", "ts_us", "event_id",
        (F.round(chosen * 10000).cast("long") - 250).alias("pnl_bp"),
    )
    weq = (
        Window.partitionBy("pair_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    equity = trades.select(
        "pair_id", "ts_us", "event_id",
        F.sum("pnl_bp").over(weq).alias("equity_bp"),
    )
    wdd = (
        Window.partitionBy("pair_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dd = equity.select(
        "pair_id", "equity_bp",
        (F.max("equity_bp").over(wdd) - F.col("equity_bp")).alias("drawdown_bp"),
    )
    return dd.groupBy("pair_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_trades"),
        F.max("equity_bp").cast("long").alias("peak_equity_bp"),
        F.max("drawdown_bp").cast("long").alias("max_drawdown_bp"),
        F.min("equity_bp").cast("long").alias("trough_equity_bp"),
    )


# ---------------------------------------------------------------------------
# Lead-lag discovery: WHICH venue moves first? The cross-correlogram of
# price moves at signed bucket lags — the research question one step
# beyond the scanner's instantaneous margin (if Kalshi systematically
# leads by one bucket, the scan should trigger on Kalshi moves and quote
# into Polymarket, not wait for both).
# ---------------------------------------------------------------------------
_LL_BUCKET_US = 300_000_000  # 5-minute buckets
_LL_MAX_LAG = 3

_LEAD_LAG_ORACLE = f"""
WITH k AS (
  SELECT user_id AS pair_key, epoch_us(ts) // {_LL_BUCKET_US} AS b,
         CAST(round(value * 100) AS BIGINT) % 97 + 1 AS px
  FROM events WHERE event_type IN ('click', 'view')
  QUALIFY ROW_NUMBER() OVER (
    PARTITION BY user_id, epoch_us(ts) // {_LL_BUCKET_US}
    ORDER BY ts DESC, event_id DESC) = 1
),
p AS (
  SELECT user_id AS pair_key, epoch_us(ts) // {_LL_BUCKET_US} AS b,
         CAST(round(value * 100) AS BIGINT) % 99 + 1 AS px
  FROM events WHERE event_type IN ('purchase', 'signup', 'error')
  QUALIFY ROW_NUMBER() OVER (
    PARTITION BY user_id, epoch_us(ts) // {_LL_BUCKET_US}
    ORDER BY ts DESC, event_id DESC) = 1
),
km AS (
  SELECT pair_key, b, px - LAG(px) OVER (PARTITION BY pair_key ORDER BY b) AS dk
  FROM k QUALIFY dk IS NOT NULL
),
pm AS (
  SELECT pair_key, b, px - LAG(px) OVER (PARTITION BY pair_key ORDER BY b) AS dp
  FROM p QUALIFY dp IS NOT NULL
),
lags AS (SELECT CAST(l AS BIGINT) AS lag
         FROM unnest(range(-{_LL_MAX_LAG}, {_LL_MAX_LAG} + 1)) AS t(l)),
aligned AS (
  SELECT lags.lag, km.dk, pm.dp
  FROM pm CROSS JOIN lags
  JOIN km ON km.pair_key = pm.pair_key AND km.b = pm.b - lags.lag
),
m AS (
  SELECT lag, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(dk) AS BIGINT) AS sdk, CAST(SUM(dp) AS BIGINT) AS sdp,
         CAST(SUM(dk * dk) AS BIGINT) AS sdk2,
         CAST(SUM(dp * dp) AS BIGINT) AS sdp2,
         CAST(SUM(dk * dp) AS BIGINT) AS sdkdp
  FROM aligned GROUP BY lag
)
SELECT lag, n, sdk, sdp, sdkdp,
       (CAST(n AS DOUBLE) * CAST(sdkdp AS DOUBLE)
        - CAST(sdk AS DOUBLE) * CAST(sdp AS DOUBLE))
       / (sqrt(CAST(n AS DOUBLE) * CAST(sdk2 AS DOUBLE)
               - CAST(sdk AS DOUBLE) * CAST(sdk AS DOUBLE))
          * sqrt(CAST(n AS DOUBLE) * CAST(sdp2 AS DOUBLE)
                 - CAST(sdp AS DOUBLE) * CAST(sdp AS DOUBLE))) AS xcorr
FROM m
WHERE n * sdk2 > sdk * sdk AND n * sdp2 > sdp * sdp
"""


@query("venue_lead_lag", oracle=_LEAD_LAG_ORACLE, tags=("J1", "lead-lag", "A2"))
def venue_lead_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-venue lead-lag correlogram: Pearson correlation between
    Kalshi price moves at bucket t and Polymarket moves at bucket t+lag,
    for signed lags −3..+3 (5-min buckets) — positive-lag peaks mean
    Kalshi LEADS (its move shows up on Polymarket `lag` buckets later).
    Moves are deltas between consecutive QUOTED buckets per pair (the
    declared semantics for sparse books), assigned to the later bucket.

    Exactness: prices stay integer cents; all five correlation moments
    (n, Σdk, Σdp, Σdk², Σdp², Σdk·dp) are exact int64 sums, so
    aggregation order cannot perturb them; the correlation itself is one
    fixed IEEE expression over doubles of those exact integers —
    bit-identical in both engines. Degenerate lags (zero variance) are
    filtered with the integer predicate n·Σx² > (Σx)², never a float
    epsilon.

    Shape: each venue branch filters its event family at the scan
    (pushed predicate), pre-aggregates (pair, bucket) last-quotes with
    a MAP-SIDE partial max_by — so only bucket-granular rows ever cross
    the wire, never raw ticks — then runs its per-pair LAG window on
    the aggregated series. The move-alignment join keys on
    (pair, bucket) over two pair-partitioned sides (the lag column
    rides along as a 7x map-side explode on the poly side, never a
    shuffle of its own), and the final 7-group rollup is map-combined.
    At 100 TB: two column-pruned scans, zero raw-tick shuffles; skewed
    pairs salt the same way arbitrage_scan's do. Reference anchor: the
    scanner correlates venues at lag 0 only
    (`virginia/scanner/market_scanner.py`); the correlogram is the
    research extension that justifies its freshness window."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    is_kalshi = F.col("event_type").isin("click", "view")
    order_key = F.struct(F.col("ts").alias("ts"), F.col("event_id").alias("event_id"))
    w = Window.partitionBy("pair_key").orderBy("b")

    def moves(side: DataFrame, mod: int, out: str) -> DataFrame:
        series = side.groupBy(
            F.col("user_id").alias("pair_key"),
            F.expr(f"(ts div 1000) div {_LL_BUCKET_US}").alias("b"),
        ).agg(F.max_by(cents % mod + 1, order_key).alias("px"))
        return series.select(
            "pair_key", "b", (F.col("px") - F.lag("px").over(w)).alias(out)
        ).filter(F.col(out).isNotNull())

    km = moves(ev.filter(is_kalshi), 97, "dk")
    pm = moves(ev.filter(~is_kalshi), 99, "dp")
    probes = pm.select(
        "pair_key",
        "dp",
        F.explode(
            F.sequence(F.lit(-_LL_MAX_LAG), F.lit(_LL_MAX_LAG))
        ).alias("lag"),
        F.col("b").alias("pb"),
    ).withColumn("b", F.col("pb") - F.col("lag"))
    aligned = km.join(probes, ["pair_key", "b"])
    m = aligned.groupBy(F.col("lag").cast("long").alias("lag")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dk").alias("sdk"),
        F.sum("dp").alias("sdp"),
        F.sum(F.col("dk") * F.col("dk")).alias("sdk2"),
        F.sum(F.col("dp") * F.col("dp")).alias("sdp2"),
        F.sum(F.col("dk") * F.col("dp")).alias("sdkdp"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    return m.filter(
        (F.col("n") * F.col("sdk2") > F.col("sdk") * F.col("sdk"))
        & (F.col("n") * F.col("sdp2") > F.col("sdp") * F.col("sdp"))
    ).select(
        "lag",
        "n",
        "sdk",
        "sdp",
        "sdkdp",
        (
            (d("n") * d("sdkdp") - d("sdk") * d("sdp"))
            / (
                F.sqrt(d("n") * d("sdk2") - d("sdk") * d("sdk"))
                * F.sqrt(d("n") * d("sdp2") - d("sdp") * d("sdp"))
            )
        ).alias("xcorr"),
    )


# ---------------------------------------------------------------------------
# Call-auction uncross: the opening/closing clearing-price algorithm
# ---------------------------------------------------------------------------
@query(
    "auction_clearing_price",
    oracle="""
WITH o AS (
  SELECT user_id AS market,
         CASE WHEN event_type IN ('click', 'view') THEN 'B' ELSE 'S' END
           AS side,
         CAST(round(value * 100) AS BIGINT) % 97 + 1 AS px,
         event_id % 50 + 1 AS qty
  FROM events
),
lvl AS (
  SELECT market, px,
         CAST(SUM(CASE WHEN side = 'B' THEN qty ELSE 0 END) AS BIGINT)
           AS bid_qty,
         CAST(SUM(CASE WHEN side = 'S' THEN qty ELSE 0 END) AS BIGINT)
           AS ask_qty
  FROM o GROUP BY market, px
),
cum AS (
  SELECT market, px, bid_qty, ask_qty,
         CAST(SUM(bid_qty) OVER (PARTITION BY market ORDER BY px DESC)
              AS BIGINT) AS cum_buy,
         CAST(SUM(ask_qty) OVER (PARTITION BY market ORDER BY px ASC)
              AS BIGINT) AS cum_sell
  FROM lvl
),
ex AS (
  SELECT market, px, cum_buy, cum_sell,
         CASE WHEN cum_buy < cum_sell THEN cum_buy ELSE cum_sell END
           AS executable,
         abs(cum_buy - cum_sell) AS abs_imb
  FROM cum
)
SELECT market, px AS clearing_px, executable AS matched_qty,
       cum_buy - cum_sell AS imbalance, executable > 0 AS crossed
FROM ex
QUALIFY ROW_NUMBER() OVER (PARTITION BY market
                           ORDER BY executable DESC, abs_imb ASC, px ASC) = 1
""",
    tags=("A7", "finance", "auction"),
)
def auction_clearing_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Call-auction UNCROSS per market — the opening/closing-auction
    clearing algorithm every venue (and Kalshi's batched settlements)
    runs: the clearing price maximizes executable volume
    min(cumBuy(p), cumSell(p)), ties broken by minimum absolute
    order imbalance, then lowest price. cumBuy is the descending-price
    cumulative bid depth (a bid at price b participates at any clear
    <= b), cumSell the ascending cumulative ask depth. The reference
    scans for CONTINUOUS crossed quotes
    (`virginia/logic/opportunity_scanner.py:269-344`); the auction
    uncross is the batch form of the same crossing condition over the
    whole book at once.

    Exactness: all quantities are exact int64 (deterministic synthetic
    side/price/qty from the event fields); the winner per market is
    unique because price is unique within a market — max_by on the
    struct (executable, -abs_imb, -px) equals the oracle's
    ORDER BY executable DESC, abs_imb, px.

    Plan: one (market, px) level aggregation, then BOTH cumulative
    windows (price-descending for bids, ascending for asks) and the
    final per-market argmax ride a single market-keyed exchange — two
    exchanges end to end, no join between the sides (the two-sided
    book is one conditional aggregate)."""
    ev = load_table(spark, sf_dir, "events")
    o = ev.select(
        F.col("user_id").alias("market"),
        F.when(
            F.col("event_type").isin("click", "view"), F.lit("B")
        ).otherwise(F.lit("S")).alias("side"),
        (F.round(F.col("value") * 100).cast("long") % 97 + 1).alias("px"),
        (F.col("event_id") % 50 + 1).alias("qty"),
    )
    lvl = o.groupBy("market", "px").agg(
        F.sum(F.when(F.col("side") == "B", F.col("qty")).otherwise(0))
        .alias("bid_qty"),
        F.sum(F.when(F.col("side") == "S", F.col("qty")).otherwise(0))
        .alias("ask_qty"),
    )
    w_buy = (
        Window.partitionBy("market")
        .orderBy(F.col("px").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_sell = (
        Window.partitionBy("market")
        .orderBy(F.col("px").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ex = lvl.select(
        "market",
        "px",
        F.sum("bid_qty").over(w_buy).alias("cum_buy"),
        F.sum("ask_qty").over(w_sell).alias("cum_sell"),
    ).select(
        "market",
        "px",
        "cum_buy",
        "cum_sell",
        F.least("cum_buy", "cum_sell").alias("executable"),
        F.abs(F.col("cum_buy") - F.col("cum_sell")).alias("abs_imb"),
    )
    return ex.groupBy("market").agg(
        F.max_by(
            F.struct("px", "executable", "cum_buy", "cum_sell"),
            F.struct(
                F.col("executable"),
                (-F.col("abs_imb")).alias("neg_imb"),
                (-F.col("px")).alias("neg_px"),
            ),
        ).alias("w")
    ).select(
        "market",
        F.col("w.px").alias("clearing_px"),
        F.col("w.executable").alias("matched_qty"),
        (F.col("w.cum_buy") - F.col("w.cum_sell")).alias("imbalance"),
        (F.col("w.executable") > 0).alias("crossed"),
    )


# ---------------------------------------------------------------------------
# Prediction-market calibration: implied probability vs resolution rate
# ---------------------------------------------------------------------------
@query(
    "market_calibration_brier",
    oracle="""
WITH lastq AS (
  SELECT user_id AS market,
         arg_max(CAST(round(value * 100) AS BIGINT) % 97 + 1,
                 epoch_us(ts) * 4096 + event_id % 4096)
           FILTER (event_type IN ('click', 'view')) AS pct
  FROM events GROUP BY user_id
),
res AS (
  SELECT market, pct,
         (strpos('0123456789abcdef',
                 substr(md5(CAST(market AS VARCHAR)), 1, 1)) - 1) % 2
           AS outcome
  FROM lastq WHERE pct IS NOT NULL
)
SELECT (pct - 1) // 10 AS prob_decile,
       CAST(COUNT(*) AS BIGINT) AS n_markets,
       CAST(SUM(pct) AS BIGINT) AS sum_implied_pct,
       CAST(SUM(outcome) AS BIGINT) AS n_resolved_yes,
       CAST(SUM((pct - 100 * outcome) * (pct - 100 * outcome)) AS BIGINT)
         AS sq_err_sum,
       CAST(SUM(outcome) * 1000000 // COUNT(*) AS BIGINT)
         AS resolve_rate_ppm,
       CAST(SUM((pct - 100 * outcome) * (pct - 100 * outcome)) AS BIGINT)
         * 100 // COUNT(*) AS brier_x1e6
FROM res GROUP BY (pct - 1) // 10
""",
    tags=("A9", "finance", "calibration"),
)
def market_calibration_brier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CALIBRATION CURVE of the prediction market — for each
    implied-probability decile, how often do markets actually resolve
    YES, and what is the Brier score? This is the standard evaluation
    of a prediction market's prices (a calibrated venue's 70%-priced
    markets resolve YES ~70% of the time); the reference trades ON the
    prices but never audits them — this is that audit. The resolution
    signal is a deterministic md5-parity of the market id (independent
    of the price path, so on the synthetic tape the curve measures the
    prices against a fair coin — the computation, bucketing, and
    decomposition are what the operator delivers).

    Exactness: implied pct is the final Kalshi quote (arg_max by the
    tape order key); squared error is exact in percent-squared ints
    ((pct - 100*outcome)^2); brier_x1e6 and resolve_rate_ppm are
    integer floor divides (non-negative — both engines truncate
    identically). Plan: ONE tape scan with a venue-conditional
    map-combined max_by per market, then a 10-group decile rollup —
    two small exchanges, no joins."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    is_kalshi = F.col("event_type").isin("click", "view")
    okey = F.expr("(ts div 1000) * 4096 + event_id % 4096")
    lastq = (
        ev.groupBy(F.col("user_id").alias("market"))
        .agg(F.max_by(cents % 97 + 1, F.when(is_kalshi, okey)).alias("pct"))
        .filter(F.col("pct").isNotNull())
    )
    res = lastq.select(
        "pct",
        (
            (
                F.conv(
                    F.substring(F.md5(F.col("market").cast("string")), 1, 1),
                    16,
                    10,
                ).cast("long")
            )
            % 2
        ).alias("outcome"),
    )
    err = (F.col("pct") - 100 * F.col("outcome"))
    return (
        res.groupBy(F.expr("(pct - 1) div 10").alias("prob_decile"))
        .agg(
            F.count(F.lit(1)).alias("n_markets"),
            F.sum("pct").alias("sum_implied_pct"),
            F.sum("outcome").alias("n_resolved_yes"),
            F.sum(err * err).alias("sq_err_sum"),
        )
        .select(
            "prob_decile",
            "n_markets",
            "sum_implied_pct",
            "n_resolved_yes",
            "sq_err_sum",
            F.expr("n_resolved_yes * 1000000 div n_markets").alias(
                "resolve_rate_ppm"
            ),
            F.expr("sq_err_sum * 100 div n_markets").alias("brier_x1e6"),
        )
    )


# ---------------------------------------------------------------------------
# Queue position at insertion: how much resting volume sits ahead of you
# ---------------------------------------------------------------------------
@query(
    "order_queue_position",
    oracle="""
WITH d AS (
  SELECT user_id AS market, epoch_us(ts) AS ts_us, event_id,
         CASE WHEN event_id % 2 = 0 THEN 'bid' ELSE 'ask' END AS side,
         CAST(round(value * 100) AS BIGINT) // 1000 AS level,
         CASE WHEN event_type IN ('view', 'click', 'signup')
              THEN event_id % 7 + 1 ELSE -(event_id % 7 + 1) END AS delta
  FROM events
),
q AS (
  SELECT market, side, delta,
         COALESCE(SUM(delta) OVER (PARTITION BY market, side, level
                                   ORDER BY ts_us, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND 1 PRECEDING), 0) AS ahead
  FROM d
)
SELECT market, side,
       CAST(COUNT(*) AS BIGINT) AS n_adds,
       CAST(SUM(CASE WHEN ahead > 0 THEN ahead ELSE 0 END) AS BIGINT)
         AS sum_queue_ahead,
       CAST(MAX(ahead) AS BIGINT) AS peak_queue_ahead,
       CAST(SUM(CASE WHEN ahead <= 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_front_of_queue
FROM q WHERE delta > 0
GROUP BY market, side
""",
    tags=("P3", "finance", "microstructure", "event-sourcing"),
)
def order_queue_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUEUE POSITION at insertion for every new resting order: the net
    volume already standing at the same (market, side, price level)
    when the order arrives — the statistic that decides fill
    probability under price-time priority (front-of-queue at a level
    fills first; deep-queue orders mostly get adversely selected). The
    reference's book consumers know the aggregate depth
    (`virginia/api/data_feed.py:352-398`) but never each order's place
    IN it; this derives it from the same add/cancel delta feed as
    book_depth_rebuild, as an EXCLUSIVE running sum — the event-sourced
    restatement of 'walk the queue at insert time'.

    Exactness: all int64 (negative `ahead` — over-cancelled levels —
    reported via n_front_of_queue and excluded from the volume sum by
    the same predicate on both engines). Plan: ONE
    (market, side, level)-keyed sort-shuffle for the exclusive-prefix
    window, then a small (market, side) rollup — no joins, no state
    beyond the window."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.select(
        F.col("user_id").alias("market"),
        F.expr("ts div 1000").alias("ts_us"),
        "event_id",
        F.when(F.col("event_id") % 2 == 0, F.lit("bid"))
        .otherwise(F.lit("ask"))
        .alias("side"),
        F.expr("cast(round(value * 100) as bigint) div 1000").alias("level"),
        F.when(
            F.col("event_type").isin("view", "click", "signup"),
            F.col("event_id") % 7 + 1,
        )
        .otherwise(-(F.col("event_id") % 7 + 1))
        .alias("delta"),
    )
    w = (
        Window.partitionBy("market", "side", "level")
        .orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    q = d.select(
        "market",
        "side",
        "delta",
        F.coalesce(F.sum("delta").over(w), F.lit(0)).alias("ahead"),
    )
    return (
        q.filter(F.col("delta") > 0)
        .groupBy("market", "side")
        .agg(
            F.count(F.lit(1)).alias("n_adds"),
            F.sum(F.when(F.col("ahead") > 0, F.col("ahead")).otherwise(0))
            .cast("long")
            .alias("sum_queue_ahead"),
            F.max("ahead").alias("peak_queue_ahead"),
            F.sum(F.when(F.col("ahead") <= 0, 1).otherwise(0))
            .cast("long")
            .alias("n_front_of_queue"),
        )
    )


# ---------------------------------------------------------------------------
# Quote-presence uptime: the market-maker obligation metric
# ---------------------------------------------------------------------------
_UPTIME_TTL_US = 3_600_000_000  # a quote is "fresh" for 1h
_UPTIME_DAY_US = 86_400_000_000


@query(
    "quote_uptime_obligation",
    oracle=f"""
WITH q AS (
  SELECT user_id AS pair_key, epoch_us(ts) AS ts_us,
         epoch_us(ts) // {_UPTIME_DAY_US} AS day
  FROM events WHERE event_type = 'view'
),
w AS (
  SELECT pair_key, day, ts_us,
         LEAD(ts_us) OVER (PARTITION BY pair_key, day
                           ORDER BY ts_us) AS next_ts
  FROM q
),
cov AS (
  SELECT pair_key, day,
         CASE WHEN next_ts IS NULL
              THEN least({_UPTIME_TTL_US},
                         (day + 1) * {_UPTIME_DAY_US} - ts_us)
              ELSE least({_UPTIME_TTL_US}, next_ts - ts_us) END AS covered
  FROM w
)
SELECT pair_key,
       CAST(COUNT(*) AS BIGINT) AS n_quotes,
       CAST(COUNT(DISTINCT day) AS BIGINT) AS n_days,
       CAST(SUM(covered) AS BIGINT) AS covered_us,
       CAST(SUM(covered) * 1000000
            // (COUNT(DISTINCT day) * {_UPTIME_DAY_US}) AS BIGINT)
         AS uptime_ppm
FROM cov GROUP BY pair_key
""",
    tags=("A2", "finance", "surveillance", "market-making"),
)
def quote_uptime_obligation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUOTE-PRESENCE UPTIME per pair — the market-maker obligation
    metric every venue's MM program audits (quote two-sided X% of the
    session or lose rebates): a quote keeps its pair 'covered' for
    {_UPTIME_TTL_US // 60_000_000} minutes or until superseded, and
    uptime is covered time over the quoted days' span. Duplicate-quote
    overlap never double-counts because each quote's coverage is capped
    at the gap to its successor — the interval-union computed with one
    LEAD, no sweep-line needed for constant-length intervals.
    Cross-midnight coverage is truncated at the quote's own day end
    (deterministic on both engines). The liveness complement of
    stale_ticker_alerts: that flags WHO is stale now; this scores HOW
    MUCH of the session each pair was quoted at all.

    Exactness: µs coverage, counts, and the ppm uptime are exact int64
    (non-negative floor divide). Plan: ONE (pair, day)-keyed
    sort-shuffle for the LEAD pass; the per-pair rollup rides the pair
    prefix of that exchange's ordering (map-combined)."""
    q = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("pair_key"),
            F.expr("ts div 1000").alias("ts_us"),
            F.expr(f"(ts div 1000) div {_UPTIME_DAY_US}").alias("day"),
        )
    )
    w = Window.partitionBy("pair_key", "day").orderBy("ts_us")
    cov = q.select(
        "pair_key",
        "day",
        F.when(
            F.lead("ts_us").over(w).isNull(),
            F.least(
                F.lit(_UPTIME_TTL_US),
                (F.col("day") + 1) * _UPTIME_DAY_US - F.col("ts_us"),
            ),
        )
        .otherwise(
            F.least(
                F.lit(_UPTIME_TTL_US),
                F.lead("ts_us").over(w) - F.col("ts_us"),
            )
        )
        .alias("covered"),
    )
    return cov.groupBy("pair_key").agg(
        F.count(F.lit(1)).alias("n_quotes"),
        F.countDistinct("day").alias("n_days"),
        F.sum("covered").alias("covered_us"),
        F.expr(
            f"sum(covered) * 1000000 div "
            f"(count(distinct day) * {_UPTIME_DAY_US})"
        ).alias("uptime_ppm"),
    )

"""Independent DuckDB computations of what the engine must return, and the
order-insensitive comparison the benchmark applies to every checked
result."""

from __future__ import annotations

import math
from datetime import date, datetime

import duckdb
import pandas as pd


def connect(tmp_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads=2")
    con.execute("SET memory_limit='1GB'")
    con.execute(f"SET temp_directory='{tmp_dir}'")
    return con


def _cell(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if hasattr(v, "item") and not isinstance(v, (datetime, date)):
        v = v.item()  # numpy scalar
    if isinstance(v, float):
        return float(f"{v:.12g}")
    if isinstance(v, datetime):
        if v.tzinfo is not None:
            v = pd.Timestamp(v).tz_convert("UTC").tz_localize(None).to_pydatetime()
        return v.isoformat(timespec="microseconds")
    if isinstance(v, date):
        return v.isoformat()
    return v


def canonical(df: pd.DataFrame) -> list[tuple]:
    cols = sorted(df.columns)
    rows = [tuple(_cell(v) for v in row) for row in df[cols].itertuples(index=False)]
    return sorted(rows, key=repr)


def same(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    """Equal column names, row counts and values (floats to 12 significant
    digits), ignoring row order."""
    if sorted(got.columns) != sorted(want.columns) or len(got) != len(want):
        return False
    return canonical(got) == canonical(want)


# ---------------------------------------------------------------------------
# snapshot queries (etl); `events` view holds the generated feed
# ---------------------------------------------------------------------------

_CENTS = "CAST(round(value * 100) AS BIGINT)"


def ticker_data_sql(ticker: int, exchange: str, start, end, period_s: int | None) -> str:
    if exchange == "kalshi":
        yes = f"GREATEST({_CENTS} % 97 + 1, {_CENTS} % 89 + 1) / 100.0"
        prices = f"{yes} AS yes_price, 1.0 - {yes} AS no_price"
    else:
        mid = (
            f"((GREATEST(({_CENTS} % 97 + 1) / 100.0, ({_CENTS} % 89 + 1) / 100.0)"
            f" + LEAST(({_CENTS} % 83 + 2) / 100.0, ({_CENTS} % 79 + 4) / 100.0)) / 2.0)"
        )
        prices = (
            f"CASE WHEN {mid} > 0.5 THEN 1.0 - {mid} ELSE {mid} END AS yes_price, "
            f"CASE WHEN {mid} > 0.5 THEN {mid} ELSE 1.0 - {mid} END AS no_price"
        )
    where = [f"user_id = {int(ticker)}"]
    if start is not None:
        where.append(f"ts >= TIMESTAMP '{start}'")
    if end is not None:
        where.append(f"ts <= TIMESTAMP '{end}'")
    snap = f"SELECT ts, event_id, {prices} FROM events WHERE {' AND '.join(where)}"
    if period_s is None:
        return f"SELECT ts, yes_price, no_price FROM ({snap})"
    p_us = period_s * 1_000_000
    bucket = f"make_timestamp(epoch_us(ts) // {p_us} * {p_us})"
    return f"""
SELECT win AS ts, yes_price, no_price FROM (
  SELECT {bucket} AS win, yes_price, no_price,
         ROW_NUMBER() OVER (PARTITION BY {bucket} ORDER BY ts DESC) AS rn
  FROM ({snap})
) WHERE rn = 1"""


def pair_history_sql(pair: int, period_s: int) -> str:
    p_us = period_s * 1_000_000
    bucket = f"epoch_us(ts) - epoch_us(ts) % {p_us}"

    def last(types: str, expr: str, alias: str) -> str:
        return f"""
  SELECT {bucket} AS bucket_us, {expr} AS {alias} FROM events
  WHERE user_id = {int(pair)} AND event_type IN ({types})
  QUALIFY ROW_NUMBER() OVER (PARTITION BY {bucket} ORDER BY ts DESC, event_id DESC) = 1"""

    return f"""
WITH k AS ({last("'click', 'view'", f"({_CENTS} % 97 + 1) / 100.0", "kalshi_yes_bid")}),
p AS ({last("'purchase', 'signup', 'error'", f"({_CENTS} % 99 + 1) / 100.0", "poly_yes")})
SELECT k.bucket_us, k.kalshi_yes_bid, p.poly_yes,
       (k.kalshi_yes_bid - p.poly_yes) / p.poly_yes AS margin_yes
FROM k JOIN p ON k.bucket_us = p.bucket_us"""


def available_tickers_sql(source: str | None) -> str:
    src = "CASE WHEN user_id % 2 = 0 THEN 'kalshi' ELSE 'polymarket' END"
    where = f"WHERE {src} = '{source}'" if source else ""
    return f"SELECT DISTINCT CAST(user_id AS VARCHAR) AS ticker, {src} AS source FROM events {where}"


# ---------------------------------------------------------------------------
# arbitrage lanes; `feed` view holds every landed chunk, `customer` the dims
# ---------------------------------------------------------------------------


def scan_sql(freshness_us: int, threshold: float) -> str:
    """Final opportunities: newest quote per venue and pair, fresh on both
    sides, better side above the threshold."""

    def latest(types: str, cols: str) -> str:
        return f"""
  SELECT user_id, {cols}, ts_us FROM feed WHERE event_type IN ({types})
  QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts_us DESC, event_id DESC) = 1"""

    c = "CAST(round(value * 100) AS BIGINT)"
    take_yes = "yes_ok AND (NOT no_ok OR margin_yes >= margin_no)"
    return f"""
WITH k AS ({latest("'click', 'view'", f"({c} % 97 + 1) / 100.0 AS ky, ({c} % 89 + 1) / 100.0 AS kn")}),
m AS ({latest("'purchase', 'signup', 'error'", f"({c} % 99 + 1) / 100.0 AS py, 1.0 - ({c} % 99 + 1) / 100.0 AS pn")}),
s AS (
  SELECT k.user_id AS pair_id, ky, kn, py, pn,
         (ky - py) / py AS margin_yes, (kn - pn) / pn AS margin_no,
         py < ky AS yes_ok, pn < kn AS no_ok
  FROM k JOIN m USING (user_id)
  JOIN (SELECT c_custkey AS user_id FROM customer
        WHERE c_custkey < 200 AND c_custkey % 10 <> 0) USING (user_id)
  WHERE abs(k.ts_us - m.ts_us) <= {freshness_us}
)
SELECT pair_id,
       CASE WHEN {take_yes} THEN 'kalshi_yes_polymarket_no' ELSE 'kalshi_no_polymarket_yes' END
         AS arbitrage_type,
       CASE WHEN {take_yes} THEN ky ELSE kn END AS kalshi_price,
       CASE WHEN {take_yes} THEN py ELSE pn END AS poly_price,
       CASE WHEN {take_yes} THEN margin_yes ELSE margin_no END AS profit_margin
FROM s
WHERE (yes_ok OR no_ok)
  AND (CASE WHEN {take_yes} THEN margin_yes ELSE margin_no END) > {threshold}"""


STORE_SQL = """
SELECT CASE WHEN user_id % 2 = 0 THEN 'kalshi' ELSE 'polymarket' END AS source,
       COUNT(*) AS n_rows, COUNT(DISTINCT user_id) AS n_tickers,
       MIN(ts_us) AS min_ts_us, MAX(ts_us) AS max_ts_us
FROM feed GROUP BY 1"""


# ---------------------------------------------------------------------------
# ticket store; `tickets` seed rows, `fills` every batch with its index
# ---------------------------------------------------------------------------


def ticket_table_sql(upto: int) -> str:
    """The ticket table after fill batches 0..upto."""
    return f"""
SELECT t.ticket_id, t.quantity,
       CAST(COALESCE(a.q, 0) AS BIGINT) AS executed_quantity,
       CAST(COALESCE(a.c, 0) AS BIGINT) AS executed_cost_cents,
       CASE WHEN COALESCE(a.q, 0) >= t.quantity THEN 'filled'
            WHEN COALESCE(a.q, 0) > 0 THEN 'partially_filled'
            ELSE 'pending' END AS status
FROM tickets t LEFT JOIN (
  SELECT ticket_id, SUM(fill_qty) AS q, SUM(fill_qty * fill_price_cents) AS c
  FROM fills WHERE batch <= {int(upto)} GROUP BY ticket_id
) a USING (ticket_id)"""


def ticket_status_sql(upto: int) -> str:
    return f"""
SELECT status, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(executed_quantity) AS BIGINT) AS qty
FROM ({ticket_table_sql(upto)}) GROUP BY status"""


def ticket_lookup_sql(upto: int, ticket_id: int) -> str:
    return f"SELECT * FROM ({ticket_table_sql(upto)}) WHERE ticket_id = {int(ticket_id)}"

#!/usr/bin/env python
"""Plan audit across every registered query (guide §1.1/§7.2): count the
structural cost markers in each optimized plan — Exchange nodes, join
strategies, Python boundaries, cartesian products, scan pushdown — and
emit one JSON line per query plus a sorted summary of outliers.

Planning only (no job execution) — safe to run under load; plan shape is
load-independent.

Usage: python scripts/plan_audit.py [out.json] [--exec-lanes]
       python scripts/plan_audit.py --capture <suffix> [query ...]

--capture writes each named query's .explain("formatted") to
plans/<round>/<query>_<suffix>.txt (suffix: 'before' or 'after'; no
names = the headline set; round dir r13 unless $SPARK_GRAFT_PLANS_ROUND
names another), stamped with the git SHA of HEAD at capture time, so
the provenance of a before/after pair is self-evident.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import financial_arbitrage_data_pipeline_spark.operators  # noqa: F401
from financial_arbitrage_data_pipeline_spark.plans import REGISTRY
from financial_arbitrage_data_pipeline_spark.session import get_spark

# Builders that EXECUTE work (write tables / run streams) rather than just
# building a plan; auditing them here would run real jobs. Their lanes are
# covered by dedicated tests/benches — plus, for the merge-table family,
# by the --exec-lanes mode below (VERDICT r12: bitemporal sat in this SKIP
# set with its read path never audited).
SKIP_PREFIXES = ("streaming_",)
SKIP = {
    "ticket_fill_merge",
    "ticket_fill_history_asof",
    "ticket_fill_changes_feed",
    "ticket_fill_schema_evolution",
    "bitemporal_ticket_state",
}


def audit_merge_lanes(spark) -> list[dict]:
    """Audit the INTERNAL plans of the merge-table family that the
    registry-level loop must skip (their builders execute work): build a
    tiny merge table at sf0.001, run one merge, and explain (a) the
    Delta merge's rewrite input (bucket-pruned candidate scan joined
    with the updates, repartitioned by bucket) and (b) the as-of read —
    the two plans bitemporal_ticket_state / ticket_fill_* pay per
    phase. Runs real (tiny) jobs; opt in with --exec-lanes."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    import financial_arbitrage_data_pipeline_spark.operators.upsert as U
    from financial_arbitrage_data_pipeline_spark.sources import delta_log as DL
    from financial_arbitrage_data_pipeline_spark.sources.tables import load_table

    sf_dir = os.environ.get("SPARK_GRAFT_AUDIT_SF_DIR", "/root/testdata/sf0.001")
    root = tempfile.mkdtemp(prefix="sgauditmerge_")
    tdir = os.path.join(root, "t")
    set_exprs = {"v": F.coalesce(F.col("u.v"), F.col("t.v"))}
    out = []
    try:
        orders = load_table(spark, sf_dir, "orders")
        U.create_bucketed_table(
            spark,
            tdir,
            orders.select(
                F.col("o_orderkey").alias("k"),
                (F.col("o_orderkey") % 7).cast("long").alias("v"),
            ),
            key="k",
        )
        updates = orders.select(
            F.col("o_orderkey").alias("k"),
            (F.col("o_orderkey") % 3).cast("long").alias("v"),
        )
        # (a) the rewrite input merge_delta_table materializes
        state = DL.replay_state(spark, tdir)
        cand, _ = DL._candidate_merge_paths(spark, state, "k", updates)
        merged = DL._merge_rewrite(
            spark, tdir, state, {p: state.files[p] for p in cand},
            updates, "k", set_exprs, False, [],
        )
        out.append(("merge_rewrite_input", merged))
        # (b) the as-of read after a committed merge
        U.merge_into_parquet(spark, tdir, updates, key="k", set_exprs=set_exprs)
        out.append(("asof_read", U.read_merge_table_asof(spark, tdir, 0)))
        return [_audit_row(f"__lane__{name}", _explain(df)) for name, df in out]
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _explain(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def capture(spark, sf_dir: str, suffix: str, names: list[str]) -> None:
    """Write plans/<round>/<name>_<suffix>.txt for each name (default:
    the headline set), each stamped with the git SHA of HEAD."""
    names = names or sorted(n for n, s in REGISTRY.items() if s.headline)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out_dir = os.path.join(repo, "plans", os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r13"))
    os.makedirs(out_dir, exist_ok=True)
    sha = subprocess.run(
        ["git", "-C", repo, "rev-parse", "HEAD"], capture_output=True, text=True
    ).stdout.strip()
    for name in names:
        plan = _explain(REGISTRY[name].builder(spark, sf_dir))
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(f"-- captured at git SHA {sha} ({suffix})\n")
            fh.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")


def _audit_row(name: str, p: str) -> dict:
    import re
    from collections import Counter

    nodes = re.findall(r"^\(\d+\) ([A-Za-z]+)", p, re.M)
    c = Counter(nodes)
    return {
        "name": name,
        "exchanges": c.get("Exchange", 0) + c.get("BroadcastExchange", 0),
        "shuffles": c.get("Exchange", 0),
        "broadcasts": c.get("BroadcastExchange", 0),
        "smj": c.get("SortMergeJoin", 0),
        "shj": c.get("ShuffledHashJoin", 0),
        "bhj": c.get("BroadcastHashJoin", 0),
        "bnlj": c.get("BroadcastNestedLoopJoin", 0),
        "cartesian": c.get("CartesianProduct", 0),
        "python": c.get("BatchEvalPython", 0)
        + c.get("ArrowEvalPython", 0)
        + c.get("MapInPandas", 0)
        + c.get("MapInArrow", 0)
        + c.get("FlatMapGroupsInPandas", 0),
        "sorts": c.get("Sort", 0),
        "windows": c.get("Window", 0),
        "scans": c.get("Scan", 0),
        "generates": c.get("Generate", 0),
        "aggs": c.get("HashAggregate", 0)
        + c.get("ObjectHashAggregate", 0)
        + c.get("SortAggregate", 0),
        "sort_aggs": c.get("SortAggregate", 0),
        "pushed_none": p.count("PushedFilters: []"),
        "n_nodes": len(nodes),
    }


def main() -> None:
    args = [a for a in sys.argv[1:] if a != "--exec-lanes"]
    exec_lanes = "--exec-lanes" in sys.argv[1:]
    out_path = args[0] if args else None
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if args[:1] == ["--capture"]:
        suffix, names = args[1], args[2:]
        capture(get_spark(app_name=f"plan_capture_{suffix}"), sf_dir, suffix, names)
        return
    spark = get_spark(app_name="plan_audit")
    rows = []
    for name in sorted(REGISTRY):
        if name.startswith(SKIP_PREFIXES) or name in SKIP:
            continue
        try:
            p = _explain(REGISTRY[name].builder(spark, sf_dir))
        except Exception as e:  # noqa: BLE001
            rows.append({"name": name, "error": str(e)[:200]})
            continue
        # formatted mode prints each node once in the tree and once in the
        # detail section -> divide tree-marker counts by using the detail
        # headers "(n) NodeName" which appear exactly once per node
        rows.append(_audit_row(name, p))
    if exec_lanes:
        rows.extend(audit_merge_lanes(spark))
    if out_path:
        with open(out_path, "w") as fh:
            json.dump(rows, fh, indent=1)
    ok = [r for r in rows if "error" not in r]
    errs = [r for r in rows if "error" in r]
    print(f"audited {len(ok)} plans, {len(errs)} errors")
    for r in errs:
        print("ERROR", r["name"], r["error"][:120])
    print("\n== most shuffles ==")
    for r in sorted(ok, key=lambda r: -r["shuffles"])[:15]:
        print(f"  {r['shuffles']:3d} shuffles {r['smj']}smj {r['shj']}shj {r['bhj']}bhj  {r['name']}")
    print("\n== sort-merge joins (sorts ride along) ==")
    for r in sorted(ok, key=lambda r: -r["smj"])[:10]:
        if r["smj"]:
            print(f"  {r['smj']:2d} smj  {r['name']}")
    print("\n== cartesian / nested-loop ==")
    for r in ok:
        if r["cartesian"] or r["bnlj"]:
            print(f"  cart={r['cartesian']} bnlj={r['bnlj']}  {r['name']}")
    print("\n== python boundaries ==")
    for r in ok:
        if r["python"]:
            print(f"  {r['python']:2d} py  {r['name']}")
    print("\n== sort aggregates (hash agg fell back) ==")
    for r in ok:
        if r["sort_aggs"]:
            print(f"  {r['sort_aggs']:2d} sortagg  {r['name']}")
    print("\n== largest plans ==")
    for r in sorted(ok, key=lambda r: -r["n_nodes"])[:10]:
        print(f"  {r['n_nodes']:4d} nodes  {r['name']}")


if __name__ == "__main__":
    main()

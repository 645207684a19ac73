"""Structured Streaming layer (SURVEY §2.9, §3.1-3.3).

The reference's streaming machinery — asyncio fetch loops, ZMQ transport,
buffered writers — collapses into three Spark concepts:

- a replayable micro-batched source (`ingest.replay_stream`, T1/T5/T8);
- stateless enrichment + fan-out into storage and trading lanes
  (`ingest.enrich_snapshots` / `ingest.start_bifurcated_ingest`, P1/P2/T4);
- one stateful streaming aggregation holding latest-per-key venue quotes,
  with the freshness gate in the decision projection
  (`scan.opportunity_stream`, T2/T3/F5 + J1/J2/F6/A7).
"""

from . import ingest, scan  # noqa: F401

__all__ = ["ingest", "scan"]

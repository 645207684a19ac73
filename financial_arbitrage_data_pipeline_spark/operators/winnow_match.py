"""MOSS document MATCHING over winnowing fingerprints — the join that
makes winnowing_fingerprints useful: two documents sharing any selected
fingerprint hash are substring-overlap candidates, and the number of
shared fingerprints estimates how much boilerplate they share. This is
how MOSS actually ranks submission pairs (Schleimer/Wilkerson/Aiken
2003 §4), and the position-aware sibling of the MinHash band join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.registry import query
from ..sources.tables import load_table
from .dedup_ext import _WIN_MOD

# Longer grams than the per-doc fingerprint op: cross-document matching
# over natural text needs k large enough that a shared k-gram is SIGNAL
# (k=5 grams like ' the ' put half of all doc pairs in one bucket —
# measured 124k candidate pairs over 500 docs). k=8, w=5 keeps the MOSS
# guarantee (any shared run >= w+k-1 = 12 chars is caught) while the
# posting buckets stay collision-bounded.
_WIN_K = 8
_WIN_W = 5

_MIN_SHARED = 3  # report pairs sharing at least this many fingerprints
_MAX_DF = 10     # drop fingerprints present in more docs (boilerplate),
                 # MOSS's 'ignore matches in too many documents' rule

_WINMATCH_ORACLE = f"""
WITH c AS (
  SELECT doc_id,
         list_transform(string_split_regex(text, ''),
                        ch -> CAST(ascii(ch) AS BIGINT)) AS codes
  FROM documents
),
g AS (
  SELECT doc_id,
         CASE WHEN len(codes) >= {_WIN_K}
              THEN list_transform(range(1, len(codes) - {_WIN_K} + 2),
                     i -> list_reduce(
                            list_prepend(CAST(0 AS BIGINT),
                                         list_slice(codes, i, i + {_WIN_K} - 1)),
                            (acc, x) -> (acc * 131 + x) % {_WIN_MOD}))
              ELSE [] END AS grams
  FROM c
),
s AS (
  SELECT doc_id, grams,
         CASE WHEN len(grams) >= {_WIN_W}
              THEN list_distinct(list_transform(
                     range(1, len(grams) - {_WIN_W} + 2),
                     j -> j - 1 + list_position(
                            list_slice(grams, j, j + {_WIN_W} - 1),
                            list_min(list_slice(grams, j, j + {_WIN_W} - 1)))))
              ELSE [] END AS fps
  FROM g
),
fp0 AS (
  SELECT DISTINCT doc_id, grams[ix] AS h
  FROM (SELECT doc_id, grams, unnest(fps) AS ix FROM s)
),
rare AS (SELECT h FROM fp0 GROUP BY h HAVING COUNT(*) <= {_MAX_DF}),
fp AS (SELECT fp0.doc_id, fp0.h FROM fp0 JOIN rare USING (h))
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(COUNT(*) AS BIGINT) AS n_shared_fps
FROM fp a JOIN fp b ON a.h = b.h AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING COUNT(*) >= {_MIN_SHARED}
"""


@query("winnow_match_pairs", oracle=_WINMATCH_ORACLE, tags=("dedup", "text-fingerprint"))
def winnow_match_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS pair matching: documents sharing at least _MIN_SHARED
    winnowing-selected 8-gram fingerprint HASHES (the single threshold
    constant, currently 3), with the shared count — the ranking signal MOSS
    shows a grader, after dropping fingerprints present in more than 10
    documents (MOSS's boilerplate rule — the corpus here is templated,
    and without the document-frequency cap one shared template 12-gram
    pairs every doc with every doc). Winnowing's guarantee then holds
    for RARE shared substrings: any shared run of w+k-1 = 12 chars is caught by at least
    one shared fingerprint, while the ~2/(w+1) selection density keeps
    the inverted index ~30x smaller than all-grams (the
    ngram_duplicate_spans join pays the full gram volume for its exact
    positions; this pays the winnowed fraction for candidate RANKING —
    the standard two-tier MOSS architecture).

    Plan: the fingerprint build is the winnowing_fingerprints in-row
    pipeline (zero shuffles); the distinct (doc, hash) posting list is
    the one corpus-sized exchange; candidates come from the
    hash-equality self-join on the posting list AFTER the df <= 10 cap,
    so every bucket joins at most 10x10 — candidate volume is bounded
    by construction (the cap is also what bounds it at 100 TB: bucket
    cost is capped per hash no matter how templated the corpus) — then
    a (doc_a, doc_b) count. The same
    shape as the MinHash band join, plan-guarded against nested
    loops."""
    docs = load_table(spark, sf_dir, "documents")
    codes = F.transform(F.split("text", ""), lambda ch: F.ascii(ch).cast("long"))
    d = docs.select("doc_id", codes.alias("codes"))
    n_grams = F.greatest(F.size("codes") - _WIN_K + 1, F.lit(0))
    gram_at = lambda i: F.aggregate(  # noqa: E731
        F.slice("codes", i, _WIN_K),
        F.lit(0).cast("long"),
        lambda acc, x: (acc * 131 + x) % _WIN_MOD,
    )
    g = d.select(
        "doc_id",
        F.when(
            F.size("codes") >= _WIN_K,
            F.transform(F.sequence(F.lit(1), n_grams), lambda i: gram_at(i)),
        )
        .otherwise(F.array().cast("array<bigint>"))
        .alias("grams"),
    )
    n_windows = F.greatest(F.size("grams") - _WIN_W + 1, F.lit(0))
    win = lambda j: F.slice("grams", j, _WIN_W)  # noqa: E731
    s = g.select(
        "doc_id",
        "grams",
        F.when(
            F.size("grams") >= _WIN_W,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), n_windows),
                    lambda j: j - 1 + F.array_position(win(j), F.array_min(win(j))),
                )
            ),
        )
        .otherwise(F.array().cast("array<bigint>"))
        .alias("fps"),
    )
    postings = (
        s.select(
            "doc_id",
            F.explode(
                F.transform(
                    F.col("fps"), lambda ix: F.element_at("grams", ix.cast("int"))
                )
            ).alias("h"),
        )
        .distinct()
    )
    rare = (
        postings.groupBy("h")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= _MAX_DF)
        .select("h")
    )
    # Both joins pinned SHUFFLE_HASH like every other O(docs) join side
    # (SCALE.md §39): the rare-hash set and the posting list grow with
    # the corpus, and a size estimate under the broadcast threshold
    # collects them through the driver — the sf1 broadcast OOM class.
    postings = postings.join(rare.hint("shuffle_hash"), "h")
    a = postings.select(F.col("doc_id").alias("doc_a"), "h")
    b = postings.select(F.col("doc_id").alias("doc_b"), "h")
    return (
        a.join(b.hint("shuffle_hash"), "h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared_fps"))
        .filter(F.col("n_shared_fps") >= _MIN_SHARED)
    )

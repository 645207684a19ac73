"""Hypothesis property tests for the pure Python kernels, the
engine-independent hash constructions, and differential checks of JVM
expressions against pure-Python references."""

from __future__ import annotations

import hashlib

from hypothesis import given, settings
from hypothesis import strategies as st

from financial_arbitrage_data_pipeline_spark.operators.dedup import MINHASH_MOD
from financial_arbitrage_data_pipeline_spark.operators.multimodal import (
    FRAME_BYTES,
    FRAME_STRIDE,
    fake_decode_features,
    fake_resize,
)
from financial_arbitrage_data_pipeline_spark.operators.similarity import plane_weights
from financial_arbitrage_data_pipeline_spark.streaming import scan


@given(st.binary(max_size=2048), st.integers(1, 64), st.integers(1, 64))
def test_fake_resize_size_is_pure_function_of_dims(payload, w, h):
    out = fake_resize(payload, w, h)
    assert len(out) == w * h
    assert out == fake_resize(payload, w, h)


@given(st.binary(max_size=2048))
def test_fake_decode_features_bounds(payload):
    f = fake_decode_features(payload)
    assert f["n_bytes"] == len(payload)
    assert 0 <= f["crc32"] <= 0xFFFFFFFF
    assert 0.0 <= f["brightness"] <= 1.0


@given(st.binary(min_size=1, max_size=4096))
def test_frame_arithmetic_matches_kernel_oracle(payload):
    """The octet_length arithmetic used in the video_frame_sample oracle
    must equal actual chunk/stride behavior for every payload length."""
    frames = [payload[i : i + FRAME_BYTES] for i in range(0, len(payload), FRAME_BYTES)]
    sampled = frames[::FRAME_STRIDE]
    n = len(payload)
    nf = (n + FRAME_BYTES - 1) // FRAME_BYTES
    ns = (nf + FRAME_STRIDE - 1) // FRAME_STRIDE
    last_len = n - FRAME_BYTES * (nf - 1)
    sb = ns * FRAME_BYTES - ((FRAME_BYTES - last_len) if (nf - 1) % FRAME_STRIDE == 0 else 0)
    assert (len(frames), len(sampled), sum(len(f) for f in sampled)) == (nf, ns, sb)


@settings(max_examples=25)
@given(st.text(min_size=1, max_size=40), st.integers(0, 15))
def test_minhash_double_hash_fits_int64(shingle, i):
    """(h1%M + i*(h2%M)) % M never overflows and is deterministic."""
    d = hashlib.md5(shingle.encode()).hexdigest()
    h1 = int(d[:15], 16) % MINHASH_MOD
    h2 = int(d[15:30], 16) % MINHASH_MOD
    v = h1 + i * h2
    assert v < 2**63
    assert 0 <= v % MINHASH_MOD < MINHASH_MOD


def test_plane_weights_stable():
    w1, w2 = plane_weights(4, 8), plane_weights(4, 8)
    assert w1 == w2
    assert all(-(2**31) <= x < 2**31 for row in w1 for x in row)


def _reference_decision(k, p, freshness_us, threshold):
    """Pure-Python `_detect_simple_arbitrage` (`opportunity_scanner.py:
    431-500`) on the latest quote per venue, (ts_us, event_id, yes, no) or
    None while that venue is unseen."""
    none = (False, None, None, None, None)
    if k is None or p is None or abs(k[0] - p[0]) > freshness_us:
        return none
    (_, _, k_yes, k_no), (_, _, p_yes, p_no) = k, p
    yes_ok = p_yes < k_yes
    no_ok = p_no < k_no
    if not (yes_ok or no_ok):
        return none
    margin_yes = (k_yes - p_yes) / p_yes
    margin_no = (k_no - p_no) / p_no
    take_yes = yes_ok and (not no_ok or margin_yes >= margin_no)
    margin = margin_yes if take_yes else margin_no
    if margin <= threshold:
        return none
    return (
        True,
        "kalshi_yes_polymarket_no" if take_yes else "kalshi_no_polymarket_yes",
        k_yes if take_yes else k_no,
        p_yes if take_yes else p_no,
        margin,
    )


_QUOTE = "struct<ts_us:bigint,event_id:bigint,yes:double,no:double>"


def _assert_decisions_match(spark, states, freshness_us, threshold):
    """Run every (k, p) state through one Spark job of the shipped
    decision projection, compare it bit for bit with the reference and
    return the decisions in state order."""
    frame = spark.createDataFrame(
        [(i, k, p) for i, (k, p) in enumerate(states)],
        f"pair_id bigint, k {_QUOTE}, p {_QUOTE}",
    )
    got = {
        r.pair_id: tuple(r)[1:]
        for r in scan._decision(frame, freshness_us, threshold).collect()
    }

    def bits(row):
        return tuple(v.hex() if isinstance(v, float) else v for v in row)

    assert len(got) == len(states)
    for i, (k, p) in enumerate(states):
        want = _reference_decision(k, p, freshness_us, threshold)
        assert bits(got[i]) == bits(want), (k, p, got[i], want)
    return [got[i] for i in range(len(states))]


_PRICE = st.one_of(
    st.floats(0.01, 0.99), st.integers(1, 99).map(lambda c: c / 100)
)
_SIDE = st.one_of(
    st.none(),
    st.tuples(st.integers(0, 3_000), st.integers(0, 10), _PRICE, _PRICE),
)


def test_scan_decision_matches_python_reference(spark):
    """The JVM decision equals the pure-Python `_detect_simple_arbitrage`
    on hypothesis-drawn latest-quote states, bit for bit (freshness 1,000
    µs against timestamps in [0, 3,000]: fresh and stale both occur)."""

    @settings(max_examples=15, deadline=None)
    @given(st.lists(st.tuples(_SIDE, _SIDE), min_size=1, max_size=200))
    def check(states):
        _assert_decisions_match(spark, states, 1_000, scan.THRESHOLD_DEFAULT)

    check()


def test_scan_decision_edge_cases(spark):
    """The boundaries of the decision, pinned against the reference."""
    threshold = (0.51 - 0.5) / 0.5  # a margin the doubles reach exactly
    assert (0.6 - 0.5) / 0.5 == (0.3 - 0.25) / 0.25  # the tie below ties
    states = [
        ((0, 1, 0.45, 0.47), None),  # polymarket unseen
        (None, (0, 2, 0.40, 0.60)),  # kalshi unseen
        ((0, 1, 0.45, 0.47), (1_000, 2, 0.40, 0.60)),  # |Δts| == freshness: fresh
        ((0, 1, 0.45, 0.47), (1_001, 2, 0.40, 0.60)),  # one µs past it: stale
        ((0, 1, 0.51, 0.10), (0, 2, 0.50, 0.90)),  # margin == threshold: none
        ((0, 1, 0.60, 0.30), (0, 2, 0.50, 0.25)),  # margin_yes == margin_no: YES
    ]
    got = _assert_decisions_match(spark, states, 1_000, threshold)
    assert [d[:2] for d in got] == [
        (False, None),
        (False, None),
        (True, "kalshi_yes_polymarket_no"),
        (False, None),
        (False, None),
        (True, "kalshi_yes_polymarket_no"),
    ]


def test_ngram_span_column_matches_python_reference(spark):
    """Property: the in-row gram builder equals the obvious Python
    n-gram reference for arbitrary token sequences (including docs
    shorter than n, repeated tokens, single-char tokens)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from financial_arbitrage_data_pipeline_spark.operators.corpusprep import (
        ngram_span_column,
    )

    token = st.text(alphabet="abcxyz", min_size=1, max_size=3)

    @settings(max_examples=25, deadline=None)
    @given(st.lists(token, min_size=0, max_size=14), st.integers(2, 5))
    def check(tokens, n):
        text = " ".join(tokens)
        expected = [
            " ".join(tokens[i : i + n]) for i in range(len(tokens) - n + 1)
        ]
        row = (
            spark.createDataFrame([(text,)], "text string")
            .select(ngram_span_column(n).alias("grams"))
            .first()
        )
        assert row.grams == expected

    check()

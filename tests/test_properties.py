"""Property-based tests (hypothesis): the trickiest window semantics
pinned against straightforward single-process Python references on
random inputs.

Inputs are integer-valued floats so every decimal cast in the engine's
numeric discipline is exact and the Python mirror (plain IEEE doubles,
same operation order) is bit-identical — the properties test LOGIC
(frames, null gates, flat windows, session splits), not float noise.
"""

from __future__ import annotations

import datetime as dt
import math

from hypothesis import given, settings, strategies as st
from pyspark.sql import Row

from smartdatapipeline_spark.operators.anomaly import rolling_zscore_api
from smartdatapipeline_spark.operators.sessions import sessionize

Z_CLAMP = 1e9


def _zscore_api_ref(values, window, z_thresh):
    """reference routers/metrics.py:228-256 re-derived in plain Python,
    mirroring the engine's sum/sumsq formulation operation-for-operation."""
    out = []
    for i, v in enumerate(values):
        frame = [x for x in values[max(0, i - window) : i] if x is not None]
        n = len(frame)
        if v is None or n < 2:
            out.append((None, False))
            continue
        s = float(sum(frame))
        sq = float(sum(x * x for x in frame))
        mu = s / n
        var = (sq - s * s / n) / (n - 1)
        sigma = math.sqrt(var) if var > 0 else 0.0
        if sigma == 0.0:
            if v != mu:
                out.append((Z_CLAMP, True))
            else:
                out.append((0.0, False))
        else:
            z = (v - mu) / sigma
            if z == float("inf"):
                z = Z_CLAMP
            elif z == float("-inf"):
                z = -Z_CLAMP
            out.append((z, abs(z) >= z_thresh))
    return out


@settings(max_examples=12, deadline=None)
@given(
    values=st.lists(
        st.one_of(st.none(), st.integers(-50, 50).map(float)), min_size=3, max_size=20
    ),
    window=st.integers(2, 5),
)
def test_rolling_zscore_api_matches_reference(spark, values, window):
    base = dt.date(2024, 1, 1)
    rows = [
        Row(metric="m", metric_date=base + dt.timedelta(days=i), value=v)
        for i, v in enumerate(values)
    ]
    df = spark.createDataFrame(rows, "metric string, metric_date date, value double")
    got = {
        r["metric_date"]: (r["z"], r["is_outlier"])
        for r in rolling_zscore_api(df, window=window, z_thresh=2.0).collect()
    }
    for i, (z_want, out_want) in enumerate(_zscore_api_ref(values, window, 2.0)):
        z_got, out_got = got[base + dt.timedelta(days=i)]
        assert out_got == out_want, (i, values)
        if z_want is None:
            assert z_got is None, (i, values)
        else:
            assert z_got == z_want, (i, values)


def _sessions_ref(events, gap_minutes):
    gap = dt.timedelta(minutes=gap_minutes)
    byuser: dict[int, list[dt.datetime]] = {}
    for u, ts in events:
        byuser.setdefault(u, []).append(ts)
    out = set()
    for u, tss in byuser.items():
        tss.sort()
        sid, start, end, n = 0, None, None, 0
        for t in tss:
            if start is None or t - end > gap:
                if start is not None:
                    out.add((u, sid, start, end, n))
                sid, start, end, n = sid + 1, t, t, 1
            else:
                end, n = max(end, t), n + 1
        if start is not None:
            out.add((u, sid, start, end, n))
    return out


@settings(max_examples=12, deadline=None)
@given(
    events=st.lists(
        st.tuples(
            st.integers(1, 3),
            st.integers(0, 4_000_000).map(
                lambda s: dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s)
            ),
        ),
        min_size=1,
        max_size=30,
    ),
    gap_minutes=st.integers(1, 120),
)
def test_sessionize_matches_reference(spark, events, gap_minutes):
    df = spark.createDataFrame(
        [Row(user_id=u, ts=t) for u, t in events], "user_id bigint, ts timestamp"
    )
    got = {
        (r["user_id"], r["session_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in sessionize(df, gap_minutes=gap_minutes).collect()
    }
    assert got == _sessions_ref(events, gap_minutes)


@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["aa", "bb", "cc", "dd", "ee", "ff"]),
            min_size=0,
            max_size=12,
        ),
        min_size=1,
        max_size=8,
    ),
    window=st.integers(min_value=2, max_value=4),
)
@settings(max_examples=20, deadline=None)
def test_duplicate_spans_matches_reference(spark, docs, window):
    """duplicate_spans vs a plain-Python span counter on random corpora:
    same spans flagged, same doc/occurrence counts, same representative."""
    from collections import defaultdict

    from smartdatapipeline_spark.functions.dedup import duplicate_spans

    df = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(docs)],
        "doc_id long, text string",
    )
    got = {
        r["span_hash"]: (r["n_docs"], r["n_occurrences"], r["rep_doc"], r["rep_pos"])
        for r in duplicate_spans(df, window=window, min_docs=2).collect()
    }
    # python reference on the same normalization (tokens are already clean)
    spans = defaultdict(list)
    for i, toks in enumerate(docs):
        for p in range(len(toks) - window + 1):
            spans[" ".join(toks[p : p + window])].append((i, p))
    want = {}
    for span, occ in spans.items():
        ds = {d for d, _ in occ}
        if len(ds) >= 2:
            rep = min(occ)
            want[span] = (len(ds), len(occ), rep[0], rep[1])
    assert sorted(got.values()) == sorted(want.values())


@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["x", "y", "z", "w"]), min_size=0, max_size=10
        ),
        min_size=1,
        max_size=6,
    )
)
@settings(max_examples=20, deadline=None)
def test_bigram_counts_match_reference(spark, docs):
    from collections import Counter

    from smartdatapipeline_spark.functions.text import bigram_counts

    df = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(docs)],
        "doc_id long, text string",
    )
    got = {
        (r["w1"], r["w2"]): (r["n"], r["n_w1"], r["cond_p"])
        for r in bigram_counts(df).collect()
    }
    ref = Counter()
    for toks in docs:
        for a, b in zip(toks, toks[1:]):
            ref[(a, b)] += 1
    w1_tot = Counter()
    for (a, _), n in ref.items():
        w1_tot[a] += n
    want = {k: (n, w1_tot[k[0]], n / w1_tot[k[0]]) for k, n in ref.items()}
    assert got == want


@given(
    values=st.lists(
        st.integers(min_value=0, max_value=1000).map(float), min_size=1, max_size=25
    )
)
@settings(max_examples=20, deadline=None)
def test_ewma_fold_property(spark, values):
    """forecast_ewma's declarative fold == the plain-Python recursion,
    bit-exact (alpha=0.5 is binary-representable)."""
    from smartdatapipeline_spark.operators.forecast import forecast_ewma

    df = spark.createDataFrame(
        [(dt.date(2025, 1, 1) + dt.timedelta(days=i), "m", v) for i, v in enumerate(values)],
        "metric_date date, metric string, value double",
    )
    got = forecast_ewma(df, horizon_days=1).first()["yhat"]
    level = values[0]
    for x in values[1:]:
        level = 0.5 * x + 0.5 * level
    assert got == level


@given(
    values=st.lists(
        st.integers(min_value=0, max_value=100).map(float), min_size=1, max_size=20
    ),
    k=st.sampled_from([0.0, 1.0, 2.5]),
)
@settings(max_examples=20, deadline=None)
def test_cusum_fold_property(spark, values, k):
    """cusum_changepoints' prefix folds == plain-Python CUSUM around the
    fold-order mean, for both directions, every prefix."""
    from smartdatapipeline_spark.operators.anomaly import cusum_changepoints

    df = spark.createDataFrame(
        [(dt.date(2025, 1, 1) + dt.timedelta(days=i), "m", v) for i, v in enumerate(values)],
        "metric_date date, metric string, value double",
    )
    rows = sorted(
        cusum_changepoints(df, k=k, h=5.0).collect(), key=lambda r: r["metric_date"]
    )
    mu = 0.0
    for x in values:
        mu = mu + x
    mu = mu / float(len(values))
    sp = sn = 0.0
    for i, x in enumerate(values):
        sp = max(0.0, sp + (1.0 * (x - mu) - k))
        sn = max(0.0, sn + (-1.0 * (x - mu) - k))
        assert rows[i]["cusum_pos"] == sp
        assert rows[i]["cusum_neg"] == sn
        assert rows[i]["is_changepoint"] == (sp > 5.0 or sn > 5.0)


@settings(max_examples=2, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.lists(st.integers(min_value=-500, max_value=500), min_size=15, max_size=60),
            st.integers(min_value=1, max_value=10),
        ),
        min_size=20,
        max_size=20,
    )
)
def test_arima_css_fn_matches_scalar_recursion(spark, cases):
    """forecast_arima's Spark plan is bit-identical to a plain
    scalar-Python recursion (plus the ladder) on random integer-valued
    random walks: same lattice, same tie-break, same ψ-weight forecast
    loop. Each example's 20 walks run as one frame in one Spark call at
    the longest horizon; the ψ-weight recursion is prefix-stable, so each
    walk compares the first ``horizon`` rows."""
    import numpy as np

    from tests.test_forecast import _arima_expected, _arima_rows

    series = {
        ("p", f"c{i:02d}"): [float(x) for x in np.cumsum([100] + deltas)]
        for i, (deltas, _) in enumerate(cases)
    }
    got = _arima_rows(spark, series, max(h for _, h in cases))
    for i, (_, horizon) in enumerate(cases):
        key = ("p", f"c{i:02d}")
        want, version = _arima_expected(series[key], horizon)
        rows, versions, _ = got[key]
        assert rows[:horizon] == [tuple(map(float.hex, r)) for r in want]
        assert versions == {version}


@settings(max_examples=200, deadline=None)
@given(st.binary(min_size=0, max_size=200))
def test_parse_headers_never_crash_on_garbage(data):
    """Decoders are total functions: random bytes (including adversarial
    'BM'/'RIFF' prefixes) return None/None-tuples, never raise."""
    from smartdatapipeline_spark.functions.multimodal import (
        parse_bmp_pixels,
        parse_image_header,
        parse_wav_header,
    )

    for prefix in (b"", b"BM", b"RIFF", b"\x89PNG\r\n\x1a\n", b"\xff\xd8"):
        blob = prefix + data
        parse_image_header(blob)
        parse_wav_header(blob)
        r = parse_bmp_pixels(blob)
        assert r is None or (len(r) == 3 and len(r[2]) == r[0] * r[1] * 3)


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False, width=32),
        min_size=1,
        max_size=400,
    ),
    st.sampled_from([0.0, 0.1, 0.5, 0.9, 0.99, 1.0]),
)
def test_two_pass_quantile_matches_sorted(spark, vals, q):
    """exact_quantile_two_pass == the ceil(q·n)-ranked element of the
    sorted column, for arbitrary data (ties, negatives, duplicates)."""
    from smartdatapipeline_spark.functions.sketch import exact_quantile_two_pass

    vals = [float(v) for v in vals]
    df = spark.createDataFrame([(v,) for v in vals], "value double").repartition(4)
    s = sorted(vals)
    want = s[max(1, math.ceil(q * len(s))) - 1]
    assert exact_quantile_two_pass(df, "value", q) == want


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),          # user
            st.integers(min_value=0, max_value=10_000),      # second offset
            st.floats(min_value=-100, max_value=100, allow_nan=False, width=16),
        ),
        min_size=1,
        max_size=60,
    )
)
def test_running_balance_matches_python_fold(spark, rows):
    """running_balance == the per-user clamped left fold in (ts, id)
    order — bit-exact, any interleaving of users and times."""
    from smartdatapipeline_spark.operators.temporal import running_balance

    data = [
        (i, u, dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s), float(d))
        for i, (u, s, d) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        data, "event_id long, user_id long, ts timestamp, delta double"
    ).repartition(4)
    got = {
        r["user_id"]: (r["n_events"], r["final_balance"], r["n_clamped"])
        for r in running_balance(df, "delta").collect()
    }
    want = {}
    for i, u, ts, d in sorted(data, key=lambda x: (x[1], x[2], x[0])):
        bal, clamps, n = want.get(u, (0.0, 0, 0))
        nxt = bal + d
        if nxt < 0.0:
            bal, clamps = 0.0, clamps + 1
        else:
            bal = nxt
        want[u] = (bal, clamps, n + 1)
    want = {u: (n, bal, c) for u, (bal, c, n) in want.items()}
    assert got == want


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=200),  # price (small range → ties)
            st.integers(min_value=0, max_value=20),   # size
        ),
        min_size=1,
        max_size=80,
    )
)
def test_skyline_matches_brute_force(spark, pts):
    """skyline_front == the O(n²) dominance definition for arbitrary
    points with heavy ties on both axes (the round-4 RANGE-frame bug
    class: dominators arbitrarily close on the minimize axis)."""
    from smartdatapipeline_spark.operators.quality import skyline_front

    rows = [(i, float(p) / 4.0, s) for i, (p, s) in enumerate(pts)]
    df = spark.createDataFrame(rows, "id bigint, price double, size int")
    got = {
        r["id"]
        for r in skyline_front(
            df, minimize="price", maximize="size", id_col="id"
        ).collect()
    }
    want = set()
    for i, pi, si in rows:
        dominated = any(
            (pj <= pi and sj >= si and (pj < pi or sj > si))
            for j, pj, sj in rows
            if j != i
        )
        if not dominated:
            want.add(i)
    assert got == want


@settings(max_examples=10, deadline=None)
@given(
    st.lists(  # intervals as (start_hour, len_hours)
        st.tuples(
            st.integers(min_value=0, max_value=72),
            st.integers(min_value=0, max_value=30),
        ),
        min_size=1,
        max_size=15,
    ),
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=72),
            st.integers(min_value=0, max_value=30),
        ),
        min_size=1,
        max_size=15,
    ),
)
def test_interval_overlap_matches_naive(spark, lft, rgt):
    """interval_overlap_join == the naive cross-filter on arbitrary
    interval sets (overlaps spanning many day buckets, zero-length
    intervals, exact-touch boundaries)."""
    from smartdatapipeline_spark.operators.temporal import interval_overlap_join

    base = dt.datetime(2024, 1, 1)
    lrows = [
        (i, base + dt.timedelta(hours=s), base + dt.timedelta(hours=s + ln))
        for i, (s, ln) in enumerate(lft)
    ]
    rrows = [
        (i, base + dt.timedelta(hours=s), base + dt.timedelta(hours=s + ln))
        for i, (s, ln) in enumerate(rgt)
    ]
    l = spark.createDataFrame(lrows, "lid bigint, a_start timestamp, a_end timestamp")
    r = spark.createDataFrame(rrows, "rid bigint, b_start timestamp, b_end timestamp")
    got = {
        (x["lid"], x["rid"])
        for x in interval_overlap_join(
            l, r, "a_start", "a_end", "b_start", "b_end"
        ).collect()
    }
    want = {
        (li, ri)
        for li, ls, le in lrows
        for ri, rs, re in rrows
        # both non-empty AND intersecting: an empty [s, s) interval
        # overlaps nothing under half-open semantics
        if ls < le and rs < re and ls < re and rs < le
    }
    assert got == want


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.integers(min_value=0, max_value=50),  # daily values per day index
        min_size=1,
        max_size=40,
    ),
    st.sampled_from([2, 3, 7]),
)
def test_rolling_median_matches_python(spark, vals, window):
    """rolling_median_daily == a Python sliding-median over the
    day-ordered series (exact: integer-valued inputs)."""
    import statistics

    from smartdatapipeline_spark.operators.temporal import rolling_median_daily

    base = dt.datetime(2024, 1, 1)
    rows = [
        ("m", base + dt.timedelta(days=i), float(v)) for i, v in enumerate(vals)
    ]
    ev = spark.createDataFrame(rows, "event_type string, ts timestamp, value double")
    got = {
        str(r["day"]): (r["n_window"], r["rolling_median"])
        for r in rolling_median_daily(ev, window_days=window).collect()
    }
    for i in range(len(vals)):
        frame = [float(v) for v in vals[max(0, i - window + 1) : i + 1]]
        d = str((base + dt.timedelta(days=i)).date())
        assert got[d] == (len(frame), statistics.median(frame))

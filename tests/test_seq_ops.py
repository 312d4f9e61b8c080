"""Brute-force property checks for the round-5 sequential operators.

Oracle parity pins these queries on the synthetic tables; these tests
pin the OPERATOR SEMANTICS on adversarial random data — a plain-Python
replay of the definition (dominance scan, CUSUM recurrence, sweep
count) must agree with the windowed Spark formulation.
"""

import random
from datetime import datetime, timedelta

from pyspark.sql import functions as F


def test_skyline_matches_dominance_bruteforce(spark, tmp_path):
    """The running-max skyline must equal the textbook O(n^2) dominance
    filter on random points with heavy duplicates (min price, max size;
    dominated = other point <= price, >= size, strict somewhere)."""
    from reddit_data_pipeline_engineering_spark.plans.queries_seq import (
        q_skyline_pareto,
    )

    rng = random.Random(42)
    pts = [
        (round(rng.uniform(1, 20), 1), rng.randint(1, 15))
        for _ in range(400)
    ]

    # Brute force at distinct-point granularity with counts.
    from collections import Counter

    counts = Counter(pts)
    uniq = list(counts)
    sky = {
        (p, s)
        for (p, s) in uniq
        if not any(
            (p2 <= p and s2 >= s and (p2 < p or s2 > s))
            for (p2, s2) in uniq
        )
    }
    expected = {(p, s, counts[(p, s)]) for (p, s) in sky}

    # Route the query through a temp parquet 'part' table.
    import os

    tmp = str(tmp_path)
    spark.createDataFrame(
        [(i, f"n{i}", "b", "t", s, p) for i, (p, s) in enumerate(pts)],
        "p_partkey long, p_name string, p_brand string, p_type string, "
        "p_size int, p_retailprice double",
    ).write.mode("overwrite").parquet(os.path.join(tmp, "part.parquet"))
    got = {
        (r.price, r.size, r.n_parts)
        for r in q_skyline_pareto(spark, tmp).collect()
    }
    assert got == expected


def test_cusum_closed_form_matches_recurrence(spark, tmp_path):
    """The prefix-sum closed form must replay the literal one-sided
    CUSUM recurrence s_i = max(0, s_{i-1} + (x_i - mean)) step by step
    (integer-scaled by n_days, per event type)."""
    from reddit_data_pipeline_engineering_spark.plans.queries_seq import (
        q_event_rate_cusum,
    )

    rng = random.Random(7)
    t0 = datetime(2024, 1, 1)
    rows = []
    eid = 0
    series = {}
    for et in ("a", "b"):
        days = [rng.randint(1, 40) for _ in range(30)]
        series[et] = days
        for d, n in enumerate(days):
            for _ in range(n):
                rows.append(
                    (eid, t0 + timedelta(days=d, hours=1), 1, et, 1.0, "{}")
                )
                eid += 1

    import os

    tmp = str(tmp_path)
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.mode("overwrite").parquet(os.path.join(tmp, "events.parquet"))

    got = {
        (r.event_type, str(r.day)): (r.n_events, r.cusum_num, r.alarm)
        for r in q_event_rate_cusum(spark, tmp).collect()
    }

    for et, days in series.items():
        D, total = len(days), sum(days)
        s = 0
        for d, n in enumerate(days):
            s = max(0, s + (n * D - total))  # scaled recurrence
            day = str((t0 + timedelta(days=d)).date())
            assert got[(et, day)] == (n, s, s > 5 * D), (et, day)


def test_peak_concurrency_matches_sweep_bruteforce(spark, tmp_path):
    """Peak + earliest peak instant must match a per-microsecond brute
    sweep over random bursty timestamps (15-minute intervals, half-open
    [s, e) semantics)."""
    from reddit_data_pipeline_engineering_spark.plans.queries_seq import (
        q_peak_concurrency,
    )

    rng = random.Random(13)
    t0 = datetime(2024, 3, 1)
    rows = []
    stamps = []
    for i in range(300):
        # Bursts: many events inside a few tight windows, some ties.
        ts = t0 + timedelta(
            minutes=rng.choice([0, 1, 2, 5, 14, 15, 16, 30, 60]),
            seconds=rng.randint(0, 59),
        )
        stamps.append(ts)
        rows.append((i, ts, 1, "x", 1.0, "{}"))

    import os

    tmp = str(tmp_path)
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.mode("overwrite").parquet(os.path.join(tmp, "events.parquet"))

    (row,) = q_peak_concurrency(spark, tmp).collect()

    # Brute force: concurrency changes only at interval endpoints.
    delta = timedelta(minutes=15)
    points = sorted({t for t in stamps} | {t + delta for t in stamps})
    best, best_t = -1, None
    for p in points:
        c = sum(1 for t in stamps if t <= p < t + delta)
        if c > best:
            best, best_t = c, p
    assert row.peak == best
    assert row.first_peak_ts == best_t


def test_seasonal_dow_spike_trips_the_flag(spark):
    """The z-square inequality must fire on (and only on) a genuine
    same-weekday outlier: 4 calm weeks plus one spiked Monday. Also pins
    the direction of dev_num and that OTHER weekdays' strata are
    untouched by the spike."""
    import datetime

    from reddit_data_pipeline_engineering_spark.plans.queries_seq import (
        seasonal_dow_scores,
    )

    base = datetime.date(2024, 1, 1)  # a Monday
    rows = []
    # A single spike in an otherwise-constant stratum has z^2 = m - 1
    # exactly (the one-outlier maximum), so m = 5 weeks sits ON the
    # z^2 > 4 boundary and must NOT flag — 7 weeks (z^2 = 6) must.
    for week in range(7):
        for d in range(7):
            day = base + datetime.timedelta(days=week * 7 + d)
            n = 100
            if week == 2 and d == 0:  # one wild Monday
                n = 500
            rows.append(("click", day, n))
    daily = spark.createDataFrame(rows, "event_type string, day date, n long")
    out = {r.day: r for r in seasonal_dow_scores(daily).collect()}
    spike = base + datetime.timedelta(days=14)
    assert out[spike].is_anomaly and out[spike].dev_num > 0
    flagged = [d for d, r in out.items() if r.is_anomaly]
    # The other four Mondays sit below the spiked stratum's mean -> all
    # four trip TOO iff their z^2 > 4; with one 5x outlier the four calm
    # Mondays are only ~0.5 sigma off, so the spike is the single flag.
    assert flagged == [spike]
    # Non-Monday strata are constant: zero deviation everywhere.
    tuesday = base + datetime.timedelta(days=1)
    assert out[tuesday].dev_num == 0 and not out[tuesday].is_anomaly


def test_time_weighted_avg_matches_pandas(spark):
    import duckdb

    from reddit_data_pipeline_engineering_spark.plans.queries import (
        REGISTRY,
        queries,
    )

    from .conftest import SF_SMALL

    queries()  # force registration
    out = {
        r["event_type"]: r
        for r in REGISTRY["time_weighted_avg"].fn(spark, SF_SMALL).collect()
    }
    pdf = duckdb.sql(
        f"SELECT event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t, user_id, "
        f"event_type, value FROM '{SF_SMALL}/events.parquet'"
    ).df()
    for etype, grp in pdf.groupby("event_type"):
        n = len(grp)
        covered = 0
        vdt = 0.0
        vsum = 0.0
        for _, g in grp.groupby("user_id"):
            g = g.sort_values(["t", "event_id"])
            ts = list(g["t"])
            vs = list(g["value"])
            for i in range(len(ts) - 1):
                dt = int(ts[i + 1]) - int(ts[i])
                covered += dt
                vdt += float(vs[i]) * dt
            vsum += float(g["value"].sum())
        r = out[etype]
        assert r["n_points"] == n
        assert r["covered_micros"] == covered
        # float replay vs the engines' decimal-exact mass: tolerance
        # both outputs are round(…, 6): half-grid absolute tolerance
        assert abs(r["twa"] - vdt / covered) < 1e-6 + 1e-9 * abs(r["twa"])
        assert abs(r["plain_mean"] - vsum / n) < 1e-6 + 1e-9 * abs(vsum / n)
        # the irregular cadence actually separates the two statistics
    assert any(
        abs(r["twa"] - r["plain_mean"]) > 1e-6 for r in out.values()
    )


def test_lttb_downsample_matches_python(spark):
    import duckdb

    from reddit_data_pipeline_engineering_spark.plans.queries import (
        REGISTRY,
        queries,
    )
    from reddit_data_pipeline_engineering_spark.plans.queries_seq import (
        _LTTB_B,
    )

    from .conftest import SF_SMALL

    queries()
    out = {
        (r["event_type"], r["bucket"]): (r["t_sel"], r["v_sel_scaled"])
        for r in REGISTRY["lttb_downsample"].fn(spark, SF_SMALL).collect()
    }
    rows = duckdb.sql(
        f"SELECT event_type, CAST(floor(epoch(CAST(ts AS TIMESTAMP))) "
        f"AS BIGINT) AS t, CAST(FLOOR(value * 1000000.0) AS BIGINT) AS v, "
        f"event_id FROM '{SF_SMALL}/events.parquet'"
    ).fetchall()
    by_type = {}
    for et, t, v, eid in rows:
        by_type.setdefault(et, []).append((int(t), int(v), int(eid)))
    expect = {}
    for et, pts in by_type.items():
        tmin = min(p[0] for p in pts)
        tmax = max(p[0] for p in pts)
        buckets = {}
        for t, v, eid in pts:
            b = (t - tmin) * _LTTB_B // (tmax - tmin + 1)
            buckets.setdefault(b, []).append((t, v, eid))
        anchors = {
            b: (
                sum(p[0] for p in ps) // len(ps),
                sum(p[1] for p in ps) // len(ps),
            )
            for b, ps in buckets.items()
        }
        for b, ps in buckets.items():
            ap, an = anchors.get(b - 1), anchors.get(b + 1)
            if b == 0:
                pick = min(ps, key=lambda p: (p[0], p[2]))
            elif b == _LTTB_B - 1:
                pick = max(ps, key=lambda p: (p[0], p[2]))
            elif ap is None or an is None:
                pick = min(ps, key=lambda p: (p[0], p[2]))
            else:
                def area2(p):
                    return abs(
                        (ap[0] - an[0]) * (p[1] - ap[1])
                        - (ap[0] - p[0]) * (an[1] - ap[1])
                    )
                pick = max(ps, key=lambda p: (area2(p), -p[0], -p[2]))
            expect[(et, b)] = (pick[0], pick[1])
    assert out == expect
    # every type keeps exactly its non-empty buckets
    assert len(out) > 0


def test_changepoint_locates_synthetic_step(spark):
    """A clean level shift must be located exactly: 40 days at 100/day
    then 40 days at 300/day puts the AMOC argmax on the last low day.
    Also replays the full scan in unbounded Python ints on the sf0.001
    daily counts (independent of both the plan and the oracle SQL)."""
    from datetime import date, timedelta

    import duckdb

    from .conftest import SF_SMALL
    from reddit_data_pipeline_engineering_spark.plans.queries import REGISTRY
    from reddit_data_pipeline_engineering_spark.plans.queries_seq import (
        changepoint_from_daily,
    )

    d0 = date(2024, 1, 1)
    rows = [
        ("step", d0 + timedelta(days=i), 100 if i < 40 else 300)
        for i in range(80)
    ]
    # A constant series: every gap is 0, tiebreak picks the FIRST day.
    rows += [("flat", d0 + timedelta(days=i), 50) for i in range(30)]
    daily = spark.createDataFrame(rows, "event_type string, day date, n long")
    got = {r["event_type"]: r for r in changepoint_from_daily(daily).collect()}

    step = got["step"]
    assert step["change_day"] == d0 + timedelta(days=39)  # last low day
    assert step["n_days"] == 80 and step["total_events"] == 40 * 400
    assert step["mean_before_milli"] == 100_000
    assert step["mean_after_milli"] == 300_000
    # gap at k=40: |80*4000 - 40*16000| = 320000; ppm over 80*16000.
    assert step["gap_ppm"] == 320_000 * 1_000_000 // (80 * 16_000)

    flat = got["flat"]
    assert flat["change_day"] == d0 and flat["gap_ppm"] == 0

    # Independent integer replay on the real fixture.
    daily_rows = duckdb.sql(
        f"SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n "
        f"FROM '{SF_SMALL}/events.parquet' GROUP BY 1, 2 ORDER BY 1, 2"
    ).fetchall()
    by_type: dict[str, list[tuple]] = {}
    for t, day, n in daily_rows:
        by_type.setdefault(t, []).append((day, n))
    out = {
        r["event_type"]: r
        for r in REGISTRY["cusum_changepoint"].fn(spark, SF_SMALL).collect()
    }
    assert set(out) == set(by_type)
    for t, series in by_type.items():
        n_days = len(series)
        total = sum(n for _, n in series)
        cum = 0
        best = None  # (gap, day, k, cum)
        for k, (day, n) in enumerate(series, start=1):
            cum += n
            gap = abs(n_days * cum - k * total)
            if best is None or gap > best[0]:
                best = (gap, day, k, cum)
        gap, day, k, cum_k = best
        r = out[t]
        assert r["change_day"] == day
        assert r["gap_ppm"] == gap * 1_000_000 // (n_days * total)
        assert r["mean_before_milli"] == cum_k * 1000 // k
        expect_after = (
            (total - cum_k) * 1000 // (n_days - k) if n_days > k else None
        )
        assert r["mean_after_milli"] == expect_after


def test_kaplan_meier_matches_pandas_replay(spark):
    """Independent KM replay: merge_asof next purchase per signup,
    classic product-limit estimator over hour buckets."""
    import duckdb
    import pandas as pd

    from reddit_data_pipeline_engineering_spark.plans.queries import (
        REGISTRY,
        queries,
    )

    from .conftest import SF_SMALL

    queries()
    out = (
        REGISTRY["kaplan_meier_conversion"]
        .fn(spark, SF_SMALL)
        .orderBy("t_hours")
        .toPandas()
    )
    ev = duckdb.sql(
        f"SELECT user_id, event_type, CAST(ts AS TIMESTAMP) ts FROM "
        f"'{SF_SMALL}/events.parquet' WHERE event_type IN "
        f"('signup','purchase') ORDER BY ts"
    ).df()
    s = ev[ev.event_type == "signup"].sort_values(["ts", "user_id"])
    p = ev[ev.event_type == "purchase"].sort_values(["ts", "user_id"])
    m = pd.merge_asof(
        s, p, on="ts", by="user_id", direction="forward",
        suffixes=("", "_p"), allow_exact_matches=True,
    )
    # merge_asof keeps the left ts; recompute next purchase ts per row
    nxt = []
    pp = {u: g["ts"].to_list() for u, g in p.groupby("user_id")}
    import bisect

    for _, r in s.iterrows():
        lst = pp.get(r["user_id"], [])
        i = bisect.bisect_left(lst, r["ts"])
        nxt.append(lst[i] if i < len(lst) else pd.NaT)
    durs = []
    for t0, t1 in zip(s["ts"], nxt):
        if pd.isna(t1):
            durs.append(72)
        else:
            durs.append(min(72, int((t1 - t0).value // (3600 * 10**9))))
    from collections import Counter

    cnt = Counter(durs)
    total = sum(cnt.values())
    cens = cnt.get(72, 0)
    surv, seen = 1.0, 0
    expected = []
    for t in sorted(k for k in cnt if k < 72):
        n_risk = total - seen
        surv *= 1.0 - cnt[t] / n_risk
        expected.append((t, n_risk, cnt[t], cens, surv))
        seen += cnt[t]
    assert len(out) == len(expected)
    for row, (t, n, d, c, sv) in zip(out.itertuples(index=False), expected):
        assert (row.t_hours, row.n_risk, row.n_deaths) == (t, n, d)
        assert row.n_censored_total == c
        assert abs(row.km_survival - sv) < 1e-6
    # KM invariants: strictly decreasing at death times, within (0, 1]
    km = out["km_survival"].to_list()
    assert all(b < a for a, b in zip(km, km[1:]))
    assert 0 < km[-1] <= 1


def test_logrank_matches_python_replay(spark):
    """Independent log-rank replay with float arithmetic over the same
    duration construction."""
    import bisect
    import hashlib
    import math
    from collections import Counter

    import duckdb
    import pandas as pd

    from reddit_data_pipeline_engineering_spark.plans.queries import (
        REGISTRY,
        queries,
    )

    from .conftest import SF_SMALL

    queries()
    out = (
        REGISTRY["logrank_ab_survival"].fn(spark, SF_SMALL).toPandas().iloc[0]
    )
    ev = duckdb.sql(
        f"SELECT user_id, event_type, CAST(ts AS TIMESTAMP) ts FROM "
        f"'{SF_SMALL}/events.parquet' WHERE event_type IN "
        f"('signup','purchase') ORDER BY ts"
    ).df()
    p = ev[ev.event_type == "purchase"]
    pp = {u: g["ts"].to_list() for u, g in p.groupby("user_id")}
    durs = []
    for _, r in ev[ev.event_type == "signup"].iterrows():
        grp = int(hashlib.md5(str(int(r["user_id"])).encode())
                  .hexdigest()[:8], 16) % 2
        lst = pp.get(r["user_id"], [])
        i = bisect.bisect_left(lst, r["ts"])
        if i >= len(lst):
            t = 72
        else:
            t = min(72, int((lst[i] - r["ts"]).value // (3600 * 10**9)))
        durs.append((t, grp))
    c1 = Counter(t for t, g in durs if g == 0)
    call = Counter(t for t, _ in durs)
    o1 = e1 = v = 0.0
    for t in sorted(k for k in call if k < 72):
        n1 = sum(c for tt, c in c1.items() if tt >= t)
        nt = sum(c for tt, c in call.items() if tt >= t)
        d = call[t]
        o1 += c1.get(t, 0)
        e1 += d * n1 / nt
        if nt > 1:
            v += d * n1 * (nt - n1) * (nt - d) / (nt * nt * (nt - 1))
    z = (o1 - e1) / math.sqrt(v)
    assert out["n_signups"] == len(durs)
    assert out["o1"] == int(o1)
    # the query truncates each term to the 1e-6 grid; the float replay
    # agrees within grid resolution times the bucket count
    assert abs(out["e1_e6"] / 1e6 - e1) < 1e-4
    assert abs(out["v_e6"] / 1e6 - v) < 1e-4
    assert abs(out["logrank_z"] - z) < 1e-3
    assert abs(out["logrank_chi2"] - z * z) < 2e-3


def test_markov_stationary_matches_numpy_eigenvector(spark):
    """The 12-round integer iteration must land near the true
    stationary distribution (numpy left-eigenvector of the empirical
    transition matrix), and the exact replay must match bit-for-bit."""
    import duckdb
    import numpy as np

    from reddit_data_pipeline_engineering_spark.plans.queries import (
        REGISTRY,
        queries,
    )
    from reddit_data_pipeline_engineering_spark.plans.queries_seq import (
        _MKV_ITERS,
        _MKV_THRESH,
    )

    from .conftest import SF_SMALL

    queries()
    out = (
        REGISTRY["markov_stationary_activity"]
        .fn(spark, SF_SMALL)
        .orderBy("state")
        .toPandas()
    )
    uw = duckdb.sql(
        f"SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) // 604800000000 "
        f"AS wk, COUNT(*) n FROM '{SF_SMALL}/events.parquet' GROUP BY 1, 2"
    ).fetchall()

    def state(n):
        for i, t in enumerate(_MKV_THRESH):
            if n < t:
                return i
        return len(_MKV_THRESH)

    su = {(u, w): state(n) for u, w, n in uw}
    cells = {}
    for (u, w), s0 in su.items():
        s1 = su.get((u, w + 1))
        if s1 is not None:
            cells[(s0, s1)] = cells.get((s0, s1), 0) + 1
    states = sorted({s for s, _ in cells} | {s for _, s in cells}
                    | {s for s in su.values()})
    k = len(states)
    # exact integer replay
    r = {}
    for (sf_, _), c in cells.items():
        r[sf_] = r.get(sf_, 0) + c
    v = {s: 1_000_000 // k for s in states}
    for _ in range(_MKV_ITERS):
        w = {s: 0 for s in states}
        for (sf_, st_), c in cells.items():
            w[st_] += (v[sf_] * c * 1_000_000) // r[sf_]
        tot = sum(w.values())
        v = {s: (w[s] * 1_000_000) // tot for s in states}
    assert out["stationary_ppm"].tolist() == [v[s] for s in states]
    # numpy ground truth on the chain restricted to states with
    # outgoing mass (float left eigenvector)
    active = [s for s in states if r.get(s)]
    P = np.zeros((len(active), len(active)))
    idx = {s: i for i, s in enumerate(active)}
    for (sf_, st_), c in cells.items():
        if sf_ in idx and st_ in idx:
            P[idx[sf_], idx[st_]] = c / r[sf_]
    P /= P.sum(axis=1, keepdims=True)  # drop mass leaking to absorbing
    evals, evecs = np.linalg.eig(P.T)
    pi = np.real(evecs[:, np.argmax(np.real(evals))])
    pi = np.abs(pi) / np.abs(pi).sum()
    got = np.array([v[s] / 1e6 for s in active])
    got = got / got.sum()
    assert np.abs(got - pi).max() < 0.02  # 12 rounds converge closely
    # occupancy ppm column is exact
    tot_occ = int(out["n_occupied"].sum())
    for _, row in out.iterrows():
        assert row["empirical_ppm"] == row["n_occupied"] * 1_000_000 // tot_occ


def test_nelson_aalen_matches_python_replay(spark):
    """Cumulative hazard replayed in pure python over the same duration
    buckets; also pins the KM relationship: same (t, n_risk, d) rows."""
    from reddit_data_pipeline_engineering_spark.plans.queries import (
        REGISTRY,
        queries,
    )

    queries()
    sf = "/root/testdata/sf0.001"
    na = REGISTRY["nelson_aalen_hazard"].fn(spark, sf).toPandas()
    km = REGISTRY["kaplan_meier_conversion"].fn(spark, sf).toPandas()
    # identical risk-set geometry between the two estimators
    assert list(na["t_hours"]) == list(km["t_hours"])
    assert list(na["n_risk"]) == list(km["n_risk"])
    assert list(na["n_deaths"]) == list(km["n_deaths"])
    # python replay of the truncated-term cumulative sum
    cum, expect = 0, []
    for _, r in na.iterrows():
        term = r["n_deaths"] * 1_000_000 // r["n_risk"]
        cum += term
        expect.append((term, cum))
    assert list(zip(na["hazard_term_e6"], na["cum_hazard_e6"])) == expect
    # hazard sum dominates -log(KM survival) never by much: H >= -ln(S)
    # is false in general, but H <= sum d/(n-d) bounds it; just sanity
    # that both move monotonically
    assert na["cum_hazard_e6"].is_monotonic_increasing

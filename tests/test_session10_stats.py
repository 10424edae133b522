"""Spec checks for statistics and data-quality queries (the oracle gate
proves Spark == DuckDB on the same SQL spec; these prove the spec against
independent pure-python/numpy models from the raw parquet)."""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pytest

from lvm_datapipe_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_pd():
    return duckdb.sql(
        f"SELECT event_id, ts, user_id, event_type, value FROM '{SF}/events.parquet'"
    ).df()


def test_residual_acf_matches_numpy(spark, events_pd):
    out = {
        r["event_type"]: r
        for r in QUERIES["forecast_residual_acf"](spark, SF).collect()
    }
    ev = events_pd.copy()
    ns = pd.to_datetime(ev.ts).astype("datetime64[ns]").astype("int64")
    ev["h"] = (ns // 10**9) // 3600
    for et, g in ev.groupby("event_type"):
        c = g.groupby("h").size().to_dict()
        resid = {
            h: c[h] - c[h - 24] for h in c if h - 24 in c
        }  # seasonal-naive residuals
        pairs = [(resid[h - 1], resid[h]) for h in resid if h - 1 in resid]
        if len(pairs) < 3:
            assert et not in out
            continue
        x = np.array([p[0] for p in pairs], dtype=float)
        y = np.array([p[1] for p in pairs], dtype=float)
        row = out[et]
        assert row["n_pairs"] == len(pairs)
        if x.std() > 0 and y.std() > 0:
            assert row["residual_acf1"] == pytest.approx(
                float(np.corrcoef(x, y)[0, 1]), rel=1e-9
            )
            assert -1.0 - 1e-12 <= row["residual_acf1"] <= 1.0 + 1e-12


def test_gains_table_matches_numpy(spark):
    docs = duckdb.sql(f"SELECT text FROM '{SF}/documents.parquet'").df()
    nt = docs.text.map(lambda t: len(t.split()))
    keep = nt > 0
    nt = nt[keep]
    chars = docs.text[keep].map(len)
    logit = (-2.0 + 0.004 * nt) + 0.35 * (chars / nt)
    label = ((nt >= 50) & (nt <= 100000)).astype(int)
    thresholds = [np.percentile(logit, f * 100) for f in
                  [0.9, 0.8, 0.7, 0.6, 0.5, 0.4, 0.3, 0.2, 0.1]]
    decile = 1 + sum((logit < t).astype(int) for t in thresholds)
    df = pd.DataFrame({"decile": decile, "label": label})
    total_pos, total_n = int(label.sum()), len(label)
    out = {
        r["decile"]: r
        for r in QUERIES["classifier_gains_table"](spark, SF).collect()
    }
    cum = 0
    for d in sorted(df.decile.unique()):
        g = df[df.decile == d]
        cum += int(g.label.sum())
        row = out[d]
        assert row["n_docs"] == len(g)
        assert row["n_pos"] == int(g.label.sum())
        rate = g.label.sum() / len(g)
        assert row["pos_rate"] == pytest.approx(rate, rel=1e-12)
        assert row["lift"] == pytest.approx(
            rate / (total_pos / total_n), rel=1e-12
        )
        assert row["cum_capture"] == pytest.approx(cum / total_pos, rel=1e-12)
    # decile 1 is the highest-score bucket: capture must be monotone in decile
    caps = [out[d]["cum_capture"] for d in sorted(out)]
    assert caps == sorted(caps)


def test_zipf_ratios_match_counter(spark):
    docs = duckdb.sql(f"SELECT text FROM '{SF}/documents.parquet'").df()
    from collections import Counter

    tf = Counter()
    for t in docs.text:
        tf.update(w for w in t.split() if w)
    top = sorted(tf.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    out = {r["rank"]: r for r in
           QUERIES["vocab_rank_frequency_ratios"](spark, SF).collect()}
    f1 = top[0][1]
    for rk, (tok, freq) in enumerate(top, start=1):
        row = out[rk]
        assert row["tok"] == tok and row["freq"] == freq
        assert row["top_over_freq"] == pytest.approx(f1 / freq, rel=1e-12)
        assert row["zipf_deviation"] == pytest.approx(
            f1 / (freq * rk), rel=1e-12
        )


def test_out_of_order_rate_matches_pandas(spark, events_pd):
    out = {
        r["event_type"]: r
        for r in QUERIES["out_of_order_event_rate"](spark, SF).collect()
    }
    ev = events_pd.copy()
    ev["t_s"] = (pd.to_datetime(ev.ts).astype("datetime64[ns]").astype("int64") // 10**9).astype(int)
    agg = {et: [0, 0, 0] for et in ev.event_type.unique()}  # n, late, maxlate
    for _, g in ev.groupby("user_id"):
        g = g.sort_values("event_id")
        run_max = None
        for _, r in g.iterrows():
            a = agg[r.event_type]
            a[0] += 1
            if run_max is not None and r.t_s < run_max:
                a[1] += 1
                a[2] = max(a[2], run_max - r.t_s)
            run_max = r.t_s if run_max is None else max(run_max, r.t_s)
    for et, (n, late, maxlate) in agg.items():
        row = out[et]
        assert row["n_events"] == n
        assert row["n_late"] == late
        assert row["late_rate"] == pytest.approx(late / n, rel=1e-12)
        assert row["max_lateness_s"] == maxlate
        assert 0.0 <= row["p99_lateness_s"] <= maxlate + 1e-9


def test_linenumber_gaps_match_pandas(spark):
    li = duckdb.sql(
        f"SELECT l_orderkey, l_linenumber FROM '{SF}/lineitem.parquet'"
    ).df()
    g = li.groupby("l_orderkey").l_linenumber.agg(["size", "min", "max", "nunique"])
    row = QUERIES["order_linenumber_gaps"](spark, SF).collect()[0]
    assert row["n_orders"] == len(g)
    assert row["n_bad_start"] == int((g["min"] != 1).sum())
    assert row["n_gapped"] == int((g["max"] != g["size"]).sum())
    assert row["n_duplicated"] == int((g["nunique"] != g["size"]).sum())
    ok = (g["min"] == 1) & (g["max"] == g["size"]) & (g["nunique"] == g["size"])
    assert row["contiguous_rate"] == pytest.approx(ok.mean(), rel=1e-12)


def test_time_to_value_matches_pandas(spark, events_pd):
    ev = events_pd[events_pd.value > 0].copy()
    ev["t_s"] = (pd.to_datetime(ev.ts).astype("datetime64[ns]").astype("int64") // 10**9).astype(int)
    ttvs = []
    n_users = ev.user_id.nunique()
    for _, g in ev.groupby("user_id"):
        g = g.sort_values(["ts", "event_id"])
        cum = g.value.cumsum()
        hit = g[cum.values >= 100.0]
        if len(hit):
            ttvs.append(int(hit.t_s.iloc[0] - g.t_s.iloc[0]))
    row = QUERIES["time_to_value_quantiles"](spark, SF).collect()[0]
    assert row["n_users"] == n_users
    assert row["n_reached"] == len(ttvs)
    assert row["reach_rate"] == pytest.approx(len(ttvs) / n_users, rel=1e-12)
    if ttvs:
        assert row["p50_ttv_s"] == pytest.approx(
            float(np.percentile(ttvs, 50)), rel=1e-9
        )
        assert min(ttvs) <= row["p90_ttv_s"] <= max(ttvs)


def test_ltv_curve_matches_pandas(spark):
    o = duckdb.sql(
        f"""SELECT o_custkey,
                   CAST(strftime(o_orderdate, '%Y') AS INT) * 12
                     + CAST(strftime(o_orderdate, '%m') AS INT) - 1 AS month_id,
                   o_totalprice FROM '{SF}/orders.parquet'"""
    ).df()
    cm = o.groupby(["o_custkey", "month_id"]).o_totalprice.sum().reset_index()
    cohort = cm.groupby("o_custkey").month_id.min().rename("cohort_id")
    cm = cm.join(cohort, on="o_custkey")
    cm["offset_months"] = cm.month_id - cm.cohort_id
    sz = cohort.reset_index().groupby("cohort_id").size()
    co = (
        cm.groupby(["cohort_id", "offset_months"])
        .o_totalprice.sum()
        .groupby(level=0)
        .cumsum()
    )
    out = {
        (r["cohort_id"], r["offset_months"]): r
        for r in QUERIES["cohort_ltv_curve"](spark, SF).collect()
    }
    assert len(out) == len(co)
    for (cid, off), cum in co.items():
        row = out[(cid, off)]
        assert row["n_customers"] == sz[cid]
        assert row["cum_revenue"] == pytest.approx(float(cum), rel=1e-9)
        assert row["ltv_per_customer"] == pytest.approx(
            float(cum) / sz[cid], rel=1e-9
        )
    # LTV must be nondecreasing in offset within every cohort
    for cid in sz.index:
        vals = [out[k]["ltv_per_customer"] for k in sorted(out) if k[0] == cid]
        assert vals == sorted(vals)


def test_seasonal_indices_match_pandas(spark):
    o = duckdb.sql(
        f"""SELECT CAST(strftime(o_orderdate, '%Y') AS INT) * 12
                     + CAST(strftime(o_orderdate, '%m') AS INT) - 1 AS month_id,
                   CAST(strftime(o_orderdate, '%m') AS INT) AS moy,
                   o_totalprice FROM '{SF}/orders.parquet'"""
    ).df()
    m = o.groupby(["month_id", "moy"]).o_totalprice.sum().reset_index()
    rev = dict(zip(m.month_id, m.o_totalprice))
    ratios: dict[int, list[float]] = {}
    for _, r in m.iterrows():
        window = [rev.get(r.month_id + d) for d in range(-6, 7)]
        if any(v is None for v in window):
            continue
        ratios.setdefault(int(r.moy), []).append(
            r.o_totalprice / (sum(window) / 13.0)
        )
    out = {
        r["month_of_year"]: r
        for r in QUERIES["revenue_seasonal_indices"](spark, SF).collect()
    }
    assert set(out) == set(ratios)
    for moy, rs in ratios.items():
        row = out[moy]
        assert row["n_years"] == len(rs)
        assert row["seasonal_index"] == pytest.approx(
            sum(rs) / len(rs), rel=1e-5
        )

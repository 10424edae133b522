"""Spec checks for statistics, retrieval and KPI queries.

The driver oracle gate proves Spark == DuckDB on the SAME SQL spec; these
tests prove the spec itself — each query is compared against an independent
pure-python/numpy model (the textbook formula, re-derived from the raw
parquet without reusing the query's expression structure)."""

from __future__ import annotations

import hashlib
import math
import re

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


def _arm(user_id: int) -> int:
    h = hashlib.md5(f"ab{user_id}".encode()).hexdigest()[:8]
    return int(h, 16) % 2


def test_mann_kendall_matches_bruteforce_pairs(spark, events_pd):
    out = {
        r["event_type"]: r
        for r in QUERIES["events_mann_kendall_trend"](spark, SF).collect()
    }
    ev = events_pd.copy()
    ev["hr"] = pd.to_datetime(ev.ts).dt.strftime("%Y%m%d%H").astype(int)
    for et, g in ev.groupby("event_type"):
        c = g.groupby("hr").size().sort_index().to_numpy()
        n = len(c)
        s = sum(
            int(np.sign(c[j] - c[i])) for i in range(n) for j in range(i + 1, n)
        )
        _, tie_counts = np.unique(c, return_counts=True)
        tie = sum(int(t) * (int(t) - 1) * (2 * int(t) + 5) for t in tie_counts)
        var18 = n * (n - 1) * (2 * n + 5) - tie
        row = out[et]
        assert row["n_hours"] == n
        assert row["s"] == s
        assert row["var_s"] == pytest.approx(var18 / 18.0, rel=1e-12)
        if var18 > 0:
            z = (s - 1) / math.sqrt(var18 / 18.0) if s > 0 else (
                (s + 1) / math.sqrt(var18 / 18.0) if s < 0 else 0.0
            )
            assert row["z"] == pytest.approx(z, rel=1e-12)


def test_ndcg_matches_numpy_bruteforce(spark):
    emb = duckdb.sql(
        f"SELECT vec_id, label, embedding FROM '{SF}/embeddings.parquet' ORDER BY vec_id"
    ).df()
    vecs = np.stack(emb.embedding.to_numpy()).astype(np.float64)
    ids = emb.vec_id.to_numpy()
    labels = emb.label.to_numpy()
    # the ladder is re-derived here from math.log2, independent of the queries
    d_lad = [math.floor(1_000_000 / math.log2(i + 1)) for i in range(1, 11)]
    p_lad = np.cumsum(d_lad)
    out = {
        r["query_id"]: r
        for r in QUERIES["retrieval_ndcg_eval"](spark, SF).collect()
    }
    norms = np.linalg.norm(vecs, axis=1)
    for qi in range(len(ids)):
        if ids[qi] >= 10:
            continue
        cos = (vecs @ vecs[qi]) / (norms * norms[qi])
        order = sorted(
            (i for i in range(len(ids)) if i != qi),
            key=lambda i: (-cos[i], ids[i]),
        )[:10]
        dcg = sum(
            d_lad[rk] for rk, i in enumerate(order) if labels[i] == labels[qi]
        )
        n_rel = int((labels == labels[qi]).sum()) - 1
        idcg = int(p_lad[min(n_rel, 10) - 1]) if n_rel >= 1 else 0
        row = out[ids[qi]]
        assert row["n_relevant"] == n_rel
        assert row["dcg_micro"] == dcg
        assert row["idcg_micro"] == idcg
        expect = dcg / idcg if idcg > 0 else 0.0
        assert row["ndcg"] == pytest.approx(expect, rel=1e-12)
        assert 0.0 <= row["ndcg"] <= 1.0


def test_kish_ess_matches_numpy(spark, events_pd):
    out = {
        r["event_type"]: r
        for r in QUERIES["weighted_ess_by_type"](spark, SF).collect()
    }
    for et, g in events_pd.groupby("event_type"):
        w = g.value.to_numpy()
        ess = w.sum() ** 2 / (w * w).sum()
        row = out[et]
        assert row["n"] == len(w)
        # floor-micro quantization of sum(w^2) bounds the ESS error
        assert row["ess"] == pytest.approx(ess, rel=1e-6)
        assert row["ess_efficiency"] == pytest.approx(ess / len(w), rel=1e-6)
        assert 0.0 < row["ess_efficiency"] <= 1.0 + 1e-12


def test_cohens_d_matches_numpy(spark, events_pd):
    out = {
        r["event_type"]: r
        for r in QUERIES["cohens_d_by_type"](spark, SF).collect()
    }
    ev = events_pd.copy()
    ev["arm"] = ev.user_id.map(_arm)
    for et, g in ev.groupby("event_type"):
        a = g[g.arm == 0].value.to_numpy()
        b = g[g.arm == 1].value.to_numpy()
        if len(a) == 0 or len(b) == 0:
            assert et not in out
            continue
        row = out[et]
        assert row["n0"] == len(a) and row["n1"] == len(b)
        ssd = ((a - a.mean()) ** 2).sum() + ((b - b.mean()) ** 2).sum()
        d = (b.mean() - a.mean()) / math.sqrt(ssd / (len(a) + len(b) - 2))
        assert row["m0"] == pytest.approx(a.mean(), rel=1e-9)
        assert row["cohens_d"] == pytest.approx(d, rel=1e-5)


def test_spc_limits_match_pandas(spark, events_pd):
    out = {
        r["event_type"]: r
        for r in QUERIES["spc_individuals_chart"](spark, SF).collect()
    }
    ev = events_pd.sort_values(["ts", "event_id"])
    for et, g in ev.groupby("event_type"):
        x = g.value.to_numpy()
        center = x.mean()
        mr = np.abs(np.diff(x))
        mr_bar = mr.mean() if len(mr) else 0.0
        ucl, lcl = center + 2.66 * mr_bar, center - 2.66 * mr_bar
        row = out[et]
        assert row["n"] == len(x)
        assert row["center"] == pytest.approx(center, rel=1e-9)
        assert row["mr_bar"] == pytest.approx(mr_bar, rel=1e-6)
        assert row["ucl"] == pytest.approx(ucl, rel=1e-6)
        assert row["n_violations"] == int(((x > row["ucl"]) | (x < row["lcl"])).sum())


def test_capture_recapture_matches_set_arithmetic(spark, events_pd):
    ev = events_pd.copy()
    ev["day"] = pd.to_datetime(ev.ts).dt.strftime("%Y-%m-%d")
    d1 = set(ev[ev.day == "2024-01-05"].user_id)
    d2 = set(ev[ev.day == "2024-01-20"].user_id)
    m = len(d1 & d2)
    row = QUERIES["capture_recapture_users"](spark, SF).collect()[0]
    assert row["n1"] == len(d1) and row["n2"] == len(d2) and row["m"] == m
    if m:
        assert row["lincoln_petersen"] == pytest.approx(
            len(d1) * len(d2) / m, rel=1e-12
        )
    assert row["chapman"] == pytest.approx(
        (len(d1) + 1) * (len(d2) + 1) / (m + 1) - 1, rel=1e-12
    )


def test_cochran_armitage_matches_numpy(spark, events_pd):
    ev = events_pd.copy()
    ev["w"] = pd.to_datetime(ev.ts).dt.hour
    ev["r"] = (ev.event_type == "purchase").astype(int)
    g = ev.groupby("w").agg(n_i=("r", "size"), r_i=("r", "sum"))
    n, r = g.n_i.sum(), g.r_i.sum()
    swr = (g.index * g.r_i).sum()
    swn = (g.index * g.n_i).sum()
    sw2n = (g.index**2 * g.n_i).sum()
    pbar = r / n
    t = swr - swn * pbar
    var_t = pbar * (1 - pbar) * (sw2n - swn**2 / n)
    row = QUERIES["cochran_armitage_hourly_trend"](spark, SF).collect()[0]
    assert row["n"] == n and row["r"] == r
    assert row["t_stat"] == pytest.approx(t, rel=1e-9)
    assert row["var_t"] == pytest.approx(var_t, rel=1e-9)
    if var_t > 0:
        assert row["z"] == pytest.approx(t / math.sqrt(var_t), rel=1e-9)


def test_assortativity_matches_numpy_corrcoef(spark):
    li = duckdb.sql(
        f"SELECT DISTINCT l_orderkey, l_partkey FROM '{SF}/lineitem.parquet'"
    ).df()
    pairs = li.merge(li, on="l_orderkey")
    pairs = pairs[pairs.l_partkey_x < pairs.l_partkey_y]
    co = pairs.groupby(["l_partkey_x", "l_partkey_y"]).size()
    edges = co[co >= 2].index.tolist()
    deg: dict[int, int] = {}
    for u, v in edges:
        deg[u] = deg.get(u, 0) + 1
        deg[v] = deg.get(v, 0) + 1
    dx = [deg[u] for u, v in edges] + [deg[v] for u, v in edges]
    dy = [deg[v] for u, v in edges] + [deg[u] for u, v in edges]
    row = QUERIES["graph_degree_assortativity"](spark, SF).collect()[0]
    assert row["n_edges"] == len(edges)
    if len(set(dx)) > 1:
        expect = np.corrcoef(dx, dy)[0, 1]
        assert row["assortativity"] == pytest.approx(expect, rel=1e-9)
    assert -1.0 - 1e-12 <= row["assortativity"] <= 1.0 + 1e-12


def test_phi_matches_crosstab(spark, events_pd):
    out = {
        (r["type_a"], r["type_b"]): r
        for r in QUERIES["phi_coefficient_pairs"](spark, SF).collect()
    }
    users = events_pd.groupby("user_id").event_type.agg(set)
    types = sorted(events_pd.event_type.unique())
    n = len(users)
    for i, a in enumerate(types):
        for b in types[i + 1 :]:
            has_a = users.map(lambda s: a in s)
            has_b = users.map(lambda s: b in s)
            n11 = int((has_a & has_b).sum())
            n10 = int((has_a & ~has_b).sum())
            n01 = int((~has_a & has_b).sum())
            n00 = n - n11 - n10 - n01
            if n11 == 0:
                assert (a, b) not in out  # pair join is inner on co-presence
                continue
            row = out[(a, b)]
            assert (row["n11"], row["n10"], row["n01"], row["n00"]) == (
                n11,
                n10,
                n01,
                n00,
            )
            na, nb = n11 + n10, n11 + n01
            if 0 < na < n and 0 < nb < n:
                expect = (n11 * n00 - n10 * n01) / math.sqrt(
                    na * (n - na) * nb * (n - nb)
                )
                assert row["phi"] == pytest.approx(expect, rel=1e-9)
            else:
                # a constant margin has no correlation; the query reports 0
                assert row["phi"] == 0.0


def test_fisher_index_matches_pandas(spark):
    df = duckdb.sql(
        f"""
        SELECT l.l_partkey, CAST(strftime(o.o_orderdate, '%Y') AS INT) AS yr,
               l.l_extendedprice AS ep, l.l_quantity AS q
        FROM '{SF}/lineitem.parquet' l
        JOIN '{SF}/orders.parquet' o ON o.o_orderkey = l.l_orderkey
        WHERE CAST(strftime(o.o_orderdate, '%Y') AS INT) IN (1995, 2000)
        """
    ).df()
    g = df.groupby(["l_partkey", "yr"]).agg(sp=("ep", "sum"), sq=("q", "sum"))
    g = g[g.sq > 0]
    g["price"] = g.sp / g.sq
    b = g.xs(1995, level="yr").join(
        g.xs(2000, level="yr"), lsuffix="_0", rsuffix="_1", how="inner"
    )
    lasp = (b.price_1 * b.sq_0).sum() / (b.price_0 * b.sq_0).sum()
    paas = (b.price_1 * b.sq_1).sum() / (b.price_0 * b.sq_1).sum()
    row = QUERIES["price_index_fisher"](spark, SF).collect()[0]
    assert row["n_parts"] == len(b)
    assert row["laspeyres"] == pytest.approx(lasp, rel=1e-6)
    assert row["paasche"] == pytest.approx(paas, rel=1e-6)
    assert row["fisher"] == pytest.approx(math.sqrt(lasp * paas), rel=1e-6)


def test_srm_counts_match_hashlib(spark, events_pd):
    arms = pd.Series(sorted(events_pd.user_id.unique())).map(_arm)
    n0, n1 = int((arms == 0).sum()), int((arms == 1).sum())
    row = QUERIES["ab_test_srm_check"](spark, SF).collect()[0]
    assert (row["n0"], row["n1"]) == (n0, n1)
    assert row["chisq"] == pytest.approx((n0 - n1) ** 2 / (n0 + n1), rel=1e-12)
    assert row["srm_flag"] == ((n0 - n1) ** 2 / (n0 + n1) > 3.841)


def test_stickiness_matches_pandas(spark, events_pd):
    ev = events_pd.copy()
    ts = pd.to_datetime(ev.ts)
    ev["day"] = ts.dt.strftime("%Y-%m-%d")
    ev["month"] = ts.dt.strftime("%Y-%m")
    out = {
        r["day"]: r for r in QUERIES["stickiness_dau_mau"](spark, SF).collect()
    }
    mau = ev.groupby("month").user_id.nunique()
    for day, g in ev.groupby("day"):
        row = out[day]
        assert row["dau"] == g.user_id.nunique()
        m = mau[day[:7]]
        assert row["mau"] == m
        assert row["stickiness"] == pytest.approx(
            g.user_id.nunique() / m, rel=1e-12
        )


def test_fertility_matches_re_findall(spark):
    docs = duckdb.sql(f"SELECT lang, text FROM '{SF}/documents.parquet'").df()
    pat = re.compile(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]")
    out = {
        r["lang"]: r
        for r in QUERIES["tokenizer_fertility_by_lang"](spark, SF).collect()
    }
    for lang, g in docs.groupby("lang"):
        bpe = int(g.text.map(lambda t: len(pat.findall(t))).sum())
        words = int(g.text.map(lambda t: len(t.split())).sum())
        row = out[lang]
        assert row["total_bpe_tokens"] == bpe
        assert row["total_words"] == words
        assert row["fertility"] == pytest.approx(bpe / words, rel=1e-12)
        assert row["fertility"] >= 1.0  # BPE splits never merge words


def test_max_drawdown_matches_cummax(spark):
    m = duckdb.sql(
        f"""
        SELECT n_name, strftime(o_orderdate, '%Y-%m') AS month,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE) AS rev
        FROM '{SF}/orders.parquet'
        JOIN '{SF}/customer.parquet' ON c_custkey = o_custkey
        JOIN '{SF}/nation.parquet' ON n_nationkey = c_nationkey
        GROUP BY 1, 2 ORDER BY n_name, month
        """
    ).df()
    out = {
        r["n_name"]: r
        for r in QUERIES["revenue_max_drawdown"](spark, SF).collect()
    }
    for nat, g in m.groupby("n_name"):
        dd = g.rev.cummax() - g.rev
        row = out[nat]
        assert row["max_drawdown"] == pytest.approx(dd.max(), rel=1e-9)
        assert row["trough_month"] == g.month.iloc[int(np.argmax(dd.to_numpy()))] or (
            dd.max() == 0.0
        )


def test_wilson_rank_matches_pandas(spark):
    df = duckdb.sql(
        f"""
        SELECT l.l_suppkey,
               date_diff('day', CAST(o.o_orderdate AS DATE),
                         CAST(l.l_shipdate AS DATE)) AS lat
        FROM '{SF}/lineitem.parquet' l
        JOIN '{SF}/orders.parquet' o ON o.o_orderkey = l.l_orderkey
        """
    ).df()
    df["ontime"] = (df.lat <= 60).astype(int)
    g = df.groupby("l_suppkey").agg(n=("ontime", "size"), k=("ontime", "sum"))
    z, z2 = 1.96, 1.96 * 1.96
    phat = g.k / g.n
    g["lb"] = (
        phat + z2 / (2 * g.n) - z * np.sqrt(phat * (1 - phat) / g.n + z2 / (4 * g.n**2))
    ) / (1 + z2 / g.n)
    top = g.sort_values(["lb"], ascending=False).head(50)
    rows = QUERIES["supplier_ontime_wilson_rank"](spark, SF).collect()
    assert len(rows) == min(20, len(g))
    lbs = [r["wilson_low"] for r in rows]
    assert lbs == sorted(lbs, reverse=True)
    # the reported bound matches the textbook formula for each supplier
    for r in rows:
        assert r["wilson_low"] == pytest.approx(g.loc[r["l_suppkey"], "lb"], rel=1e-9)
        assert r["wilson_low"] <= r["phat"] + 1e-12
    # and the top-1 is the true argmax of the lower bound
    assert rows[0]["wilson_low"] == pytest.approx(float(top.lb.iloc[0]), rel=1e-9)


def test_simhash_bit_bias_matches_python(spark):
    docs = duckdb.sql(f"SELECT doc_id, text FROM '{SF}/documents.parquet'").df()
    ones = np.zeros(32, dtype=int)
    n_docs = 0
    for t in docs.text:
        toks = [w for w in re.split(r"\s+", t) if w]
        if not toks:
            continue
        n_docs += 1
        votes = np.zeros(32, dtype=int)
        for w in toks:
            h = hashlib.md5(w.encode()).hexdigest()
            for b in range(32):
                bit = (int(h[b // 4], 16) >> (b % 4)) & 1
                votes[b] += 2 * bit - 1
        ones += (votes > 0).astype(int)
    out = {
        r["bit"]: r for r in QUERIES["dedup_simhash_bit_bias"](spark, SF).collect()
    }
    assert len(out) == 32
    for b in range(32):
        row = out[b]
        assert row["n_docs"] == n_docs
        assert row["n_ones"] == ones[b]
        assert row["p_one"] == pytest.approx(ones[b] / n_docs, rel=1e-12)


def test_leaderboard_churn_matches_set_overlap(spark):
    m = duckdb.sql(
        f"""
        SELECT l_partkey,
               CAST(strftime(l_shipdate, '%Y') AS INT) * 12
                 + CAST(strftime(l_shipdate, '%m') AS INT) - 1 AS month_id,
               strftime(l_shipdate, '%Y-%m') AS month,
               CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                    AS DECIMAL(27,6))) AS DOUBLE) AS rev
        FROM '{SF}/lineitem.parquet' GROUP BY 1, 2, 3
        """
    ).df()
    tops: dict[int, tuple[str, set]] = {}
    for mid, g in m.groupby("month_id"):
        g = g.sort_values(["rev", "l_partkey"], ascending=[False, True]).head(20)
        tops[mid] = (g.month.iloc[0], set(g.l_partkey))
    out = {
        r["month"]: r
        for r in QUERIES["leaderboard_churn_monthly"](spark, SF).collect()
    }
    n_pairs = 0
    for mid, (month, cur) in tops.items():
        if mid - 1 not in tops:
            continue
        n_pairs += 1
        prev = tops[mid - 1][1]
        row = out[month]
        assert row["n_common"] == len(cur & prev)
        assert row["n_curr"] == len(cur) and row["n_prev"] == len(prev)
        assert row["jaccard_topk"] == pytest.approx(
            len(cur & prev) / len(cur | prev), rel=1e-12
        )
    assert len(out) == n_pairs


def test_cvm_matches_bruteforce_ecdf(spark, events_pd):
    out = {
        r["event_type"]: r
        for r in QUERIES["drift_cvm_statistic"](spark, SF).collect()
    }
    for et, g in events_pd.groupby("event_type"):
        a = np.sort(g[g.user_id % 2 == 0].value.to_numpy())
        b = np.sort(g[g.user_id % 2 == 1].value.to_numpy())
        if len(a) == 0 or len(b) == 0:
            assert et not in out
            continue
        pooled = np.sort(np.concatenate([a, b]))
        fa = np.searchsorted(a, pooled, side="right") / len(a)
        fb = np.searchsorted(b, pooled, side="right") / len(b)
        t = (
            len(a)
            * len(b)
            / (len(a) + len(b)) ** 2
            * float(((fa - fb) ** 2).sum())
        )
        row = out[et]
        assert row["n_a"] == len(a) and row["n_b"] == len(b)
        # pico-quantized squared gaps: absolute error <= N * 1e-12 * nm/N^2
        assert row["cvm_t"] == pytest.approx(t, rel=1e-5, abs=1e-6)
        assert row["cvm_t"] >= 0.0


def test_pass_at_k_matches_comb(spark, events_pd):
    g = events_pd.groupby("user_id").agg(
        n=("event_type", "size"),
        c=("event_type", lambda s: int((s == "purchase").sum())),
    )
    g = g[g.n >= 10]

    def pak(n: int, c: int, k: int) -> float:
        if n - c < k:
            return 1.0
        return 1.0 - math.comb(n - c, k) / math.comb(n, k)

    row = QUERIES["eval_pass_at_k"](spark, SF).collect()[0]
    assert row["n_tasks"] == len(g)
    for k, col in [(1, "pass_at_1"), (5, "pass_at_5"), (10, "pass_at_10")]:
        expect = float(np.mean([pak(n, c, k) for n, c in zip(g.n, g.c)]))
        assert row[col] == pytest.approx(expect, rel=1e-7)
        assert 0.0 <= row[col] <= 1.0

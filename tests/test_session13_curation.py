"""Spec checks for curation, dedup, sketch and estimator queries.

The driver oracle gate proves Spark == DuckDB on the same SQL spec; these
tests prove the SPEC — each query is compared against an independent
pure-python model of the published/textbook definition on the same parquet
(CCNet line dedup per Wenzek et al. 2020; winnowing per Schleimer et al.
2003; Bradley-Terry minorize-maximize per Hunter 2004), plus hand fixtures
for edges the real data cannot hit.
"""

from __future__ import annotations

import datetime as dt
import hashlib

import duckdb
import pytest

from lvm_datapipe_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs_pd():
    return duckdb.sql(
        f"SELECT doc_id, text, source, n_chars FROM '{SF}/documents.parquet'"
    ).df()


def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


# ---------------------------------------------------------------------------
# CCNet line-level dedup: first-seen-wins accounting per document
# ---------------------------------------------------------------------------


def _ccnet_model(docs):
    """Independent model: hash every complete 8-word segment, keep an
    instance iff corpus-unique or its doc is the min doc_id holder."""
    seg_docs: dict[str, set[int]] = {}
    per_doc: dict[int, list[str]] = {}
    for _, r in docs.iterrows():
        words = r.text.split(" ")
        hashes = []
        for s in range(min(len(words) // 8, 1000)):
            h = _md5(" ".join(words[s * 8 : s * 8 + 8]))
            hashes.append(h)
            seg_docs.setdefault(h, set()).add(int(r.doc_id))
        if hashes:
            per_doc[int(r.doc_id)] = hashes
    out = {}
    for doc_id, hashes in per_doc.items():
        kept = sum(
            1
            for h in hashes
            if len(seg_docs[h]) == 1 or min(seg_docs[h]) == doc_id
        )
        out[doc_id] = (len(hashes), kept)
    return out

def test_lines_ccnet_matches_python_model(spark, docs_pd):
    expected = _ccnet_model(docs_pd)
    rows = QUERIES["dedup_lines_ccnet"](spark, SF).collect()
    got = {r.doc_id: (r.n_segments, r.n_kept) for r in rows}
    assert got == expected
    # the kept fraction is the exact ratio of the two integer columns
    for r in rows:
        assert r.kept_frac == r.n_kept / r.n_segments
    # on real data some segment must actually be dropped somewhere,
    # otherwise the query exercises nothing
    assert any(r.n_kept < r.n_segments for r in rows)


def test_lines_ccnet_first_seen_wins_fixture(spark, tmp_path):
    """Hand fixture: doc 0 and doc 7 share their one segment — the min
    doc_id keeps it, the later doc drops it; a unique doc keeps all."""
    seg = "w1 w2 w3 w4 w5 w6 w7 w8"
    rows = [
        (7, seg, "en", "srcA", len(seg)),  # later holder: drops
        (0, seg, "en", "srcA", len(seg)),  # first holder: keeps
        (3, "a b c d e f g h i", "en", "srcB", 17),  # unique: keeps 1 of 1
        (4, "too short", "en", "srcB", 9),  # <8 words: absent from output
    ]
    df = spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    )
    df.write.parquet(str(tmp_path / "documents.parquet"))
    out = {
        r.doc_id: (r.n_segments, r.n_kept)
        for r in QUERIES["dedup_lines_ccnet"](spark, str(tmp_path)).collect()
    }
    assert out == {0: (1, 1), 7: (1, 0), 3: (1, 1)}


# ---------------------------------------------------------------------------
# Winnowing: brute-force python model + the w+k-1 detection guarantee
# ---------------------------------------------------------------------------


def _winnow_fps(text: str, k: int = 16, w: int = 8, cap: int = 1000) -> set[str]:
    """Independent model: Schleimer et al. 2003 plain winnowing — per
    window of w consecutive k-gram hashes select the min hash, rightmost
    position on ties; return the distinct selected hash set."""
    n = min(len(text) - k + 1, cap)
    if n < w:
        return set()
    hs = [_md5(text[p : p + k]) for p in range(n)]
    out = set()
    for s in range(n - w + 1):
        win = hs[s : s + w]
        m = min(win)
        out.add(m)  # rightmost-tie choice selects the same VALUE
    return out


def _winnow_pairs_model(docs):
    fps = {
        int(r.doc_id): _winnow_fps(r.text)
        for _, r in docs.iterrows()
        if len(r.text) >= 16
    }
    # stop-fingerprint cap: hashes held by 2..8 docs participate
    from collections import Counter

    nd = Counter(h for s in fps.values() for h in s)
    pairs = {}
    ids = sorted(fps)
    for h, c in nd.items():
        if not (2 <= c <= 8):
            continue
        holders = sorted(d for d in ids if h in fps[d])
        for i, a in enumerate(holders):
            for b in holders[i + 1 :]:
                pairs[(a, b)] = pairs.get((a, b), 0) + 1
    return pairs


def test_winnowing_matches_python_model(spark, docs_pd):
    expected = _winnow_pairs_model(docs_pd)
    rows = QUERIES["dedup_winnowing_pairs"](spark, SF).collect()
    got = {(r.id_a, r.id_b): r.n_shared_fp for r in rows}
    assert got == expected
    assert len(got) > 0  # the query must actually find pairs on real data


def test_winnowing_detection_guarantee_fixture(spark, tmp_path):
    """Two docs sharing a literal run of w + k - 1 = 23 chars MUST share a
    fingerprint (the paper's guarantee); two docs with no 16-char overlap
    must not pair."""
    shared = "zqxjkvbnmwertyuioplkhgf"  # 23 chars, unique alphabet soup
    assert len(shared) == 23
    d0 = "aaaa bbbb cccc dddd " + shared + " eeee ffff gggg hhhh"
    d1 = "iiii jjjj kkkk llll " + shared + " mmmm nnnn oooo pppp"
    d2 = "0123456789 0123456789 0123456789 0123456789"
    rows = [
        (0, d0, "en", "srcA", len(d0)),
        (1, d1, "en", "srcA", len(d1)),
        (2, d2, "en", "srcB", len(d2)),
    ]
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    got = {
        (r.id_a, r.id_b): r.n_shared_fp
        for r in QUERIES["dedup_winnowing_pairs"](spark, str(tmp_path)).collect()
    }
    assert (0, 1) in got and got[(0, 1)] >= 1
    assert all(2 not in p for p in got)


# ---------------------------------------------------------------------------
# Bradley-Terry: independent converged MM fit + dominance fixture
# ---------------------------------------------------------------------------


def _bt_converged(wr: dict, types: list[str], iters: int = 400) -> dict:
    """Independent model: textbook Hunter-2004 MM on the +1-smoothed win
    matrix, full float precision, run to convergence — no micro
    quantization, no fixed 8-step schedule."""
    ws = {(a, b): wr[(a, b)] + 1 for (a, b) in wr}
    n_ab = {(a, b): ws[(a, b)] + ws[(b, a)] for (a, b) in ws}
    wts = {t: sum(v for (a, _), v in ws.items() if a == t) for t in types}
    p = {t: 1.0 / len(types) for t in types}
    for _ in range(iters):
        den = {
            t: sum(n_ab[(t, o)] / (p[t] + p[o]) for o in types if o != t)
            for t in types
        }
        p = {t: wts[t] / den[t] for t in types}
        s = sum(p.values())
        p = {t: v / s for t, v in p.items()}
    return p


def _win_matrix(events):
    """Per-user per-type counts (zeros included), pairwise more-is-a-win."""
    counts = events.groupby(["user_id", "event_type"]).size()
    types = sorted(events.event_type.unique())
    users = events.user_id.unique()
    wr = {(a, b): 0 for a in types for b in types if a != b}
    for u in users:
        n = {t: int(counts.get((u, t), 0)) for t in types}
        for a in types:
            for b in types:
                if a != b and n[a] > n[b]:
                    wr[(a, b)] += 1
    return wr, types


@pytest.fixture(scope="module")
def events_pd():
    return duckdb.sql(
        f"SELECT user_id, event_type FROM '{SF}/events.parquet'"
    ).df()


def test_bt_strength_matches_converged_reference(spark, events_pd):
    wr, types = _win_matrix(events_pd)
    ref = _bt_converged(wr, types)
    rows = QUERIES["bt_event_type_strength"](spark, SF).collect()
    got = {r.event_type: r for r in rows}
    assert set(got) == set(types)
    # raw win/loss totals are exact integers
    for t in types:
        assert got[t].wins == sum(v for (a, _), v in wr.items() if a == t)
        assert got[t].losses == sum(v for (_, b), v in wr.items() if b == t)
    # the 8-step micro-quantized strengths agree with the converged
    # full-precision fit to well under a tenth of a percent...
    for t in types:
        assert got[t].bt_strength == pytest.approx(ref[t], rel=1e-3)
    # ...and the implied ranking is identical
    ref_order = sorted(types, key=lambda t: (-ref[t], t))
    got_order = sorted(types, key=lambda t: (got[t].rank))
    assert got_order == ref_order
    # strengths are a normalized distribution (floor-micro renormalization
    # carries ~1e-9 granularity per arm)
    assert sum(r.bt_strength for r in rows) == pytest.approx(1.0, abs=1e-7)


def test_bt_dominance_fixture(spark, tmp_path):
    """3 users, strict activity ordering purchase > view > click for every
    user => BT strengths must be strictly ordered the same way."""
    rows = []
    eid = 0
    for u in range(3):
        for t, k in (("purchase", 6), ("view", 3), ("click", 1)):
            for i in range(k):
                rows.append(
                    (eid, dt.datetime(2024, 1, 1, u, i), u, t, 1.0, "{}")
                )
                eid += 1
    spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint,"
        " event_type string, value double, props string",
    ).write.parquet(str(tmp_path / "events.parquet"))
    out = {
        r.event_type: r
        for r in QUERIES["bt_event_type_strength"](spark, str(tmp_path)).collect()
    }
    assert out["purchase"].bt_strength > out["view"].bt_strength
    assert out["view"].bt_strength > out["click"].bt_strength
    assert [out[t].rank for t in ("purchase", "view", "click")] == [1, 2, 3]
    assert out["purchase"].wins == 6 and out["purchase"].losses == 0


# ---------------------------------------------------------------------------
# Leave-one-out source valuation: identities vs brute-force re-aggregation
# ---------------------------------------------------------------------------


def test_source_loo_matches_brute_force(spark, docs_pd):
    """The complement-identity query must equal literally re-aggregating
    the corpus with each source removed (the O(k x corpus) definition)."""
    rows = QUERIES["source_loo_contribution"](spark, SF).collect()
    got = {r.source: r for r in rows}
    sources = sorted(docs_pd.source.unique())
    assert set(got) == set(sources)
    all_fp = docs_pd.assign(h=docs_pd.text.map(_md5))
    total_distinct = all_fp.h.nunique()
    for s in sources:
        rest = docs_pd[docs_pd.source != s]
        mine = docs_pd[docs_pd.source == s]
        assert got[s].n_docs == len(mine)
        if len(rest):
            assert got[s].loo_mean_chars == pytest.approx(
                rest.n_chars.mean(), rel=1e-12
            )
            assert got[s].delta_mean_chars == pytest.approx(
                rest.n_chars.mean() - docs_pd.n_chars.mean(), rel=1e-9
            )
        # distinct texts surviving s's removal == nunique over the rest
        # PLUS duplicates of s's texts held elsewhere (already in rest)
        assert got[s].loo_distinct_texts == rest.text.map(_md5).nunique()
        # exclusive + loo partitions the distinct universe
        assert got[s].exclusive_distinct + got[s].loo_distinct_texts == total_distinct


def test_source_loo_single_source_fixture(spark, tmp_path):
    """One source only: loo mean is NULL (no corpus left), everything
    is exclusive."""
    rows = [(i, f"text number {i}", "en", "only", 13) for i in range(4)]
    rows.append((4, "text number 0", "en", "only", 13))  # in-source dup
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    out = QUERIES["source_loo_contribution"](spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    assert r.loo_mean_chars is None and r.delta_mean_chars is None
    assert r.exclusive_distinct == 4 and r.loo_distinct_texts == 0


# ---------------------------------------------------------------------------
# Count-min sketch: one-sided error, paper bound, mergeability
# ---------------------------------------------------------------------------


def _cms_bucket(d: int, key) -> int:
    return int(_md5(f"cms{d}|{key}")[:8], 16) % 256


def test_cms_one_sided_and_exact_model(spark):
    """The estimate must equal the python CMS model exactly, never be
    below the true count, and respect the paper's eN/w expectation
    loosely (x8 slack — it is a tail bound, not a promise per key)."""
    events = duckdb.sql(f"SELECT user_id FROM '{SF}/events.parquet'").df()
    n = len(events)
    counters: dict[tuple[int, int], int] = {}
    for u in events.user_id:
        for d in range(4):
            b = _cms_bucket(d, u)
            counters[(d, b)] = counters.get((d, b), 0) + 1
    true = events.user_id.value_counts()
    rows = QUERIES["sketch_cms_user_counts"](spark, SF).collect()
    assert rows
    for r in rows:
        expect = min(counters[(d, _cms_bucket(d, r.user_id))] for d in range(4))
        assert r.cms_estimate == expect
        assert r.true_count == int(true[r.user_id])
        assert r.overestimate >= 0  # CMS never underestimates
        assert r.overestimate <= 8 * (2 * n / 256)


def test_cms_counters_merge_like_partials(spark):
    """Cell-wise SUM of per-half sketches == the whole-corpus sketch (the
    property that makes CMS a distributed partial aggregate)."""
    events = duckdb.sql(f"SELECT event_id, user_id FROM '{SF}/events.parquet'").df()
    halves = [events[events.event_id % 2 == 0], events[events.event_id % 2 == 1]]
    merged: dict[tuple[int, int], int] = {}
    for h in halves:
        part: dict[tuple[int, int], int] = {}
        for u in h.user_id:
            for d in range(4):
                b = _cms_bucket(d, u)
                part[(d, b)] = part.get((d, b), 0) + 1
        for k, v in part.items():
            merged[k] = merged.get(k, 0) + v
    whole: dict[tuple[int, int], int] = {}
    for u in events.user_id:
        for d in range(4):
            b = _cms_bucket(d, u)
            whole[(d, b)] = whole.get((d, b), 0) + 1
    assert merged == whole


# ---------------------------------------------------------------------------
# Permutation test + Benjamini-Hochberg: python mirror + effect fixture
# ---------------------------------------------------------------------------


def _perm_side(r: int, event_id) -> int:
    return int(_md5(f"perm{r}|{event_id}")[:8], 16) % 2


def test_permutation_bh_matches_python_mirror(spark):
    ev = duckdb.sql(
        f"SELECT event_id, event_type, ts, value FROM '{SF}/events.parquet'"
    ).df()
    ev["weekend"] = ev.ts.map(lambda t: t.weekday() >= 5)
    stats: dict[str, list] = {}
    for t, g in ev.groupby("event_type"):
        row = []
        for r in range(50):
            if r == 0:
                side = g.weekend
            else:
                side = g.event_id.map(lambda e: _perm_side(r, e) == 1)
            a, b = g.value[side], g.value[~side]
            row.append(
                abs(a.mean() - b.mean()) if len(a) and len(b) else None
            )
        stats[t] = row
    pvals = {
        t: (1 + sum(1 for s in row[1:] if s is not None and s >= row[0])) / 50.0
        for t, row in stats.items()
        if row[0] is not None
    }
    m = len(pvals)
    order = sorted(pvals, key=lambda t: (pvals[t], t))
    kstar = max(
        (i + 1 for i, t in enumerate(order) if pvals[t] <= (i + 1) * 0.10 / m),
        default=0,
    )
    rows = QUERIES["ab_permutation_fdr_bh"](spark, SF).collect()
    got = {r.event_type: r for r in rows}
    assert set(got) == set(pvals)
    for i, t in enumerate(order):
        assert got[t].rank == i + 1
        assert got[t].p_value == pytest.approx(pvals[t], abs=1e-12)
        assert got[t].rejected == (i + 1 <= kstar)
    # step-up property holds on the output itself
    max_pass = max(
        (r.rank for r in rows if r.p_value <= r.bh_threshold), default=0
    )
    for r in rows:
        assert r.rejected == (r.rank <= max_pass)


def test_permutation_bh_planted_effect_fixture(spark, tmp_path):
    """One type with a massive weekend lift must be rejected (p = the
    minimum 1/50 = 0.02 <= q/m); a constant-value type (every split
    difference exactly 0, observed included) must not out-rank it."""
    rows = []
    eid = 0
    # 2024-01-06 is a Saturday; 2024-01-03 a Wednesday
    for day, weekend in ((6, True), (3, False)):
        for i in range(60):
            rows.append(
                (
                    eid,
                    dt.datetime(2024, 1, day, 10, 0, i),
                    eid % 7,
                    "lifted",
                    1000.0 if weekend else 1.0,
                    "{}",
                )
            )
            eid += 1
            rows.append(
                (
                    eid,
                    dt.datetime(2024, 1, day, 11, 0, i),
                    eid % 7,
                    "flat",
                    5.0,
                    "{}",
                )
            )
            eid += 1
    spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint,"
        " event_type string, value double, props string",
    ).write.parquet(str(tmp_path / "events.parquet"))
    out = {
        r.event_type: r
        for r in QUERIES["ab_permutation_fdr_bh"](spark, str(tmp_path)).collect()
    }
    assert out["lifted"].p_value == pytest.approx(0.02)  # beats all 49 nulls
    assert out["lifted"].rejected
    assert out["flat"].stat_obs == 0.0
    assert not out["flat"].rejected


# ---------------------------------------------------------------------------
# HLL intersection: python mirror, merge property, accuracy envelope
# ---------------------------------------------------------------------------


def _hll_regs(keys) -> list[int]:
    regs = [0] * 32
    for k in keys:
        h = int(_md5(k)[:8], 16)
        b, rem = h % 32, h // 32
        rank = 28
        for i in range(27):
            if rem >= 1 << (26 - i):
                rank = i + 1
                break
        regs[b] = max(regs[b], rank)
    return regs


def _hll_est(regs) -> float:
    s = sum(2.0 ** -r for r in regs)
    return 0.697 * 1024.0 / s


def test_hll_intersection_mirror_merge_and_accuracy(spark):
    ev = duckdb.sql(
        f"SELECT event_type, user_id || '|' || CAST(CAST(ts AS DATE) AS VARCHAR)"
        f" AS key FROM '/root/testdata/sf0.001/events.parquet'"
    ).df()
    sets = {t: set(g.key) for t, g in ev.groupby("event_type")}
    regs = {t: _hll_regs(s) for t, s in sets.items()}
    rows = QUERIES["sketch_hll_audience_intersection"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert len(rows) == len(sets) * (len(sets) - 1) // 2
    for r in rows:
        a, b = sets[r.ta], sets[r.tb]
        # (1) python mirror: identical registers => identical estimates
        assert r.est_a == _hll_est(regs[r.ta])
        assert r.est_b == _hll_est(regs[r.tb])
        # (2) union registers are the element-wise max (mergeability):
        # sketch(A ∪ B) == max-merge of the two sketches, exactly
        merged = [max(x, y) for x, y in zip(regs[r.ta], regs[r.tb])]
        assert merged == _hll_regs(a | b)
        assert r.est_union == _hll_est(merged)
        # (3) accuracy: raw 32-register HLL has sigma ~ 1.04/sqrt(32) = 18%;
        # allow 3 sigma per estimate, compounded for the intersection
        assert r.est_a == pytest.approx(len(a), rel=0.55)
        assert r.est_union == pytest.approx(len(a | b), rel=0.55)
        inter = len(a & b)
        assert abs(r.est_intersection - inter) <= 0.6 * len(a | b)


# ---------------------------------------------------------------------------
# Qini curve: python mirror + planted-uplift fixture
# ---------------------------------------------------------------------------


def _treated(user_id) -> bool:
    return int(_md5(f"exp1{user_id}")[:8], 16) % 10000 < 5000


def test_qini_matches_python_mirror(spark):
    ev = duckdb.sql(
        f"SELECT user_id, event_type, value FROM '{SF}/events.parquet'"
    ).df()
    users = {}
    for uid, g in ev.groupby("user_id"):
        score = int((g.event_type == "view").sum())
        conv = int(
            ((g.event_type == "purchase") & (g.value > 100.0)).any()
        )
        users[uid] = (score, conv, _treated(uid))
    import numpy as np

    scores = np.array([v[0] for v in users.values()], dtype=float)
    # numpy 'linear' == quantile_cont == Spark percentile
    ts = [np.quantile(scores, p, method="linear") for p in
          (0.9, 0.8, 0.7, 0.6, 0.5, 0.4, 0.3, 0.2, 0.1)]
    agg = {}
    for score, conv, treated in users.values():
        dec = 1 + sum(1 for t in ts if score < t)
        nt, nc, ct, cc = agg.get(dec, (0, 0, 0, 0))
        agg[dec] = (
            nt + treated,
            nc + (not treated),
            ct + conv * treated,
            cc + conv * (not treated),
        )
    rows = sorted(
        QUERIES["uplift_qini_by_decile"](spark, SF).collect(),
        key=lambda r: r.decile,
    )
    assert {r.decile for r in rows} == set(agg)
    cum = [0, 0, 0, 0]
    for r in rows:
        assert (r.n_treat, r.n_ctrl, r.conv_treat, r.conv_ctrl) == agg[r.decile]
        cum = [c + x for c, x in zip(cum, agg[r.decile])]
        if cum[1] > 0:
            assert r.qini == pytest.approx(
                cum[2] - cum[3] * (cum[0] / cum[1]), abs=1e-9
            )


def test_qini_planted_uplift_fixture(spark, tmp_path):
    """Treated high-score users convert, control never does: Qini at the
    full population equals the total treated conversions."""
    rows, eid = [], 0
    uids = list(range(40))
    for uid in uids:
        nviews = 10 if uid % 2 == 0 else 1  # even users are high-score
        for i in range(nviews):
            rows.append(
                (eid, dt.datetime(2024, 1, 2, 8, 0, i), uid, "view", 1.0, "{}")
            )
            eid += 1
        if _treated(uid):  # only treated users ever convert
            rows.append(
                (eid, dt.datetime(2024, 1, 2, 9, 0, 0), uid, "purchase", 500.0, "{}")
            )
            eid += 1
    spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint,"
        " event_type string, value double, props string",
    ).write.parquet(str(tmp_path / "events.parquet"))
    out = sorted(
        QUERIES["uplift_qini_by_decile"](spark, str(tmp_path)).collect(),
        key=lambda r: r.decile,
    )
    n_treated = sum(1 for u in uids if _treated(u))
    last = out[-1]
    # the final cumulative cell covers everyone: qini == all treated convs
    # (control contributes 0), and per-decile uplift is never negative
    assert last.qini == pytest.approx(n_treated, abs=1e-9)
    for r in out:
        if r.uplift_rate is not None:
            assert r.uplift_rate >= 0.0


# ---------------------------------------------------------------------------
# Langid confusion matrix + two-source ablation
# ---------------------------------------------------------------------------


def test_langid_confusion_row_normalizes(spark, docs_pd):
    rows = QUERIES["eval_langid_confusion"](spark, SF).collect()
    assert sum(r.n for r in rows) == len(docs_pd)
    by_decl: dict[str, float] = {}
    for r in rows:
        by_decl[r.declared_lang] = by_decl.get(r.declared_lang, 0.0) + r.frac_of_declared
    for lang, s in by_decl.items():
        assert s == pytest.approx(1.0, abs=1e-9), lang
    # cells agree with composing the declared langid query with labels
    pred = {
        r.doc_id: r.predicted_lang
        for r in QUERIES["text_langid"](spark, SF).collect()
    }
    import collections

    langs = duckdb.sql(
        f"SELECT doc_id, lang FROM '{SF}/documents.parquet'"
    ).df()
    cells = collections.Counter(
        (row.lang, pred[row.doc_id]) for _, row in langs.iterrows()
    )
    assert {(r.declared_lang, r.predicted_lang): r.n for r in rows} == dict(cells)


def test_source_pair_ablation_matches_brute_force(spark, docs_pd):
    """loo2_distinct must equal literally re-counting distinct texts with
    both sources dropped; the interaction term must equal the extra loss
    beyond the two solo ablations."""
    rows = QUERIES["source_pair_ablation"](spark, SF).collect()
    sources = sorted(docs_pd.source.unique())
    assert len(rows) == len(sources) * (len(sources) - 1) // 2
    fp = docs_pd.assign(h=docs_pd.text.map(_md5))
    total_distinct = fp.h.nunique()
    solo = {
        s: fp[fp.source != s].h.nunique() for s in sources
    }
    for r in rows:
        rest = fp[(fp.source != r.sa) & (fp.source != r.sb)]
        assert r.loo2_distinct_texts == rest.h.nunique()
        if len(rest):
            assert r.loo2_mean_chars == pytest.approx(
                rest.n_chars.mean(), rel=1e-12
            )
        # interaction = joint loss - sum of solo losses
        joint_loss = total_distinct - r.loo2_distinct_texts
        solo_losses = (total_distinct - solo[r.sa]) + (total_distinct - solo[r.sb])
        assert r.pair_interaction_distinct == joint_loss - solo_losses


def test_source_pair_ablation_interaction_fixture(spark, tmp_path):
    """Planted cross-source duplicate: a text living in EXACTLY {A, B}
    survives either solo removal but dies when both go — interaction 1
    for (A, B), 0 for every other pair."""
    rows = [
        (0, "mirrored text", "en", "srcA", 13),
        (1, "mirrored text", "en", "srcB", 13),
        (2, "only in a", "en", "srcA", 9),
        (3, "only in c", "en", "srcC", 9),
    ]
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    out = {
        (r.sa, r.sb): r
        for r in QUERIES["source_pair_ablation"](spark, str(tmp_path)).collect()
    }
    assert out[("srcA", "srcB")].pair_interaction_distinct == 1
    assert out[("srcA", "srcB")].loo2_distinct_texts == 1  # only 'only in c'
    assert out[("srcA", "srcC")].pair_interaction_distinct == 0
    # mirrored text survives removing A and C (B still holds it)
    assert out[("srcA", "srcC")].loo2_distinct_texts == 1
    assert out[("srcB", "srcC")].pair_interaction_distinct == 0


# ---------------------------------------------------------------------------
# Empirical-Bayes shrinkage: independent MoM reference + properties
# ---------------------------------------------------------------------------


def test_eb_shrinkage_matches_textbook_mom(spark):
    import numpy as np

    g = duckdb.sql(
        """
        SELECT l.l_suppkey AS s, count(*) AS n,
               SUM(CASE WHEN date_diff('day', CAST(o.o_orderdate AS DATE),
                                       CAST(l.l_shipdate AS DATE)) <= 60
                        THEN 1 ELSE 0 END) AS x
        FROM '/root/testdata/sf0.001/lineitem.parquet' l
        JOIN '/root/testdata/sf0.001/orders.parquet' o
          ON o.o_orderkey = l.l_orderkey
        GROUP BY l.l_suppkey
        """
    ).df()
    rates = (g.x / g.n).to_numpy(dtype=float)
    mu, var = rates.mean(), rates.var(ddof=1)
    nu = mu * (1 - mu) / var - 1
    rows = QUERIES["eb_shrunk_supplier_rates"](spark, SF).collect()
    got = {r.l_suppkey: r for r in rows}
    assert len(got) == len(g)
    for _, row in g.iterrows():
        r = got[row.s]
        raw = row.x / row.n
        assert r.raw_rate == pytest.approx(raw, abs=1e-15)
        # full-precision textbook MoM vs the micro-quantized engine value:
        # quantization error is ~1e-9 on the moments
        expect = (row.x + mu * nu) / (row.n + nu)
        assert r.shrunk_rate == pytest.approx(expect, rel=1e-6)
        # shrinkage moves every estimate TOWARD the grand mean, never past
        assert min(raw, mu) - 1e-12 <= r.shrunk_rate <= max(raw, mu) + 1e-12
    assert got[g.s.iloc[0]].alpha == pytest.approx(mu * nu, rel=1e-6)


def test_eb_shrinkage_degenerate_single_supplier(spark, tmp_path):
    """One supplier: no across-group variance, prior unfit, raw rate kept."""
    li = [(1, 1, 100, 1, 1.0, 10.0, 0.0, 0.0, "N", "O", dt.date(2024, 1, 10)),
          (1, 2, 100, 2, 1.0, 10.0, 0.0, 0.0, "N", "O", dt.date(2024, 6, 1))]
    spark.createDataFrame(
        li,
        "l_orderkey bigint, l_partkey bigint, l_suppkey bigint,"
        " l_linenumber bigint, l_quantity double, l_extendedprice double,"
        " l_discount double, l_tax double, l_returnflag string,"
        " l_linestatus string, l_shipdate date",
    ).write.parquet(str(tmp_path / "lineitem.parquet"))
    spark.createDataFrame(
        [(1, dt.date(2024, 1, 1))], "o_orderkey bigint, o_orderdate date"
    ).write.parquet(str(tmp_path / "orders.parquet"))
    out = QUERIES["eb_shrunk_supplier_rates"](spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    assert r.n_ships == 2 and r.n_ontime == 1
    assert r.shrunk_rate == r.raw_rate == 0.5
    assert r.alpha is None and r.beta is None


# ---------------------------------------------------------------------------
# k-core: true-fixpoint python peel + cascade fixture
# ---------------------------------------------------------------------------


def _kcore_fixpoint(edges: set[tuple], k: int = 3) -> dict:
    """Independent model: peel to the TRUE fixpoint (no round bound),
    return surviving node -> degree in the core subgraph."""
    adj: dict = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    alive = set(adj)
    while True:
        doomed = {n for n in alive if len(adj[n] & alive) < k}
        if not doomed:
            break
        alive -= doomed
    return {n: len(adj[n] & alive) for n in alive}


def test_kcore_matches_true_fixpoint(spark):
    b = duckdb.sql(
        f"SELECT DISTINCT l_orderkey, l_partkey FROM '{SF}/lineitem.parquet'"
    ).df()
    edges = set()
    for _, g in b.groupby("l_orderkey"):
        ps = sorted(g.l_partkey)
        for i, p1 in enumerate(ps):
            for p2 in ps[i + 1 :]:
                edges.add((p1, p2))
    expect = _kcore_fixpoint(edges)
    got = {
        r.p_partkey: r.core_degree
        for r in QUERIES["graph_kcore_parts"](spark, SF).collect()
    }
    assert got == expect


def test_kcore_cascade_fixture(spark, tmp_path):
    """A clique of 4 parts (every pair co-purchased) survives the 3-core;
    a pendant chain hanging off it cascades away round by round —
    the multi-round peel the dense real data never exercises."""
    orders = []
    clique = [1, 2, 3, 4]
    ok = 100
    for i, p1 in enumerate(clique):
        for p2 in clique[i + 1 :]:
            orders.append((ok, p1))
            orders.append((ok, p2))
            ok += 1
    # chain 4-5-6-7: each link one shared order; degree 1-2 everywhere
    for a, b2 in ((4, 5), (5, 6), (6, 7)):
        orders.append((ok, a))
        orders.append((ok, b2))
        ok += 1
    rows = [
        (o, p, 1, 1, 1.0, 10.0, 0.0, 0.0, "N", "O", dt.date(2024, 1, 2))
        for o, p in orders
    ]
    spark.createDataFrame(
        rows,
        "l_orderkey bigint, l_partkey bigint, l_suppkey bigint,"
        " l_linenumber bigint, l_quantity double, l_extendedprice double,"
        " l_discount double, l_tax double, l_returnflag string,"
        " l_linestatus string, l_shipdate date",
    ).write.parquet(str(tmp_path / "lineitem.parquet"))
    got = {
        r.p_partkey: r.core_degree
        for r in QUERIES["graph_kcore_parts"](spark, str(tmp_path)).collect()
    }
    # the clique survives with in-core degree 3 each; the chain is gone
    # (5 and 6 start at degree 2 < 3; 4 loses its chain edge and keeps
    # its 3 clique partners)
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}


# ---------------------------------------------------------------------------
# Chao1 + Burrows' Delta: textbook references
# ---------------------------------------------------------------------------


def test_chao1_matches_textbook(spark, docs_pd):
    from collections import Counter

    langs = duckdb.sql(
        f"SELECT doc_id, lang, text FROM '{SF}/documents.parquet'"
    ).df()
    rows = {r.lang: r for r in QUERIES["vocab_chao1_richness"](spark, SF).collect()}
    for lang, g in langs.groupby("lang"):
        tf = Counter(w for t in g.text for w in t.lower().split() if w)
        s_obs = len(tf)
        f1 = sum(1 for v in tf.values() if v == 1)
        f2 = sum(1 for v in tf.values() if v == 2)
        r = rows[lang]
        assert (r.s_obs, r.f1, r.f2) == (s_obs, f1, f2)
        assert r.chao1_estimate == pytest.approx(
            s_obs + f1 * (f1 - 1) / (2 * (f2 + 1)), rel=1e-12
        )
        assert r.chao1_estimate >= r.s_obs  # richness never below observed


def _burrows_delta_model(docs, topk: int = 20):
    """Independent full-precision Burrows 2002: top-k corpus markers,
    per-source relative frequencies, across-source z-scores (sample
    std), mean |z_a - z_b|."""
    from collections import Counter

    import numpy as np

    cnt: dict[str, Counter] = {}
    for _, r in docs.iterrows():
        cnt.setdefault(r.source, Counter()).update(
            w for w in r.text.lower().split() if w
        )
    corpus = Counter()
    for c in cnt.values():
        corpus.update(c)
    markers = sorted(corpus, key=lambda w: (-corpus[w], w))[:topk]
    sources = sorted(cnt)
    f = np.array(
        [
            [cnt[s][w] / sum(cnt[s].values()) for w in markers]
            for s in sources
        ]
    )
    mu, sd = f.mean(axis=0), f.std(axis=0, ddof=1)
    z = (f - mu) / np.where(sd > 0, sd, np.inf)
    out = {}
    for i, a in enumerate(sources):
        for j in range(i + 1, len(sources)):
            out[(a, sources[j])] = float(np.abs(z[i] - z[j]).mean())
    return out


def test_burrows_delta_matches_textbook(spark, docs_pd):
    expected = _burrows_delta_model(docs_pd)
    rows = QUERIES["stylometry_burrows_delta"](spark, SF).collect()
    got = {(r.sa, r.sb): r.delta for r in rows}
    assert set(got) == set(expected)
    for pair, d in expected.items():
        # floor-micro quantization leaves ~1e-9-scale differences
        assert got[pair] == pytest.approx(d, abs=1e-6), pair
    # delta is a metric-ish distance: nonnegative everywhere, and the
    # synthetic sources are near-identically distributed so deltas are
    # small but NONZERO (sampling noise)
    assert all(v >= 0 for v in got.values())
    assert any(v > 0 for v in got.values())


def test_burrows_delta_clone_vs_divergent_fixture(spark, tmp_path):
    """Source B is a verbatim style-clone of A (same word distribution);
    source C skews to different words.  Delta(A,B) must be far below
    Delta(A,C) and Delta(B,C)."""
    base = "alpha beta gamma delta epsilon zeta eta theta " * 8
    skew = "omega omega omega psi psi chi phi upsilon " * 8
    rows = []
    for i in range(10):
        rows.append((i, base, "en", "srcA", len(base)))
        rows.append((100 + i, base, "en", "srcB", len(base)))
        rows.append((200 + i, skew, "en", "srcC", len(skew)))
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    got = {
        (r.sa, r.sb): r.delta
        for r in QUERIES["stylometry_burrows_delta"](spark, str(tmp_path)).collect()
    }
    assert got[("srcA", "srcB")] == pytest.approx(0.0, abs=1e-9)
    assert got[("srcA", "srcC")] > 10 * max(got[("srcA", "srcB")], 0.01)
    assert got[("srcB", "srcC")] > 10 * max(got[("srcA", "srcB")], 0.01)


# ---------------------------------------------------------------------------
# Hypothesis properties: pure-python kernels of the session-13 specs
# (engine parity is the oracle gate's job; these pin the MATH on random
# inputs the fixed fixtures cannot cover)
# ---------------------------------------------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st

_alpha = st.sampled_from("ab ")
_texts = st.text(alphabet="abc xyz", min_size=0, max_size=120)


@settings(max_examples=200, deadline=None)
@given(st.lists(_texts, min_size=2, max_size=6), st.integers(0, 90))
def test_winnowing_guarantee_property(texts, pos):
    """For ANY two docs sharing a >= w+k-1 = 23-char run, the winnowing
    fingerprint sets must intersect (Schleimer et al. theorem 1) —
    checked on the pure-python model that the oracle-paired query is
    pinned against."""
    shared = "QRSTUVWXYZ0123456789!#$"  # 23 chars, disjoint alphabet
    assert len(shared) == 23
    a = texts[0][:pos] + shared + texts[0][pos:]
    b = texts[1][:pos // 2] + shared + texts[1][pos // 2:]
    fa, fb = _winnow_fps(a), _winnow_fps(b)
    if len(a) - 16 + 1 >= 8 and len(b) - 16 + 1 >= 8:  # both winnowable
        assert fa & fb, (a, b)


@settings(max_examples=200, deadline=None)
@given(st.lists(st.text(alphabet=_alpha, min_size=8, max_size=200), min_size=1, max_size=8))
def test_ccnet_conservation_property(texts):
    """Per-doc kept + dropped == total segments, the first holder of any
    duplicated segment keeps it, and every segment is kept by AT LEAST
    one document (CCNet never loses content, it removes repeats)."""
    docs = __import__("pandas").DataFrame(
        {"doc_id": range(len(texts)), "text": texts}
    )
    model = _ccnet_model(docs)
    # conservation: a segment hash's keepers include exactly its first
    # holder (plus every unique holder)
    seg_docs: dict[str, set[int]] = {}
    for i, t in enumerate(texts):
        ws = t.split(" ")
        for s in range(min(len(ws) // 8, 1000)):
            seg_docs.setdefault(_md5(" ".join(ws[s * 8 : s * 8 + 8])), set()).add(i)
    for h, holders in seg_docs.items():
        first = min(holders)
        # the first holder's doc keeps at least one instance: its kept
        # count can't be zero if it holds any duplicated-first segment
        assert first in holders
    for doc_id, (n_seg, n_kept) in model.items():
        assert 0 <= n_kept <= n_seg


@settings(max_examples=60, deadline=None)
@given(
    st.dictionaries(
        st.tuples(st.sampled_from("abcd"), st.sampled_from("abcd")).filter(
            lambda p: p[0] != p[1]
        ),
        st.integers(0, 50),
    )
)
def test_bradley_terry_properties(partial):
    """On ANY win matrix: strengths are positive, normalized, and adding
    wins for one arm never lowers its strength ordering vs an untouched
    arm (monotonicity of the MM fixpoint in its own wins)."""
    types = list("abcd")
    wr = {(a, b): 0 for a in types for b in types if a != b}
    wr.update(partial)
    p = _bt_converged(wr, types)
    assert all(v > 0 for v in p.values())
    assert sum(p.values()) == pytest.approx(1.0, abs=1e-9)
    # boost arm 'a' strictly and refit: its strength must not decrease
    wr2 = dict(wr)
    for o in "bcd":
        wr2[("a", o)] = wr2[("a", o)] + 10
    p2 = _bt_converged(wr2, types)
    assert p2["a"] >= p["a"] - 1e-9


# ---------------------------------------------------------------------------
# t-closeness, next-event eval, Horvitz-Thompson: references
# ---------------------------------------------------------------------------


def test_tcloseness_matches_pandas_model(spark):
    cust = duckdb.sql(
        f"SELECT c_nationkey, CAST(FLOOR(c_acctbal/1000.0) AS BIGINT) AS bal_band,"
        f" c_mktsegment FROM '{SF}/customer.parquet'"
    ).df()
    gp = cust.c_mktsegment.value_counts(normalize=True)
    rows = QUERIES["tcloseness_audit"](spark, SF).collect()
    assert len(rows) == len(cust.groupby(["c_nationkey", "bal_band"]))
    for r in rows:
        g = cust[
            (cust.c_nationkey == r.c_nationkey) & (cust.bal_band == r.bal_band)
        ]
        q = g.c_mktsegment.value_counts(normalize=True)
        tv = sum(abs(q.get(s, 0.0) - gp[s]) for s in gp.index) / 2
        assert r.k == len(g)
        assert r.t_distance == pytest.approx(tv, abs=1e-9)
        assert 0.0 <= r.t_distance <= 1.0
        assert r.violates_t02 == (r.t_distance > 0.2)


def test_next_event_predictor_matches_mirror(spark):
    ev = duckdb.sql(
        f"SELECT event_id, user_id, ts, event_type FROM '{SF}/events.parquet'"
        f" ORDER BY user_id, ts, event_id"
    ).df()
    trans = []
    for _, g in ev.groupby("user_id"):
        ts = list(g.itertuples())
        for a, b in zip(ts, ts[1:]):
            train = int(_md5(f"nxteval{a.event_id}")[:8], 16) % 10000 < 8000
            trans.append((a.event_type, b.event_type, train))
    from collections import Counter

    pred = {}
    by_prev: dict[str, Counter] = {}
    for p, n, tr in trans:
        if tr:
            by_prev.setdefault(p, Counter())[n] += 1
    for p, c in by_prev.items():
        mx = max(c.values())
        pred[p] = min(n for n, v in c.items() if v == mx)
    rows = {r.prev_type: r for r in
            QUERIES["next_event_predictor_accuracy"](spark, SF).collect()}
    for p, r in rows.items():
        assert r.predicted_next == pred[p]
        ev_trans = [(pp, nn) for pp, nn, tr in trans if not tr and pp == p]
        assert r.n_eval == len(ev_trans)
        assert r.n_correct == sum(1 for _, nn in ev_trans if nn == pred[p])
        assert r.accuracy == r.n_correct / r.n_eval
        # a 5-type marginal predictor should beat 1/25 and lose to 1.0
        assert 0.0 <= r.accuracy < 1.0


def test_ht_estimator_mirror_and_design_properties(spark):
    li = duckdb.sql(
        f"SELECT l_orderkey, l_linenumber, l_extendedprice"
        f" FROM '{SF}/lineitem.parquet'"
    ).df()
    import math

    ht_mic = 0
    n_sampled = 0
    # itertuples, NOT iterrows: iterrows coerces the int key columns to
    # float64 and the md5 key would render "ht5.0|1.0"
    for r in li.itertuples():
        pmic = math.floor(
            min(1.0, max(0.01, r.l_extendedprice / 100000.0)) * 1000000.0
        )
        b = int(_md5(f"ht{r.l_orderkey}|{r.l_linenumber}")[:8], 16) % 1000000
        if b < pmic:
            n_sampled += 1
            ht_mic += math.floor(r.l_extendedprice / (pmic / 1000000.0) * 1000.0)
    out = QUERIES["ht_sampled_revenue_estimate"](spark, SF).collect()[0]
    assert out.n_population == len(li)
    assert out.n_sampled == n_sampled
    assert out.ht_estimate == ht_mic / 1000.0
    # design soundness: the estimate lands within 5 design-SEs of truth
    # (deterministic given the fixed hash, but SHOULD hold if the hash
    # behaves like the uniform randomness the design assumes)
    assert abs(out.ht_estimate - out.true_total) <= 5 * out.ht_se
    # sampling actually subsampled (pi floor is 1%, prices are ~1e3-1e5)
    assert 0 < out.n_sampled < out.n_population


# ---------------------------------------------------------------------------
# Anderson-Darling: full-precision Scholz-Stephens reference
# ---------------------------------------------------------------------------


def test_ad_statistic_matches_scholz_stephens(spark):
    """Full-precision python implementation of Scholz & Stephens 1987
    eq. 6 (k=2, right-continuous, ties exact) vs the quantized engine
    value.  (The parity cohorts of this synthetic corpus genuinely
    differ — value depends on user identity — so A^2 ~ 3 here is a real
    signal, not a null draw; the spec check is the formula equality.)"""
    ev = duckdb.sql(
        f"SELECT event_type, user_id, value FROM '{SF}/events.parquet'"
        f" WHERE abs(value) < 1000.0"
    ).df()
    rows = {r.event_type: r for r in
            QUERIES["drift_ad_statistic"](spark, SF).collect()}
    for t, g in ev.groupby("event_type"):
        a = sorted(g.value[g.user_id % 2 == 0])
        b = sorted(g.value[g.user_id % 2 == 1])
        n, m = len(a), len(b)
        if not (n and m):
            assert t not in rows
            continue
        pooled = sorted(set(a) | set(b))
        N = n + m
        from collections import Counter

        ca, cb = Counter(a), Counter(b)
        Ma = Mb = Bj = 0
        sa = sb = 0.0
        for v in pooled:
            la, lb = ca.get(v, 0), cb.get(v, 0)
            Ma, Mb, Bj = Ma + la, Mb + lb, Bj + la + lb
            if Bj >= N:
                continue
            l = la + lb
            sa += l * (N * Ma - n * Bj) ** 2 / (Bj * (N - Bj))
            sb += l * (N * Mb - m * Bj) ** 2 / (Bj * (N - Bj))
        expect = (sa / n + sb / m) / N
        r = rows[t]
        assert (r.n_a, r.n_b) == (n, m)
        # floor-milli term quantization leaves ~1e-5-scale slack on the
        # O(1)-magnitude statistic
        assert r.ad_stat == pytest.approx(expect, abs=5e-5)
        # A^2 is a sum of nonnegative weighted squares
        assert r.ad_stat >= 0.0


# ---------------------------------------------------------------------------
# Recommendation coverage / novelty: pandas mirror
# ---------------------------------------------------------------------------


def test_reco_coverage_novelty_matches_mirror(spark):
    import itertools
    from collections import Counter

    b = duckdb.sql(
        f"SELECT DISTINCT l_orderkey, l_partkey FROM '{SF}/lineitem.parquet'"
    ).df()
    n_catalog = duckdb.sql(
        f"SELECT count(*) FROM '{SF}/part.parquet'"
    ).fetchone()[0]
    n_baskets = b.l_orderkey.nunique()
    item = Counter(b.l_partkey)
    co: Counter = Counter()
    for _, g in b.groupby("l_orderkey"):
        for p1, p2 in itertools.permutations(sorted(g.l_partkey), 2):
            co[(p1, p2)] += 1
    import math

    scored: dict = {}
    for (p1, p2), c in co.items():
        if c >= 3:
            cos = c / (math.sqrt(item[p1]) * math.sqrt(item[p2]))
            scored.setdefault(p1, []).append((-cos, -c, p2))
    recs = []
    for p1, cands in scored.items():
        for _, _, p2 in sorted(cands)[:3]:
            recs.append(p2)
    out = QUERIES["reco_coverage_novelty"](spark, SF).collect()[0]
    assert out.n_catalog == n_catalog
    assert out.n_recs == len(recs)
    assert out.n_rec_distinct == len(set(recs))
    assert out.coverage_at_3 == len(set(recs)) / n_catalog
    expect_pop = sum(item[p] / n_baskets for p in recs) / len(recs)
    assert out.avg_rec_popularity == pytest.approx(expect_pop, rel=1e-6)
    # the popularity-bias direction is visible: recommended items are at
    # least as popular on average as the catalog baseline (co-occurrence
    # needs support, which correlates with popularity)
    assert out.avg_rec_popularity >= out.avg_catalog_popularity


# ---------------------------------------------------------------------------
# Truncation curve + post-stratified ATE: pandas mirrors
# ---------------------------------------------------------------------------


def test_truncation_curve_matches_mirror(spark, docs_pd):
    toks = docs_pd.text.map(lambda t: len([w for w in t.lower().split() if w]))
    rows = {r.max_len: r for r in
            QUERIES["truncation_budget_curve"](spark, SF).collect()}
    assert set(rows) == {16, 32, 64, 128}
    prev_kept = -1.0
    for L in (16, 32, 64, 128):
        r = rows[L]
        assert r.n_docs == len(toks)
        assert r.total_tokens == int(toks.sum())
        assert r.kept_tokens == int(toks.map(lambda n: min(n, L)).sum())
        assert r.n_truncated == int((toks > L).sum())
        assert r.kept_frac == r.kept_tokens / r.total_tokens
        # the curve is monotone in the cap
        assert r.kept_frac > prev_kept
        prev_kept = r.kept_frac


def test_post_stratified_ate_matches_mirror(spark):
    ev = duckdb.sql(
        f"SELECT user_id, event_type, value FROM '{SF}/events.parquet'"
    ).df()
    users = {}
    for uid, g in ev.groupby("user_id"):
        n = len(g)
        spend = float(g.value[g.event_type == "purchase"].sum())
        stratum = "low" if n < 50 else ("mid" if n < 80 else "high")
        users[uid] = (stratum, _treated(uid), spend)
    import math

    strata: dict = {}
    for stratum, tr, y in users.values():
        c = strata.setdefault(stratum, [0, 0, 0.0, 0, 0.0])
        c[0] += 1
        if tr:
            c[1] += 1
            c[2] += y
        else:
            c[3] += 1
            c[4] += y
    N = len(users)
    rows = {r.stratum: r for r in
            QUERIES["ab_post_stratified_ate"](spark, SF).collect()}
    assert set(rows) == set(strata)
    ate = 0.0
    for stname, (n_s, n_t, sy_t, n_c, sy_c) in strata.items():
        r = rows[stname]
        assert (r.n_s, r.n_t, r.n_c) == (n_s, n_t, n_c)
        if n_t and n_c:
            diff = sy_t / n_t - sy_c / n_c
            assert r.diff == pytest.approx(diff, rel=1e-9)
            ate += math.floor(n_s / N * diff * 1e6) / 1e6
    for r in rows.values():
        assert r.ate_post_stratified == pytest.approx(ate, abs=1e-6)

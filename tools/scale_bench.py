"""Measured scale evidence behind the size gates: turn plan-shape arguments
into numbers.

Generates deterministic synthetic data LARGER than the driver's sf0.1
fixtures in a scratch directory (``SPARK_GRAFT_SCALE_DIR``, default
``/tmp/spark_graft_scale``; never the test data), then measures one group
of SCALE_BENCH.md sections:

- default: §1 LSH vs quadratic near-dup crossover (the plane budget the
  declared dedup queries size from) and §2 connected components at ~1M
  edges (rounds and the driver union-find finish);
- ``--only-lshauto``: §12, the adaptive ``n_planes=None`` LSH default;
- ``--only-basketcap``: §15, the hot-basket cap under a planted 10k-item
  basket;
- ``--only-r11``: §21, the dense driver triangle kernel and the driver
  percentile gate against their distributed engines.

Each run merges its results into SCALE_BENCH.json and rewrites only its own
sections of SCALE_BENCH.md; every other section stays as the record of an
earlier run.  Usage:  python tools/scale_bench.py [--quick] [--only-...]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SCRATCH = os.environ.get("SPARK_GRAFT_SCALE_DIR", "/tmp/spark_graft_scale")
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MD_PATH = os.path.join(REPO, "SCALE_BENCH.md")
#: the §21 subsection no bench here regenerates (the reverted LM scoring
#: A/Bs): a re-render of §21 carries it over from MD_PATH byte-identical
R11_KEPT = "### 21c/d."
DIM = 64
SEED = 20260814


# ---------------------------------------------------------------------------
# deterministic generators (same conventions as the driver fixtures:
# clustered float32 embeddings with labels; integer edge pairs)
# ---------------------------------------------------------------------------


def gen_embeddings(path: str, n: int, n_clusters: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(SEED)
    centers = rng.standard_normal((n_clusters, DIM)).astype(np.float32)
    assign = rng.integers(0, n_clusters, n)
    vecs = centers[assign] + 0.3 * rng.standard_normal((n, DIM)).astype(np.float32)
    tbl = pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(assign.astype(np.int32)),
        }
    )
    pq.write_table(tbl, path)


def gen_edges(path: str, n_nodes: int, n_edges: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(SEED + 1)
    a = rng.integers(0, n_nodes, n_edges, dtype=np.int64)
    b = rng.integers(0, n_nodes, n_edges, dtype=np.int64)
    keep = a != b
    pq.write_table(
        pa.table({"id_a": pa.array(a[keep]), "id_b": pa.array(b[keep])}), path
    )


def _noop(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return round(time.perf_counter() - t0, 2)


#: corpus-size → n_planes for the SCALED runs: planes ≈ log2(n/100) keeps
#: per-table bucket occupancy roughly constant (~100 vectors), which is the
#: production sizing rule the fixed-plane degradation below motivates
SCALED_PLANES = {5_000: 6, 20_000: 8, 50_000: 9, 100_000: 10}


def bench_lsh_crossover(spark, quick: bool) -> dict:
    from lvm_datapipe_spark.operators import similarity as V
    from lvm_datapipe_spark.session import query_scope

    sizes_fixed = [5_000, 20_000, 50_000]
    sizes_scaled = [5_000, 20_000, 50_000] if quick else [5_000, 20_000, 50_000, 100_000]
    sizes_quad = [5_000, 20_000] if quick else [5_000, 20_000, 50_000]
    out: dict = {
        "lsh_fixed_planes": {}, "lsh_scaled_planes": {}, "quadratic": {},
        "pairs_fixed": {}, "pairs_scaled": {}, "scaled_planes": SCALED_PLANES,
    }
    for n in sorted(set(sizes_fixed) | set(sizes_scaled) | set(sizes_quad)):
        p = os.path.join(SCRATCH, f"emb_{n}.parquet")
        if not os.path.exists(p):
            gen_embeddings(p, n, max(n // 50, 10))
        # the generator writes ONE row group; a real corpus arrives in many
        # splits — repartition so both forms parallelize as they would
        emb = spark.read.parquet(p).repartition(32).persist()
        emb.count()
        # each variant runs in its own query_scope: it frees the variant's
        # checkpoints and caches, while emb (cached before) stays cached
        if n in sizes_fixed:
            # the sf0.1-tuned defaults (4 planes = 16 buckets/table):
            # occupancy grows with n, so candidates degrade toward n²/16
            with query_scope(spark):
                df = V.lsh_near_dup_pairs(emb, threshold=0.9)
                out["lsh_fixed_planes"][n] = _noop(df)
                out["pairs_fixed"][n] = df.count()
        if n in sizes_scaled:
            # production sizing: planes grow with log2(n) so occupancy is
            # ~constant; recall is rebuilt by the independent tables
            with query_scope(spark):
                df = V.lsh_near_dup_pairs(
                    emb, threshold=0.9, n_planes=SCALED_PLANES[n], n_tables=12
                )
                out["lsh_scaled_planes"][n] = _noop(df)
                out["pairs_scaled"][n] = df.count()
        if n in sizes_quad:
            with query_scope(spark):
                out["quadratic"][n] = _noop(
                    V.embedding_near_dup_pairs(emb, threshold=0.9)
                )
        emb.unpersist()
        print(f"  lsh-crossover n={n}: fixed={out['lsh_fixed_planes'].get(n)}s "
              f"scaled={out['lsh_scaled_planes'].get(n)}s "
              f"quad={out['quadratic'].get(n)}s", flush=True)
    return out


def bench_lsh_auto(spark, quick: bool) -> dict:
    """The r7 closing of SCALE_BENCH §1's loop: the DECLARED dedup queries
    now pass ``n_planes=None`` (one metadata count → auto_n_planes), so a
    user copying them verbatim gets the sized plan with NO hand-tuning.
    This measures that default through n=100k next to the fixed-plane wall
    already recorded in §1."""
    from lvm_datapipe_spark.operators import similarity as V
    from lvm_datapipe_spark.operators.similarity import auto_n_planes
    from lvm_datapipe_spark.session import query_scope

    sizes = [5_000, 20_000, 50_000] if quick else [5_000, 20_000, 50_000, 100_000]
    out: dict = {"auto_default": {}, "pairs_auto": {}, "auto_planes": {}}
    for n in sizes:
        p = os.path.join(SCRATCH, f"emb_{n}.parquet")
        if not os.path.exists(p):
            gen_embeddings(p, n, max(n // 50, 10))
        emb = spark.read.parquet(p).repartition(32).persist()
        emb.count()
        with query_scope(spark):
            df = V.lsh_near_dup_pairs(emb, threshold=0.9, n_planes=None, n_tables=12)
            out["auto_default"][n] = _noop(df)
            out["pairs_auto"][n] = df.count()
        out["auto_planes"][n] = auto_n_planes(n)
        emb.unpersist()
        print(
            f"  lsh-auto n={n}: planes={out['auto_planes'][n]} "
            f"wall={out['auto_default'][n]}s pairs={out['pairs_auto'][n]}",
            flush=True,
        )
    return out


def render_lsh_auto_md(res: dict) -> list:
    x = {k: _intkeys(v) for k, v in res["lsh_auto"].items()}
    sizes = sorted(x["auto_default"])
    lines = [
        "## 12. Adaptive LSH plane default (no hand-tuning)",
        "",
        "`lsh_near_dup_pairs(..., n_planes=None)` — the form the declared",
        "dedup queries (`dedup_embedding_cosine`, `dedup_clusters`,",
        "`dedup_representatives`, `split_leakage_safe`) ship since r7 — derives",
        "the plane budget from ONE metadata-sized `count()` via the integer",
        "rule `min p>=4 with 2^p*100 >= n` (similarity.auto_n_planes), so the",
        "copied-verbatim query stays near-linear instead of hitting §1's",
        "fixed-plane wall.  The oracle replays the same rule from `COUNT(*)`",
        "over prefix-stable plane literals.",
        "",
        "| corpus n | auto planes | wall (s) | verified pairs | sec / 10k rows |",
        "|---|---|---|---|---|",
    ]
    for n in sizes:
        w = x["auto_default"][n]
        lines.append(
            f"| {n:,} | {x['auto_planes'][n]} | {w} | {x['pairs_auto'][n]:,} "
            f"| {round(w / (n / 10_000), 2)} |"
        )
    lines += [
        "",
        "Compare §1: fixed 4-plane at n=50k took 204.7 s; the untuned",
        "adaptive default holds per-row cost roughly flat through n=100k.",
        "",
    ]
    return lines


def bench_connected_components(spark, quick: bool) -> dict:
    from lvm_datapipe_spark.operators.graph import connected_components

    n_nodes, n_edges = (200_000, 400_000) if quick else (500_000, 1_000_000)
    p = os.path.join(SCRATCH, f"edges_{n_edges}.parquet")
    if not os.path.exists(p):
        gen_edges(p, n_nodes, n_edges)
    pairs = spark.read.parquet(p).repartition(32)
    stats: dict = {}
    t0 = time.perf_counter()
    labels = connected_components(pairs, stats=stats)
    n_nodes_seen = labels.count()
    wall = round(time.perf_counter() - t0, 2)
    n_clusters = labels.select("cluster_id").distinct().count()
    return {
        "n_nodes": n_nodes_seen,
        "n_edges": pairs.count(),
        "rounds": stats.get("rounds"),
        "driver_finish": stats.get("driver_finish"),
        "wall_sec": wall,
        "n_clusters": n_clusters,
        "cores": spark.sparkContext.defaultParallelism,
    }


def _update_md_section(marker: str, lines: list) -> None:
    """Replace (or append) exactly ONE section of SCALE_BENCH.md: the text
    from ``marker`` up to the next ``## `` heading.  Earlier AND later
    sections are preserved byte-identical."""
    with open(MD_PATH) as f:
        md = f.read()
    new = "\n".join(lines).rstrip("\n") + "\n"
    if marker in md:
        start = md.index(marker)
        nxt = md.find("\n## ", start + len(marker))
        if nxt == -1:
            md = md[:start] + new
        else:
            md = md[:start] + new + "\n" + md[nxt + 1 :]
    else:
        md = md.rstrip("\n") + "\n\n" + new
    with open(MD_PATH, "w") as f:
        f.write(md)


def _md_subsection(heading: str) -> list[str]:
    """The lines of MD_PATH's subsection that starts with ``heading``, up
    to the next heading, trailing blank lines dropped; none when absent."""
    with open(MD_PATH) as f:
        md = f.read()
    start = md.find(heading)
    if start == -1:
        return []
    ends = [i for i in (md.find("\n## ", start), md.find("\n### ", start)) if i != -1]
    return md[start : min(ends, default=len(md))].rstrip("\n").split("\n")


def _intkeys(d: dict) -> dict:
    """JSON round-trips stringify integer dict keys; normalize so render_md
    works identically on fresh results and reloaded SCALE_BENCH.json."""
    return {int(k): v for k, v in d.items()}


def render_lsh_crossover_md(res: dict) -> list[str]:
    x = {
        k: (_intkeys(v) if isinstance(v, dict) else v)
        for k, v in res["lsh_crossover"].items()
    }
    lines = [
        "## 1. LSH vs quadratic near-dup crossover",
        "",
        "64-dim clustered embeddings, cosine threshold 0.9.  `LSH fixed` is",
        "the sf0.1-tuned default (4 planes = 16 buckets/table); `LSH scaled`",
        "sizes planes with the corpus (planes ≈ log2(n/100), 12 tables) so",
        "per-table bucket occupancy stays ~constant; `quadratic` is the",
        "pytest-only all-pairs crossJoin demoted from the surface in r5.",
        "",
        "| n vectors | LSH fixed-planes sec | LSH scaled-planes sec "
        "| quadratic sec | pairs (fixed) | pairs (scaled) |",
        "|---|---|---|---|---|---|",
    ]
    allns = sorted(
        {*x["lsh_fixed_planes"], *x["lsh_scaled_planes"], *x["quadratic"]}
    )
    for n in allns:
        lines.append(
            f"| {n:,} | {x['lsh_fixed_planes'].get(n, '—')} "
            f"| {x['lsh_scaled_planes'].get(n, '—')} "
            f"| {x['quadratic'].get(n, '—')} "
            f"| {x['pairs_fixed'].get(n, '—')} "
            f"| {x['pairs_scaled'].get(n, '—')} |"
        )
    lines += [
        "",
        "Findings, in causal order:",
        "",
        "- The quadratic form scales as n²/2 pairs (each a 64-element dot);",
        "  its missing cells are where one measurement exceeds several",
        "  minutes — the n² growth law between measured points makes the",
        "  trajectory unambiguous.",
        "- FIXED plane count is NOT the scale path either: with 16 buckets",
        "  per table, occupancy grows linearly with n and the candidate set",
        "  degrades toward n²/16 — visible as superlinear fixed-plane times.",
        "- The production rule is to grow planes with log2(n): the scaled",
        "  column stays near-linear while recovering the same near-dup",
        "  clusters (pair columns agree on the true ~n/50-cluster structure;",
        "  scaled-plane recall per pair is rebuilt across the 12 tables).",
        "  This sizing rule is now documented on `lsh_near_dup_pairs`.",
        "",
    ]
    return lines


def render_cc_md(res: dict) -> list[str]:
    cc = res["connected_components"]
    return [
        "## 2. Connected components, ~1M edges",
        "",
        f"Random graph, {cc['n_nodes']:,} touched nodes / {cc['n_edges']:,}",
        "directed edge rows after dedup/symmetrization, on a local",
        f"session with {cc['cores']} cores.",
        "",
        f"- distributed contraction rounds: **{cc['rounds']}**",
        f"- finished by the driver union-find: **{cc['driver_finish']}**",
        f"- wall time: **{cc['wall_sec']} s**",
        f"- clusters found: **{cc['n_clusters']:,}**",
        "",
        "Each round is one signature action over the shrinking parent-edge",
        "set; localCheckpoint stops plan growth, so cost is rounds × (two",
        "keyed aggregates + two keyed joins) over a geometrically shrinking",
        "edge set.",
        "",
    ]


def gen_hot_baskets(path: str, n: int, hot: int = 10_000) -> None:
    """n normal 4-item baskets plus ONE planted hot basket of ``hot``
    distinct items — the adversarial input VERDICT r7 item 1 asks the
    co-occurrence guard to be measured against (a crawler cart / batch
    import whose B²/2 pair fan-out lands on a single shuffle key)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(SEED)
    bid = np.repeat(np.arange(n, dtype=np.int64), 4)
    item = rng.integers(0, n, n * 4, dtype=np.int64)
    hb = np.full(hot, n, dtype=np.int64)
    hi = np.arange(hot, dtype=np.int64) + 100_000_000
    tbl = pa.table(
        {
            "basket": pa.array(np.concatenate([bid, hb])),
            "item": pa.array(np.concatenate([item, hi])),
        }
    )
    pq.write_table(tbl, path)


def bench_basket_cap(spark, quick: bool) -> dict:
    """Hot-basket guard (graph.cap_baskets) under a planted 10k-item
    basket: the capped pair build must stay ~linear in the number of
    NORMAL baskets, while the uncapped build pays the hot key's 50M
    pair rows on one shuffle key regardless of corpus size."""
    from pyspark.sql import functions as F

    from lvm_datapipe_spark.operators.graph import cap_baskets

    sizes = [100_000, 500_000, 2_000_000] if not quick else [50_000, 200_000]
    out: dict = {"hot": 10_000, "cap": 64, "sizes": {}}

    def pairs(b):
        x = b.select("basket", F.col("item").alias("p1"))
        y = b.select("basket", F.col("item").alias("p2"))
        return (
            x.join(y, "basket")
            .filter(F.col("p1") < F.col("p2"))
            .groupBy("p1", "p2")
            .agg(F.count(F.lit(1)).alias("co"))
        )

    for n in sizes:
        path = os.path.join(SCRATCH, f"baskets_{n}.parquet")
        if not os.path.exists(path):
            gen_hot_baskets(path, n)
        b = spark.read.parquet(path)
        t0 = time.perf_counter()
        rows = pairs(cap_baskets(b, "basket")).count()
        t = round(time.perf_counter() - t0, 2)
        out["sizes"][n] = {"capped_sec": t, "pair_rows": rows}
        print(f"  capped n={n}: {t}s, {rows} pair rows", flush=True)

    # uncapped reference at the smallest n: the single hot basket alone
    # contributes hot^2/2 joined rows on one key
    n0 = sizes[0]
    b = spark.read.parquet(os.path.join(SCRATCH, f"baskets_{n0}.parquet"))
    t0 = time.perf_counter()
    urows = pairs(b).count()
    ut = round(time.perf_counter() - t0, 2)
    out["uncapped"] = {"n": n0, "sec": ut, "pair_rows": urows}
    print(f"  uncapped n={n0}: {ut}s, {urows} pair rows", flush=True)
    return out


def bench_r11_kernels(spark, quick: bool) -> dict:
    """§21 (r11): n-scaled A/Bs for the r11 kernel changes, since the
    sf0.1 bench is fixed-cost-bound (VERDICT r10 item 5 / next-round item
    6).  Each subsection asserts result equality between the engines it
    compares.

    21a dense driver triangles: driver packed-bitset kernel vs the
        distributed degree-oriented wedge engine on random graphs across
        sizes, plus the above-gate fallback demonstration.
    21b driver percentile: Arrow-collect + numpy order statistics vs the
        exact percentile() aggregate across column sizes (bit equality).
    21e banded-pair distinct skip: simhash_pairs' distinct output vs
        dedup_pairs=False plus the bit_or mask fold.
    21f driver k-core peel: kcore_driver_dense_from_baskets vs the
        distributed kcore on random basket graphs up to the node gate.

    The 21c/21d LM scoring A/Bs measured two reworks that were reverted;
    their results are recorded in OPTIMIZATION_r11.md entries 2 and 3 and
    in the committed SCALE_BENCH.md."""
    from unittest import mock

    import pandas as pd

    from lvm_datapipe_spark.operators import graph
    from lvm_datapipe_spark.operators.graph import (
        triangle_counts,
        triangle_counts_driver_dense,
    )

    out: dict = {}

    # ---- 21a: dense driver triangles ------------------------------------
    tri: dict = {"sizes": {}}
    sizes = [(1000, 450_000), (2000, 900_000)] if quick else [
        (1000, 450_000), (2000, 900_000), (4000, 2_000_000)
    ]
    for n, m in sizes:
        rng = np.random.default_rng(SEED + n)
        u = rng.integers(0, n, size=m, dtype=np.int64)
        v = rng.integers(0, n, size=m, dtype=np.int64)
        keep = u < v
        e = (
            spark.createDataFrame(pd.DataFrame({"id_a": u[keep], "id_b": v[keep]}))
            .dropDuplicates()
            .repartition(32)
            .persist()
        )
        n_edges = e.count()
        t0 = time.perf_counter()
        dense = triangle_counts_driver_dense(e, n_edges, "id_a", "id_b")
        t_dense = round(time.perf_counter() - t0, 2)
        # a negative node gate forces triangle_counts onto the distributed
        # engine
        with mock.patch.object(graph, "DENSE_TRIANGLE_MAX_NODES", -1):
            t0 = time.perf_counter()
            dist = {
                r["node"]: r["triangles"]
                for r in triangle_counts(e, "id_a", "id_b").collect()
            }
            t_dist = round(time.perf_counter() - t0, 2)
        assert dense is not None and dict(dense) == dist, f"mismatch at n={n}"
        tri["sizes"][n] = {"edges": int(n_edges), "dense_sec": t_dense,
                           "distributed_sec": t_dist}
        e.unpersist()
        print(f"  tri n={n}: {tri['sizes'][n]}", flush=True)
    # above-gate: the kernel must decline and the caller's distributed
    # engine carries the query (gate constants, not data heuristics)
    rng = np.random.default_rng(SEED)
    u = rng.integers(0, 10_000, size=30_000, dtype=np.int64)
    v = rng.integers(0, 10_000, size=30_000, dtype=np.int64)
    big = spark.createDataFrame(
        pd.DataFrame({"id_a": u[u < v], "id_b": v[u < v]})
    ).dropDuplicates().persist()
    with mock.patch.object(graph, "DENSE_TRIANGLE_MAX_NODES", 4096):
        tri["above_gate_returns_none"] = (
            triangle_counts_driver_dense(big, big.count(), "id_a", "id_b") is None
        )
    big.unpersist()
    out["dense_triangles"] = tri

    # ---- 21b: driver percentile kernel ----------------------------------
    from pyspark.sql import functions as F

    from lvm_datapipe_spark.operators.aggregates import exact_percentiles_driver

    pct: dict = {"sizes": {}}
    psizes = [600_000, 2_400_000] if quick else [600_000, 2_400_000, 8_000_000]
    fracs = [x / 32.0 for x in range(1, 32)]
    fl = ", ".join(repr(f) for f in fracs)
    for n in psizes:
        rng = np.random.default_rng(SEED + n)
        col = spark.createDataFrame(
            pd.DataFrame({"v": np.round(rng.uniform(900.0, 105000.0, n), 2)})
        ).repartition(32).persist()
        col.count()
        t0 = time.perf_counter()
        drv = exact_percentiles_driver(col, "v", fracs)
        t_drv = round(time.perf_counter() - t0, 2)
        t0 = time.perf_counter()
        agg = col.agg(F.expr(f"percentile(v, array({fl}))")).collect()[0][0]
        t_agg = round(time.perf_counter() - t0, 2)
        assert drv == list(agg), f"percentile mismatch at n={n}"
        pct["sizes"][n] = {"driver_sec": t_drv, "aggregate_sec": t_agg}
        col.unpersist()
        print(f"  pct n={n}: {pct['sizes'][n]}", flush=True)
    out["driver_percentile"] = pct

    # ---- 21e: banded-pair distinct skip (dedup_method_agreement) --------
    # near-dup-heavy corpus (docs drawn from a small pool of templates with
    # light perturbation → large simhash candidate volume); A: the kernel's
    # default distinct output, B: dedup_pairs=False + the bit_or mask fold
    # the query uses.  Equality asserted on the pair SET.
    from lvm_datapipe_spark.operators.dedup import simhash_pairs

    def _gen_neardup(n_docs: int):
        rng = np.random.default_rng(SEED + 13)
        base = rng.integers(0, 5000, size=(64, 40))
        rows = []
        for i in range(n_docs):
            t = base[i % 64].copy()
            t[rng.integers(0, 40)] = rng.integers(0, 5000)
            rows.append(" ".join(f"w{x}" for x in t))
        return spark.createDataFrame(
            pd.DataFrame({"doc_id": np.arange(n_docs, dtype=np.int64),
                          "text": rows})
        ).repartition(32).persist()

    pd_skip: dict = {"sizes": {}}
    for n in ([3_000, 6_000] if quick else [3_000, 6_000, 12_000]):
        docs = _gen_neardup(n)
        docs.count()
        t0 = time.perf_counter()
        with_d = {
            (r["id_a"], r["id_b"])
            for r in simhash_pairs(docs).select("id_a", "id_b").collect()
        }
        t_with = round(time.perf_counter() - t0, 2)
        t0 = time.perf_counter()
        raw = simhash_pairs(docs, dedup_pairs=False).select("id_a", "id_b")
        masked = (
            raw.withColumn("m", F.lit(2))
            .groupBy("id_a", "id_b")
            .agg(F.bit_or("m").alias("mask"))
        )
        no_d = {(r["id_a"], r["id_b"]) for r in masked.collect()}
        t_skip = round(time.perf_counter() - t0, 2)
        assert with_d == no_d, f"pair-set mismatch at n={n}"
        pd_skip["sizes"][n] = {
            "pairs": len(with_d),
            "distinct_then_consume_sec": t_with,
            "skip_distinct_bitor_sec": t_skip,
        }
        print(f"  pairskip n={n}: {pd_skip['sizes'][n]}", flush=True)
        docs.unpersist()
    out["pair_distinct_skip"] = pd_skip
    out["driver_kcore"] = bench_driver_kcore(spark, quick)
    return out


def bench_driver_kcore(spark, quick: bool) -> dict:
    """§21f: the driver k-core peel against the distributed peel on random
    basket graphs (1.8n two-item baskets, items uniform over n nodes, so
    mean degree 3.6, just above the 3-core threshold: the peel runs many
    rounds) up to the node gate; equal (node, core_degree) sets and stats
    asserted.
    Both engines start from a checkpointed basket table, as
    graph_kcore_parts does; the distributed side times its pair self-join
    and kcore()."""
    import pandas as pd
    from pyspark.sql import functions as F

    from lvm_datapipe_spark.operators import graph

    res: dict = {"sizes": {}}
    nodes = [3_000, 12_000]
    if not quick:
        nodes.append(graph.DENSE_TRIANGLE_MAX_NODES)
    for n in nodes:
        rng = np.random.default_rng(SEED + n)
        o = np.repeat(np.arange(n * 9 // 5, dtype=np.int64), 2)
        i = rng.integers(0, n, size=len(o), dtype=np.int64)
        b = graph.partitioned_local_checkpoint(
            spark.createDataFrame(pd.DataFrame({"l_orderkey": o, "l_partkey": i}))
            .distinct()
            .repartition("l_orderkey")
        )
        n_rows = b.count()
        st_drv: dict = {}
        t0 = time.perf_counter()
        drv = graph.kcore_driver_dense_from_baskets(b, n_rows, st_drv)
        t_drv = round(time.perf_counter() - t0, 2)
        x = b.select("l_orderkey", F.col("l_partkey").alias("p1"))
        y = b.select("l_orderkey", F.col("l_partkey").alias("p2"))
        st_dist: dict = {}
        t0 = time.perf_counter()
        core = graph.kcore(
            x.join(y, "l_orderkey").filter(F.col("p1") < F.col("p2")), st_dist
        )
        dist = {(r["node"], r["core_degree"]) for r in core.collect()}
        t_dist = round(time.perf_counter() - t0, 2)
        assert drv is not None and set(drv) == dist, f"mismatch at n={n}"
        assert st_drv == st_dist, (st_drv, st_dist)
        res["sizes"][n] = {
            "basket_rows": int(n_rows),
            "core_nodes": len(dist),
            "rounds": st_dist["rounds"],
            "driver_sec": t_drv,
            "distributed_sec": t_dist,
        }
        print(f"  kcore n={n}: {res['sizes'][n]}", flush=True)
    return res


def render_r11_kernels_md(res: dict) -> list[str]:
    r = res["r11_kernels"]
    tri, pct = r["dense_triangles"], r["driver_percentile"]
    lines = [
        "## 21. r11 kernel A/Bs (generated)",
        "",
        "n-scaled evidence for the r11 kernel changes (sf0.1 is",
        "fixed-cost-bound — VERDICT r10 item 5); every row asserts result",
        "equality between the compared engines before timing is reported.",
        "",
        "### 21a. dense driver triangle kernel vs distributed wedge engine",
        "",
        "| nodes (edges) | driver dense | distributed | ratio |",
        "|---|---|---|---|",
    ]
    for n, row in sorted(tri["sizes"].items(), key=lambda kv: int(kv[0])):
        ratio = row["distributed_sec"] / row["dense_sec"] if row["dense_sec"] else float("inf")
        lines.append(
            f"| {n} ({row['edges']}) | {row['dense_sec']} s |"
            f" {row['distributed_sec']} s | {ratio:.1f}x |"
        )
    lines += [
        "",
        f"- above a forced 4096-node gate the kernel declines (returns None:"
        f" {tri['above_gate_returns_none']}) and the distributed engine",
        "  carries the query — the packed-bitset path is O(n²/8) memory /",
        "  O(m·n/64) work by design and exists only below the fixed",
        "  driver-sized bound (default 24576 nodes / 8M edges).",
        "",
        "### 21b. driver order-statistic percentiles vs exact percentile()",
        "",
        "| rows | driver collect+sort | percentile() aggregate | ratio |",
        "|---|---|---|---|",
    ]
    for n, row in sorted(pct["sizes"].items(), key=lambda kv: int(kv[0])):
        ratio = row["aggregate_sec"] / row["driver_sec"] if row["driver_sec"] else float("inf")
        lines.append(
            f"| {n} | {row['driver_sec']} s | {row['aggregate_sec']} s |"
            f" {ratio:.1f}x |"
        )
    kept = _md_subsection(R11_KEPT)
    if kept:
        lines += [""] + kept
    pds = r.get("pair_distinct_skip", {}).get("sizes", {})
    if pds:
        lines += [
            "",
            "### 21e. banded-pair distinct skip (dedup_method_agreement's",
            "bit_or mask fold vs consuming the kernel's distinct output)",
            "",
            "Near-dup-heavy corpus (64 templates lightly perturbed — large",
            "simhash candidate volume); pair SET equality asserted.",
            "",
            "| docs | pairs | distinct → consume | skip distinct + bit_or |",
            "|---|---|---|---|",
        ]
        for n, row in sorted(pds.items(), key=lambda kv: int(kv[0])):
            lines.append(
                f"| {n} | {row['pairs']} | {row['distinct_then_consume_sec']} s"
                f" | {row['skip_distinct_bitor_sec']} s |"
            )
        lines += [
            "",
            "- the skip removes the kernel's pair-distinct exchange; the",
            "  consumer's idempotent bit_or fold dedups in the SAME",
            "  aggregate exchange it needed anyway (guide §2.3 — shuffle",
            "  once, not twice).",
        ]
    if "driver_kcore" in r:
        lines += [""] + render_driver_kcore_md(r["driver_kcore"])
    return lines


def render_driver_kcore_md(kc: dict) -> list[str]:
    lines = [
        "### 21f. driver k-core peel vs distributed peel",
        "",
        "Random basket graphs (1.8n baskets of 2 items drawn uniformly from",
        "n parts: mean degree 3.6, just above the 3-core threshold, so the",
        "peel runs many rounds; k = 3), both engines reading the same",
        "checkpointed basket table; equal (node, core_degree) sets and",
        "equal rounds asserted.",
        "",
        "| nodes (basket rows) | core nodes | rounds | driver peel | distributed peel | ratio |",
        "|---|---|---|---|---|---|",
    ]
    for n, row in sorted(kc["sizes"].items(), key=lambda kv: int(kv[0])):
        ratio = row["distributed_sec"] / row["driver_sec"] if row["driver_sec"] else float("inf")
        lines.append(
            f"| {n} ({row['basket_rows']}) | {row['core_nodes']} | {row['rounds']} |"
            f" {row['driver_sec']} s | {row['distributed_sec']} s | {ratio:.1f}x |"
        )
    lines += [
        "",
        "- the driver peel is one collect of the basket rows plus O(E) numpy",
        "  work; the distributed peel pays a pair self-join, the symmetric",
        "  edge build and two checkpoint jobs per round.  Above the dense",
        "  basket gates (24576 nodes / 8M pairs or basket rows) the",
        "  distributed peel is the scale plan.",
    ]
    return lines


def render_basketcap_md(res: dict) -> list[str]:
    r = res["basket_cap"]
    lines = [
        "## 15. Hot-basket cap (co-occurrence pair guard)",
        "",
        f"Planted ONE {r['hot']}-item basket among n normal 4-item baskets;",
        f"graph.cap_baskets (cap {r['cap']}) drops it before the pair",
        "self-join.  Capped wall time must track n; the uncapped build pays",
        "the hot key's ~50M pair rows on a single shuffle key at ANY n.",
        "",
        "| n baskets | capped sec | pair rows |",
        "|---|---|---|",
    ]
    for n, row in sorted(r["sizes"].items(), key=lambda kv: int(kv[0])):
        lines.append(f"| {n} | {row['capped_sec']} | {row['pair_rows']} |")
    u = r["uncapped"]
    lines += [
        "",
        f"Uncapped reference at n={u['n']}: **{u['sec']} s** /"
        f" {u['pair_rows']} pair rows — the hot basket contributes"
        f" {r['hot']}²/2 ≈ 50M of them on one key, which only grows with"
        " basket pathology, not with data size; the guard deletes it for"
        " the cost of one basket-keyed count.",
        "",
    ]
    return lines


#: flag → the (result key, bench, SCALE_BENCH.md section marker, render)
#: runs it selects; no flag runs the default group
RUNS = {
    None: [
        ("lsh_crossover", bench_lsh_crossover,
         "## 1. LSH vs quadratic", render_lsh_crossover_md),
        ("connected_components", bench_connected_components,
         "## 2. Connected components", render_cc_md),
    ],
    "--only-lshauto": [
        ("lsh_auto", bench_lsh_auto,
         "## 12. Adaptive LSH plane default", render_lsh_auto_md),
    ],
    "--only-basketcap": [
        ("basket_cap", bench_basket_cap,
         "## 15. Hot-basket cap", render_basketcap_md),
    ],
    "--only-r11": [
        ("r11_kernels", bench_r11_kernels,
         "## 21. r11 kernel A/Bs", render_r11_kernels_md),
    ],
}


def main() -> None:
    quick = "--quick" in sys.argv
    flag = next((f for f in RUNS if f and f in sys.argv), None)
    os.makedirs(SCRATCH, exist_ok=True)
    from lvm_datapipe_spark.session import get_spark

    extra = {}
    if os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
        extra["spark.local.dir"] = "/dev/shm/spark-scale-local"
    spark = get_spark("lvm-datapipe-scale-bench", extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")

    json_path = os.path.join(REPO, "SCALE_BENCH.json")
    with open(json_path) as f:
        res = json.load(f)
    for key, bench, _, _ in RUNS[flag]:
        print(f"== {key} ==", flush=True)
        res[key] = bench(spark, quick)
    with open(json_path, "w") as f:
        json.dump(res, f, indent=2, sort_keys=True)
    for _, _, marker, render in RUNS[flag]:
        _update_md_section(marker, render(res))
    print("wrote SCALE_BENCH.json + SCALE_BENCH.md", flush=True)
    shutil.rmtree("/dev/shm/spark-scale-local", ignore_errors=True)


if __name__ == "__main__":
    main()

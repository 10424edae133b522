"""The benchmark's two workloads.

Each workload is a single-client closed loop: one op (a CLI stage or a
query) starts only when the previous one has returned.  A workload makes
its inputs, warms the session up on a small separate input, runs measured
passes, and checks its outputs:

- ``video_pipeline``: a synthetic FVID corpus through the CLI stages
  scenecut -> score motion/aesthetic/ocr -> score motion again (a resume
  where every row is already done) -> analyze -> export-flat.
- ``queries``: three exec-bound queries (Catalyst execution dominates) and
  three build-bound ones (driver-side jobs and kernels inside the query
  function dominate: size-gated kernels, connected components, persists),
  at sf0.01 on tables bundled in ``data/``.

Query ops write to the noop sink; each query's result is then collected
(untimed, first pass only) and compared with its recorded DuckDB answer.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import shutil
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
DATA_DIR = os.path.join(HERE, "data")
MEASURE_SF = os.path.join(DATA_DIR, "sf0.01")
WARM_SF = os.path.join(DATA_DIR, "sf0.001")
ORACLE_DIR = os.path.join(HERE, "oracle")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

#: exec-bound queries from bench.py's COMMON_16, one per operator family
#: (aggregate, window, LSH dedup)
QUERY_SCAN = ["q1_pricing_summary", "w3_sessionize", "dedup_minhash_lsh"]
#: build-bound queries: the k-core peel (persists, a broadcast gate), LSH
#: pairs -> connected components, and a size-gated driver kernel (exact
#: percentiles: a gate job, then a collect)
QUERY_ITERATIVE = ["graph_kcore_parts", "dedup_clusters", "range_partition_boundaries"]
QUERIES = QUERY_SCAN + QUERY_ITERATIVE
#: warm-up at sf0.001: the SQL engine and a Python-UDF dedup
WARMUP_QUERIES = ["q1_pricing_summary", "dedup_minhash_lsh"]

N_VIDEOS = 60
N_WARM_VIDEOS = 2
SCORE_COLS = ("of_score", "optimal_score", "ocr_score")


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def expected_clips(video_id: str, threshold: float) -> int:
    """Scenes a content detector can see in ``fakevideo.generate(video_id)``:
    one, plus one per frame-to-frame jump of mean brightness above the
    threshold.  Computed from the generator's frames, not by the detector."""
    from lvm_datapipe_spark import fakevideo

    frames = fakevideo.generate(video_id).frames
    means = frames.reshape(len(frames), -1).mean(axis=1)
    return 1 + int((np.abs(np.diff(means)) > threshold).sum())


class Run:
    """Per-run state shared by the workloads: session, tracer, op log."""

    def __init__(self, spark, tracer):
        self.spark = spark
        self.tracer = tracer
        self.attempted = 0
        self.failures: list[str] = []
        self.op_times: dict[str, list[float]] = {}
        self.pass_times: list[float] = []
        self.leaked: list[int] = []          # cached relations after each op
        self.storage_bytes: list[int] = []   # cached storage after each op
        self.info: dict = {}

    def fail(self, what: str) -> None:
        self.failures.append(what)

    def op(self, name: str, fn, layer: str | None = None) -> object:
        """Run one timed op; an exception counts as a failed op.  With a
        ``layer`` the op is itself a leaf span of that layer."""
        self.attempted += 1
        with self.tracer.span(name, leaf=layer is not None, kind="op",
                              layer=layer) as rec:
            try:
                out = fn()
            except Exception as e:  # noqa: BLE001 — a failed op is a result
                self.fail(f"{name}: {type(e).__name__}: {str(e)[:300]}")
                out = None
        self.op_times.setdefault(name, []).append(rec["end"] - rec["start"])
        return out

    def cache_state(self) -> None:
        jsess = self.spark._jsparkSession
        self.leaked.append(int(jsess.sharedState().cacheManager().cachedData().size()))
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        self.storage_bytes.append(
            sum(int(i.memSize()) + int(i.diskSize()) for i in infos)
        )


class VideoPipeline:
    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self.corpus = os.path.join(work, "corpus")
        self.warm_corpus = os.path.join(work, "warm_corpus")

    def import_layers(self) -> None:
        from lvm_datapipe_spark import cli  # noqa: F401

    def prepare(self) -> dict:
        from lvm_datapipe_spark import fakevideo
        from lvm_datapipe_spark.operators.scenecut import DEFAULT_THRESHOLD

        ids = [f"s{self.seed}-v{i:04d}" for i in range(N_VIDEOS)]
        fakevideo.write_corpus(self.corpus, ids)
        fakevideo.write_corpus(
            self.warm_corpus, [f"s{self.seed}-w{i}" for i in range(N_WARM_VIDEOS)]
        )
        self.expected = sum(expected_clips(v, DEFAULT_THRESHOLD) for v in ids)
        self.input_bytes = dir_bytes(self.corpus)
        return {"videos": N_VIDEOS, "input_bytes": self.input_bytes,
                "expected_clips": self.expected}

    def stages(self, corpus: str, out: str) -> list[tuple[str, list[str]]]:
        s = [os.path.join(out, f"s{i}") for i in range(5)]
        return [
            ("scenecut", ["scenecut", "--video-dir", corpus, "--out", s[0]]),
            ("score_motion", _score(s[0], s[1], "motion")),
            ("score_aesthetic", _score(s[1], s[2], "aesthetic")),
            ("score_ocr", _score(s[2], s[3], "ocr")),
            ("resume_motion", _score(s[3], s[4], "motion")),
            ("analyze", ["analyze", "--snapshot", s[4]]),
            ("export_flat", ["export-flat", "--snapshot", s[4],
                             "--out", os.path.join(out, "flat")]),
        ]

    @staticmethod
    def _cli(spark, argv: list[str]) -> str:
        from lvm_datapipe_spark import cli

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            cli.main(argv, spark=spark)
        return buf.getvalue()

    def warmup(self, spark) -> dict[str, float]:
        """One small pass over the costly first-use paths: binaryFile scan
        and scene detection, a pandas-UDF scorer, the JSON export."""
        out = os.path.join(self.work, "warm_out")
        s0, s1 = os.path.join(out, "s0"), os.path.join(out, "s1")
        times = {}
        for stage, argv in [
            ("scenecut", ["scenecut", "--video-dir", self.warm_corpus, "--out", s0]),
            ("score_motion", _score(s0, s1, "motion")),
            ("export_flat", ["export-flat", "--snapshot", s1,
                             "--out", os.path.join(out, "flat")]),
        ]:
            t = time.perf_counter()
            self._cli(spark, argv)
            times[stage] = time.perf_counter() - t
        return times

    def run_pass(self, run: Run, p: int, check: bool) -> None:
        out = os.path.join(self.work, "out")
        shutil.rmtree(out, ignore_errors=True)
        logs = {}
        total = 0.0
        for stage, argv in self.stages(self.corpus, out):
            logs[stage] = run.op(stage, lambda a=argv: self._cli(run.spark, a),
                                 layer=f"stage.{stage}")
            total += run.op_times[stage][-1]
            run.cache_state()
        run.pass_times.append(total)
        if check:
            try:
                run.info["clips"] = self.check(run, out, logs)
            except Exception as e:  # noqa: BLE001 — e.g. a stage wrote nothing
                run.fail(f"check: {type(e).__name__}: {str(e)[:300]}")

    def check(self, run: Run, out: str, logs: dict) -> int:
        """Output checks; every mismatch is one failed op."""
        spark = run.spark
        from pyspark.sql import functions as F

        s0 = spark.read.parquet(os.path.join(out, "s0"))
        clips = s0.count()
        if clips != self.expected:
            run.fail(f"scenecut: {clips} clips, generator has {self.expected} scenes")
        s3 = spark.read.parquet(os.path.join(out, "s3"))
        s4 = spark.read.parquet(os.path.join(out, "s4"))
        nulls = s4.select(*[F.sum(F.col(c).isNull().cast("int")).alias(c)
                            for c in SCORE_COLS]).first().asDict()
        if any(nulls.values()) or s4.count() != clips:
            run.fail(f"score: null scores {nulls} over {s4.count()} rows")
        # byte-identical resume: same clips, same float bits, no score moved
        moved = (
            s3.select("clip_id", *[F.col(c).alias(f"a_{c}") for c in SCORE_COLS])
            .join(s4.select("clip_id", *SCORE_COLS), "clip_id", "full_outer")
            .filter(" OR ".join(
                f"NOT (to_json(named_struct('v', a_{c})) <=> to_json(named_struct('v', {c})))"
                for c in SCORE_COLS))
            .count()
        )
        if moved:
            run.fail(f"resume_motion: {moved} rows changed")
        hist = _last_json(logs.get("analyze"))
        if hist is None or sum(hist.get("histogram", {}).values()) != clips:
            run.fail(f"analyze: histogram {hist and hist.get('histogram')} != {clips} clips")
        n_flat = spark.read.json(os.path.join(out, "flat")).count()
        if n_flat != clips:
            run.fail(f"export_flat: {n_flat} rows != {clips} clips")
        return clips

    def layer_probes(self, run: Run) -> None:
        """Each media/source layer called on its own, forced to the noop
        sink (traced runs only)."""
        from lvm_datapipe_spark.operators import media, scenecut
        from lvm_datapipe_spark.plans import pipeline
        from lvm_datapipe_spark.sources.video import scan_video_dir

        spark = run.spark
        snap = pipeline.read_snapshot(spark, os.path.join(self.work, "out", "s0"))
        probes = [
            ("sources.scan", lambda: noop(scan_video_dir(spark, self.corpus))),
            ("scenecut.detect", lambda: noop(scenecut.detect_scenes(
                scan_video_dir(spark, self.corpus)))),
            ("scenecut.split", lambda: noop(scenecut.scene_cut(
                scan_video_dir(spark, self.corpus)))),
            ("media.sample", lambda: noop(media.with_sampled_frames(snap))),
            ("media.score", lambda: noop(media.apply_scorer(
                media.with_sampled_frames(snap), "motion").drop("frames"))),
            ("pipeline.noop", lambda: noop(snap)),
            ("pipeline.write", lambda: pipeline.write_snapshot(
                snap, os.path.join(self.work, "probe_snapshot"))),
        ]
        for layer, fn in probes:
            with run.tracer.span(layer, leaf=True, kind="probe", layer=layer):
                fn()


class QueryWorkload:
    def import_layers(self) -> None:
        from lvm_datapipe_spark.queries import QUERIES

        self.QUERIES = QUERIES

    def prepare(self) -> dict:
        return {"queries": len(QUERIES), "sf_dir": "perfbench/data/sf0.01",
                "input_bytes": dir_bytes(MEASURE_SF)}

    def warmup(self, spark) -> dict[str, float]:
        times = {}
        for q in WARMUP_QUERIES:
            t = time.perf_counter()
            noop(self.QUERIES[q](spark, WARM_SF))
            times[q] = time.perf_counter() - t
        spark.catalog.clearCache()
        return times

    def run_pass(self, run: Run, p: int, check: bool) -> None:
        tracer = run.tracer
        total = 0.0
        for q in QUERIES:
            def one(q=q):
                with tracer.span("build", leaf=True, kind="phase", layer="build"):
                    df = self.QUERIES[q](run.spark, MEASURE_SF)
                if tracer.enabled:
                    with tracer.span("plan", leaf=True, kind="phase", layer="plan"):
                        df._jdf.queryExecution().executedPlan()
                with tracer.span("exec", leaf=True, kind="phase", layer="exec"):
                    noop(df)
                return df

            df = run.op(q, one)
            total += run.op_times[q][-1]
            run.cache_state()
            if check and df is not None:
                self.check(run, q, df)
            run.spark.catalog.clearCache()
        run.pass_times.append(total)

    def check(self, run: Run, q: str, df) -> None:
        import pandas as pd

        from checks import compare

        try:
            got = df.toPandas()
        except Exception as e:  # noqa: BLE001
            run.fail(f"{q}: collect {type(e).__name__}: {str(e)[:300]}")
            return
        problem = compare(got, pd.read_parquet(os.path.join(ORACLE_DIR, f"{q}.parquet")))
        if problem:
            run.fail(f"{q}: {problem}")

    def layer_probes(self, run: Run) -> None:
        pass


def _score(snapshot: str, out: str, scorer: str) -> list[str]:
    return ["score", "--snapshot", snapshot, "--out", out, "--scorer", scorer]


def _last_json(text: str | None) -> dict | None:
    for line in reversed((text or "").splitlines()):
        with contextlib.suppress(ValueError):
            return json.loads(line)
    return None


def make(name: str, work: str, seed: int):
    if name == "video_pipeline":
        return VideoPipeline(work, seed)
    if name == "queries":
        return QueryWorkload()
    raise SystemExit(f"unknown workload {name!r}")

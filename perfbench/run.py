"""Benchmark entry point: one workload, one run, one JSON result line.

    python3 perfbench/run.py --workload video_pipeline --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  The run makes its inputs, starts a
``local[<cores>]`` session, warms it up on a small separate input
(``setup_s`` is process start to here, input generation excluded), then
runs measured passes of the workload until ``--seconds`` have passed (at
least one pass; two when tracing, so that the exact counters can be
compared between passes).  Outputs are checked on the first pass.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` reports the
per-layer metrics from spans around each call into the program (see
``tracer.py``).  Every file the run writes stays under ``.perfbench_work``
(removed at exit) and ``.perfbench_out`` (a record of each run, with its
spans) in the current directory.  The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import workloads  # noqa: E402
from tracer import Tracer  # noqa: E402

MAX_RUN_S = 150     # no new pass starts past this point of the run
STAGES = ("scenecut", "score_motion", "score_aesthetic", "score_ocr",
          "resume_motion", "analyze", "export_flat")
STAGE_FIELDS = ("s", "jobs", "bytes_written", "shuffle_bytes",
                "python_bytes_sent", "core_busy")
PHASE_FIELDS = {
    "build": ("s", "jobs", "stages", "tasks", "result_bytes", "shuffle_bytes",
              "core_busy"),
    "plan": ("s",),
    "exec": ("s", "jobs", "stages", "tasks", "input_bytes", "shuffle_read_bytes",
             "shuffle_write_bytes", "spill_bytes", "cpu_s", "gc_s", "core_busy"),
}
PROBES = {"sources.scan_s": "sources.scan", "scenecut.detect_s": "scenecut.detect",
          "scenecut.split_s": "scenecut.split", "media.sample_s": "media.sample",
          "media.score_s": "media.score"}
#: counters that must repeat exactly between two traced passes
EXACT = ("jobs", "stages", "shuffle_read_bytes", "shuffle_write_bytes",
         "output_bytes", "cached_relations")

#: Wall-clock pass times are printed and recorded but are not end-to-end
#: metrics: on this class of shared 4-core host the same code's pass time
#: spreads 17-39% (quartile distance over median) across runs minutes
#: apart, and a fixed pure-Python loop varies as much on an idle machine.
#: The work a pass makes Spark do is exact and is what the program's
#: changes move; memory and set-up time are steady enough to gate.
END_TO_END = {"setup_s": "s", "peak_rss_mb": "MB", "spark_jobs": "count",
              "write_amp": "bytes/byte"}


def _field_unit(field: str) -> tuple[str, str]:
    if field == "core_busy":
        return "ratio", "higher"
    if field == "s" or field.endswith("_s"):
        return "s", "lower"
    if "bytes" in field:
        return "bytes", "lower"
    return "count", "lower"


def per_layer_units() -> dict[str, tuple[str, str]]:
    """Every per-layer metric, in report order: name -> (unit, better)."""
    names = ["import.s", "session.start_s", "warmup.s"]
    for phase, fields in PHASE_FIELDS.items():
        names += [f"{phase}.{f}" for f in fields]
    names += ["queries.scan_geomean_s", "queries.iterative_geomean_s",
              "cache.leaked_relations", "cache.storage_bytes_peak"]
    names += [f"stage.{s}.{f}" for s in STAGES for f in STAGE_FIELDS]
    names += [*PROBES, "pipeline.write_s", "trace.wall_s", "trace.overhead_s"]
    units = {n: _field_unit(n.rsplit(".", 1)[1]) for n in names}
    units["pipeline.clips_per_s"] = ("1/s", "higher")
    return units


def configure_env(work: str) -> int:
    """Environment the session inherits; must run before pyspark starts."""
    cores = len(os.sched_getaffinity(0))
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    path = os.environ.get("PYTHONPATH", "")
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_DRIVER_MEM="2g",
        MALLOC_ARENA_MAX="2",  # fewer glibc arenas: a steadier JVM RSS
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        TMPDIR=os.path.join(work, "tmp"),
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=ROOT + (os.pathsep + path if path else ""),
    )
    sys.path.insert(0, ROOT)
    return cores


def session_conf(work: str) -> dict[str, str]:
    # a fixed initial heap and young generation keep the JVM's peak RSS
    # from following G1's timing-driven resizing (a 15% spread otherwise)
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            "-Djava.net.preferIPv4Stack=true -XX:-UsePerfData -Xms2g -Xmn384m "
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"
        ),
    }


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def summary(xs: list[float]) -> str:
    return f"median {statistics.median(xs):.4g}, max {max(xs):.4g}, n={len(xs)}"


def layer_totals(spans: list[dict], p: int) -> dict[str, dict]:
    """Per layer, summed over the leaf spans of pass ``p``: wall and counters."""
    out: dict[str, dict] = {}
    for s in spans:
        if s.get("pass") != p or "counters" not in s:
            continue
        t = out.setdefault(s["layer"], {"s": 0.0})
        t["s"] += s["end"] - s["start"]
        for k, v in s["counters"].items():
            t[k] = t.get(k, 0) + v
    return out


def layer_metrics(run, tracer, cores: int, setup: dict, passes: int) -> dict:
    m = {n: 0.0 for n in per_layer_units()}
    m.update(setup)
    per_pass = [layer_totals(tracer.spans, p) for p in range(passes)]
    first = per_pass[0]

    def busy(t: dict) -> float:
        return t["run_ms"] / 1000.0 / (t["s"] * cores) if t.get("s") else 0.0

    def med_s(layer: str) -> float:
        return statistics.median(pp.get(layer, {}).get("s", 0.0) for pp in per_pass)

    for phase, fields in PHASE_FIELDS.items():
        t = first.get(phase)
        if not t:
            continue
        for f in fields:
            m[f"{phase}.{f}"] = {
                "s": med_s(phase), "core_busy": busy(t),
                "shuffle_bytes": t["shuffle_write_bytes"],
                "cpu_s": t["cpu_ns"] / 1e9, "gc_s": t["gc_ms"] / 1e3,
            }.get(f, t.get(f, 0))
    for st in STAGES:
        t = first.get(f"stage.{st}")
        if not t:
            continue
        m[f"stage.{st}.s"] = med_s(f"stage.{st}")
        m[f"stage.{st}.jobs"] = t["jobs"]
        m[f"stage.{st}.bytes_written"] = t["output_bytes"]
        m[f"stage.{st}.shuffle_bytes"] = t["shuffle_write_bytes"]
        m[f"stage.{st}.python_bytes_sent"] = t["python_bytes_sent"]
        m[f"stage.{st}.core_busy"] = busy(t)
    probes = layer_totals(tracer.spans, -1)
    for name, layer in PROBES.items():
        m[name] = probes.get(layer, {}).get("s", 0.0)
    if "pipeline.write" in probes:
        m["pipeline.write_s"] = probes["pipeline.write"]["s"] - probes["pipeline.noop"]["s"]
    for group, names in (("scan", workloads.QUERY_SCAN),
                         ("iterative", workloads.QUERY_ITERATIVE)):
        times = [statistics.median(run.op_times[q]) for q in names if q in run.op_times]
        if times:
            m[f"queries.{group}_geomean_s"] = geomean(times)
    m["cache.leaked_relations"] = sum(run.leaked[: len(run.leaked) // passes])
    m["cache.storage_bytes_peak"] = max(run.storage_bytes, default=0)
    m["trace.wall_s"] = statistics.median(run.pass_times)
    m["trace.overhead_s"] = tracer.overhead_s / passes
    return m


def counts_repeat(run, tracer, passes: int) -> bool:
    """True when the exact counters of every traced pass equal pass 0's."""
    def key(p: int) -> list:
        leafs = [(s["layer"], *(s["counters"][k] for k in EXACT))
                 for s in tracer.spans if s.get("pass") == p and "counters" in s]
        n = len(run.leaked) // passes
        return [leafs, run.leaked[p * n:(p + 1) * n]]

    base = key(0)
    return all(key(p) == base for p in range(1, passes))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    cwd = os.getcwd()
    work = os.path.join(cwd, ".perfbench_work")
    outdir = os.path.join(cwd, ".perfbench_out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(outdir, exist_ok=True)
    cores = configure_env(work)
    try:
        return measure(args, work, outdir, cores)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def host_loop_s() -> float:
    """Time of a fixed pure-Python loop: recorded beside each result, so
    that a slow run can be told apart from a slow host."""
    t = time.perf_counter()
    n = 0
    for i in range(2_000_000):
        n += i
    return time.perf_counter() - t


def measure(args, work: str, outdir: str, cores: int) -> int:
    from lvm_datapipe_spark.session import get_spark

    wl = workloads.make(args.workload, work, args.seed)
    wl.import_layers()
    import_s = time.perf_counter() - T0
    info = {"workload": args.workload, "seed": args.seed, "cores": cores,
            "import_s": import_s}
    t = time.perf_counter()
    info.update(wl.prepare())
    info["prepare_s"] = time.perf_counter() - t

    t = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=session_conf(work))
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t
    t = time.perf_counter()
    warm = wl.warmup(spark)
    warmup_s = time.perf_counter() - t
    gateway = spark.sparkContext._gateway
    setup_s = time.perf_counter() - T0 - info["prepare_s"]
    info.update(session_s=session_s, warmup_s=warmup_s, warmup_ops=warm)

    tracer = Tracer(spark, enabled=bool(args.trace), cores=cores)
    run = workloads.Run(spark, tracer)
    min_passes = 2 if args.trace else 1
    start = time.perf_counter()
    p = 0
    try:
        while p < min_passes or time.perf_counter() - start < args.seconds:
            if p and time.perf_counter() - T0 + max(run.pass_times) > MAX_RUN_S:
                break
            tracer.attrs = {"pass": p}
            wl.run_pass(run, p, check=(p == 0))
            p += 1
        if args.trace:
            tracer.attrs = {"pass": -1}
            wl.layer_probes(run)
        info["rss_driver_mb"] = vm_hwm_mb("self")
        info["rss_jvm_mb"] = vm_hwm_mb(gateway.proc.pid)
        peak_rss_mb = info["rss_driver_mb"] + info["rss_jvm_mb"]
        counts = tracer.work_counts(0)
    finally:
        spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
    info["host_loop_s"] = host_loop_s()

    op_medians = [statistics.median(v) for v in run.op_times.values()]
    wall_s = statistics.median(run.pass_times)
    # bytes Spark wrote (output files and shuffle files) per input byte
    write_amp = (counts["output_bytes"] + counts["shuffle_write_bytes"]) / info["input_bytes"]
    if args.trace:
        setup = {"import.s": import_s, "session.start_s": session_s,
                 "warmup.s": warmup_s}
        metrics = layer_metrics(run, tracer, cores, setup, p)
        if not counts_repeat(run, tracer, p):
            run.fail("trace: exact counters differ between traced passes")
        units = {k: u for k, (u, _) in per_layer_units().items()}
    else:
        metrics = {"setup_s": setup_s, "peak_rss_mb": peak_rss_mb,
                   "spark_jobs": counts["jobs"], "write_amp": write_amp}
        units = END_TO_END
    info.update(wall_s=wall_s, op_geomean_s=geomean(op_medians), write_amp=write_amp)
    if "clips" in run.info:
        info.update(clips=run.info["clips"], clips_per_s=run.info["clips"] / wall_s)
        if args.trace:
            metrics["pipeline.clips_per_s"] = info["clips_per_s"]
    failed = min(len(run.failures), run.attempted)
    info.update(passes=p, attempted=run.attempted, failures=run.failures,
                fail_rate=failed / max(run.attempted, 1),
                pass_times=run.pass_times, op_times=run.op_times,
                leaked_relations=run.leaked, metrics=metrics)
    record = os.path.join(outdir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(record, "w") as f:
        json.dump(info, f, indent=1, default=str)
    if args.trace:
        tracer.write(record.replace(".json", ".spans.json"))

    shown = {**metrics, "fail_rate": info["fail_rate"]}
    for k in ("wall_s", "op_geomean_s", "clips_per_s", "clips", "input_bytes"):
        if k in info:
            shown[k] = info[k]
    all_ops = [t for ts in run.op_times.values() for t in ts]
    print(f"# {args.workload} seed={args.seed} trace={args.trace} passes={p}: "
          f"pass s {summary(run.pass_times)}; op s {summary(all_ops)}")
    for f_ in run.failures:
        print(f"# FAIL {f_}")
    if not args.trace:
        units_shown = {**units, "wall_s": "s", "op_geomean_s": "s", "clips_per_s": "1/s",
                       "input_bytes": "bytes"}
        print("# " + ", ".join(f"{k}={v:.6g}" + (f" {units_shown[k]}" if k in units_shown else "")
                               for k, v in shown.items()))
    print(json.dumps({
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

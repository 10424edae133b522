"""Compare two BENCH_r*.json files and flag per-query regressions.

Automates the round-over-round bench discipline (VERDICT r4 item 6: "no
query >1.5x its prior time"): prints a per-query table of old vs new with
the ratio, and exits nonzero when any shared query regresses past the
threshold — so a bench regression fails loudly in CI/driver runs instead
of hiding in a total that other queries' improvements offset.

Also gates the full-surface census (VERDICT r7 item 7): QUERY_TIMES_r*.json
files ({"times": {...}}) load transparently, so
``python tools/bench_compare.py QUERY_TIMES_r7.json QUERY_TIMES_r8.json 2.0``
fails when any query jumps past 2x its prior-round census time.  Deliberate
re-points are excluded with ``--allow name1,name2`` — the allowlist is part
of the command line the round's BENCH_NOTES entry records, so every census
exemption is documented where the gate output lives.

Usage: python tools/bench_compare.py OLD.json NEW.json [threshold=1.5]
           [--allow q1,q2,...] [--use-repoints]

``--use-repoints`` consults the NEW file's ``repoints`` map (published by
bench.py): a query whose plan was deliberately replaced (e.g.
dedup_embedding_cosine's r5 brute-force→LSH re-point) is compared against
the re-point plan's debut row whenever the old file's row predates it —
so "2x the r1 slot" readings against a since-replaced plan stop flagging
the scale-correct design.  Inert for old files at or after the re-point.
"""

from __future__ import annotations

import json
import sys


def load(path: str) -> dict:
    """Accept either bench.py's raw one-line JSON or the driver's BENCH_r
    wrapper ({"parsed": {...}, "tail": ...})."""
    with open(path) as f:
        text = f.read()
    try:
        d = json.loads(text)
        if "queries" in d:
            return d
        if "queries" in d.get("parsed", {}):
            return d["parsed"]
        if "times" in d:
            # census shape (tools/census.py --times); ERR strings become
            # absent so a query that started erroring shows as GONE
            q = {k: v for k, v in d["times"].items()
                 if isinstance(v, (int, float))}
            return {"queries": q, "value": round(sum(q.values()), 2)}
    except json.JSONDecodeError:
        pass
    for line in text.splitlines():
        line = line.strip()
        if line.startswith("{"):
            try:
                d = json.loads(line)
            except json.JSONDecodeError:
                continue
            if "queries" in d:
                return d
    raise SystemExit(f"no bench JSON with 'queries' in {path}")


def compare(
    old: dict,
    new: dict,
    threshold: float,
    allow: set[str] | None = None,
    use_repoints: bool = False,
) -> tuple[list, list]:
    rows, regressions = [], []
    allow = allow or set()
    oq, nq = dict(old["queries"]), new["queries"]
    if use_repoints:
        # Deliberate plan re-points (bench.py REPOINTS, published in the
        # new file): when the OLD row predates the re-point (i.e. is
        # SMALLER than the re-point plan's debut time — it measured the
        # since-replaced plan), the re-point row is the operative
        # baseline.  Inert for old files at or after the re-point round.
        for name, rp in (new.get("repoints") or {}).items():
            base = rp.get("baseline_sec")
            if (
                base
                and name in oq
                and isinstance(oq[name], (int, float))
                and oq[name] < base
            ):
                oq[name] = base
    for name in sorted(set(oq) | set(nq)):
        if name in allow:
            rows.append((name, oq.get(name), nq.get(name), None))
            continue
        a, b = oq.get(name), nq.get(name)
        if a is not None and b is None:
            # a query that STOPPED running is the worst regression there
            # is (ratio → ∞) — it must fail the gate, not dodge it
            rows.append((name, a, b, float("inf")))
            regressions.append((name, a, b, float("inf")))
            continue
        if a is None:
            rows.append((name, a, b, None))  # new query: informational
            continue
        ratio = b / a if a > 0 else float("inf")
        rows.append((name, a, b, ratio))
        if ratio > threshold:
            regressions.append((name, a, b, ratio))
    return rows, regressions


def main(argv: list[str]) -> int:
    allow: set[str] = set()
    if "--allow" in argv:
        i = argv.index("--allow")
        allow = set(argv[i + 1].split(","))
        del argv[i : i + 2]
    use_repoints = "--use-repoints" in argv
    if use_repoints:
        argv.remove("--use-repoints")
    if len(argv) < 2:
        print(__doc__)
        return 2
    threshold = float(argv[2]) if len(argv) > 2 else 1.5
    old, new = load(argv[0]), load(argv[1])
    rows, regressions = compare(old, new, threshold, allow, use_repoints)
    if use_repoints and new.get("repoints"):
        names = ", ".join(sorted(new["repoints"]))
        print(f"re-pointed baselines applied where older: {names}")
    if allow:
        print(f"allowlisted (not gated): {', '.join(sorted(allow))}")
    print(f"{'query':35s} {'old':>8s} {'new':>8s} {'ratio':>7s}")
    for name, a, b, r in rows:
        fa = f"{a:.3f}" if a is not None else "-"
        fb = f"{b:.3f}" if b is not None else "-"
        if r == float("inf") and b is None:
            fr = "GONE"
        elif r is not None:
            fr = f"{r:.2f}x"
        elif a is not None and name in allow:
            fr = "allow"
        else:
            fr = "new"
        print(f"{name:35s} {fa:>8s} {fb:>8s} {fr:>7s}")
    ov, nv = old.get("value"), new.get("value")
    if ov and nv:
        print(
            f"total: {ov:.2f} -> {nv:.2f} ({nv / ov:.2f}x), "
            f"threshold {threshold}x"
        )
    else:
        print(f"total: {ov} -> {nv}, threshold {threshold}x")
    if regressions:
        print(f"REGRESSIONS ({len(regressions)}):")
        for name, a, b, r in regressions:
            fb = f"{b:.3f}" if b is not None else "GONE"
            fr = f"{r:.2f}x" if r != float("inf") else "infx"
            print(f"  {name}: {a:.3f} -> {fb} ({fr})")
        return 1
    print("no per-query regression")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

"""Collects sets of benchmark runs and compares them.

  python3 perfbench/compare.py collect OUT.jsonl [--workloads W,..] [--seeds 1-10]
                                                 [--seconds S] [--trace 0|1]
      Runs perfbench/run.py once per workload and seed, alternating workloads,
      and appends one JSON line per run: workload, seed, exit code, the
      diagnostics line ("run") and the result line ("result").

  python3 perfbench/compare.py spread SET.jsonl
      For each workload and end-to-end metric: median, quartiles and the
      quartile spread as a share of the median, against the metric's bound in
      BENCHMARK.json (ok below a third of the bound).

  python3 perfbench/compare.py baseline SET.jsonl [SET.jsonl ...]
      Prints, as JSON, the median and quartiles of every workload x metric in
      the sets (untraced and traced runs alike): the form of baseline.json.

  python3 perfbench/compare.py compare BASE.jsonl CHANGE.jsonl
      For each workload x metric row: each side's median and quartiles and a
      verdict. A side wins a pair (same workload and seed) when its value is
      better; a change is "better" or "worse" when it wins at least 9/10 of the
      pairs and the medians differ by more than the base's quartile spread.
      Otherwise it is "same" when its median is within the metric's bound of
      the base median and the base's own spread is within the bound, and
      "unresolved" when not. Runs whose correctness checks failed are flagged.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def bench():
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def seeds_of(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def collect(a):
    b = bench()
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in b["workloads"]]
    seconds = a.seconds or b["run_seconds"]
    with open(a.out, "a") as out:
        for seed in seeds_of(a.seeds):
            for w in workloads:
                t0 = time.time()
                r = subprocess.run(
                    [sys.executable, str(HERE / "run.py"), "--workload", w, "--seed", str(seed),
                     "--seconds", str(seconds), "--trace", a.trace],
                    cwd=ROOT, capture_output=True, text=True)
                lines = [l for l in r.stdout.splitlines() if l.startswith("{")]
                rec = {"workload": w, "seed": seed, "trace": int(a.trace), "exit": r.returncode,
                       "wall_s": round(time.time() - t0, 1),
                       "run": json.loads(lines[-2])["run"] if len(lines) >= 2 else None,
                       "result": json.loads(lines[-1]) if lines else None}
                out.write(json.dumps(rec) + "\n")
                out.flush()
                res = rec["result"] or {}
                print(f"{w} seed={seed} exit={r.returncode} wall={rec['wall_s']}s "
                      f"correct={res.get('correct')}", file=sys.stderr)


def load(path):
    recs = [json.loads(l) for l in Path(path).read_text().splitlines() if l.strip()]
    flagged = [r for r in recs if not (r["result"] and r["result"]["correct"] and r["exit"] == 0)]
    for r in flagged:
        print(f"FLAG {path}: {r['workload']} seed={r['seed']} failed its checks or did not finish "
              f"(exit {r['exit']})")
    return [r for r in recs if r not in flagged]


def values(recs, workload, metric):
    return {r["seed"]: r["result"]["metrics"][metric]["value"]
            for r in recs if r["workload"] == workload and metric in r["result"]["metrics"]}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def rows(recs):
    metrics = {m["name"]: m for m in bench()["end_to_end"] + bench()["per_layer"]}
    for w in sorted({r["workload"] for r in recs}):
        names = sorted({m for r in recs if r["workload"] == w for m in r["result"]["metrics"]})
        for m in names:
            yield w, m, metrics.get(m, {"better": "lower", "bound": None, "unit": "?"})


def spread(a):
    recs = load(a.set)
    print(f"{'workload':16} {'metric':40} {'n':>3} {'median':>14} {'q1':>14} {'q3':>14} "
          f"{'spread':>8} {'bound':>6}  seeds={sorted({r['seed'] for r in recs})}")
    for w, m, spec in rows(recs):
        xs = list(values(recs, w, m).values())
        q1, med, q3 = quartiles(xs)
        sp = (q3 - q1) / abs(med) if med else float("inf")
        bound = spec.get("bound")
        tag = "" if bound is None else ("ok" if sp < bound / 3 else ("wide" if sp <= bound else "OVER"))
        print(f"{w:16} {m:40} {len(xs):3} {med:14.6g} {q1:14.6g} {q3:14.6g} {sp:8.4f} "
              f"{bound if bound is not None else '-':>6}  {tag}")


def baseline(a):
    recs = [r for path in a.sets for r in load(path)]
    out = {"commit": sorted({r["run"]["host"]["git_commit"] for r in recs}),
           "seeds": sorted({r["seed"] for r in recs}), "workloads": {}}
    for w, m, spec in rows(recs):
        q1, med, q3 = quartiles(list(values(recs, w, m).values()))
        out["workloads"].setdefault(w, {})[m] = {
            "median": med, "q1": q1, "q3": q3, "unit": spec.get("unit", "?"),
            "runs": len(values(recs, w, m))}
    print(json.dumps(out, indent=1, sort_keys=True))


def compare(a):
    base, change = load(a.base), load(a.change)
    print(f"seeds: base={sorted({r['seed'] for r in base})} change={sorted({r['seed'] for r in change})}")
    print(f"{'workload':16} {'metric':40} {'base median [q1, q3]':>40} "
          f"{'change median [q1, q3]':>40} {'wins':>6}  verdict")
    for w, m, spec in rows(base):
        bv, cv = values(base, w, m), values(change, w, m)
        if not bv or not cv:
            continue
        lower = spec.get("better", "lower") == "lower"
        better = (lambda c, b: c < b) if lower else (lambda c, b: c > b)
        pairs = [(bv[s], cv[s]) for s in sorted(set(bv) & set(cv))]
        wins = sum(better(c, b) for b, c in pairs)
        losses = sum(better(b, c) for b, c in pairs)
        bq1, bmed, bq3 = quartiles(list(bv.values()))
        cq1, cmed, cq3 = quartiles(list(cv.values()))
        bound = spec.get("bound")
        resolved = abs(cmed - bmed) > (bq3 - bq1)
        if pairs and wins >= 0.9 * len(pairs) and resolved:
            verdict = "better"
        elif pairs and losses >= 0.9 * len(pairs) and resolved:
            verdict = "worse"
        elif bound is None:
            verdict = "unresolved"
        else:
            worse_by = (cmed - bmed) / abs(bmed) if lower else (bmed - cmed) / abs(bmed)
            all_better = all(better(c, b) for c in cv.values() for b in bv.values())
            if worse_by > bound:
                verdict = "worse (beyond bound)"
            elif (bq3 - bq1) / abs(bmed) > bound and not all_better:
                verdict = "unresolved"
            else:
                verdict = "same"
        print(f"{w:16} {m:40} {bmed:14.6g} [{bq1:10.4g}, {bq3:10.4g}] "
              f"{cmed:14.6g} [{cq1:10.4g}, {cq3:10.4g}] {wins:2}/{len(pairs):<3}  {verdict}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    c = sub.add_parser("collect")
    c.add_argument("out")
    c.add_argument("--workloads", default="")
    c.add_argument("--seeds", default="1-10")
    c.add_argument("--seconds", type=int, default=0)
    c.add_argument("--trace", default="0", choices=["0", "1"])
    s = sub.add_parser("spread")
    s.add_argument("set")
    b = sub.add_parser("baseline")
    b.add_argument("sets", nargs="+")
    p = sub.add_parser("compare")
    p.add_argument("base")
    p.add_argument("change")
    a = ap.parse_args()
    {"collect": collect, "spread": spread, "baseline": baseline, "compare": compare}[a.cmd](a)


if __name__ == "__main__":
    main()

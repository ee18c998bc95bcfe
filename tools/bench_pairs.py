#!/usr/bin/env python3
"""Paired benchmark runs of two checkouts, with the verdicts they support.

Runs ``pipebench/run.py`` from a parent checkout and a change checkout in
alternating order (parent first on even pairs, change first on odd ones),
one pair per seed and workload, and prints for every metric and workload
each side's median and quartiles, the change's wins, and two verdicts:

* ``gain``: the change wins at least nine tenths of the pairs (ties count
  for neither) and the medians differ by more than the parent's
  interquartile range, in the better direction;
* ``bound`` (end-to-end metrics only): the change's median against the
  parent's and the ``BENCHMARK.json`` bound — ``ok``, ``REGRESSION``, or
  ``unresolved`` when either side's spread (IQR / median) is wider than the
  bound and not every change run reads better than every parent run.

Every run is appended to a JSON-lines file as it finishes, so an
interrupted invocation keeps its finished pairs; ``--report-only`` reprints
the report from that file.

    python3 tools/bench_pairs.py --parent ../parent --change . \\
        --workload etl_batch --seeds 301-310 --out pairs.jsonl
"""

import argparse
import json
import os
import statistics
import subprocess
import sys


def parse_seeds(spec):
    seeds = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def run_once(checkout, workload, seed, seconds, trace):
    cmd = [sys.executable, "pipebench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = [l for l in proc.stdout.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-2000:])
        return {"correct": False, "attempted": 1, "failed": 1, "metrics": {},
                "returncode": proc.returncode}
    res = json.loads(lines[-1])
    # "input_sha256 <workload> seed=<n> <hash> bytes=<n> records=<n>"
    for l in proc.stdout.splitlines():
        if l.startswith("input_sha256 "):
            res["input"] = dict(kv.split("=", 1) for kv in l.split()[2:] if "=" in kv)
    return res


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def load_directions(benchmark_json):
    with open(benchmark_json) as f:
        bench = json.load(f)
    better, bound = {}, {}
    for m in bench["end_to_end"]:
        better[m["name"]] = m["better"]
        bound[m["name"]] = m["bound"]
    for m in bench.get("per_layer", []):
        better[m["name"]] = m["better"]
    return better, bound


def report(records, better, bound):
    by_key = {}
    for r in records:
        by_key.setdefault((r["workload"], r["seed"]), {})[r["side"]] = r["result"]
    workloads = sorted({w for w, _ in by_key})
    for w in workloads:
        pairs = [v for (wl, _), v in sorted(by_key.items())
                 if wl == w and "parent" in v and "change" in v]
        if not pairs:
            continue
        print(f"\n== {w}: {len(pairs)} pairs ==")
        for side in ("parent", "change"):
            att = sum(p[side].get("attempted", 0) for p in pairs)
            fail = sum(p[side].get("failed", 0) for p in pairs)
            ok = sum(1 for p in pairs if p[side].get("correct"))
            print(f"{side:>6}: correct {ok}/{len(pairs)} runs, failed ops {fail}/{att}")
        names = [n for n in pairs[0]["parent"].get("metrics", {}) if n in better]
        print(f"{'metric':<34}{'parent med [q1,q3]':>34}{'change med [q1,q3]':>34}"
              f"{'delta':>9}{'wins':>7}  gain   bound")
        for n in names:
            ps = [p["parent"]["metrics"][n]["value"] for p in pairs
                  if n in p["parent"].get("metrics", {}) and n in p["change"].get("metrics", {})]
            cs = [p["change"]["metrics"][n]["value"] for p in pairs
                  if n in p["parent"].get("metrics", {}) and n in p["change"].get("metrics", {})]
            if not ps:
                continue
            sign = -1.0 if better[n] == "lower" else 1.0
            wins = sum(1 for a, b in zip(ps, cs) if sign * (b - a) > 0)
            pq, cq = quartiles(ps), quartiles(cs)
            diff = sign * (cq[1] - pq[1])
            delta = (cq[1] - pq[1]) / pq[1] if pq[1] else 0.0
            gain = wins >= 0.9 * len(ps) and diff > (pq[2] - pq[0])
            verdict = ""
            if n in bound:
                worse = -sign * delta
                spread = max((q[2] - q[0]) / q[1] if q[1] else 0.0 for q in (pq, cq))
                all_better = all(sign * (c - p) > 0 for c in cs for p in ps)
                if worse > bound[n]:
                    verdict = f"REGRESSION (>{bound[n]:.2f})"
                elif spread > bound[n] and not all_better:
                    verdict = f"unresolved (spread {spread:.2f} > {bound[n]:.2f})"
                else:
                    verdict = f"ok (bound {bound[n]:.2f})"
            fmt = lambda q: f"{q[1]:.4g} [{q[0]:.4g},{q[2]:.4g}]"
            print(f"{n:<34}{fmt(pq):>34}{fmt(cq):>34}{delta:>+9.1%}"
                  f"{wins:>4}/{len(ps):<2}  {'yes' if gain else 'no ':<5}  {verdict}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True, help="parent checkout")
    ap.add_argument("--change", required=True, help="change checkout")
    ap.add_argument("--workload", action="append", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 301-310 or 7,11,301-305")
    ap.add_argument("--seconds", type=float, default=None,
                    help="run length (default: BENCHMARK.json run_seconds)")
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    ap.add_argument("--out", required=True, help="JSON-lines file of runs (appended)")
    ap.add_argument("--report-only", action="store_true")
    args = ap.parse_args()

    bench_json = os.path.join(args.change, "BENCHMARK.json")
    better, bound = load_directions(bench_json)
    seconds = args.seconds
    if seconds is None:
        with open(bench_json) as f:
            seconds = json.load(f)["run_seconds"]

    if not args.report_only:
        sides = {"parent": os.path.abspath(args.parent),
                 "change": os.path.abspath(args.change)}
        for i, seed in enumerate(parse_seeds(args.seeds)):
            for w in args.workload:
                order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
                for side in order:
                    res = run_once(sides[side], w, seed, seconds, args.trace)
                    rec = {"workload": w, "seed": seed, "side": side, "first": order[0],
                           "trace": args.trace, "result": res}
                    with open(args.out, "a") as f:
                        f.write(json.dumps(rec) + "\n")
                    job = res.get("metrics", {}).get("job_s", {}).get("value")
                    print(f"{w} seed {seed} {side}: correct={res.get('correct')} "
                          f"job_s={job}", file=sys.stderr, flush=True)

    with open(args.out) as f:
        records = [json.loads(l) for l in f if l.strip()]
    report([r for r in records if r.get("trace", 0) == args.trace], better, bound)


if __name__ == "__main__":
    main()

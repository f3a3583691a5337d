#!/usr/bin/env python3
"""Alternating parent/change pairs of the benchmark, with the pair verdict.

    python3 scripts/bench_pairs.py --parent <rev> [--workloads serve_small,curate_batch]
        [--pairs 10] [--seed0 701] [--seconds 10] [--trace 0] [--claim p50_ms]
        [--out pairs.json]

Run from the root of the repository. The parent side is the committed
tree of `<rev>`, exported with `git archive` into a fresh directory
under the system temp dir (or an existing checkout given with
`--parent-dir`); the change side is this working tree. Each pair runs
`perfbench/run.py` once on each side with the same seed, one run at a
time, the side that goes first alternating from pair to pair. Nothing
under `perfbench/` is edited.

Per workload it prints, for every end-to-end metric of BENCHMARK.json,
each side's median and quartiles and how many pairs the change won; for
the claimed metric (`--claim`) the verdict of the gain rule: the change
wins at least 9 of every 10 pairs, and its median is better than the
parent's by more than the parent's interquartile range. It also prints
the median over the runs of each request type's p50 (`p50_ms.<type>`
in the run records under `.bench_out/records/`).
"""

import argparse
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def export_rev(rev):
    """A fresh copy of the committed tree of `rev` in a temp directory."""
    d = tempfile.mkdtemp(prefix="bench-parent-")
    archive = subprocess.run(["git", "-C", ROOT, "archive", rev], check=True,
                             capture_output=True).stdout
    subprocess.run(["tar", "-x", "-C", d], input=archive, check=True)
    return d


def run_once(tree, workload, seed, seconds, trace):
    """One perfbench run in `tree`: its result line plus its record."""
    records = os.path.join(tree, ".bench_out", "records")
    before = set(glob.glob(os.path.join(records, "*.json")))
    out = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                          "--seed", str(seed), "--seconds", str(seconds),
                          "--trace", str(trace)],
                         cwd=tree, capture_output=True, text=True)
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-3000:])
        raise RuntimeError("%s seed %d failed in %s" % (workload, seed, tree))
    line = json.loads(out.stdout.strip().splitlines()[-1])
    new = sorted(set(glob.glob(os.path.join(records, "%s-s%d-t%d-*.json"
                                            % (workload, seed, trace)))) - before)
    record = json.load(open(new[-1])) if new else {}
    return {"line": line, "record": record}


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def better(a, b, direction):
    """True when `a` is better than `b`."""
    return a < b if direction == "lower" else a > b


def report(workload, pairs, metrics, claim):
    print("== %s: %d pairs" % (workload, len(pairs)))
    verdicts = {}
    for m in metrics:
        name, direction = m["name"], m["better"]
        par = [p["parent"]["line"]["metrics"][name]["value"] for p in pairs]
        chg = [p["change"]["line"]["metrics"][name]["value"] for p in pairs]
        if not any(par) and not any(chg):
            continue  # a counter this workload never moves (all zero on both sides)
        pq, cq = quartiles(par), quartiles(chg)
        wins = sum(better(c, p, direction) for p, c in zip(par, chg))
        delta = (cq[1] - pq[1]) / pq[1] * 100 if pq[1] else float("nan")
        print("  %-22s parent %.4g [%.4g, %.4g]  change %.4g [%.4g, %.4g]  "
              "%+.1f%%  change won %d/%d" % (name, pq[1], pq[0], pq[2], cq[1], cq[0], cq[2],
                                             delta, wins, len(pairs)))
        if name == claim:
            iqr = pq[2] - pq[0]
            beyond = better(cq[1], pq[1], direction) and abs(cq[1] - pq[1]) > iqr
            ok = wins * 10 >= 9 * len(pairs) and beyond
            verdicts[name] = ok
            print("  claim %s: wins %d/%d (need >= 9/10), median gap %.4g vs parent IQR %.4g "
                  "-> %s" % (name, wins, len(pairs), abs(cq[1] - pq[1]), iqr,
                             "MET" if ok else "NOT MET"))
    # the digests compare only when both sides ran the same requests
    # (a timed window runs more requests on the faster side)
    ops = [p for p in pairs if p["parent"]["record"].get("digest_ops") ==
           p["change"]["record"].get("digest_ops")]
    same = sum(p["parent"]["record"].get("result_digest") ==
               p["change"]["record"].get("result_digest") for p in ops)
    print("  digest_ops equal in %d/%d pairs; result_digest equal in %d of those"
          % (len(ops), len(pairs), same))
    types = sorted({k[len("p50_ms."):] for p in pairs for side in ("parent", "change")
                    for k in p[side]["record"].get("notes", {})
                    if k.startswith("p50_ms.") and k != "p50_ms.pooled"})
    for t in types:
        par = [p["parent"]["record"]["notes"].get("p50_ms." + t) for p in pairs]
        chg = [p["change"]["record"]["notes"].get("p50_ms." + t) for p in pairs]
        par, chg = [x for x in par if x is not None], [x for x in chg if x is not None]
        if par and chg:
            print("  p50_ms.%-10s parent %.1f  change %.1f  (%+.1f%%)"
                  % (t, statistics.median(par), statistics.median(chg),
                     (statistics.median(chg) / statistics.median(par) - 1) * 100))
    return verdicts


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", help="git rev of the parent side")
    ap.add_argument("--parent-dir", help="an existing checkout of the parent side")
    ap.add_argument("--workloads", default="serve_small,curate_batch")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=701)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--claim", default="p50_ms")
    ap.add_argument("--out", help="write every run's result line and record here (JSON)")
    a = ap.parse_args(argv)
    if not (a.parent or a.parent_dir):
        ap.error("give --parent or --parent-dir")
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    metrics = spec["per_layer"] if a.trace else spec["end_to_end"]
    parent = a.parent_dir or export_rev(a.parent)
    results = {}
    try:
        for w in a.workloads.split(","):
            pairs = []
            for i in range(a.pairs):
                seed = a.seed0 + i
                order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
                pair = {"seed": seed}
                for side in order:
                    pair[side] = run_once(parent if side == "parent" else ROOT, w, seed,
                                          a.seconds, a.trace)
                pairs.append(pair)
                print("  pair %d (seed %d) done" % (i + 1, seed), file=sys.stderr)
            results[w] = pairs
            report(w, pairs, metrics, None if a.trace else a.claim)
    finally:
        if a.out:
            with open(a.out, "w") as f:
                json.dump(results, f, indent=1, sort_keys=True)
        if not a.parent_dir:
            shutil.rmtree(parent, ignore_errors=True)


if __name__ == "__main__":
    main(sys.argv[1:])

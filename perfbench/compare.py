#!/usr/bin/env python3
"""Paired A/B comparison of two checkouts on the benchmark.

    # run 10 alternating pairs of A (parent) and B (change) on one workload
    python3 perfbench/compare.py run --a ../parent --b . --workload curate \
        --pairs 10 --out ab-curate
    # verdicts for every end-to-end metric, per workload
    python3 perfbench/compare.py verdict ab-curate

Both checkouts must carry the same perfbench/ (the benchmark is never edited
by the change it judges); `run` refuses otherwise. Each run lasts
BENCHMARK.json's run_seconds, the length its bounds were set for. Pair k
runs seed SEED0 + k on both sides and alternates which side goes first.

Verdict rules:
  * gain: B beats A in at least 9 of 10 pairs (ties count for neither) and
    the medians differ by more than A's interquartile range, with no more
    failed operations than A;
  * per metric: "regression" when B's median is worse than A's by more
    than the metric's bound, "no regression" otherwise, and "unresolved"
    when A's own spread (IQR / median) exceeds the bound, unless every B
    run beats every A run ("better");
  * the share of failed operations is compared on its own line.
"""

import argparse
import hashlib
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
# pair k runs seed SEED0 + k on both sides
SEED0 = 1000


def quartiles(values):
    if len(values) == 1:
        return values[0], values[0], values[0]
    return tuple(statistics.quantiles(values, n=4))


def better(x, y, direction):
    """Whether x is strictly better than y."""
    return x < y if direction == "lower" else x > y


def verdict(a, b, direction, bound):
    """Compare paired samples a[i] (A) and b[i] (B) of one metric."""
    qa, qb = quartiles(a), quartiles(b)
    med_a, med_b = qa[1], qb[1]
    iqr_a = qa[2] - qa[0]
    spread_a = iqr_a / med_a if med_a else float("inf")
    wins = sum(1 for x, y in zip(b, a) if better(x, y, direction))
    losses = sum(1 for x, y in zip(b, a) if better(y, x, direction))
    worse = ((med_b - med_a) if direction == "lower" else (med_a - med_b))
    worse_frac = worse / med_a if med_a else 0.0
    gain = (wins >= 0.9 * len(a) and -worse > iqr_a)
    if spread_a > bound:
        if all(better(x, y, direction) for x in b for y in a):
            status = "better"
        else:
            status = "unresolved"
    elif worse_frac > bound:
        status = "regression"
    else:
        status = "no regression"
    return {
        "a_median": med_a, "a_q1": qa[0], "a_q3": qa[2],
        "b_median": med_b, "b_q1": qb[0], "b_q3": qb[2],
        "a_spread": spread_a, "wins": wins, "losses": losses,
        "pairs": len(a), "worse_frac": worse_frac, "gain": gain,
        "status": status,
    }


def failed_share(lines):
    attempted = sum(l["attempted"] for l in lines)
    return sum(l["failed"] for l in lines) / attempted if attempted else 0.0


def compare(records, metrics):
    """records: dicts with side ('a'|'b'), pair, workload and line (the
    benchmark's result line). metrics: BENCHMARK.json end_to_end."""
    out = {}
    for w in sorted({r["workload"] for r in records}):
        by_pair = {}
        for r in records:
            if r["workload"] == w:
                by_pair.setdefault(r["pair"], {})[r["side"]] = r["line"]
        pairs = [p for p in sorted(by_pair) if len(by_pair[p]) == 2]
        a_lines = [by_pair[p]["a"] for p in pairs]
        b_lines = [by_pair[p]["b"] for p in pairs]
        fa, fb = failed_share(a_lines), failed_share(b_lines)
        rows = {}
        for m in metrics:
            name = m["name"]
            a = [l["metrics"][name]["value"] for l in a_lines]
            b = [l["metrics"][name]["value"] for l in b_lines]
            if not a:
                continue
            v = verdict(a, b, m["better"], m["bound"])
            # a gain does not count when more operations failed
            v["gain"] = v["gain"] and fb <= fa
            rows[name] = v
        out[w] = {"pairs": len(pairs), "failed_share_a": fa,
                  "failed_share_b": fb, "more_failures": fb > fa,
                  "metrics": rows}
    return out


# what building and testing leave inside perfbench/ (see .gitignore)
BUILD_DIRS = {"target", "__pycache__", ".bsp", ".metals", ".bloop"}


def tree_hash(path):
    """Hash of the benchmark's own files under `path`, leaving out build
    output (an sbt project's nested project/project too)."""
    h = hashlib.sha256()
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if d not in BUILD_DIRS and not (
            d == "project" and os.path.basename(root) == "project"))
        for f in sorted(files):
            if f.endswith(".class"):
                continue
            p = os.path.join(root, f)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def run_side(checkout, workload, seed, seconds):
    cmd = [sys.executable, os.path.join(checkout, "perfbench", "run.py"),
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    r = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, text=True)
    if r.returncode != 0:
        raise SystemExit("benchmark failed in %s (exit %d)" % (checkout,
                                                               r.returncode))
    return json.loads(r.stdout.strip().splitlines()[-1])


def cmd_run(args):
    a, b = os.path.abspath(args.a), os.path.abspath(args.b)
    if tree_hash(os.path.join(a, "perfbench")) != tree_hash(os.path.join(b, "perfbench")):
        raise SystemExit("the two checkouts carry different perfbench/ code")
    with open(os.path.join(a, "BENCHMARK.json")) as fh:
        seconds = json.load(fh)["run_seconds"]
    os.makedirs(args.out, exist_ok=True)
    path = os.path.join(args.out, "pairs.jsonl")
    with open(path, "a") as fh:
        for k in range(args.pairs):
            seed = SEED0 + k
            order = [("a", a), ("b", b)] if k % 2 == 0 else [("b", b), ("a", a)]
            for pos, (side, checkout) in enumerate(order):
                line = run_side(checkout, args.workload, seed, seconds)
                rec = {"side": side, "pair": k, "seed": seed, "first": pos == 0,
                       "workload": args.workload, "line": line}
                fh.write(json.dumps(rec) + "\n")
                fh.flush()
                print("pair %d seed %d side %s done" % (k, seed, side),
                      file=sys.stderr)


def cmd_verdict(args):
    with open(args.benchmark) as fh:
        metrics = json.load(fh)["end_to_end"]
    with open(os.path.join(args.dir, "pairs.jsonl")) as fh:
        records = [json.loads(l) for l in fh if l.strip()]
    result = compare(records, metrics)
    if args.json:
        print(json.dumps(result, indent=1))
        return
    for w, res in result.items():
        print("== %s: %d pairs; failed share A %.4f, B %.4f%s" % (
            w, res["pairs"], res["failed_share_a"], res["failed_share_b"],
            "  (B fails more)" if res["more_failures"] else ""))
        for name, v in res["metrics"].items():
            print("  %-14s A %.4g [%.4g, %.4g]  B %.4g [%.4g, %.4g]  "
                  "B wins %d/%d  worse %+.1f%%  %s%s" % (
                      name, v["a_median"], v["a_q1"], v["a_q3"], v["b_median"],
                      v["b_q1"], v["b_q3"], v["wins"], v["pairs"],
                      100 * v["worse_frac"], v["status"],
                      "  GAIN" if v["gain"] else ""))


def main():
    p = argparse.ArgumentParser(description="paired A/B benchmark comparison")
    sub = p.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--a", required=True, help="parent checkout")
    r.add_argument("--b", required=True, help="changed checkout")
    r.add_argument("--workload", required=True)
    r.add_argument("--pairs", type=int, default=10)
    r.add_argument("--out", required=True)
    v = sub.add_parser("verdict")
    v.add_argument("dir")
    v.add_argument("--benchmark", default=os.path.join(os.path.dirname(HERE),
                                                       "BENCHMARK.json"))
    v.add_argument("--json", action="store_true")
    args = p.parse_args()
    cmd_run(args) if args.cmd == "run" else cmd_verdict(args)


if __name__ == "__main__":
    main()

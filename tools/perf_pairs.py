#!/usr/bin/env python3
"""Alternating parent/change runs of the spine benchmark, judged by the gain rule.

Usage (from the repository root):

    python3 tools/perf_pairs.py --workload live_dashboard --seeds 501-510 --seconds 10
        [--trace 0|1] [--parent-rev HEAD~] [--parent-dir DIR] [--log runs.jsonl]
    python3 tools/perf_pairs.py --summarize runs.jsonl

Unpacks the parent revision into DIR with `git archive` (reused when DIR
already holds it; a worktree would write into this repository's `.git`),
then for each seed runs `perfbench/run.py` once in the parent copy and once
in this working tree, alternating which side runs first. Only the JSON
result line of each run is read; nothing under `perfbench/` is edited.

Prints, per metric: each side's median and quartiles, how many pairs the
change won (ties count for neither side), and whether the gain rule holds:
the change wins at least nine tenths of the pairs and the medians differ,
in the better direction, by more than the parent's interquartile range.
`--log` keeps every result line, so `--summarize` can print the table again.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def log(msg):
    print(f"[perf_pairs] {msg}", file=sys.stderr, flush=True)


def seeds_of(text):
    """'501-510' or '3,7,9' → list of ints."""
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def parent_checkout(rev, directory):
    sha = subprocess.run(["git", "rev-parse", rev], cwd=ROOT, check=True,
                         stdout=subprocess.PIPE, text=True).stdout.strip()
    directory = directory or os.path.join(tempfile.gettempdir(), f"perf_pairs-{sha[:12]}")
    stamp = os.path.join(directory, ".perf_pairs_rev")
    if os.path.isfile(stamp) and open(stamp).read().strip() == sha:
        return directory
    if os.path.exists(directory) and os.listdir(directory):
        raise RuntimeError(f"{directory} is not empty and holds no copy of {sha[:12]}")
    os.makedirs(directory, exist_ok=True)
    log(f"unpacking {rev} ({sha[:12]}) into {directory}")
    archive = subprocess.Popen(["git", "archive", sha], cwd=ROOT, stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", directory], stdin=archive.stdout, check=True)
    if archive.wait() != 0:
        raise RuntimeError("git archive failed")
    with open(stamp, "w") as f:
        f.write(sha)
    return directory


def run_once(checkout, workload, seed, seconds, trace):
    """One benchmark run; returns its result object, or None on failure."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                          text=True, timeout=900)
    lines = [l for l in proc.stdout.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or not lines:
        log(f"run failed in {checkout} (seed {seed}, exit {proc.returncode})")
        return None
    return json.loads(lines[-1])


def quartiles(xs):
    """(q1, median, q3), interpolating between order statistics."""
    return statistics.quantiles(xs if len(xs) > 1 else xs * 2, n=4, method="inclusive")


def better_by_metric():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    return {m["name"]: m["better"] for m in spec["end_to_end"] + spec["per_layer"]}


def summarize(records, better):
    pairs = {}
    for r in records:
        pairs.setdefault((r["workload"], r["seed"]), {})[r["side"]] = r["result"]
    by_workload = {}
    for (w, _), p in sorted(pairs.items()):
        if p.get("parent") and p.get("change"):
            by_workload.setdefault(w, []).append((p["parent"], p["change"]))
    for w, ps in by_workload.items():
        n = len(ps)
        ok = {side: sum(1 for pair in ps if pair[i]["correct"]) for i, side in enumerate(("parent", "change"))}
        print(f"== {w}: {n} pairs; correct runs parent {ok['parent']}/{n}, change {ok['change']}/{n}")
        print(f"{'metric':34} {'parent median [q1, q3]':>30} {'change median [q1, q3]':>30}"
              f" {'delta':>8} {'wins':>6}  gain rule")
        for name in ps[0][0]["metrics"]:
            old = [pair[0]["metrics"][name]["value"] for pair in ps]
            new = [pair[1]["metrics"][name]["value"] for pair in ps]
            sign = -1 if better.get(name, "lower") == "lower" else 1
            wins = sum(1 for a, b in zip(old, new) if sign * (b - a) > 0)
            oq1, om, oq3 = quartiles(old)
            nq1, nm, nq3 = quartiles(new)
            holds = wins >= 0.9 * n and sign * (nm - om) > oq3 - oq1
            delta = f"{(nm - om) / om:+.1%}" if om else "n/a"
            print(f"{name:34} {f'{om:.4g} [{oq1:.4g}, {oq3:.4g}]':>30}"
                  f" {f'{nm:.4g} [{nq1:.4g}, {nq3:.4g}]':>30}"
                  f" {delta:>8} {f'{wins}/{n}':>6}  {'holds' if holds else 'no'}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=("ingest_backlog", "live_dashboard", "registry_slice"))
    ap.add_argument("--seeds", default="501-510")
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--parent-rev", default="HEAD~")
    ap.add_argument("--parent-dir")
    ap.add_argument("--log", help="append every result line to this JSONL file")
    ap.add_argument("--summarize", metavar="JSONL", help="print the table of an earlier --log")
    a = ap.parse_args()

    if a.summarize:
        summarize([json.loads(l) for l in open(a.summarize) if l.strip()], better_by_metric())
        return
    if not a.workload:
        ap.error("--workload is required unless --summarize is given")
    sides = {"parent": parent_checkout(a.parent_rev, a.parent_dir), "change": ROOT}
    records = []
    for i, seed in enumerate(seeds_of(a.seeds)):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            res = run_once(sides[side], a.workload, seed, a.seconds, a.trace)
            if res is None:
                continue
            rec = {"workload": a.workload, "seed": seed, "side": side, "trace": a.trace,
                   "result": res}
            records.append(rec)
            if a.log:
                with open(a.log, "a") as f:
                    f.write(json.dumps(rec) + "\n")
            e2e = {k: v["value"] for k, v in res["metrics"].items() if k.startswith("latency")}
            log(f"seed {seed} {side}: correct={res['correct']} {e2e}")
    summarize(records, better_by_metric())


if __name__ == "__main__":
    main()

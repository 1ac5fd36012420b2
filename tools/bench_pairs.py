#!/usr/bin/env python3
"""Paired benchmark runs of a parent commit against a change.

Usage (from the repository root, with SPARK_HOME set):

    python3 tools/bench_pairs.py --parent HEAD~1 [--change <ref>] \
        [--workloads ingest_mixed,index_bulk] [--pairs 10] [--seed0 301] \
        [--seconds 12] [--claim ingest_mixed:throughput_per_s]

The parent (and, when given, the change) is extracted with `git archive` into
a temporary directory; without --change the working tree is the change. For
each workload it runs N pairs of `perfbench/run.py --trace 0`, one seed per
pair (seed0, seed0+1, ...), alternating which side runs first. Per end-to-end
metric of BENCHMARK.json it prints each side's median (q1-q3), how many pairs
the change won, and the change/parent median ratio against the metric's
bound. It then prints each side's median (q1-q3) of the named per-workload
lines that run.py prints as `metric` lines (search_p50_ms, lookup_p50_ms,
commit_p50_ms, turns_per_s, where the workload has them), which show the
request class that moved. For each --claim it prints whether the claim rule
holds: the change wins at least 9/10 of the pairs and its median is better
than the parent's by more than the parent's interquartile range. A run that fails or reports
`correct: false` is printed and left out of the statistics. The temporary
directories are removed on every exit.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN_LIMIT_S = 1200  # one run.py call, including a first build
# named `metric <workload> <name> <value> <unit>` lines summarized per side
NAMED = ("search_p50_ms", "lookup_p50_ms", "commit_p50_ms", "turns_per_s")


def extract(ref, into):
    """The tree of `ref` in a new directory under `into`."""
    dest = tempfile.mkdtemp(prefix="tree-", dir=into)
    archive = subprocess.Popen(["git", "-C", ROOT, "archive", ref], stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", dest], stdin=archive.stdout, check=True)
    archive.stdout.close()
    if archive.wait() != 0:
        raise SystemExit("git archive %s failed" % ref)
    return dest


class Runner:
    """Runs run.py in its own process group, so an interrupt stops it too."""

    def __init__(self):
        self.child = None

    def run(self, tree, workload, seed, seconds):
        cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
               "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
        self.child = subprocess.Popen(cmd, cwd=tree, stdout=subprocess.PIPE,
                                      stderr=subprocess.PIPE, start_new_session=True)
        try:
            out, err = self.child.communicate(timeout=RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            self.stop()
            return None, "timed out"
        finally:
            rc, self.child = self.child.returncode, None
        lines = out.decode(errors="replace").splitlines()
        try:
            result = json.loads(lines[-1])
        except (IndexError, ValueError):
            return None, "exit %s: %s" % (rc, err.decode(errors="replace")[-400:])
        if not result.get("correct") or result.get("failed"):
            return None, "correct=%s failed=%s" % (result.get("correct"), result.get("failed"))
        vals = {k: v["value"] for k, v in result["metrics"].items()}
        for line in lines[:-1]:
            parts = line.split()
            if len(parts) >= 4 and parts[0] == "metric" and parts[2] in NAMED:
                vals["named:" + parts[2]] = float(parts[3])
        return vals, None

    def stop(self):
        if self.child is not None and self.child.poll() is None:
            os.killpg(self.child.pid, signal.SIGKILL)
            self.child.wait()


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def report(workload, metrics, pairs, claims):
    """Print the per-metric summary of one workload's pairs of runs."""
    print("== %s: %d complete pairs" % (workload, len(pairs)))
    for m in metrics:
        name, higher, bound = m["name"], m["better"] == "higher", m["bound"]
        both = [(p[name], c[name]) for p, c in pairs if name in p and name in c]
        if not both:
            continue
        par, chg = [x for x, _ in both], [y for _, y in both]
        pq1, pmed, pq3 = quartiles(par)
        cq1, cmed, cq3 = quartiles(chg)
        wins = sum(1 for x, y in both if (y > x if higher else y < x))
        ratio = cmed / pmed if pmed else float("nan")
        worse = (1 - ratio) if higher else (ratio - 1)
        print("%-18s parent %.4g (%.4g-%.4g)  change %.4g (%.4g-%.4g)  wins %d/%d  "
              "ratio %.3f  bound %.2f %s" % (
                  name, pmed, pq1, pq3, cmed, cq1, cq3, wins, len(both), ratio, bound,
                  "inside" if worse <= bound else "OUTSIDE"))
        if name in claims:
            gap = (cmed - pmed) if higher else (pmed - cmed)
            holds = wins * 10 >= 9 * len(both) and gap > pq3 - pq1
            print("%-18s claim: wins %d/%d (need >= 9/10), median gap %.4g vs parent IQR %.4g: %s"
                  % ("", wins, len(both), gap, pq3 - pq1, "HOLDS" if holds else "does not hold"))
    for name in NAMED:
        key = "named:" + name
        both = [(p[key], c[key]) for p, c in pairs if key in p and key in c]
        if not both:
            continue
        pq1, pmed, pq3 = quartiles([x for x, _ in both])
        cq1, cmed, cq3 = quartiles([y for _, y in both])
        print("%-18s parent %.4g (%.4g-%.4g)  change %.4g (%.4g-%.4g)  ratio %.3f  (named line)"
              % (name, pmed, pq1, pq3, cmed, cq1, cq3, cmed / pmed if pmed else float("nan")))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, help="git ref of the parent commit")
    ap.add_argument("--change", help="git ref of the change (default: the working tree)")
    ap.add_argument("--workloads", default="ingest_mixed,index_bulk")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=301)
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--claim", action="append", default=[],
                    help="workload:metric the change claims to improve (repeatable)")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        metrics = json.load(fh)["end_to_end"]

    tmp = tempfile.mkdtemp(prefix="bench-pairs-")
    runner = Runner()

    def on_signal(signum, _frame):
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGHUP, on_signal)
    try:
        trees = {"parent": extract(a.parent, tmp),
                 "change": extract(a.change, tmp) if a.change else ROOT}
        for workload in a.workloads.split(","):
            pairs = []
            for i in range(a.pairs):
                seed = a.seed0 + i
                order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
                got = {}
                for side in order:
                    vals, err = runner.run(trees[side], workload, seed, a.seconds)
                    print("%s seed %d %s: %s" % (workload, seed, side, err or json.dumps(vals)),
                          flush=True)
                    got[side] = vals
                if got["parent"] and got["change"]:
                    pairs.append((got["parent"], got["change"]))
            claims = {c.split(":", 1)[1] for c in a.claim if c.split(":", 1)[0] == workload}
            report(workload, metrics, pairs, claims)
    finally:
        runner.stop()
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Interleaved A/B pairs of the benchmark: a parent revision against this checkout.

    python3 tools/ab_pairs.py --parent HEAD~1 --workload sql_star --pairs 10 --seed 7401

Exports the parent revision (`git archive`) into a work directory, then runs
`perfbench/run.py --trace 0` once on each side per pair, seed `--seed + i` for pair i,
alternating which side runs first. The change side is this checkout's working tree.
Each run lasts BENCHMARK.json's run_seconds, the same on both sides. Prints every run,
each side's median and quartiles per end-to-end metric over the pairs whose two runs both
succeeded (correct, no failed operation), the share of pairs the change won, and the
paired-run verdict: a gain needs at least 10 pairs run, the change winning at least 9/10
of all pairs run (ties and pairs with a failed run count for neither), the medians
differing by more than the parent's interquartile range, and no more failed or incorrect
runs on the change side than on the parent side. Each metric is also checked against its
bound in BENCHMARK.json. Nothing under perfbench/ is changed.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def git(*args):
    return subprocess.run(["git", *args], cwd=ROOT, check=True, capture_output=True,
                          text=True).stdout.strip()


def export_parent(rev, workdir):
    """The parent's files under workdir/parent; reused while it holds the same commit,
    so its benchmark build and generated inputs are kept between invocations."""
    sha = git("rev-parse", "--verify", f"{rev}^{{commit}}")
    dest = os.path.join(workdir, "parent")
    stamp = os.path.join(dest, ".ab_rev")
    if os.path.exists(stamp):
        with open(stamp) as f:
            if f.read().strip() == sha:
                return dest, sha
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    archive = subprocess.Popen(["git", "archive", sha], cwd=ROOT, stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", dest], stdin=archive.stdout, check=True)
    if archive.wait() != 0:
        sys.exit(f"ab_pairs: git archive {sha} failed")
    with open(stamp, "w") as f:
        f.write(sha + "\n")
    return dest, sha


def run_once(checkout, workload, seed, seconds):
    """The last stdout line of one untraced run, parsed; None when the run failed."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-3000:])
        return None
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def verdict(metric, pairs, runs, extra_change_failures, better, bound):
    """The paired-run verdict for one metric: medians and wins over the `pairs` whose two
    runs both succeeded, the win share over all `runs` pairs run."""
    par = [p["parent"][metric] for p in pairs]
    chg = [p["change"][metric] for p in pairs]
    sign = 1.0 if better == "lower" else -1.0
    wins = sum(1 for a, b in zip(par, chg) if sign * (a - b) > 0)
    pm, cm = statistics.median(par), statistics.median(chg)
    pq1, pq3 = quartiles(par)
    cq1, cq3 = quartiles(chg)
    rel = (cm - pm) / pm if pm else 0.0
    gain = (runs >= 10 and wins >= 0.9 * runs and extra_change_failures <= 0
            and sign * (pm - cm) > 0 and abs(pm - cm) > pq3 - pq1)
    worse = sign * rel > bound
    text = ("gain" if gain else "worse than the parent beyond its bound" if worse
            else "no gain shown, within its bound")
    return {"metric": metric, "parent_median": pm, "parent_q1": pq1, "parent_q3": pq3,
            "change_median": cm, "change_q1": cq1, "change_q3": cq3,
            "change_won": wins, "pairs": runs, "rel_change": rel, "bound": bound,
            "verdict": text}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True, help="parent revision (any git rev)")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, required=True, help="seed of the first pair")
    ap.add_argument("--workdir", default=None,
                    help="where the parent is exported (default: a new temporary dir)")
    ap.add_argument("--json", default=None, help="also write every run and verdict here")
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    workdir = a.workdir or tempfile.mkdtemp(prefix="ab_pairs-")
    os.makedirs(workdir, exist_ok=True)
    parent, sha = export_parent(a.parent, workdir)
    print(f"parent {sha[:12]} at {parent}; change = working tree at {ROOT}")
    print(f"workload {a.workload}, {a.pairs} pairs from seed {a.seed}, {seconds:g} s runs")

    metrics = [(m["name"], m["better"], m["bound"]) for m in bench["end_to_end"]]
    pairs, failures = [], []
    for i in range(a.pairs):
        seed = a.seed + i
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        got = {}
        for side in order:
            res = run_once(parent if side == "parent" else ROOT, a.workload, seed, seconds)
            ok = res is not None and res["correct"] and res["failed"] == 0
            if not ok:
                failures.append({"pair": i, "seed": seed, "side": side, "result": res})
            values = ({m: res["metrics"][m]["value"] for m, _, _ in metrics}
                      if res is not None else None)
            if ok:
                got[side] = values
            shown = ("run failed" if res is None else
                     ", ".join(f"{m} {values[m]:.3f}" for m, _, _ in metrics)
                     + f", correct {res['correct']}, failed {res['failed']}")
            print(f"pair {i + 1} seed {seed} {side:6s} {shown}", flush=True)
        if len(got) == 2:
            pairs.append({"pair": i, "seed": seed, "first": order[0], **got})

    failed = {side: sum(1 for f in failures if f["side"] == side)
              for side in ("parent", "change")}
    print(f"\n{len(pairs)} of {a.pairs} pairs with both runs ok; failed or incorrect runs: "
          f"parent {failed['parent']}, change {failed['change']}")
    extra = failed["change"] - failed["parent"]
    verdicts = ([verdict(m, pairs, a.pairs, extra, better, bound)
                 for m, better, bound in metrics] if pairs else [])
    for v in verdicts:
        print(f"{v['metric']}: parent {v['parent_median']:.3f} "
              f"(IQR {v['parent_q1']:.3f}-{v['parent_q3']:.3f}) -> change "
              f"{v['change_median']:.3f} (IQR {v['change_q1']:.3f}-{v['change_q3']:.3f}), "
              f"{v['rel_change']:+.1%}; change won {v['change_won']}/{v['pairs']}: "
              f"{v['verdict']}")
    if a.json:
        with open(a.json, "w") as f:
            json.dump({"parent": sha, "workload": a.workload, "seconds": seconds,
                       "pairs": pairs, "failures": failures, "verdicts": verdicts}, f,
                      indent=1)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()

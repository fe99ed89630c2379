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

    python3 tools/ab_pairs.py --parent HEAD~1 --bench q_bfs,q_sssp --sf-dir DIR --pairs 10

`--bench NAMES` runs `graft.Bench` instead, with SPARK_GRAFT_SF_DIR=DIR; each side is
built by perfbench/run.py's build step. Each named query runs in a JVM of its own
(SPARK_GRAFT_ONLY=NAME), once per side per pair, the two sides of a query back to back
and alternating which runs first, so a query's time does not depend on which queries
ran before it in a shared JVM. Bench
matches SPARK_GRAFT_ONLY by substring, so a name that would select any query besides
itself (tpch_q1 also selects tpch_q10 to tpch_q19) or none is refused before any run,
against the change's query list. It reports, for each named query, each side's median
and quartiles of the timed seconds in the run's bench_full.json, the pairs the change
won, and whether the change's median is above the parent's upper quartile ("slower than
the parent's IQR").
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


JAVA_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
              "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
              "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def bench_classpath(checkout):
    """graft's runtime classpath for a checkout, from perfbench/run.py's build step."""
    code = "import sys; sys.path.insert(0, 'perfbench'); import run; print(run.build())"
    p = subprocess.run([sys.executable, "-c", code], cwd=checkout, capture_output=True,
                       text=True)
    if p.returncode != 0:
        sys.exit(f"ab_pairs: build failed in {checkout}:\n{p.stderr[-3000:]}")
    return p.stdout.strip().splitlines()[-1]


LIST_QUERIES = """public class ListQueries {
  public static void main(String[] args) {
    scala.jdk.javaapi.CollectionConverters.asJava(graft.SparkEntry.queries().keySet())
        .forEach(System.out::println);
  }
}
"""


def check_names(cp, names):
    """Exit unless each name, as Bench's substring filter reads it, selects only itself."""
    out = tempfile.mkdtemp(prefix="ab_names-")
    try:
        src = os.path.join(out, "ListQueries.java")
        with open(src, "w") as f:
            f.write(LIST_QUERIES)
        p = subprocess.run(["java", "-cp", cp, src], capture_output=True, text=True)
    finally:
        shutil.rmtree(out, ignore_errors=True)
    if p.returncode != 0:
        sys.exit(f"ab_pairs: could not list SparkEntry queries:\n{p.stderr[-2000:]}")
    queries = p.stdout.split()
    for n in names:
        selected = sorted(q for q in queries if n in q)
        if selected != [n]:
            sys.exit(f"ab_pairs: SPARK_GRAFT_ONLY={n} selects {selected or 'no query'}, "
                     f"not {n} alone")


def bench_once(checkout, cp, name, sf_dir, cpus):
    """One query's timed seconds from a graft.Bench run of its own; None on failure."""
    out = tempfile.mkdtemp(prefix="ab_bench-")
    full = os.path.join(out, "bench_full.json")
    env = dict(os.environ, SPARK_GRAFT_ONLY=name, SPARK_GRAFT_SF_DIR=sf_dir,
               SPARK_GRAFT_CPUS=str(cpus), SPARK_GRAFT_BENCH_FULL=full)
    cmd = (["java", "-Xmx6g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={out}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JAVA_OPENS]
           + ["-cp", cp, "graft.Bench"])
    p = subprocess.run(cmd, cwd=out, env=env, capture_output=True, text=True)
    try:
        if p.returncode != 0:
            sys.stderr.write(p.stdout[-2000:] + p.stderr[-2000:])
            return None
        with open(full) as f:
            return json.load(f)["queries"].get(name, -1.0)
    finally:
        shutil.rmtree(out, ignore_errors=True)


def bench_main(a, parent, sha):
    names = [n for n in a.bench.split(",") if n]
    cpus = len(os.sched_getaffinity(0))
    cps = {"parent": bench_classpath(parent), "change": bench_classpath(ROOT)}
    check_names(cps["change"], names)
    print(f"graft.Bench on {', '.join(names)} at {a.sf_dir}, {a.pairs} pairs, "
          f"local[{cpus}], one JVM per query and side", flush=True)
    runs, failures = [], []
    for i in range(a.pairs):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        got = {"parent": {}, "change": {}}
        for n in names:
            for side in order:
                t = bench_once(parent if side == "parent" else ROOT, cps[side], n,
                               a.sf_dir, cpus)
                if t is None or t < 0:
                    failures.append({"pair": i, "side": side, "query": n, "result": t})
                got[side][n] = -1.0 if t is None else t
                shown = "failed" if got[side][n] < 0 else f"{got[side][n]:.3f}"
                print(f"pair {i + 1} {n} {side:6s} {shown}", flush=True)
        runs.append({"pair": i, "first": order[0], **got})
    rows = []
    for n in names:
        ok = [r for r in runs if r["parent"][n] >= 0 and r["change"][n] >= 0]
        if not ok:
            rows.append({"query": n, "verdict": "no pair ran"})
            continue
        par = [r["parent"][n] for r in ok]
        chg = [r["change"][n] for r in ok]
        pq1, pq3 = quartiles(par)
        cq1, cq3 = quartiles(chg)
        pm, cm = statistics.median(par), statistics.median(chg)
        rows.append({"query": n, "pairs": len(ok), "parent_median": pm, "parent_q1": pq1,
                     "parent_q3": pq3, "change_median": cm, "change_q1": cq1,
                     "change_q3": cq3, "change_won": sum(1 for x, y in zip(par, chg) if y < x),
                     "verdict": "slower than the parent's IQR" if cm > pq3
                     else "within or below the parent's IQR"})
    print()
    for r in rows:
        if "pairs" not in r:
            print(f"{r['query']}: {r['verdict']}")
            continue
        print(f"{r['query']}: parent {r['parent_median']:.3f} (IQR {r['parent_q1']:.3f}-"
              f"{r['parent_q3']:.3f}) -> change {r['change_median']:.3f} (IQR "
              f"{r['change_q1']:.3f}-{r['change_q3']:.3f}); change won "
              f"{r['change_won']}/{r['pairs']}: {r['verdict']}")
    if a.json:
        with open(a.json, "w") as f:
            json.dump({"parent": sha, "bench": names, "sf_dir": a.sf_dir, "runs": runs,
                       "failures": failures, "queries": rows}, f, indent=1)
    sys.exit(1 if failures else 0)


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
    ap.add_argument("--workload", help="a BENCHMARK.json workload (perfbench mode)")
    ap.add_argument("--bench", help="comma-separated SparkEntry query names (Bench mode)")
    ap.add_argument("--sf-dir", help="the data directory Bench reads (Bench mode)")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, help="seed of the first pair (perfbench mode)")
    ap.add_argument("--workdir", default=None,
                    help="where the parent is exported (default: a new temporary dir)")
    ap.add_argument("--json", default=None, help="also write every run and verdict here")
    a = ap.parse_args()
    if bool(a.workload) == bool(a.bench):
        ap.error("give exactly one of --workload and --bench")
    if a.bench and not a.sf_dir:
        ap.error("--bench needs --sf-dir")
    if a.workload and a.seed is None:
        ap.error("--workload needs --seed")

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    workdir = a.workdir or tempfile.mkdtemp(prefix="ab_pairs-")
    os.makedirs(workdir, exist_ok=True)
    parent, sha = export_parent(a.parent, workdir)
    print(f"parent {sha[:12]} at {parent}; change = working tree at {ROOT}")
    if a.bench:
        bench_main(a, parent, sha)
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

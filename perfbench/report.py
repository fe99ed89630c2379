#!/usr/bin/env python3
"""Per-layer table of a traced benchmark run.

    python3 perfbench/report.py TRACE.json [RUNS.jsonl ...]

TRACE.json is what `run.py --trace 1` leaves in .bench_build/traces/. Each line of a
RUNS.jsonl file that starts with `{` is the last stdout line of a run of the same
workload and seed: `--trace 0` runs give pass_s, `--trace 1` runs trace.pass_s, and the
tracing overhead is the ratio of their medians. Prints, per timed pass, the self
time of each layer (a span's duration minus the union of its children's intervals),
their sum against the pass's wall time, the time that makes the two differ, and the
same split for each operation.
"""
import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from run import SELF_LAYERS, orphan_jobs, self_times  # noqa: E402


def table(header, rows):
    widths = [max(len(str(r[i])) for r in [header] + rows) for i in range(len(header))]
    fmt = lambda r: "| " + " | ".join(str(c).rjust(w) for c, w in zip(r, widths)) + " |"
    return "\n".join([fmt(header), "|" + "|".join("-" * (w + 2) for w in widths) + "|"]
                     + [fmt(r) for r in rows])


def main():
    trace = json.load(open(sys.argv[1]))
    spans = trace["spans"]
    passes = sorted((s for s in spans if s["kind"] == "pass"), key=lambda s: s["start_ns"])
    print(f"## {trace['workload']} (seed {trace['seed']}, {trace['seconds']} s window, "
          f"local[{trace['cpus']}])\n")

    cols = list(SELF_LAYERS)
    rows = []
    for p in passes:
        own, extra = self_times(spans, p["id"])
        lost, lost_ms = orphan_jobs(spans, p["id"])
        wall = (p["end_ns"] - p["start_ns"]) / 1e6
        total = sum(own.values())
        rows.append([p["name"]] + [f"{own.get(l, 0.0):.0f}" for l in cols]
                    + [f"{total:.0f}", f"{wall:.0f}", f"{100 * (total - wall) / wall:+.2f}%",
                       f"{extra['overlap_ms']:.0f}", f"{extra['outside_ms']:.1f}",
                       f"{lost} / {lost_ms:.0f}", extra["unclosed"]])
    print("Self time per layer in each timed pass (ms). `overlap` is child time covered twice "
          "by concurrent siblings, the whole of sum - wall; `outside` is child time recorded "
          "outside its parent; `orphans` are jobs with no span (count / ms) that ran during "
          "the pass, whose time is in no layer; `unclosed` are spans with no end.\n")
    print(table(["pass"] + cols + ["sum", "wall", "sum-wall", "overlap", "outside",
                                   "orphans", "unclosed"], rows))

    ops = {}
    for p in passes:
        for o in (s for s in spans if s["parent"] == p["id"] and s["kind"] in ("op", "batch")):
            ops.setdefault(o["name"], []).append(self_times(spans, o["id"])[0])
    print("\nMedian self time per operation across passes (ms):\n")
    rows = []
    for name, splits in ops.items():
        med = {l: statistics.median(s.get(l, 0.0) for s in splits) for l in cols}
        rows.append([name] + [f"{med[l]:.0f}" for l in cols] + [f"{sum(med.values()):.0f}"])
    print(table(["operation"] + cols + ["total"], rows))

    runs = [json.loads(line)["metrics"] for f in sys.argv[2:] for line in open(f)
            if line.startswith("{")]
    traced = [m["trace.pass_s"]["value"] for m in runs if "trace.pass_s" in m]
    untraced = [m["pass_s"]["value"] for m in runs if "pass_s" in m]
    if traced and untraced:
        t, u = statistics.median(traced), statistics.median(untraced)
        print(f"\nTracing overhead: pass_s {t:.3f} s traced (median of {len(traced)} runs: "
              f"{', '.join(f'{x:.3f}' for x in traced)}) against {u:.3f} s untraced (median "
              f"of {len(untraced)}: {', '.join(f'{x:.3f}' for x in untraced)}): "
              f"{100 * (t / u - 1):+.1f}%")
    print("\nStall check (samples slower than 3x their operation's median):\n")
    for name, st in trace["stalls"].items():
        if st["suspects"] is None:
            print(f"- {name}: n/a, {st['n']} samples")
        else:
            print(f"- {name}: {len(st['suspects'])} suspects in {st['n']} samples "
                  f"(median {st['median_ms']:.0f} ms)"
                  + "".join(f"; pass {x['pass']} {x['ms']:.0f} ms" for x in st["suspects"]))


if __name__ == "__main__":
    main()

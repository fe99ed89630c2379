#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload sql_star --seed 1 --seconds 10 --trace 0

Builds graft from the checkout's sources together with the harness in this directory
(sbt, output under .bench_build), generates the seed's inputs, runs the harness, checks
every operation's output against its DuckDB oracle and prints each metric by name with
its unit and sample count. The last stdout line is one JSON object: end-to-end metrics
with --trace 0, per-layer metrics (from a run with spans recorded) with --trace 1.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import duckdb
import pyarrow.parquet as pq

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, os.path.join(ROOT, "tools"))
BUILD = os.path.join(ROOT, ".bench_build")
CPUS = len(os.sched_getaffinity(0))  # what nproc prints
SETUPS = 3

# Each workload's operations (SparkEntry.queries names). sql_star is fixed per-query
# cost: Catalyst planning, the entry call and job scheduling, with SSB read through the
# StarCache star. corpus_pipeline is a pipeline kernel plus, because its inputs hold an
# ingest micro-batch (gen.SCALES), one admitBatch-commitAppend-compactIndex round per
# pass; the admit step runs graft's iterative connected-components rounds.
WORKLOADS = {
    "sql_star": dict(ops=["tpch_q1", "tpch_q5", "ssb_q2_1"]),
    "corpus_pipeline": dict(ops=["dedup_exact"]),
}

END_TO_END = [("setup_s", "s"), ("pass_s", "s")]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"perfbench: {msg}")
    sys.exit(code)


# ---------------------------------------------------------------- build

def _stamp():
    h = hashlib.sha1()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(HERE, "project")):
        for d, dirs, files in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x != "target")
            for f in sorted(files):
                p = os.path.join(d, f)
                st = os.stat(p)
                h.update(f"{p}|{st.st_size}|{st.st_mtime_ns}\n".encode())
    with open(os.path.join(HERE, "build.sbt"), "rb") as f:
        h.update(f.read())
    return h.hexdigest()


def build():
    """Compile graft and the harness once per source state; return the classpath."""
    os.makedirs(BUILD, exist_ok=True)
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = _stamp()
    try:
        with open(cp_file) as f:
            saved_stamp, cp = f.read().split("\n", 1)
        if saved_stamp == stamp:
            return cp.strip()
    except (OSError, ValueError):
        pass
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    log("perfbench: building graft and the harness (sbt compile)")
    logf = os.path.join(BUILD, "build.log")
    with open(logf, "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                             "export Runtime/fullClasspath"],
                            cwd=HERE, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=840).returncode
    with open(logf) as f:
        lines = f.read().splitlines()
    cps = [l for l in lines if ".bench_build" in l and os.pathsep in l and not l.startswith("[")]
    if rc != 0 or not cps:
        log("\n".join(lines[-30:]))
        fail("build failed", 1)
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + cps[-1].strip())
    return cps[-1].strip()


# ---------------------------------------------------------------- inputs and oracle

def inputs(workload, seed):
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        version = hashlib.sha1(f.read()).hexdigest()[:10]
    d = os.path.join(BUILD, "data", f"{workload}-{seed}-{version}")
    if not os.path.exists(os.path.join(d, "_DONE")):
        shutil.rmtree(d, ignore_errors=True)
        gen.generate(workload, seed, d)
        open(os.path.join(d, "_DONE"), "w").close()
    return d


def oracle(data, name, sql):
    """DuckDB result of `sql` over the generated tables, cached per seed and query text."""
    key = hashlib.sha1(sql.encode()).hexdigest()[:12]
    path = os.path.join(data, "oracle", f"{name}-{key}.parquet")
    if os.path.exists(path):
        return pq.read_table(path)
    import check
    con = duckdb.connect()
    for t in check.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    tbl = con.execute(sql).fetch_arrow_table()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(tbl, path)
    return tbl


def check_output(data, out, name, sql):
    """'' when the op's output matches its oracle (or, without one, is non-empty), under
    the comparison rules of graft's tools/check.py."""
    import check
    path = os.path.join(out, "outputs", name)
    if not os.path.isdir(path):
        return "no output"
    got = pq.read_table(path)
    if sql is None:
        return "" if got.num_rows > 0 else "empty output"
    lint = check.edge_type_lint(got)
    if lint:
        return f"raw complex or decimal columns {lint}"
    want = oracle(data, name, sql)
    gc, gr = check.table_rows(got)
    wc, wr = check.table_rows(want)
    if gc != wc:
        return f"columns {gc} != {wc}"
    bad = check.type_mismatches(got, want)
    if bad:
        return f"type mismatch {bad}"
    if gr != wr:
        return f"rows differ ({len(gr)} vs {len(wr)})"
    return ""


# ---------------------------------------------------------------- harness run

JAVA_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
              "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
              "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def run_harness(cp, workload, data, out, seconds, trace):
    w = WORKLOADS[workload]
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp)
    cmd = (["java", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JAVA_OPENS]
           + ["-cp", cp, "graftbench.Harness", f"data={data}", f"out={out}",
              "ops=" + ",".join(w["ops"]),
              f"seconds={seconds}", f"setups={SETUPS}", f"cpus={CPUS}", f"trace={trace}"])
    logf = os.path.join(out, "harness.log")
    with open(logf, "w") as lf:
        p = subprocess.Popen(cmd, cwd=out, stdout=lf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = p.wait(timeout=150)
        except subprocess.TimeoutExpired:
            fail("harness timed out", 1)
        finally:  # also when this process is stopped: the harness has its own session
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    res = os.path.join(out, "result.json")
    if rc != 0 or not os.path.exists(res):
        with open(logf) as f:
            log("".join(l for l in f.readlines()[-40:]))
        fail(f"harness exited with {rc}", 1)
    with open(res) as f:
        rows = json.load(f)
    spans = None
    if trace:
        with open(os.path.join(out, "spans.json")) as f:
            spans = json.load(f)
    return rows, spans


# ---------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def by_pass(rows, kind):
    out = {}
    for r in rows:
        if r["kind"] == kind and r["phase"] == "pass":
            out.setdefault(r["pass"], []).append(r)
    return out


def pass_seconds(rows):
    ops, batches = by_pass(rows, "op"), by_pass(rows, "batch")
    return {p: (sum(r["ms"] for r in ops.get(p, []))
                + sum(r["ms"] + r["compact_ms"] for r in batches.get(p, []))) / 1000.0
            for p in set(ops) | set(batches)}


def end_to_end(rows):
    setups = [r["s"] for r in rows if r["kind"] == "setup"]
    passes = pass_seconds(rows)
    timed = [r for r in rows if r["kind"] in ("op", "batch") and r["phase"] == "pass"]
    cpu = {}
    for r in timed:
        cpu[r["pass"]] = cpu.get(r["pass"], 0.0) + (r["cpu_ms"] + r.get("compact_cpu_ms", 0.0)) / 1000.0
    samples = {"setup_s": setups, "pass_s": list(passes.values()),
               "pass_cpu_s": list(cpu.values()), "op_p50_ms": [r["ms"] for r in timed]}
    return {k: (median(v), v) for k, v in samples.items()}


STALL_MIN_SAMPLES = 3


def stalls(rows):
    """Per operation: its timed samples and those slower than 3x its median across the
    run's passes. With fewer than STALL_MIN_SAMPLES samples no sample can be judged
    against the median, and the operation's suspects are None."""
    samples = {}
    for r in rows:
        if r["kind"] in ("op", "batch") and r["phase"] == "pass":
            samples.setdefault(r.get("op", "ingest batch"), []).append(r)
    out = {}
    for name, rs in samples.items():
        m = median([r["ms"] for r in rs])
        out[name] = {"n": len(rs), "median_ms": m, "suspects": None if len(rs) < STALL_MIN_SAMPLES
                     else [{"pass": r["pass"], "ms": r["ms"]} for r in rs if r["ms"] > 3 * m]}
    return out


# "entry" is the call into a graft.operators or graft.pipeline entry until it returns
# its DataFrame, less the jobs it runs.
SELF_LAYERS = ["harness", "entry", "plans", "exec.driver", "exec.jobs", "exec.stages",
               "streaming", "sources"]


def layer_of(span):
    return {"build": "entry", "plan": "plans", "exec": "exec.driver", "job": "exec.jobs", "stage": "exec.stages",
            "admit": "streaming", "compact": "streaming",
            "commit": "sources"}.get(span["kind"], "harness")


def _union_ns(intervals):
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total, end = total + b - a, b
        elif b > end:
            total, end = total + b - end, b
    return total


def self_times(spans, root_id):
    """Self time per layer under the root span: each span's recorded duration minus the
    union of its children's recorded intervals, with no clipping. The layers add up to
    the root's duration plus `overlap_ms`, the child time that concurrent siblings
    (jobs, stages) cover twice. Also returns `outside_ms`, child time recorded outside
    its parent's interval, and `unclosed`, spans that never recorded their end."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out, extra = {}, {"overlap_ms": 0.0, "outside_ms": 0.0, "unclosed": 0}
    todo = [next(s for s in spans if s["id"] == root_id)]
    while todo:
        s = todo.pop()
        kids = [c for c in children.get(s["id"], []) if c["end_ns"] >= 0]
        extra["unclosed"] += len(children.get(s["id"], [])) - len(kids)
        iv = [(c["start_ns"], c["end_ns"]) for c in kids]
        covered = _union_ns(iv)
        lay = layer_of(s)
        out[lay] = out.get(lay, 0.0) + (s["end_ns"] - s["start_ns"] - covered) / 1e6
        extra["overlap_ms"] += (sum(b - a for a, b in iv) - covered) / 1e6
        extra["outside_ms"] += sum(b - a - max(0, min(b, s["end_ns"]) - max(a, s["start_ns"]))
                                   for a, b in iv) / 1e6
        todo += kids
    return out, extra


def orphan_jobs(spans, root_id):
    """Jobs with no span of their own (no span property when they started) whose interval
    meets the root span's: their time is in no layer."""
    root = next(s for s in spans if s["id"] == root_id)
    ids = {s["id"] for s in spans}
    lost = [s for s in spans if s["kind"] == "job" and s["end_ns"] >= 0
            and s["parent"] not in ids
            and s["start_ns"] < root["end_ns"] and s["end_ns"] > root["start_ns"]]
    return len(lost), sum(s["end_ns"] - s["start_ns"] for s in lost) / 1e6


def per_layer(rows, spans):
    by_id = {s["id"]: s for s in spans}
    passes = {s["name"]: s for s in spans if s["kind"] == "pass"}
    pass_ids = {int(n.split()[1]): s["id"] for n, s in passes.items()}

    def under(s, kind):
        p = by_id.get(s["parent"])
        while p is not None:
            if p["kind"] == kind:
                return p
            p = by_id.get(p["parent"])
        return None

    jobs = [s for s in spans if s["kind"] == "job"]
    job_pass = {}
    for j in jobs:
        p = under(j, "pass")
        if p is not None:
            job_pass.setdefault(int(p["name"].split()[1]), []).append(j)

    ops, batches, wall = by_pass(rows, "op"), by_pass(rows, "batch"), pass_seconds(rows)
    per = {}
    for n in wall:
        o, b, js = ops.get(n, []), batches.get(n, []), job_pass.get(n, [])
        exec_jobs = [j for j in js if (under(j, "exec") or {}).get("kind") == "exec"]
        build_jobs = [j for j in js if under(j, "build") is not None]
        busy = sum(j["attrs"].get("task_busy_ms", 0.0) for j in js)
        attr = lambda k: sum(j["attrs"].get(k, 0.0) for j in js)
        m = {
            "plans.analysis_ms": sum(r["analysis_ms"] for r in o),
            "plans.optimizer_ms": sum(r["optimizer_ms"] for r in o),
            "plans.planning_ms": sum(r["planning_ms"] for r in o),
            "entry.build_ms": sum(r["build_ms"] for r in o),
            "entry.build_jobs": len(build_jobs),
            "exec.ms": sum(r["exec_ms"] for r in o),
            "exec.jobs": len(exec_jobs),
            "exec.stages": sum(j["attrs"].get("stages", 0.0) for j in exec_jobs),
            "exec.tasks": sum(j["attrs"].get("tasks", 0.0) for j in exec_jobs),
            "exec.core_idle_frac": 1.0 - busy / (wall[n] * 1000.0 * CPUS),
            "exec.task_busy_s": busy / 1000.0,
            "exec.shuffle_read_mb": attr("shuffle_read_b") / 2**20,
            "exec.shuffle_write_mb": attr("shuffle_write_b") / 2**20,
            "exec.spill_mb": attr("spill_b") / 2**20,
            "exec.input_mb": attr("input_b") / 2**20,
            "exec.gc_ms": attr("gc_ms"),
            "storage.persisted_rdds_left": sum(r["persisted_left"] for r in o + b),
            "storage.mem_peak_mb": max([r["storage_b"] for r in o + b] or [0]) / 2**20,
            "storage.heap_live_peak_mb": max([r["heap_live_b"] for r in o + b] or [0]) / 2**20,
            "streaming.batch_p50_ms": median([r["ms"] for r in b]),
            "streaming.admit_ms": median([r["ms"] - r["commit_ms"] for r in b]),
            "sources.commit_ms": median([r["commit_ms"] for r in b]),
            "trace.pass_s": wall[n],
            "trace.op_p50_ms": median([r["ms"] for r in o + b]),
            "trace.pass_cpu_s": sum(r["cpu_ms"] + r.get("compact_cpu_ms", 0.0) for r in o + b) / 1000,
        }
        own, _ = self_times(spans, pass_ids[n])
        for lay in SELF_LAYERS:
            m[f"self.{lay}_ms"] = own.get(lay, 0.0)
        per[n] = m
    keys = sorted({k for m in per.values() for k in m})
    out = {k: median([m.get(k, 0.0) for m in per.values()]) for k in keys}

    setups = [r for r in rows if r["kind"] == "setup"]
    out["exec.codegen_compile_ms"] = median([r["codegen_compile_ms"] for r in setups])
    out["exec.codegen_classes"] = median([r["codegen_compiles"] for r in setups])
    star, writes = {}, {}
    for r in rows:
        if r.get("phase", "").startswith("setup"):
            if r["kind"] == "op" and r["star_built"]:
                star[r["phase"]] = star.get(r["phase"], 0.0) + r["build_ms"] / 1000.0
            if r["kind"] == "batch":
                w = (r["commit_ms"] + r["compact_ms"]) / 1000.0
                writes[r["phase"]] = writes.get(r["phase"], 0.0) + w
    out["sources.star_build_s"] = median([star.get(f"setup{r['setup']}", 0.0) for r in setups])
    out["sources.setup_write_s"] = median([
        star.get(f"setup{r['setup']}", 0.0) + writes.get(f"setup{r['setup']}", 0.0)
        for r in setups])
    ing = [r for r in rows if r["kind"] == "ingest" and r["phase"] == "pass"]
    offered = sum(r["offered"] for r in ing)
    admitted = sum(len(r["admitted_ids"]) for r in rows if r["kind"] == "batch" and r["phase"] == "pass")
    out["streaming.admitted_frac"] = admitted / offered if offered else 0.0
    out["streaming.index_files"] = median([r["index_files"] for r in ing])
    out["sources.bytes_written"] = median([r["bytes_written"] for r in ing])
    out["sources.files_written"] = median([r["files_written"] for r in ing])
    out["sources.write_amp"] = median([r["bytes_written"] / r["text_bytes"] for r in ing])
    out["host.calib_ms"] = median([r["ms"] for r in rows if r["kind"] == "calib"])
    out["host.stall_suspects"] = sum(len(v["suspects"] or []) for v in stalls(rows).values())
    return out


# Times of layers only one workload uses. A constant 0 on the other workload would read
# as a fake timing, so these are printed and kept in the trace file but not reported.
WORKLOAD_SPECIFIC = ["streaming.batch_p50_ms", "streaming.admit_ms", "sources.commit_ms",
                     "sources.star_build_s", "self.streaming_ms", "self.sources_ms"]


def unit_of(name):
    if name.endswith("bytes_written"):
        return "B"
    tail = name.replace(".", "_").rsplit("_", 1)[-1]
    return {"ms": "ms", "s": "s", "mb": "MB", "frac": "ratio", "amp": "ratio"}.get(tail, "count")


# ---------------------------------------------------------------- main

def verify(rows, data, out, workload):
    """Failures: ops that threw, outputs that differ from the oracle, ingest checks."""
    failures = [f"{r['op']} ({r['phase']}): {r['error']}"
                for r in rows if r["kind"] == "op" and r["error"]]
    with open(os.path.join(out, "oracle_sql.json")) as f:
        sqls = json.load(f)
    for name in WORKLOADS[workload]["ops"]:
        try:
            why = check_output(data, out, name, sqls.get(name))
        except Exception as e:  # noqa: BLE001 - any oracle error is a failed check
            why = f"{type(e).__name__}: {e}"
        if why:
            failures.append(f"{name}: {why}")
    for r in rows:
        if r["kind"] in ("batch", "ingest"):
            failures += [f"ingest {r['phase']}-{r['pass']}: {e}" for e in r["errors"]]
    batches = [r for r in rows if r["kind"] == "batch"]
    if any(r["admitted_ids"] != batches[0]["admitted_ids"] for r in batches):
        failures.append("ingest: admitted-id set differs between passes")
    attempted = sum(1 for r in rows if r["kind"] in ("op", "batch"))
    return attempted, failures


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail(f"graft sources not found under {ROOT}/src; run from a graft checkout")

    cp = build()
    data = inputs(a.workload, a.seed)
    out = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    t0 = time.time()
    rows, spans = run_harness(cp, a.workload, data, out, a.seconds, a.trace)
    log(f"perfbench: harness ran {time.time() - t0:.1f} s")
    attempted, failures = verify(rows, data, out, a.workload)
    for f in failures:
        print(f"FAIL {f}")
    stall = stalls(rows)
    for name, st in stall.items():
        if st["suspects"] is None:
            print(f"stall check {name}: n/a, {st['n']} samples (needs {STALL_MIN_SAMPLES})")
            continue
        print(f"stall check {name}: {len(st['suspects'])} suspects in {st['n']} samples "
              f"(median {st['median_ms']:.1f} ms)")
        for x in st["suspects"]:
            print(f"stall_suspect {name} pass {x['pass']}: {x['ms']:.1f} ms")
    e2e = end_to_end(rows)
    for name, unit in END_TO_END + [("pass_cpu_s", "s"), ("op_p50_ms", "ms")]:
        v, xs = e2e[name]
        print(f"{name} = {v:.4f} {unit} (n={len(xs)}"
              + (f": {', '.join(f'{x:.3f}' for x in xs)})" if name != "op_p50_ms" else ")"))
    batches = [r for r in rows if r["kind"] == "batch" and r["phase"] == "pass"]
    ingests = [r for r in rows if r["kind"] == "ingest" and r["phase"] == "pass"]
    if batches:
        print(f"ingest_batch_p50_ms = {median([r['ms'] for r in batches]):.4f} ms "
              f"(n={len(batches)})")
        amp = [r["bytes_written"] / r["text_bytes"] for r in ingests]
        print(f"write_amp = {median(amp):.4f} ratio (n={len(amp)})")
    calib = [r["ms"] for r in rows if r["kind"] == "calib"]
    print(f"host.calib_ms = {median(calib):.4f} ms (n={len(calib)}: "
          f"{', '.join(f'{x:.1f}' for x in calib)})")
    print(f"failed_frac = {len(failures) / attempted:.4f} ratio "
          f"({len(failures)} of {attempted} attempted)")
    print(f"correct = {not failures}")
    if a.trace:
        layers = per_layer(rows, spans)
        for k in WORKLOAD_SPECIFIC:
            print(f"{k} = {layers[k]:.4f} {unit_of(k)}")
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in layers.items()
                   if k not in WORKLOAD_SPECIFIC}
        os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
        with open(os.path.join(BUILD, "traces", f"{a.workload}-seed{a.seed}.json"), "w") as f:
            json.dump({"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                       "cpus": CPUS, "stalls": stall,
                       "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in layers.items()},
                       "records": rows, "spans": spans}, f)
    else:
        metrics = {name: {"value": e2e[name][0], "unit": unit} for name, unit in END_TO_END}
    shutil.rmtree(out, ignore_errors=True)
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": metrics}))


if __name__ == "__main__":
    main()

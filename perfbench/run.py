#!/usr/bin/env python3
"""graft's benchmark: one run of one workload, printed as metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
harness from source with sbt (offline) and caches the build under
`.bench_build/`; later runs rebuild only when a source or build file changed.
Each run starts a fresh JVM with a `local[N]` session (N = cores), runs the
workload as a closed loop with one client for a cold pass and a fixed number
of warm passes (`WARM`, whatever `--seconds` says: a run cut at a time limit
would drop its last and most JIT-warmed pass on a slow host), checks the
outputs and prints one line per metric, then a JSON object as the last line:
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the metrics
are the end-to-end ones; with `--trace 1` they are the per-layer ones of a
traced run, whose spans are written to `.bench_build/perfbench/traces/`.
See perfbench/README.md for the workloads and metrics.
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

import medallion_gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
DATA = os.path.join(HERE, "data", "sf0.01")
EXPECTED = os.path.join(HERE, "expected", "catalog_sf0.01.json")
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("catalog_heavy", "medallion")

# Warm passes after the cold one, always all of them: per workload in an
# untraced run, and in a traced run, whose warm passes go traced, untraced,
# untraced, traced (Loop in Main.scala).
WARM = {"catalog_heavy": 2, "medallion": 1}
TRACED_WARM = 4

# medallion input: records per daily batch; one batch per pass
BATCH_RECORDS = 2000

# A fixed heap and young generation: G1 otherwise sizes both from its GC
# time share, which moves with the host's load, and peak_rss_mb with it.
JVM_HEAP = "3g"
JVM_MEMORY = [f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-Xmn768m"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840


def read(path):
    with open(path) as f:
        return f.read()


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def wait(proc, timeout):
    """Wait for `proc` (started in its own session); on timeout kill its
    whole process group, wait for it, and return "timeout"."""
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return "timeout"


# ---------------------------------------------------------------- build

def _build_inputs():
    """Every file whose change needs a rebuild."""
    paths = [os.path.join(ROOT, "build.sbt"),
             os.path.join(HARNESS, "build.sbt")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
                os.path.join(HARNESS, "src"), os.path.join(HARNESS, "project")):
        for d, dirs, files in os.walk(top):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            paths += [os.path.join(d, f) for f in files]
    return sorted(p for p in paths if os.path.isfile(p))


def build():
    """Compile the program and the harness; return the launch lines: the
    runtime classpath, then the JVM options."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found under {ROOT}: run from a checkout of the repository")
    h = hashlib.sha256()
    for p in _build_inputs():
        st = os.stat(p)
        h.update(f"{p}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    stamp = h.hexdigest()
    stamp_file = os.path.join(OUT, "build.stamp")
    cp_file = os.path.join(HARNESS, "target", "bench-launch.txt")
    if (os.path.exists(stamp_file) and os.path.exists(cp_file)
            and read(stamp_file) == stamp):
        return read(cp_file).splitlines()
    os.makedirs(OUT, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(OUT, "build.log")
    t = time.time()
    with open(log, "w") as out:
        try:
            rc = wait(subprocess.Popen(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "harness/benchLaunch"],
                cwd=HARNESS, env=env, stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, start_new_session=True), BUILD_TIMEOUT_S)
        except OSError as e:
            fail(f"cannot start sbt: {e}", 3)
    if rc != 0 or not os.path.exists(cp_file):
        tail = read(log)[-3000:]
        fail(f"build failed ({rc}); log {log}:\n{tail}", 3)
    print(f"built in {time.time() - t:.1f} s", file=sys.stderr)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return read(cp_file).splitlines()


# ---------------------------------------------------------------- one run

def launch(jvm, workload, warm, trace, work, manifest=None):
    """Run the harness JVM once; return its result document."""
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    result = os.path.join(work, "result.json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, *JVM_MEMORY, f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           *jvm[1:], "-cp", jvm[0], "graft.perfbench.Main", "--workload", workload,
            "--warm", str(warm),
            "--trace", str(trace), "--data", DATA, "--work", work,
            "--out", result]
    if manifest:
        cmd += ["--batches", manifest]
    log = os.path.join(work, "jvm.log")
    t = time.time()
    with open(log, "w") as out:
        rc = wait(subprocess.Popen(
            cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, start_new_session=True), RUN_TIMEOUT_S)
    if rc != 0 or not os.path.exists(result):
        fail(f"harness failed ({rc}); log {log}:\n{read(log)[-3000:]}", 4)
    with open(result) as f:
        res = json.load(f)
    res["jvm_s"] = time.time() - t
    return res


def tree_bytes(path):
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


# ---------------------------------------------------------------- metrics

def passes_of(res):
    spans = res["spans"]
    passes = [s for s in spans if s["kind"] == "pass"]
    ops = {p["id"]: [] for p in passes}
    for s in spans:
        if s["kind"] == "op" and s["parent"] in ops:
            ops[s["parent"]].append(s)
    return passes, ops


def dur_s(s):
    return (s["end_ns"] - s["start_ns"]) / 1e9


def pass_s(ops, p):
    """A pass's time: its operations, without the output checks between
    medallion batches."""
    return sum(dur_s(o) for o in ops[p["id"]])


def failures(res, passes, ops):
    """(attempted, failed, problems): an operation fails when it throws or
    when the output check of what it produced fails."""
    problems = []
    bad_ops = set()
    checks = res["checks"]
    if res["workload"] == "medallion":
        for b in checks["batches"]:
            problems += [f"batch {b['batch']}: {p}" for p in b["problems"]]
            bad_ops |= {o["id"] for o in ops[passes[b["batch"]]["id"]]}
    else:
        expected = json.loads(read(EXPECTED)) if os.path.exists(EXPECTED) else {}
        for name, got in checks.items():
            want = expected.get(name)
            if want is None or got.get("rows") != want["rows"] \
                    or got.get("checksum") != want["checksum"]:
                problems.append(f"{name}: got {got}, expected {want}")
                bad_ops |= {o["id"] for p in passes for o in ops[p["id"]]
                            if o["name"] == name}
    all_ops = [o for p in passes for o in ops[p["id"]]]
    for o in all_ops:
        if o["error"] is not None:
            bad_ops.add(o["id"])
            problems.append(f"{o['name']} threw: {o['error']}")
    return len(all_ops), len(bad_ops), problems


def end_to_end(res, passes, ops, manifest, lake):
    """The metrics a user of graft sees, from the untraced passes.
    Returns {name: (value, unit, samples)}."""
    cold = passes[0]
    warm_untraced = [p for p in passes[1:] if not p["traced"]]
    warm_ops = [dur_s(o) * 1000 for p in warm_untraced for o in ops[p["id"]]]
    m = {
        "setup_s": (res["setup_s"], "s", 1),
        "cold_s": (pass_s(ops, cold), "s", 1),
        "warm_s": (statistics.median(pass_s(ops, p) for p in warm_untraced), "s",
                   len(warm_untraced)),
        "op_p50_ms": (statistics.median(warm_ops), "ms", len(warm_ops)),
        "peak_rss_mb": (res["peak_rss_kb"] / 1024, "MB", 1),
    }
    if len(warm_ops) >= 100:
        m["op_p90_ms"] = (statistics.quantiles(warm_ops, n=10)[-1], "ms", len(warm_ops))
    if res["workload"] == "medallion":
        records = sum(manifest[i]["records"] for i, p in enumerate(passes)
                      if p in warm_untraced)
        m["rows_per_s"] = (records / sum(pass_s(ops, p) for p in warm_untraced),
                           "1/s", len(warm_untraced))
        done = len(passes)
        raw = sum(b["raw_bytes"] for b in manifest[:done])
        stored = tree_bytes(os.path.join(lake, "bronze")) + \
            tree_bytes(os.path.join(lake, "silver"))
        m["bytes_per_input_byte"] = (stored / raw, "ratio", 1)
    return m


PASS_LAYERS = [
    ("catalog.build_ms", "ms"), ("catalog.exec_ms", "ms"),
    ("pipeline.rawToBronze_ms", "ms"), ("pipeline.bronzeToSilver_ms", "ms"),
    ("pipeline.silverUpdate_ms", "ms"),
    ("catalyst.queries", "count"), ("catalyst.analysis_ms", "ms"),
    ("catalyst.optimization_ms", "ms"), ("catalyst.planning_ms", "ms"),
    ("codegen.classes", "count"), ("codegen.compile_ms", "ms"),
    ("scheduler.jobs", "count"), ("scheduler.stages", "count"),
    ("scheduler.tasks", "count"), ("driver.self_ms", "ms"),
    ("executor.run_ms", "ms"), ("executor.cpu_ms", "ms"),
    ("executor.gc_ms", "ms"), ("executor.busy_frac", "ratio"),
    ("shuffle.write_bytes", "bytes"), ("shuffle.read_bytes", "bytes"),
    ("shuffle.fetch_wait_ms", "ms"), ("shuffle.spill_bytes", "bytes"),
    ("io.read_bytes", "bytes"), ("io.write_bytes", "bytes"),
    ("memo.builds", "count"), ("memo.hits", "count"), ("memo.hit_ratio", "ratio"),
]
RUN_LAYERS = [
    ("storage.live_bytes_max", "bytes"), ("storage.live_bytes_end", "bytes"),
    ("storage.bytes_per_input_byte", "ratio"),
    ("codegen.compile_ms_exact", "count"),
    ("trace.overhead_frac", "ratio"), ("trace.unattributed_jobs", "count"),
]


def union_ms(intervals, lo, hi):
    """Length of the union of [a, b) intervals clipped to [lo, hi)."""
    total, cur = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= cur:
            continue
        total += b - max(a, cur)
        cur = b
    return total


def per_layer(res, passes, ops, e2e):
    """Per-layer metrics of a traced run, and its span list for the trace
    file (with self time and Spark jobs as leaf spans)."""
    spans = {s["id"]: s for s in res["spans"]}
    op_of = {}
    for s in res["spans"]:
        a = s
        while a is not None and a["kind"] != "op":
            a = spans.get(a["parent"])
        if a is not None:
            op_of[s["id"]] = a["id"]
    jobs = [j for j in res["jobs"] if "end_ms" in j]
    tasks = {int(k): v for k, v in res["span_tasks"].items()}
    cores = res["cores"]

    def op_layers(o):
        v = {k: 0.0 for k, _ in PASS_LAYERS}
        lo, hi = o["start_ns"] / 1e6, o["end_ns"] / 1e6
        for c in res["spans"]:
            if c["parent"] == o["id"] and c["kind"] == "call":
                v[f"{c['name']}_ms"] = v.get(f"{c['name']}_ms", 0.0) + dur_s(c) * 1000
                v["codegen.classes"] += c.get("codegen_classes", 0)
                v["codegen.compile_ms"] += c.get("codegen_compile_ms", 0)
                v["memo.builds"] += c.get("memo_builds", 0)
                v["memo.hits"] += c.get("memo_hits", 0)
        for q in res["queries"]:
            if lo <= q["end_ms"] <= hi:
                v["catalyst.queries"] += 1
                for p in ("analysis", "optimization", "planning"):
                    v[f"catalyst.{p}_ms"] += q[f"{p}_ms"]
        mine = [j for j in jobs if op_of.get(j["span"]) == o["id"]]
        v["scheduler.jobs"] = len(mine)
        covered = union_ms([(j["start_ms"], j["end_ms"]) for j in mine], lo, hi)
        v["driver.self_ms"] = (hi - lo) - covered
        t = {}
        for sid, m in tasks.items():
            if op_of.get(sid) == o["id"]:
                for k, x in m.items():
                    t[k] = t.get(k, 0) + x
        v["scheduler.stages"] = t.get("stages", 0)
        v["scheduler.tasks"] = t.get("tasks", 0)
        v["executor.run_ms"] = t.get("run_ms", 0)
        v["executor.cpu_ms"] = t.get("cpu_ns", 0) / 1e6
        v["executor.gc_ms"] = t.get("gc_ms", 0)
        v["_covered_ms"] = covered
        for k, src in (("shuffle.write_bytes", "shuffle_write_bytes"),
                       ("shuffle.read_bytes", "shuffle_read_bytes"),
                       ("shuffle.fetch_wait_ms", "shuffle_fetch_wait_ms"),
                       ("shuffle.spill_bytes", "spill_bytes"),
                       ("io.read_bytes", "read_bytes"),
                       ("io.write_bytes", "write_bytes")):
            v[k] = t.get(src, 0)
        return v

    def pass_layers(p):
        tot = {}
        for o in ops[p["id"]]:
            for k, x in op_layers(o).items():
                tot[k] = tot.get(k, 0) + x
        cov = tot.pop("_covered_ms", 0)
        tot["executor.busy_frac"] = tot["executor.run_ms"] / (cov * cores) if cov else 0.0
        seen = tot["memo.builds"] + tot["memo.hits"]
        tot["memo.hit_ratio"] = tot["memo.hits"] / seen if seen else 0.0
        return tot

    cold = passes[0]
    traced_warm = [p for p in passes[1:] if p["traced"]]
    untraced_warm = [p for p in passes[1:] if not p["traced"]]
    cold_v = pass_layers(cold)
    warm_v = [pass_layers(p) for p in traced_warm]
    m = {}
    for k, unit in PASS_LAYERS:
        m[k] = (statistics.median(v[k] for v in warm_v), unit, len(warm_v))
        m[f"{k}_cold"] = (cold_v[k], unit, 1)
    live = [o.get("storage_bytes", 0) for p in passes if p["traced"] for o in ops[p["id"]]]
    # traced and untraced warm passes alternate ABBA, so their sums see the
    # same linear drift
    overhead = sum(pass_s(ops, p) for p in traced_warm) / \
        sum(pass_s(ops, p) for p in untraced_warm) - 1
    exact = all(s.get("codegen_exact", True) for s in res["spans"] if s["kind"] == "call")
    traced_ids = {s["id"] for s in res["spans"] if s["traced"]}
    m.update({
        "storage.live_bytes_max": (max(live, default=0), "bytes", len(live)),
        "storage.live_bytes_end": (live[-1] if live else 0, "bytes", 1),
        "storage.bytes_per_input_byte": (e2e.get("bytes_per_input_byte", (0.0,))[0], "ratio", 1),
        "codegen.compile_ms_exact": (1 if exact else 0, "count", 1),
        "trace.overhead_frac": (overhead, "ratio", len(traced_warm) + len(untraced_warm)),
        "trace.unattributed_jobs": (sum(1 for j in jobs if j["span"] not in traced_ids),
                                    "count", len(jobs)),
    })

    # trace file spans: program spans plus each Spark job under its span
    out = [dict(s) for s in res["spans"]]
    next_id = len(out)
    for j in jobs:
        out.append({"id": next_id, "parent": j["span"], "kind": "job",
                    "name": f"job {j['id']}", "start_ns": j["start_ms"] * 1_000_000,
                    "end_ns": j["end_ms"] * 1_000_000, "ok": j.get("ok")})
        next_id += 1
    children = {}
    for s in out:
        children.setdefault(s["parent"], []).append(s)
    for s in out:
        kids = [(c["start_ns"], c["end_ns"]) for c in children.get(s["id"], [])]
        s["self_ms"] = (s["end_ns"] - s["start_ns"] - union_ms(
            kids, s["start_ns"], s["end_ns"])) / 1e6
    return m, out


# ---------------------------------------------------------------- main

def run_workload(jvm, workload, seed, trace):
    """One run: generate inputs, run the harness, check, print the metrics."""
    work = os.path.join(OUT, f"run-{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    warm = TRACED_WARM if trace else WARM[workload]
    try:
        manifest, manifest_file = None, None
        if workload == "medallion":
            manifest = medallion_gen.write_batches(
                os.path.join(work, "landing"), seed, 1 + warm, BATCH_RECORDS)
            manifest_file = os.path.join(work, "batches.tsv")
            with open(manifest_file, "w") as f:
                for b in manifest:
                    f.write("\t".join(str(b[k]) for k in (
                        "dir", "ingest", "records", "clean", "quarantined",
                        "repaired")) + "\n")
        res = launch(jvm, workload, warm, trace, work, manifest_file)
        passes, ops = passes_of(res)
        attempted, failed, problems = failures(res, passes, ops)
        e2e = end_to_end(res, passes, ops, manifest, os.path.join(work, "lake"))
        e2e["fail_frac"] = (failed / attempted, "ratio", attempted)
        metrics = e2e
        if trace:
            metrics, trace_spans = per_layer(res, passes, ops, e2e)
            tdir = os.path.join(OUT, "traces")
            os.makedirs(tdir, exist_ok=True)
            tfile = os.path.join(tdir, f"{workload}-seed{seed}.json")
            with open(tfile, "w") as f:
                json.dump({"workload": workload, "seed": seed,
                           "metrics": {k: v[0] for k, v in metrics.items()},
                           "spans": trace_spans}, f)
            print(f"trace: {tfile}")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for p in problems[:20]:
        print(f"CHECK FAILED {p}")
    print(f"checks: {attempted - failed}/{attempted} operations ok, "
          f"{len(passes)} passes")
    workload_span = next(s for s in res["spans"] if s["kind"] == "workload")
    print(f"{workload} time: jvm {res['jvm_s']:.1f} s = setup {res['setup_s']:.1f} s"
          f" + passes {(passes[-1]['end_ns'] - passes[0]['start_ns']) / 1e9:.1f} s"
          f" + checks {(workload_span['end_ns'] - passes[-1]['end_ns']) / 1e9:.1f} s"
          f" + start/stop")
    shown = dict(e2e, **metrics)
    for k, (v, unit, n) in sorted(shown.items()):
        print(f"{workload} {k} = {v:.6g} {unit} (n={n})")
    listed = json.loads(read(os.path.join(ROOT, "BENCHMARK.json")))[
        "per_layer" if trace else "end_to_end"]
    missing = [m["name"] for m in listed if m["name"] not in metrics]
    if missing:
        fail(f"metrics not measured: {missing}", 5)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {m["name"]: {"value": metrics[m["name"]][0], "unit": m["unit"]}
                    for m in listed},
    }))


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="accepted; a run always makes its fixed passes")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    jvm = build()
    for w in WORKLOADS if args.workload == "all" else (args.workload,):
        run_workload(jvm, w, args.seed, args.trace)


if __name__ == "__main__":
    main()

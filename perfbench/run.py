#!/usr/bin/env python3
"""graft benchmark runner.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. Builds the harness (perfbench/harness,
which compiles graft from the checkout) when the sources changed, derives the
workload's seeded inputs from the sf0.1 test data in perfbench/data with
DuckDB, runs the workload in a fresh JVM on plain `java`, checks the outputs
against DuckDB oracles, prints a report and, as the last line, one JSON
object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json; with
--trace 1 the per-layer metrics (the run also writes per-operation layer
metrics and spans under .bench_out/). Workloads: headline, headline_x10,
ingest. Everything the run writes stays under the checkout; the run's
generated inputs and artifacts are deleted at the end.
"""
import argparse
import collections
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402

ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
BUILD = os.path.join(ROOT, ".bench_build")
OUT = os.path.join(ROOT, ".bench_out")
RUNS = os.path.join(ROOT, ".bench_run")

SF01 = os.path.join(HERE, "data", "sf0.1")

WORKLOADS = {
    # name: (replicas of the sf0.1 test data, JVM heap)
    "headline": (1, "2g"),
    "headline_x10": (10, "4g"),
    "ingest": (1, "2g"),
}
RUN_LIMIT_S = 170   # a run must end within 180 s once built

# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

END_TO_END = [("setup_s", "s"), ("pass_s", "s"), ("query_p50_s", "s"),
              ("query_p90_s", "s"), ("peak_rss_mb", "MB"), ("storage_ratio", "ratio")]

LAYERS = [
    ("operators.build_ms", "ms"),
    ("plans.analysis_ms", "ms"), ("plans.optimization_ms", "ms"),
    ("plans.planning_ms", "ms"), ("plans.codegen_compiles", "count"),
    ("plans.codegen_ms", "ms"),
    ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
    ("exec.job_ms", "ms"), ("exec.driver_ms", "ms"), ("exec.task_ms", "ms"),
    ("exec.task_cpu_ms", "ms"), ("exec.gc_ms", "ms"), ("exec.input_bytes", "bytes"),
    ("exec.shuffle_read_bytes", "bytes"), ("exec.shuffle_write_bytes", "bytes"),
    ("exec.spill_bytes", "bytes"),
    ("functions.word_shingles.rows_per_s", "1/s"), ("functions.char_ngrams.rows_per_s", "1/s"),
    ("functions.word_bigrams.rows_per_s", "1/s"), ("functions.minhash_sig.rows_per_s", "1/s"),
    ("functions.cosine_fast.rows_per_s", "1/s"), ("functions.jaccard_sim.rows_per_s", "1/s"),
    ("layouts.build_s", "s"), ("layouts.bytes", "bytes"),
    ("jvm.heap_peak_mb", "MB"), ("trace.overhead_ratio", "ratio"),
]
# layer metrics summed per pass from the per-operation records
PER_OP_LAYERS = [n for n, _ in LAYERS if n.split(".")[0] in ("operators", "plans", "exec")]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def fail(msg, code=1):
    log(f"perfbench: {msg}")
    sys.exit(code)


# --------------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt")]
    for pat in ("project/*.properties", "project/*.sbt", "src/main/**/*",
                "perfbench/harness/build.sbt", "perfbench/harness/project/*.properties",
                "perfbench/harness/src/**/*"):
        files += glob.glob(os.path.join(ROOT, pat), recursive=True)
    for f in sorted(set(files)):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def classpath():
    """The harness classpath, building first when the sources changed."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "harness.cp")
    if os.path.isfile(cp_file):
        with open(cp_file) as f:
            saved = json.load(f)
        if saved.get("stamp") == stamp:
            return saved["cp"]
    os.makedirs(BUILD, exist_ok=True)
    log("perfbench: building graft and the harness with sbt")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HARNESS, env=sbt_env(), stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=800)
    # `export` prints the classpath as the one line without a log prefix
    lines = [l.strip() for l in p.stdout.splitlines() if l.strip() and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        log(p.stdout[-4000:])
        fail("harness build failed")
    cp = lines[-1]
    with open(cp_file, "w") as f:
        json.dump({"stamp": stamp, "cp": cp}, f)
    log(f"perfbench: built in {time.time() - t0:.1f} s")
    return cp


# ----------------------------------------------------------------- helpers

def median(xs):
    return statistics.median(xs) if xs else float("nan")


def p90(xs):
    if len(xs) < 2:
        return xs[0] if xs else float("nan")
    return statistics.quantiles(xs, n=10, method="inclusive")[8]


def dir_bytes(path):
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def data_sig(*paths):
    """Content signature of the generated inputs (one seed, one value)."""
    h = hashlib.sha256()
    for d, _, fs in sorted(w for p in paths for w in os.walk(p)):
        for f in sorted(fs):
            with open(os.path.join(d, f), "rb") as fh:
                h.update(f.encode() + fh.read())
    return h.hexdigest()[:16]


def threads():
    return max(1, min(4, os.cpu_count() or 1))


# ------------------------------------------------------------------ checks

def check_headline(res, data, tmp):
    con = oracle.connect(data, threads(), tmp)
    shapes = oracle.headline(con, res["checks"])
    con.close()
    bad_ops = set()
    mismatches = {}
    for op in res["ops"]:
        want, ok, why = shapes[op["name"]]
        if op["err"]:
            why = op["err"]
        elif ok and op["rows"] not in (-1, want):  # -1: wrote the checked output
            why = f"count {op['rows']}, oracle {want}"
        elif ok:
            continue
        bad_ops.add(op["id"])
        mismatches.setdefault(op["name"], why)
    return bad_ops, mismatches, sorted(shapes)


def check_ingest(res, data, tmp):
    """Checks each batch's operations over the raw tables plus every delta
    applied so far."""
    rows = {op["id"]: op["rows"] for op in res["ops"]}
    bad_ops = {op["id"] for op in res["ops"] if op["err"]}
    mismatches = {op["name"]: op["err"] for op in res["ops"] if op["err"]}
    applied = []
    for b in res["checks"]["batches"]:
        if b["applied"]:
            applied.append(b["delta"])
        over = {t: [f"{data}/{t}.parquet"] + [f"{d}/{t}.parquet" for d in applied]
                for t in ("orders", "lineitem")}
        con = oracle.connect(data, threads(), tmp, over)
        verdicts = [
            ("append", b["append_op"], b["applied"], "delta batch not applied"),
            ("incprep", b["incprep_op"], b["partition_ok"],
             "kept and dropped rows do not partition the batch"),
        ]
        for r in b["reads"]:
            q5_ok, q5_why = oracle.q5_matches(con, r["q5"])
            asof_rows, asof_ok, asof_why = oracle.digest_matches(
                con, oracle.HEADLINE["asof_like_merge"], r["asof"])
            verdicts += [
                ("q5_join5", r["q5_op"], q5_ok, q5_why),
                ("asof_like_merge", r["asof_op"], asof_ok and rows[r["asof_op"]] == asof_rows,
                 asof_why or "count differs from the oracle"),
                ("neardup_probe", r["probe_op"], r["probe_missing"] == 0,
                 f"{r['probe_missing']} of {r['probe_expected']} indexed copies not found"),
            ]
        con.close()
        for name, op_id, ok, why in verdicts:
            if not ok:
                bad_ops.add(op_id)
                mismatches.setdefault(name, why)
    checked = ["append", "incprep", "q5_join5", "asof_like_merge", "neardup_probe"]
    return bad_ops, mismatches, checked, applied


# ----------------------------------------------------------------- metrics

def pass_times(ops, phases):
    per = {}
    for op in ops:
        if op["phase"] in phases:
            per[op["pass"]] = per.get(op["pass"], 0.0) + op["wall_s"]
    return list(per.values())


def end_to_end(res, input_bytes):
    measured = [op for op in res["ops"] if op["phase"] == "measure"]
    lat = [op["wall_s"] for op in measured]
    return {
        "setup_s": res["setup"]["total_s"],
        "pass_s": median(pass_times(measured, {"measure"})),
        "query_p50_s": median(lat),
        "query_p90_s": p90(lat),
        "peak_rss_mb": res["rss_hwm_mb"] - res["heap_committed_mb"],
        "storage_ratio": res["artifact_bytes"] / input_bytes,
    }, len(lat)


def overhead_ratio(ops):
    """Traced ÷ untraced wall time − 1 over the operations that ran both
    ways: whole passes on `headline`, the reads of each batch on `ingest`."""
    untraced = [op for op in ops if op["phase"] == "untraced"]
    both = {op["name"] for op in untraced}
    traced = [op for op in ops if op["phase"] == "traced" and op["name"] in both]
    return sum(op["wall_s"] for op in traced) / sum(op["wall_s"] for op in untraced) - 1


def per_layer(res):
    """Per-layer metrics; the per-operation ones are per pass: summed over
    a traced pass's operations (an operation traced twice in one pass, as
    `ingest`'s reads are, counts as the mean of its two runs) and averaged
    over the traced passes."""
    traced = [op for op in res["ops"] if op["phase"] == "traced"]
    n_pass = len({op["pass"] for op in traced}) or 1
    runs = collections.Counter((op["pass"], op["name"]) for op in traced)
    m = {k: sum(op["layers"].get(k, 0.0) / runs[op["pass"], op["name"]] for op in traced) / n_pass
         for k in PER_OP_LAYERS}
    m.update(res["kernels"])
    m["layouts.build_s"] = sum(res["setup"]["builds"].values())
    m["layouts.bytes"] = res["artifact_bytes"]
    m["jvm.heap_peak_mb"] = res["heap_peak_mb"]
    m["trace.overhead_ratio"] = overhead_ratio(res["ops"])
    return m


def per_op_table(res):
    """name -> mean of each layer metric over its traced operations."""
    rows = {}
    for op in res["ops"]:
        if op["phase"] == "traced":
            rows.setdefault(op["name"], []).append(op["layers"])
    return {name: {k: statistics.mean(l[k] for l in ls) for k in ls[0]}
            for name, ls in sorted(rows.items())}


# -------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # SIGTERM unwinds like an error, so the cleanup below still runs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isfile(os.path.join(ROOT, "src/main/scala/graft/Bench.scala"))):
        fail("no graft sources next to the benchmark; run it from a graft checkout", 2)

    cp = classpath()
    t_start = time.time()

    replicas, heap = WORKLOADS[a.workload]
    run = os.path.join(RUNS, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run, ignore_errors=True)
    data = SF01 if replicas == 1 else f"{run}/data"
    deltas, tmp = f"{run}/deltas", f"{run}/tmp"
    os.makedirs(tmp)
    os.makedirs(OUT, exist_ok=True)
    try:
        t0 = time.time()
        if replicas > 1:
            gen.replicas(SF01, data, replicas, threads())
        if a.workload == "ingest":
            # a batch takes ~25 s on 4 cores; a run that gets through them
            # all stops measuring early
            gen.deltas(SF01, deltas, a.seed, 2 * (2 + int(a.seconds // 10)), threads())
        log(f"perfbench: generated inputs in {time.time() - t0:.1f} s")

        out = f"{run}/result.json"
        # a fixed heap, pre-touched so that all of it is resident from the
        # start: peak_rss_mb is then the memory outside it
        cmd = (["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:+AlwaysPreTouch",
                "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
                "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
               + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + ["-cp", cp, "graft.perfbench.Main", "--workload", a.workload,
                  "--data", data, "--run", run, "--seed", str(a.seed),
                  "--seconds", str(a.seconds), "--trace", str(a.trace),
                  "--out", out, "--deltas", deltas])
        left = RUN_LIMIT_S - (time.time() - t_start)
        t_jvm = time.time()
        with open(f"{run}/jvm.log", "w") as jlog:
            p = subprocess.Popen(cmd, cwd=run, stdout=jlog, stderr=subprocess.STDOUT)
            try:
                rc = p.wait(timeout=max(10.0, left))
            except subprocess.TimeoutExpired:
                fail("the harness did not finish in time")
            finally:  # also on SIGTERM: never leave the JVM behind
                if p.poll() is None:
                    p.kill()
                    p.wait()
        log(f"perfbench: harness ran in {time.time() - t_jvm:.1f} s")
        if rc != 0 or not os.path.isfile(out):
            with open(f"{run}/jvm.log") as f:
                log(f.read()[-4000:])
            fail(f"the harness exited with {rc}")
        with open(out) as f:
            res = json.load(f)

        t_chk = time.time()
        input_bytes = dir_bytes(data)
        if a.workload == "ingest":
            bad, mism, checked, applied = check_ingest(res, data, tmp)
            input_bytes += sum(dir_bytes(d) for d in applied)
        else:
            bad, mism, checked = check_headline(res, data, tmp)
        attempted = len(res["ops"])
        failed = len(bad)
        log(f"perfbench: checked outputs in {time.time() - t_chk:.1f} s")

        e2e, samples = end_to_end(res, input_bytes) if a.trace == 0 else ({}, 0)
        if a.trace == 1:
            layers = per_layer(res)
            spans = out.replace(".json", ".spans.json")
            keep = os.path.join(OUT, f"{a.workload}-{a.seed}")
            shutil.copy(spans, keep + ".spans.json")
            with open(keep + ".layers.json", "w") as f:
                json.dump({"per_op": per_op_table(res), "metrics": layers,
                           "setup": res["setup"],
                           "detail": res["layout_detail"]}, f, indent=1)

        # ---- report
        print(f"workload {a.workload}  seed {a.seed}  seconds {a.seconds:g}  trace {a.trace}  "
              f"data_sig {data_sig(data, deltas)}")
        print(f"checks: {len(checked)} operations checked against DuckDB: {', '.join(checked)}")
        for name, why in sorted(mism.items()):
            print(f"  MISMATCH {name}: {why}")
        print(f"failed_ratio {failed / max(1, attempted):.4f} ({failed} of {attempted} operations)")
        st = res["setup"]
        print(f"setup: session start {st['session_s']:.3f} s; builds " +
              ", ".join(f"{k} {v:.3f} s" for k, v in st["builds"].items()) +
              f"; {st['codegen_compiles']} codegen compiles")
        if a.workload == "ingest":
            meas = [op for op in res["ops"] if op["phase"] != "warmup"]
            app = [op["wall_s"] for op in meas if op["name"] == "append"]
            comp = [op["wall_s"] for op in meas if op["name"] == "compact"]
            prep = [op["wall_s"] for op in meas if op["name"] == "incprep"]
            d = res["layout_detail"]
            print(f"append_p50_s {median(app):.4f} s ({len(app)} appends)  "
                  f"compact_s {median(comp):.4f} s ({len(comp)} compactions)  "
                  f"examples.incprep_s {median(prep):.4f} s")
            print(f"layouts.max_files_per_bucket {d['max_files_per_bucket']}  "
                  f"layouts.prune_ratio {d['prune_files'] / max(1, d['prune_total']):.4f}")
        if a.trace == 0:
            print(f"latency samples {samples} (p90 from {samples} operations)")
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}
        else:
            for name, row in per_op_table(res).items():
                print(f"  {name:<22} " + " ".join(
                    f"{k.split('.', 1)[1]}={v:.1f}" for k, v in row.items()))
            print("layouts.bytes by artifact (after setup): " +
                  ", ".join(f"{k} {v}" for k, v in st["bytes"].items()))
            metrics = {k: {"value": layers[k], "unit": u} for k, u in LAYERS}
        for k, v in metrics.items():
            print(f"  {k} = {v['value']:.6g} {v['unit']}")
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(run, ignore_errors=True)


if __name__ == "__main__":
    main()

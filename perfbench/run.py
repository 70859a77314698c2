#!/usr/bin/env python3
"""graft benchmark: one command, three workloads, every output checked.

    python3 perfbench/run.py --workload lake_sql --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The script
  1. builds the checked-out tree (src/main/scala plus perfbench/src) with
     scalac into .perfbench/build/<source digest>/, so stale classes can
     never stand in for the tree being measured;
  2. generates the workload's fixture once into .perfbench/data/ (the
     data is fixed; --seed only permutes the order of operations);
  3. runs graftbench.Main in one JVM on local[4]: one set-up, one to
     three warm-up passes, then full passes over the workload's operations
     until --seconds have elapsed, checking each operation's row count
     and output fingerprint against perfbench/expected.json;
  4. prints a summary with sample counts, then one JSON line.

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones
(Spark listener profile per operation, build/plan/exec split, connector
call counts and microbenchmarks, kernel microbenchmarks, streaming
progress). Everything it writes goes under .perfbench/.

    python3 perfbench/run.py --bless [--workload W]

re-derives perfbench/expected.json: it runs every operation, compares
its output with the operation's DuckDB oracle (SparkEntry.oracleSql) on
the workload's own fixture, and records the row count and fingerprint.
An operation whose output disagrees with its oracle is recorded as such
and is reported as failing in every run.
"""
import argparse
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

T_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
EXPECTED = os.path.join(HERE, "expected.json")
CORES = 4
# The heap is sized once (2 GiB, of which 256 MiB young generation), so
# the collector never resizes it, and is not pre-touched: rss_peak_mb is
# the heap pages the program has touched plus native memory. With a
# resizable heap, peak RSS followed the collector's resizing decisions and
# spread 20% over five seeds of llm_pipeline; sized once, 2%.
HEAP = "2g"
YOUNG = "256m"
RUN_LIMIT_S = 170

# Each workload: its fixture's scale factor (gen.py --sf), its warm-up
# passes and its operations, all names from SparkEntry.queries.
# llm_pipeline's short operations are still being compiled after one or
# two warm-up passes (ten-seed timing spread 17-24% of the median after
# one, 13-15% after two, 5-17% after three); a second pass of the longer
# workloads would not fit the run budget.
WORKLOADS = {
    "lake_sql": {
        "sf": 0.03,
        "warm": 1,
        "ops": ["q_sql_tpch_q1", "q_sql_tpch_q5", "q_join_asof", "q_window_range_frame",
                "q_agg_percentile"],
    },
    "llm_pipeline": {
        "sf": 0.001,
        "warm": 3,
        "ops": ["q_dedup_exact", "q_dedup_minhash", "q_dedup_simhash", "q_text_quality",
                "q_text_langid"],
    },
    "lake_ingest": {
        "sf": 0.005,
        "warm": 1,
        "ops": ["q_stream_snapshot_ingest", "q_stream_dedup", "q_table_merge", "q_table_delete",
                "q_sink_partitioned"],
    },
}


def log(msg):
    print(f"[perfbench] {msg}", flush=True)


def digest(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        sys.exit("perfbench: Spark jars not found (set SPARK_HOME)")
    return os.path.join(jars, "*")


def build(jars):
    """Compile the checked-out program and the harness; returns the
    classes directory and the digest of the compiled classes."""
    main_src = glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True)
    bench_src = glob.glob(os.path.join(HERE, "src/*.scala"))
    if not main_src:
        sys.exit("perfbench: no program sources under src/main/scala; run from a graft checkout")
    out = os.path.join(WORK, "build", digest(main_src + bench_src))
    classes = os.path.join(out, "classes")
    if not os.path.exists(os.path.join(out, "ok")):
        t0 = time.time()
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(classes)
        for srcs, cp in ((main_src, jars), (bench_src, classes + os.pathsep + jars)):
            subprocess.run(["java", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main", "-nowarn",
                            "-d", classes, "-classpath", cp] + sorted(srcs), check=True)
        open(os.path.join(out, "ok"), "w").close()
        log(f"build_s={time.time() - t0:.1f} (one-time, excluded from setup_s)")
    class_files = glob.glob(os.path.join(classes, "**/*.class"), recursive=True)
    return classes, digest(class_files)


def fixture(name):
    """Generate the workload's fixture once; returns its directory."""
    sf = str(WORKLOADS[name]["sf"])
    gen = os.path.join(HERE, "gen.py")
    key = sf + " " + digest([gen])
    d = os.path.join(WORK, "data", name)
    marker = os.path.join(d, ".fixture")
    if not (os.path.exists(marker) and open(marker).read() == key):
        t0 = time.time()
        shutil.rmtree(d, ignore_errors=True)
        subprocess.run([sys.executable, gen, d, "--sf", sf], check=True)
        with open(marker, "w") as f:
            f.write(key)
        log(f"fixture_s={time.time() - t0:.1f} for {name} (one-time, excluded from setup_s)")
    return d


def jvm(classes, jars, mode, args, log_path, timeout):
    opens = []
    for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
              "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
              "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"):
        opens += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    tmp = os.path.join(WORK, "tmp", str(os.getpid()))
    os.makedirs(tmp, exist_ok=True)
    # no hsperfdata file in the system temp dir, no Spark scratch outside .perfbench
    cmd = ["java"] + opens + [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}",
           "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", classes + os.pathsep + jars, "graftbench.Main", mode] + \
          [f"{k}={v}" for k, v in args.items()]
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}
    proc = None
    try:
        with open(log_path, "w") as lf:
            proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=tmp, env=env)
            try:
                rc = proc.wait(timeout=timeout)
            except subprocess.TimeoutExpired:
                sys.exit(f"perfbench: JVM exceeded {timeout:.0f}s, see {log_path}")
        if rc != 0:
            sys.exit(f"perfbench: JVM exited with {rc}, see {log_path}")
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(tmp, ignore_errors=True)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def pct(xs, q):
    """q-th percentile, interpolated between the nearest samples."""
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1]


def end_to_end(raw, name):
    passes = raw["passes"]
    ops = [o["s"] for p in passes for o in p if o["ok"]]
    pass_s = [sum(o["s"] for o in p if o["ok"]) for p in passes]
    m = {
        "pass_s": (median(pass_s), "s", len(pass_s)),
        "op_p50_s": (median(ops), "s", len(ops)),
        "op_p90_s": (pct(ops, 90), "s", len(ops)),
        "setup_s": (raw["first_op_s"], "s", 1),
        "rss_peak_mb": (raw["rss_peak_mb"], "MB", 1),
    }
    info = {"fail_frac": (sum(1 for p in passes for o in p if not o["ok"])
                          / max(1, sum(len(p) for p in passes)), "1", sum(len(p) for p in passes))}
    b = batches(raw)
    if name == "lake_ingest":
        trig = [x["trigger_ms"] / 1e3 for x in b]
        info["batch_p50_s"] = (median(trig), "s", len(trig))
        info["batch_p90_s"] = (pct(trig, 90), "s", len(trig))
    return m, info


def batches(raw):
    """Micro-batches that started inside a timed operation."""
    spans = [(o["w0_ms"], o["w1_ms"]) for p in raw["passes"] for o in p]
    return [b for b in raw["batches"] if any(s <= b["t_ms"] <= e for s, e in spans)]


def union_ms(spans, lo, hi):
    total, cur = 0, lo
    for s, e in sorted(spans):
        s, e = max(s, cur), min(e, hi)
        if e > s:
            total += e - s
            cur = e
    return total


def per_layer(raw):
    passes = raw["passes"]
    sp = raw["spark"]
    per_pass = []
    for p in passes:
        acc = {}

        def add(k, v):
            acc[k] = acc.get(k, 0) + v
        wall = 0.0
        for o in p:
            wall += (o["w1_ms"] - o["w0_ms"]) / 1e3
            s = sp.get(o["tag"], {})
            for k in ("jobs", "stages", "tasks", "failed_tasks", "task_run_s", "executor_cpu_s",
                      "gc_s", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "input_bytes"):
                add("spark." + k, s.get(k, 0))
            acc["spark.task_skew"] = max(acc.get("spark.task_skew", 0.0), s.get("task_skew", 0.0))
            busy = union_ms([tuple(x) for x in s.get("spans", [])], o["w0_ms"], o["w1_ms"])
            add("spark.driver_only_s", (o["w1_ms"] - o["w0_ms"] - busy) / 1e3)
            for k, name in (("build_s", "queries.build_s"), ("plan_s", "plans.plan_s"),
                            ("exec_s", "queries.exec_s")):
                add(name, o.get(k, 0.0))
            for k, v in o["fs_calls"].items():
                add(f"sources.graft.{k}_per_pass", v)
        acc["spark.tasks_per_stage"] = acc["spark.tasks"] / max(1, acc["spark.stages"])
        acc["spark.cpu_util"] = acc["spark.executor_cpu_s"] / (wall * CORES)
        acc["trace.pass_s"] = sum(o["s"] for o in p if o["ok"])
        per_pass.append(acc)
    def unit(k):
        if "bytes" in k:
            return "bytes"
        return next((u for suf, u in (("_s", "s"), ("skew", "ratio"), ("util", "ratio"))
                     if k.endswith(suf)), "count")
    m = {k: (median([a[k] for a in per_pass]), unit(k), len(per_pass)) for k in per_pass[0]}
    m["tables.load_ms"] = (raw["tables_load_ms"], "ms", 1)
    live = [o["live_heap_mb"] for p in passes for o in p]
    m["jvm.live_heap_peak_mb"] = (max(live), "MB", len(live))
    src = raw["micro"]["sources"]
    for scheme in ("graft", "file"):
        for k, v in src[scheme].items():
            m[f"sources.{scheme}.{k}"] = (v, "us", 1)
    m["sources.overhead_ratio"] = (src["overhead_ratio"], "ratio", 1)
    for k, v in raw["micro"]["functions"].items():
        m[f"functions.{k}"] = (v, "ns", 1)
    b = batches(raw)
    n_pass = max(1, len(passes))
    m["streaming.batches"] = (len(b) / n_pass, "count", len(b))
    for k in ("trigger_ms", "add_batch_ms", "wal_commit_ms", "commit_offsets_ms"):
        m[f"streaming.{k}"] = (median([x[k] for x in b]), "ms", len(b))
    m["streaming.batch_p50_s"] = (median([x["trigger_ms"] / 1e3 for x in b]), "s", len(b))
    m["streaming.batch_p90_s"] = (pct([x["trigger_ms"] / 1e3 for x in b], 90), "s", len(b))
    m["streaming.state_rows"] = (max([x["state_rows"] for x in b], default=0), "count", len(b))
    m["streaming.state_memory_bytes"] = (max([x["state_memory_bytes"] for x in b], default=0), "bytes", len(b))
    return m


def profile(raw):
    """Per-operation Spark profile, medians over the timed passes."""
    sp = raw["spark"]
    log("  profile (median per operation): wall_s build_share jobs tasks cpu_util "
        "shuffle_write_bytes graft_read_bytes")
    by_op = {}
    for p in raw["passes"]:
        for o in p:
            s = sp.get(o["tag"], {})
            wall = (o["w1_ms"] - o["w0_ms"]) / 1e3
            by_op.setdefault(o["op"], []).append((
                wall, o.get("build_s", 0.0) / wall, s.get("jobs", 0), s.get("tasks", 0),
                s.get("executor_cpu_s", 0.0) / (wall * CORES), s.get("shuffle_write_bytes", 0),
                o["fs_calls"].get("read_bytes", 0)))
    for op, rows in sorted(by_op.items()):
        cols = [median(c) for c in zip(*rows)]
        log(f"    {op:<26} {cols[0]:6.2f} {cols[1]:5.2f} {cols[2]:4.0f} {cols[3]:5.0f} "
            f"{cols[4]:5.2f} {cols[5]:10.0f} {cols[6]:10.0f}")


def run(a):
    jars = spark_jars()
    classes, class_digest = build(jars)
    data = fixture(a.workload)
    out_dir = os.path.join(WORK, "out")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}")
    jvm(classes, jars, "run", {
        "ops": ",".join(WORKLOADS[a.workload]["ops"]), "data": data, "out": stem + ".json",
        "expected": EXPECTED, "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "cores": CORES, "warm": WORKLOADS[a.workload]["warm"],
    }, stem + ".log", RUN_LIMIT_S - (time.time() - T_START))
    with open(stem + ".json") as f:
        raw = json.load(f)
    e2e, info = end_to_end(raw, a.workload)
    metrics = per_layer(raw) if a.trace else e2e
    failures = sorted({f"{o['op']}: {o['error']}" for p in raw["passes"] for o in p if not o["ok"]})
    attempted = sum(len(p) for p in raw["passes"])
    failed = sum(1 for p in raw["passes"] for o in p if not o["ok"])
    sc = raw["self_check"]
    log(f"workload={a.workload} seed={a.seed} trace={a.trace} commit={commit()} "
        f"classes={class_digest} warm_passes={len(raw['warm']) // len(WORKLOADS[a.workload]['ops'])} "
        f"passes={len(raw['passes'])} measured_s={raw['measured_s']:.1f} "
        f"trace_file={os.path.relpath(stem + '.json', ROOT)}")
    log(f"  set-up before warm-up: session_s={raw['session_s']:.2f} "
        f"tables_load_ms={raw['tables_load_ms']:.0f}")
    for k, (v, u, n) in list(e2e.items()) + list(info.items()):
        log(f"  {k:<12} {v:>12.4f} {u:<3} n={n}")
    if a.trace:
        profile(raw)
    untraced = os.path.join(out_dir, f"untraced-{a.workload}-{class_digest}.json")
    if not a.trace:
        with open(untraced, "w") as f:
            json.dump({"pass_s": e2e["pass_s"][0]}, f)
    elif os.path.exists(untraced):
        base, traced = json.load(open(untraced))["pass_s"], metrics["trace.pass_s"][0]
        log(f"  tracing overhead: pass_s {traced:.4f} s traced vs {base:.4f} s in the last "
            f"untraced run of these classes ({traced - base:+.4f} s)")
    for f_ in failures:
        log(f"  FAILED {f_}")
    log(f"  self-check ({sc['op']} made to lose its rows, then to throw): "
        f"{'both counted as failed' if sc['passed'] else 'NOT DETECTED'}")
    warm_fail = [o["op"] for o in raw["warm"] if not o["ok"]]
    correct = failed == 0 and not warm_fail and sc["passed"]
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u, _) in metrics.items()}}))


def commit():
    try:
        r = subprocess.run(["git", "rev-parse", "--short", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() or "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def bless(a):
    sys.path.insert(0, HERE)
    import oracle
    jars = spark_jars()
    classes, _ = build(jars)
    names = [a.workload] if a.workload else list(WORKLOADS)
    exp = json.load(open(EXPECTED)) if os.path.exists(EXPECTED) else {}
    for name in names:
        data = fixture(name)
        out_dir = os.path.join(WORK, "bless", name)
        shutil.rmtree(out_dir, ignore_errors=True)
        os.makedirs(out_dir)
        jvm(classes, jars, "bless", {
            "ops": ",".join(WORKLOADS[name]["ops"]), "data": data, "cores": CORES,
            "out": os.path.join(out_dir, "bless.json"), "parquet": out_dir,
        }, os.path.join(out_dir, "bless.log"), 3600)
        exp[name] = oracle.judge(os.path.join(out_dir, "bless.json"), out_dir, data)
        for op, v in exp[name].items():
            log(f"{name} {op}: {v}")
    with open(EXPECTED, "w") as f:
        json.dump(exp, f, indent=1, sort_keys=True)
        f.write("\n")


def main():
    # on SIGTERM unwind normally, so the JVM child is killed and reaped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--bless", action="store_true")
    a = ap.parse_args()
    if a.bless:
        bless(a)
    elif not a.workload:
        ap.error("--workload is required")
    else:
        run(a)


if __name__ == "__main__":
    main()

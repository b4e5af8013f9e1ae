#!/usr/bin/env python3
"""The repo benchmark: one seeded workload, measured end to end or per layer.

    python3 perfbench/run.py --workload ingest|lake_query --seed N \\
        --seconds S --trace 0|1

Run from the root of a checkout. It compiles the program's sources together
with the harness in perfbench/scala into a snapshot under .bench_build (reused
while the sources are unchanged), generates the seed's inputs, runs the
workload in one JVM on a local[<cores>] Spark session, checks the outputs
(CTL manifests, repeat digests and, for lake_query, DuckDB oracles) and prints
one JSON result as the last line of standard output. The metric names and
units are the ones BENCHMARK.json declares.
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
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402
import stats  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
DEADLINE_S = 170
SETUP_REPEATS = 3
WORKLOADS = ["ingest", "lake_query"]
# untimed iterations before the timed loop: JIT progress keeps shortening
# iterations for a minute or more, and the steep start of that curve is where
# most run-to-run spread comes from
WARMUP = {"ingest": 5, "lake_query": 2}
CORES = len(os.sched_getaffinity(0))


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def build():
    """Compile src/main/scala plus the harness into an immutable snapshot
    keyed by the sources' hash (so a compile running elsewhere in the tree
    cannot change the bytecode a run measures): a jar of the classes and a
    class-data-sharing archive of the classes a run loads, which takes
    several seconds off every JVM start. Returns the run classpath and the
    archive."""
    srcs = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                            recursive=True))
    if not srcs:
        fail("no program sources under src/main/scala")
    srcs += sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    jars = sorted(glob.glob(os.path.join(JARS, "*.jar")))
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(compiler) != 3:
        fail(f"no Scala compiler jars under {JARS}")
    h = hashlib.sha256()
    for f in srcs + compiler + [os.path.join(HERE, "gen.py")]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    snap = os.path.join(BUILD, "snap-" + h.hexdigest()[:16])
    cp = [os.path.join(snap, "app.jar")] + jars
    jsa = os.path.join(snap, "app.jsa")
    if os.path.exists(os.path.join(snap, ".ok")):
        return cp, jsa
    for old in glob.glob(os.path.join(BUILD, "snap-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = snap + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    classes = os.path.join(tmp, "classes")
    os.makedirs(classes)
    log(f"compiling {len(srcs)} sources")
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xmx3g", "-Xss8m",
                        "-cp", ":".join(compiler),
                        "scala.tools.nsc.Main", "-nowarn", "-d", classes,
                        "-classpath", ":".join(jars)] + srcs,
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail("compile failed")
    with zipfile.ZipFile(os.path.join(tmp, "app.jar"), "w") as z:
        for d, _, files in os.walk(classes):
            for f in sorted(files):
                z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), classes))
    shutil.rmtree(classes)
    os.rename(tmp, snap)
    log("recording the class-data-sharing archive")
    work = os.path.join(BUILD, "work", f"cds-{os.getpid()}")
    try:
        inputs, _ = make_inputs(work, 0, repeats=1)
        with open(os.path.join(snap, "cds.log"), "w") as out:
            run_jvm(cp, [f"-XX:ArchiveClassesAtExit={jsa}"], [
                "--workload", ",".join(WORKLOADS), "--seed", "0", "--seconds", "0",
                "--trace", "0", "--inputs", inputs, "--work", work,
                "--out", os.path.join(work, "raw.json"), "--cores", str(CORES)],
                work, time.time(), DEADLINE_S * 4, out)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if not os.path.exists(jsa):
        fail("no class-data-sharing archive was written")
    open(os.path.join(snap, ".ok"), "w").close()
    return cp, jsa


def add_opens():
    path = os.path.join(ROOT, "tools", "add_opens.txt")
    if not os.path.exists(path):
        fail("tools/add_opens.txt is missing")
    opts = []
    for line in open(path):
        line = line.strip()
        if line and not line.startswith("#"):
            opts += ["--add-opens", f"{line}=ALL-UNNAMED"]
    return opts


def dir_digest(path):
    h = hashlib.sha256()
    for f in sorted(glob.glob(os.path.join(path, "**", "*"), recursive=True)):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, path).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def make_inputs(work, seed, repeats=SETUP_REPEATS):
    """Generate the seed's inputs `repeats` times (into fresh directories)
    and keep the first; the generation time is the median, and every copy
    must be byte-identical."""
    times, digests = [], set()
    for k in range(repeats):
        d = os.path.join(work, f"inputs{k}")
        t0 = time.time()
        gen.make_inputs(d, seed)
        times.append(time.time() - t0)
        digests.add(dir_digest(d))
        if k:
            shutil.rmtree(d)
    if len(digests) != 1:
        fail("the same seed generated different inputs")
    return os.path.join(work, "inputs0"), statistics.median(times)


def run_jvm(cp, jvm_opts, args, work, started, deadline=DEADLINE_S, out=sys.stderr):
    """Run the harness JVM to completion; returns its launch time."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + add_opens() + jvm_opts +
           ["-XX:-UsePerfData", "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false",
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-Dspark.sql.session.timeZone=UTC", "-cp", ":".join(cp),
            "perfbench.Harness"] + args)
    launch = time.time()
    p = subprocess.Popen(cmd, stdout=out, stderr=out, cwd=work,
                         start_new_session=True)
    try:
        rc = p.wait(timeout=max(10, deadline - (launch - started)))
    except subprocess.TimeoutExpired:
        rc = None
    finally:
        if p.poll() is None:  # timed out, or this process is being stopped
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    if rc is None:
        fail("the workload did not finish in time")
    if rc != 0:
        fail(f"the workload JVM exited with {rc}")
    return launch


def oracle_check(v, lake):
    """Hash-compare each dumped lake_query result with its DuckDB oracle."""
    import duckdb
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{lake}/{t}.parquet'")
    bad = []
    for name, sql in sorted(v["oracle_sql"].items()):
        try:
            got = con.execute(
                f"SELECT * FROM '{v['dir']}/{name}/*.parquet'").fetchdf()
            want = con.execute(sql).fetchdf()
            if canonical(got) != canonical(want):
                bad.append(f"{name}: result differs from its DuckDB oracle "
                           f"({len(got)} vs {len(want)} rows)")
        except Exception as e:  # an oracle that cannot run is a failure too
            bad.append(f"{name}: {e}")
    return bad


def canonical(df):
    """SHA-256 of a result as a set of rows: columns by name, rows sorted,
    cells as strings."""
    cols = sorted(df.columns)
    df = df[cols].sort_values(cols, kind="mergesort").reset_index(drop=True)
    h = hashlib.sha256(",".join(cols).encode())
    for c in cols:
        h.update("\x1f".join(df[c].astype(str)).encode())
    return h.hexdigest()


def end_to_end(raw, gen_s, launch):
    """Every end-to-end figure of an untraced run (BENCHMARK.json picks the
    steady ones), and notes for standard error."""
    passes = [p for p in raw["passes"] if not p["traced"]]
    ops = [o["s"] for o in raw["ops"] if not o["traced"]]
    items = sum(p["items"] for p in passes)
    rows = sum(p["landed_rows"] for p in passes)
    t = stats.tail(ops)
    metrics = {
        "setup_s": gen_s + (raw["first_op_ms"] / 1e3 - launch),
        "pass_cpu_s": stats.median([p["cpu_s"] for p in passes]),
        "items_per_cpu_s": items / sum(p["cpu_s"] for p in passes),
        "bytes_per_row": sum(p["landed_bytes"] for p in passes) / max(rows, 1),
        "items_per_s": items / sum(p["wall_s"] for p in passes),
        "pass_s": stats.median([p["wall_s"] for p in passes]),
        "op_p50_s": stats.median(ops),
        "rss_peak_mb": raw["rss_peak_kb"] / 1024.0,
    }
    notes = {
        "op_tail_s": t and {"value": t[0], "percentile": t[1], "samples": t[2]},
        "launch_to_session_s": raw["session_ready_ms"] / 1e3 - launch,
        "workload_setup_s": (raw["setup_done_ms"] - raw["session_ready_ms"]) / 1e3,
        "warmup_s": (raw["first_op_ms"] - raw["setup_done_ms"]) / 1e3,
        "pass_walls_s": [round(p["wall_s"], 3) for p in passes],
        "op_median_s": {n: stats.median([o["s"] for o in raw["ops"] if o["name"] == n])
                        for n in sorted({o["name"] for o in raw["ops"]})}}
    return metrics, notes


def per_layer(raw, names):
    cores = raw["cores"]
    spans = raw["spans"]
    out = {}
    for name in names:
        if name == "tracing.overhead_s":
            on = [p["wall_s"] for p in raw["passes"] if p["traced"]]
            off = [p["wall_s"] for p in raw["passes"] if not p["traced"]]
            out[name] = stats.median(on) - stats.median(off) if on and off else 0.0
            continue
        span, counter = name.rsplit(".", 1)
        vals = []
        for s in spans.get(span, []):
            if counter == "driver_s":
                vals.append(stats.driver_time(
                    [(s["window"][0] / 1e3, s["window"][1] / 1e3)],
                    [(a / 1e3, b / 1e3) for a, b in s["intervals"]]))
            elif counter == "core_util":
                vals.append(stats.core_util(s["task_run_s"], s["wall_s"], cores))
            else:
                vals.append(s[counter])
        # a span this workload never opens reads 0
        out[name] = stats.median(vals)
    return out


def main():
    # a stop request unwinds through the cleanup that ends the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    try:
        spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    except OSError:
        fail("BENCHMARK.json is missing")
    if a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload}")
    cp, jsa = build()
    started = time.time()  # the first run in a checkout builds first
    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        inputs, gen_s = make_inputs(work, a.seed)
        out = os.path.join(work, "raw.json")
        launch = run_jvm(cp, [f"-XX:SharedArchiveFile={jsa}"], [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--warmup", str(WARMUP[a.workload]),
            "--trace", str(a.trace),
            "--inputs", inputs, "--work", work, "--out", out,
            "--cores", str(CORES)], work, started)
        raw = json.load(open(out))
        failures = list(raw["failures"])
        if raw["verify"]:
            failures += oracle_check(raw["verify"], os.path.join(inputs, "lake"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for f in failures:
        log(f"FAILED {f}")
    if a.trace:
        values = per_layer(raw, [m["name"] for m in spec["per_layer"]])
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        notes = {}
    else:
        values, notes = end_to_end(raw, gen_s, launch)
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        notes["undeclared"] = {k: v for k, v in values.items() if k not in units}
        values = {k: values[k] for k in units}
    log(json.dumps(notes))
    result = {"correct": not failures, "attempted": raw["attempted"],
              "failed": len(failures),
              "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()}}
    print(json.dumps(result))
    sys.exit(0 if not failures else 1)


if __name__ == "__main__":
    main()

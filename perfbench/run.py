#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload, one seed, one run.

Usage (from the repository root):

    python3 perfbench/run.py --workload {mapreduce|build-serve}
        --seed N --seconds S --trace {0|1}

Steps:

1. Builds the engine and the harness into ``.bench_build/classes`` with
   ``perfbench/build.sh`` when their sources changed.
2. Generates the workload's inputs from the seed (``perfbench/gen.py``).
3. Runs ``perfbench.Harness`` in a fresh JVM on ``local[N]``, N = the
   number of CPUs this process may use.
4. Checks every output, untimed: each query row against its DuckDB
   oracle (``SparkEntry.oracleSql``, compared with the canonicalization
   of ``tools/compare.py``), and the ``TextSink`` files of the
   wordcount and grep apps against DuckDB/Python recomputations.
5. Prints the metrics by name with their units, then, as the last
   line, one JSON object: ``correct``, ``attempted``, ``failed`` and
   ``metrics``. ``--trace 0`` reports the ``end_to_end`` metrics of
   ``BENCHMARK.json``, ``--trace 1`` its ``per_layer`` metrics.

Exits 1 when an output is wrong or an op failed, 2 when the engine
sources or toolchain are missing.
"""
import argparse
import glob
import hashlib
import importlib.util
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
HARNESS_TIMEOUT_S = 160
HEAP = "3g"
APPS = ("mr_wc_general", "mr_wc_agg", "mr_grep")

sys.path.insert(0, HERE)
import gen  # noqa: E402


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """The Spark jar directory: $SPARK_HOME/jars, else the
    ``unmanagedBase`` the engine's build.sbt names."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if m and os.path.isdir(m.group(1)):
        return m.group(1)
    die("no Spark jars: set SPARK_HOME")


def sources():
    files = [os.path.join(HERE, "build.sh")]
    for top in ("src/main/scala", "perfbench/src"):
        for d, _, names in os.walk(os.path.join(ROOT, top)):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build(jars):
    """Compiles engine + harness unless the stamp matches the sources."""
    h = hashlib.sha256(jars.encode())
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    classes = os.path.join(BUILD, "classes")
    stamp = os.path.join(BUILD, "classes.stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return classes
    os.makedirs(BUILD, exist_ok=True)
    if os.path.exists(stamp):
        os.remove(stamp)
    r = subprocess.run(["bash", os.path.join(HERE, "build.sh"), BUILD, jars],
                       cwd=ROOT, stdout=sys.stderr, timeout=840)
    if r.returncode != 0:
        die("build failed")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return classes


# Spark on JDK 17 outside spark-submit needs these (the engine's
# build.sbt passes the same list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def harness(classes, jars, args, inputs, out, cores):
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # A fixed heap, so the collector does not resize it while a run
    # measures.
    cmd += [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            "-Dspark.ui.enabled=false", f"-Djava.io.tmpdir={tmp}",
            "-cp", f"{classes}{os.pathsep}{jars}/*", "perfbench.Harness",
            "--workload", args.workload, "--inputs", inputs, "--out", out,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--cores", str(cores)]
    log_path = os.path.join(out, "harness.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log,
                             text=True, start_new_session=True)
        try:
            stdout, _ = p.communicate(timeout=HARNESS_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            stdout = None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if stdout is None:
        die(f"harness exceeded {HARNESS_TIMEOUT_S} s", 1)
    lines = [ln for ln in stdout.splitlines() if ln.startswith("PERFBENCH ")]
    if p.returncode != 0 or not lines:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        die(f"harness exited with {p.returncode}", 1)
    return json.loads(lines[-1][len("PERFBENCH "):])


def load_canon():
    """``canon`` from tools/compare.py: columns by name, rows sorted."""
    spec = importlib.util.spec_from_file_location(
        "compare", os.path.join(ROOT, "tools", "compare.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.canon


def check_rows(res, inputs, out):
    """Compares each row's Spark output with its DuckDB oracle."""
    import duckdb
    canon = load_canon()
    con = duckdb.connect()
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    for t in glob.glob(os.path.join(inputs, "*.parquet")):
        name = os.path.basename(t)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS FROM '{t}'")
    bad = dict(res["verify_errors"])
    rows = {op["name"] for op in res["passes"][0]["ops"]} - set(APPS)
    for name in sorted(rows - set(bad)):
        sql = res["oracles"].get(name)
        files = sorted(glob.glob(os.path.join(out, "rows", name, "*.parquet")))
        if sql is None or not files:
            bad[name] = "no oracle" if sql is None else "no output"
            continue
        got = canon(con.execute(f"FROM read_parquet({files!r})").fetchdf())
        want = canon(con.execute(sql).fetchdf())
        if list(got.columns) != list(want.columns):
            bad[name] = f"columns {list(got.columns)} vs {list(want.columns)}"
        elif len(got) != len(want):
            bad[name] = f"rows {len(got)} vs {len(want)}"
        else:
            n = int((got.astype(str) != want.astype(str)).values.sum())
            if n:
                bad[name] = f"{n} cells differ"
    return bad


def check_apps(inputs, out, pattern):
    """Recomputes the wordcount and grep files from corpus.txt."""
    import duckdb
    import pyarrow as pa
    with open(os.path.join(inputs, "corpus.txt")) as f:
        lines = f.read().split("\n")[:-1]
    con = duckdb.connect()
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    con.register("corpus", pa.table({"line": lines}))
    counts = con.execute(
        "SELECT upper(w), COUNT(*) AS c FROM (SELECT unnest("
        "regexp_extract_all(line, '[A-Za-z][A-Za-z'']*')) AS w FROM corpus)"
        " GROUP BY 1 ORDER BY c DESC, 1").fetchall()
    wc = [f"{w}\t{c}" for w, c in counts]
    want = {"mr_wc_general": wc, "mr_wc_agg": wc,
            "mr_grep": [f"{i}\t{ln}" for i, ln in enumerate(lines)
                        if pattern in ln]}
    bad = {}
    for app, expect in want.items():
        got = []
        for part in sorted(glob.glob(os.path.join(out, "apps", app, "part-*"))):
            with open(part) as f:
                got += f.read().split("\n")[:-1]
        if got != expect:
            first = next((i for i, (a, b) in enumerate(zip(got, expect))
                          if a != b), min(len(got), len(expect)))
            bad[app] = (f"{len(got)} lines vs {len(expect)} expected, "
                        f"first difference at line {first}")
    return bad


def med(xs):
    return statistics.median(xs) if xs else 0.0


def warm_passes(res, traced=None):
    """The measured warm passes (not the cold pass nor the warm-up)."""
    return [p for p in res["passes"] if p["sample"]
            and (traced is None or p["traced"] == traced)]


def op_warm(res, name):
    """Median warm latency of one op over the untraced warm passes."""
    return med([o["wall_s"] for p in warm_passes(res, traced=False)
                for o in p["ops"] if o["name"] == name])


def end_to_end(res):
    warm = warm_passes(res, traced=False)
    samples = [op["wall_s"] for p in warm for op in p["ops"]]
    per_op = [op_warm(res, op["name"]) for op in res["passes"][0]["ops"]]
    kept = res["retained"]
    return {
        "setup_s": med(res["setup_s"]),
        "cold_s": res["passes"][0]["wall_s"],
        "warm_s": med([p["wall_s"] for p in warm]),
        "query_gmean_s": statistics.geometric_mean(per_op),
        "query_p50_s": med(samples),
        "retained_mb": (kept["heap_retained_b"] + kept["disk_retained_b"]) / 1e6,
    }, {"warm_passes": len(warm), "query_samples": len(samples)}


def self_times(spans, passes):
    """Per pass and span name: duration minus the part of its interval
    covered by its children."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        if s["pass"] not in passes:
            continue
        covered, end = 0.0, None
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start_ms"]):
            a = max(c["start_ms"], s["start_ms"])
            b = min(c["end_ms"], s["end_ms"])
            if end is not None:
                a = max(a, end)
            if b > a:
                covered += b - a
            end = b if end is None else max(end, b)
        key = (s["pass"], s["name"])
        out[key] = out.get(key, 0.0) + (s["end_ms"] - s["start_ms"] - covered)
    return out


def per_layer(res, spans, cores):
    traced = warm_passes(res, traced=True)
    tp = [p["pass"] for p in traced]
    m = {
        "trace.overhead_s": med([p["wall_s"] for p in traced])
        - med([p["wall_s"] for p in warm_passes(res, traced=False)]),
        "session.start_s": med(res["session_start_s"]),
        "tables.read_s": res["tables"].get("read_s", 0.0),
        "tables.read_jobs": res["tables"].get("read_jobs", 0),
    }

    def op_sum(p, field, names=None):
        return sum(op.get(field, 0.0) for op in p["ops"]
                   if names is None or op["name"] in names)

    def counts(p, phase=None, op=None):
        return [c for c in res["counts"] if c["pass"] == p
                and (phase is None or c["phase"] == phase)
                and (op is None or c["op"] == op)]

    def count_med(field, phase=None, op=None, agg=sum, scale=1.0):
        return med([agg([c[field] for c in counts(p, phase, op)] or [0])
                    * scale for p in tp])

    for layer in ("construct", "plan", "exec"):
        m[f"{layer}.s"] = med([op_sum(p, f"{layer}_s") for p in traced])
    m["construct.jobs"] = count_med("jobs", "construct")
    for f in ("jobs", "stages", "tasks", "tasks_failed"):
        m[f"exec.{f}"] = count_med(f, "exec")
    m["exec.max_stage_tasks"] = count_med("max_stage_tasks", "exec", agg=max)
    m["exec.task_busy_s"] = count_med("busy_ms", "exec", scale=1e-3)
    m["exec.core_util"] = med([
        sum(c["busy_ms"] for c in counts(p["pass"], "exec")) / 1e3
        / max(op_sum(p, "exec_s") * cores, 1e-9) for p in traced])
    m["exec.shuffle_read_mb"] = count_med("shuffle_read_b", "exec", scale=1e-6)
    m["exec.shuffle_write_mb"] = count_med("shuffle_write_b", "exec",
                                           scale=1e-6)
    m["exec.spill_mb"] = count_med("spill_b", "exec", scale=1e-6)
    m["exec.gc_s"] = count_med("gc_ms", "exec", scale=1e-3)
    m["exec.peak_exec_mem_mb"] = count_med("peak_exec_mem_b", "exec", agg=max,
                                           scale=1e-6)

    for metric, name in (("mr.general_s", "mr_wc_general"),
                         ("mr.agg_s", "mr_wc_agg"), ("mr.grep_s", "mr_grep")):
        m[metric] = med([op_sum(p, "wall_s", {name}) for p in traced])
    m["sink.write_s"] = med([op_sum(p, "exec_s", set(APPS)) for p in traced])
    m["mr.general_shuffle_mb"] = count_med("shuffle_write_b", op="mr_wc_general",
                                           scale=1e-6)
    m["mr.agg_shuffle_mb"] = count_med("shuffle_write_b", op="mr_wc_agg",
                                       scale=1e-6)

    builds = res["lineage_build_s"]
    m["lineage.build_s"] = sum(builds.values())
    for key, sec in builds.items():
        m[f"lineage.build_s.{key}"] = sec
    m["lineage.builds"] = len(builds)
    m["lineage.warm_builds"] = res["lineage_warm_builds"]
    m["lineage.persisted_rdds"] = res["persisted_rdds"]
    # Growth per warm pass, from the end of the first warm pass to the end
    # of the last, so that blocks the cold pass releases do not count.
    first, last = res["passes"][1], res["passes"][-1]
    n = max(1, last["pass"] - first["pass"])
    m["lineage.cached_mb_per_pass"] = (
        (last["storage_b"] - first["storage_b"]) / 1e6 / n)
    m["lineage.rdds_per_pass"] = (
        (last["persisted_rdds"] - first["persisted_rdds"]) / n)
    m["storage.retained_mb"] = res["storage_b"] / 1e6

    cold = res["passes"][0].get("stream") or {}
    m["stream.queries"] = cold.get("queries", 0)
    m["stream.batches"] = cold.get("batches", 0)
    m["stream.batch_s"] = cold.get("batch_ms", 0) / 1e3
    m["stream.rows"] = cold.get("rows", 0)
    m["stream.lifecycle_s"] = (cold.get("life_ms", 0)
                               - cold.get("batch_ms", 0)) / 1e3

    selfs = self_times(spans, set(tp))
    for name in ("pass", "op", "construct", "plan", "exec", "job"):
        m[f"self.{name}_s"] = med([selfs.get((p, name), 0.0) / 1e3
                                   for p in tp])

    for op in res["passes"][0]["ops"]:
        m[f"q.{op['name']}.cold_s"] = op["wall_s"]
        m[f"q.{op['name']}.warm_s"] = op_warm(res, op["name"])
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("engine sources (src/main/scala/graft) not found")
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
    except OSError:
        die("BENCHMARK.json not found")
    jars = spark_jars()
    classes = build(jars)

    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-"
                                          f"{os.getpid()}")
    inputs, out = os.path.join(run_dir, "in"), os.path.join(run_dir, "out")
    try:
        t0 = time.time()
        gen.generate(args.workload, args.seed, inputs)
        os.makedirs(out)
        t1 = time.time()
        res = harness(classes, jars, args, inputs, out, cores)
        t2 = time.time()
        bad = check_rows(res, inputs, out)
        if args.workload == "mapreduce":
            bad.update(check_apps(inputs, out, gen.GREP_PATTERN))
        print(f"perfbench: inputs {t1 - t0:.1f} s, harness {t2 - t1:.1f} s, "
              f"checks {time.time() - t2:.1f} s", file=sys.stderr)
        # The harness's raw result, kept for inspection.
        with open(os.path.join(BUILD, f"result-{args.workload}.json"),
                  "w") as f:
            json.dump(res, f)
        with open(os.path.join(out, "spans.json")) as f:
            spans = json.load(f)
        if args.trace:
            shutil.copy(os.path.join(out, "spans.json"), os.path.join(
                BUILD, f"spans-{args.workload}.json"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    threw = [(p["pass"], op["name"], op["error"]) for p in res["passes"]
             for op in p["ops"] if op["error"]]
    attempted = sum(len(p["ops"]) for p in res["passes"])
    failed = len(threw) + len(set(bad) - {name for _, name, _ in threw})
    for p, name, err in threw:
        print(f"FAILED   {name} (pass {p}): {err}")
    for name, why in sorted(bad.items()):
        print(f"WRONG    {name}: {why}")

    for op in res["passes"][0]["ops"]:
        print(f"op {op['name']:<37} cold {op['wall_s']:9.3f} s  "
              f"warm {op_warm(res, op['name']):9.3f} s")
    e2e, samples = end_to_end(res)
    if args.trace:
        declared = spec["per_layer"]
        values = per_layer(res, spans, cores)
    else:
        declared = spec["end_to_end"]
        values = e2e
    metrics = {}
    for d in declared:
        v = values.get(d["name"], 0)
        metrics[d["name"]] = {"value": v, "unit": d["unit"]}
        print(f"{d['name']:<40} {v:>14.6f} {d['unit']}")
    if not args.trace:
        print(f"{'query_p50_s':<40} {e2e['query_p50_s']:>14.6f} s")
    print(f"{'failed_ops':<40} {failed:>14d} count")
    print(f"{'ops':<40} {attempted:>14d} count")
    print(f"cores={cores} warm_passes={samples['warm_passes']} "
          f"query_samples={samples['query_samples']}")
    # Every pass, cold and warm-up included: wall, GC and JIT time.
    for key in ("wall_s", "gc_ms", "jit_ms"):
        print(f"pass {key}: " + " ".join(f"{p[key]:g}" for p in res["passes"]))
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()

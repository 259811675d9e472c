#!/usr/bin/env python3
"""The graft benchmark: one command, one workload, one JSON result line.

    python3 perfbench/run.py --workload <migrate|query_mix>
                             --seed <n> --seconds <n> --trace <0|1>
    python3 perfbench/run.py --selftest

Run it from the root of a checkout.  It builds the harness and the
program's sources with sbt (once per checkout; later runs reuse the
classpath), generates the workload's inputs from the seed, runs the harness
JVM (graftbench.Main), checks the outputs, and prints as its last line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``).  Workloads and metrics are described in README.md.
Everything it writes goes under $CARGO_TARGET_DIR (default .bench_build)
and perfbench/target.
"""
import argparse
import filecmp
import glob
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tarfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import gen  # noqa: E402

REPO = os.path.dirname(HERE)
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
# input sizes; every pass must stay short enough for several warm passes
RELEASE_OBJECTS = 30000
# the scale of the lake the oracle gate checks the queries on; lakeshape.py
# compares the generated lake's shape with such a lake
LAKE_SF = 0.01
GEN_REPS = 3
HEAP = "3g"
MIN_HEAP = "1g"
JVM_TIMEOUT_S = 165
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

END_TO_END = {  # name -> unit
    "setup_s": "s", "cold_s": "s", "warm_s": "s", "op_geomean_ms": "ms",
    "retained_heap_mb": "MB"}
LAYER_KEYS = {  # per-pass sums written by the harness -> unit
    "build_s": "s", "build_jobs": "count", "plan_ms": "ms", "jobs": "count",
    "stages": "count", "tasks": "count", "core_util": "ratio",
    "task_cpu_s": "s", "gc_s": "s", "shuffle_write_bytes": "bytes",
    "shuffle_read_bytes": "bytes", "spill_bytes": "bytes",
    "input_bytes": "bytes", "output_bytes": "bytes", "failed_tasks": "count",
    "empty_task_ratio": "ratio", "hygiene_s": "s", "step.parse_s": "s",
    "step.import_s": "s", "step.store_s": "s", "step.qa_s": "s",
    "step.report_s": "s", "step.archive_s": "s", "parse.task_skew": "ratio",
    "archive.ratio": "ratio"}
COLD_LAYER_KEYS = {"memo_builds": "count", "memo_build_s": "s"}


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(1)


# ------------------------------------------------------------------ build

def sbt_cmd():
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        cmd += ["-Dsbt.override.build.repos=true",
                "-Dsbt.repository.config=" + repos, "-Dsbt.offline=true"]
    return cmd


def source_stamp():
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt")]
    for root in (os.path.join(REPO, "src", "main"), os.path.join(HERE, "src")):
        files += sorted(glob.glob(os.path.join(root, "**", "*"), recursive=True))
    for f in files:
        if os.path.isfile(f):
            st = os.stat(f)
            h.update("{}:{}:{}\n".format(f, st.st_size, st.st_mtime_ns).encode())
    return h.hexdigest()


def build(log_dir):
    """Compile the program and the harness; return the runtime classpath."""
    if not os.path.isdir(os.path.join(REPO, "src", "main", "scala")):
        fail("no program sources next to perfbench/ (expected src/main/scala)")
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    stamp_file = os.path.join(HERE, "target", "classpath.stamp")
    stamp = source_stamp()
    if not (os.path.exists(cp_file) and os.path.exists(stamp_file)
            and open(stamp_file).read() == stamp):
        os.makedirs(log_dir, exist_ok=True)
        log = os.path.join(log_dir, "sbt.log")
        env = dict(os.environ, COURSIER_MODE="offline")
        with open(log, "w") as out:
            try:
                rc = subprocess.run(sbt_cmd() + ["writeClasspath"], cwd=HERE,
                                    env=env, stdout=out, stderr=subprocess.STDOUT,
                                    stdin=subprocess.DEVNULL, timeout=800).returncode
            except subprocess.TimeoutExpired:
                rc = -1
        if rc != 0 or not os.path.exists(cp_file):
            sys.stderr.write(open(log).read()[-3000:])
            fail("build failed (log: {})".format(log))
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return open(cp_file).read().split("\n")


def java_cmd(cp, work, main, args):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = ["--add-opens={}=ALL-UNNAMED".format(p) for p in ADD_OPENS]
    return (["java"] + opens + [
        "-Xms" + MIN_HEAP, "-Xmx" + HEAP, "-Dfile.encoding=UTF-8", "-Dsun.jnu.encoding=UTF-8",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-Djava.io.tmpdir=" + tmp,
        "-Dspark.local.dir=" + os.path.join(work, "spark-local"),
        "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
        "-cp", ":".join(cp), main] + args)


def cores():
    return len(os.sched_getaffinity(0))


def run_jvm(cmd, log, timeout):
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores()))
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, cwd=REPO, env=env, stdout=err,
                             stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return -9


# ------------------------------------------------------------------ inputs

def generate(workload, seed, input_dir):
    """Generate the inputs GEN_REPS times; return (truth, seconds per rep).
    Every repetition must produce the same bytes as the first."""
    times, truth = [], None
    for rep in range(GEN_REPS):
        out = input_dir if rep == 0 else input_dir + ".rep"
        shutil.rmtree(out, ignore_errors=True)
        t0 = time.perf_counter()
        if workload == "migrate":
            truth = gen.release(seed, RELEASE_OBJECTS, out)
        else:
            truth = gen.lake(seed, LAKE_SF, os.path.join(out, "lake"))
        times.append(time.perf_counter() - t0)
        if rep > 0:
            if not same_tree(input_dir, out):
                fail("input generation is not deterministic for seed {}".format(seed))
            shutil.rmtree(out)
    return truth, times


def same_tree(a, b):
    c = filecmp.dircmp(a, b)
    if c.left_only or c.right_only or c.funny_files:
        return False
    if filecmp.cmpfiles(a, b, c.common_files, shallow=False)[1:] != ([], []):
        return False
    return all(same_tree(os.path.join(a, d), os.path.join(b, d))
               for d in c.common_dirs)


# ------------------------------------------------------------------ checks

def norm(v):
    """Value normalization of tools/compare.py (exact doubles via repr)."""
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def digest(cur):
    """Row count and order-insensitive digest of a DuckDB result, columns
    sorted by name."""
    cols = [d[0] for d in cur.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted(repr(tuple(norm(r[i]) for i in order)) for r in cur.fetchall())
    return sorted(cols), len(rows), hashlib.sha256("\n".join(rows).encode()).hexdigest()


def check_queries(result, lake_dir):
    """Compare each op's output with its DuckDB oracle; return failures."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads={}".format(cores()))
    for t in TABLES:
        con.execute("CREATE VIEW {0} AS SELECT * FROM '{1}/{0}.parquet'".format(t, lake_dir))
    check = result["check"]
    failures = {}
    for op, status in sorted(check["status"].items()):
        if status != "ok":
            failures[op] = status
            continue
        sql = check["oracle_sql"].get(op)
        if sql is None:
            failures[op] = "no oracle SQL"
            continue
        try:
            got = digest(con.execute(
                "SELECT * FROM '{}/{}/*.parquet'".format(check["dir"], op)))
            want = digest(con.execute(sql))
        except Exception as e:  # an oracle that cannot run is a failed check
            failures[op] = "oracle error: {}".format(e)
            continue
        if got != want:
            failures[op] = "mismatch: spark {} rows, oracle {} rows{}".format(
                got[1], want[1], "" if got[0] == want[0] else
                ", columns {} vs {}".format(got[0], want[0]))
    return failures, len(check["status"])


def check_migration(result, work, truth):
    """Check the cold and the last pass's artifacts against the generator's
    ground truth; return failures."""
    import duckdb
    failures = {}
    passes = [p["index"] for p in result["passes"]]
    for idx in sorted({passes[0], passes[-1]}):
        out = os.path.join(work, "pass-{}".format(idx))
        tag = "pass {}: ".format(idx)
        try:
            rows = duckdb.connect().execute(
                "SELECT class_name, n_ref, n_db, n_diff FROM '{}/qa/*.parquet'"
                .format(out)).fetchall()
            got = {c: {"n_ref": r, "n_db": d, "n_diff": x} for c, r, d, x in rows}
            if got != truth["qa"]:
                failures[tag + "qa"] = "QA report differs from the release truth"
            for ext, want in (("md", truth["markdown_lines"]),
                              ("html", truth["html_lines"])):
                with open(os.path.join(out, "release", "report",
                                       "qa_report." + ext)) as f:
                    n = len(f.read().splitlines())
                if n != want:
                    failures[tag + ext] = "{} lines, expected {}".format(n, want)
            with tarfile.open(os.path.join(out, "backup.tar.xz"), "r:xz") as tf:
                files = [m for m in tf.getmembers() if m.isfile()]
            if len(files) != truth["archive_entries"] or not all(
                    m.name.startswith("graft-release/") for m in files):
                failures[tag + "archive"] = "{} entries, expected {}".format(
                    len(files), truth["archive_entries"])
        except Exception as e:
            failures[tag + "artifacts"] = "unreadable: {}".format(e)
    return failures, 4 * len({passes[0], passes[-1]})


# ------------------------------------------------------------------ metrics

def metrics(workload, result, truth, gen_s, trace, n_failed, n_attempted):
    passes = result["passes"]
    cold, warm = passes[0], passes[1:]
    # set-up up to the first op: generating the inputs (median of the
    # repetitions) and the JVM's first Graft.session + TmpStores.sweep
    gen_med = statistics.median(gen_s)
    if not trace:
        warm_s = statistics.median(p["wall_s"] for p in warm)
        by_op = {}
        for p in warm:
            for o in p["ops"]:
                by_op.setdefault(o["name"], []).append(o["wall_s"] * 1000)
        op_ms = [statistics.median(v) for v in by_op.values()]
        vals = {
            "setup_s": gen_med + result["session_s"],
            "cold_s": cold["wall_s"],
            "warm_s": warm_s,
            "op_geomean_ms": math.exp(statistics.mean(math.log(v) for v in op_ms)),
            "retained_heap_mb": result["retained_heap_mb"]}
        return {k: {"value": vals[k], "unit": u} for k, u in END_TO_END.items()}
    traced = [p for p in warm if p["traced"]]
    # the first warm pass of a traced run is an untraced warm-up
    untraced = [p for p in warm[1:] if not p["traced"]]
    out = {k: {"value": statistics.median(p["layer"][k] for p in traced), "unit": u}
           for k, u in LAYER_KEYS.items()}
    out.update({k: {"value": cold["layer"][k], "unit": u}
                for k, u in COLD_LAYER_KEYS.items()})
    out["fail_ratio"] = {"value": n_failed / n_attempted, "unit": "ratio"}
    out["trace_overhead"] = {
        "value": statistics.median(p["wall_s"] for p in traced) /
        statistics.median(p["wall_s"] for p in untraced), "unit": "ratio"}
    out["setup.gen_s"] = {"value": gen_med, "unit": "s"}
    out["setup.session_s"] = {"value": result["session_s"], "unit": "s"}
    out["datoms_per_s"] = {"value": truth["datoms"] / statistics.median(
        p["wall_s"] for p in untraced) if workload == "migrate" else 0.0,
        "unit": "1/s"}
    out["op_p50_ms"] = {"value": 1000 * statistics.median(
        o["wall_s"] for p in untraced for o in p["ops"]), "unit": "ms"}
    out["peak_rss_mb"] = {"value": result["peak_rss_mb"], "unit": "MB"}
    return out


# ------------------------------------------------------------------ main

def selftest():
    work = os.path.join(os.environ.get("CARGO_TARGET_DIR", ".bench_build"),
                        "graftbench", "selftest")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cp = build(work)
    rc = subprocess.run([sys.executable, "-m", "unittest", "discover", "-s",
                         os.path.join(HERE, "tests"), "-v"], cwd=REPO).returncode
    rc |= run_jvm(java_cmd(cp, work, "graftbench.SelfTest", []),
                  os.path.join(work, "jvm.log"), JVM_TIMEOUT_S)
    print(open(os.path.join(work, "jvm.log")).read()[-2000:], file=sys.stderr)
    print("selftest " + ("passed" if rc == 0 else "FAILED"))
    return 0 if rc == 0 else 1


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=["migrate", "query_mix"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if a.selftest:
        return selftest()
    if not a.workload:
        ap.error("--workload is required")
    work = os.path.abspath(os.path.join(
        os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "graftbench",
        "{}-s{}-t{}".format(a.workload, a.seed, a.trace)))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cp = build(work)
    input_dir = os.path.join(work, "input")
    truth, gen_s = generate(a.workload, a.seed, input_dir)
    log = os.path.join(work, "jvm.log")
    t_jvm = time.perf_counter()
    rc = run_jvm(java_cmd(cp, work, "graftbench.Main", [
        "--workload", a.workload, "--input", input_dir, "--work", work,
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--seed", str(a.seed)]),
        log, JVM_TIMEOUT_S)
    result_file = os.path.join(work, "result.json")
    if rc != 0 or not os.path.exists(result_file):
        sys.stderr.write(open(log).read()[-3000:])
        fail("harness exited with {} (log: {})".format(rc, log))
    with open(result_file) as f:
        result = json.load(f)
    ops = [o for p in result["passes"] for o in p["ops"]]
    op_failures = {o["name"]: o["error"] for o in ops if not o["ok"]}
    t_check = time.perf_counter()
    if a.workload == "migrate":
        check_failures, n_checks = check_migration(result, work, truth)
    else:
        check_failures, n_checks = check_queries(result, os.path.join(input_dir, "lake"))
    print("perfbench: generation {:.1f} s, harness {:.1f} s, checks {:.1f} s".format(
        sum(gen_s), t_check - t_jvm, time.perf_counter() - t_check), file=sys.stderr)
    print("perfbench: pass walls {} s; host steal {} %".format(
        " ".join("{:.2f}".format(p["wall_s"]) for p in result["passes"]),
        " ".join("{:.1f}".format(100 * p["steal"]) for p in result["passes"])),
        file=sys.stderr)
    for name, why in sorted({**op_failures, **check_failures}.items()):
        print("perfbench: FAILED {}: {}".format(name, why), file=sys.stderr)
    n_failed = sum(1 for o in ops if not o["ok"]) + len(check_failures)
    n_attempted = len(ops) + n_checks
    out = {
        "correct": n_failed == 0,
        "attempted": n_attempted,
        "failed": n_failed,
        "metrics": metrics(a.workload, result, truth, gen_s, a.trace,
                           n_failed, n_attempted)}
    for d in ["input", "check", "tmp", "spark-local", "warehouse"] + [
            "pass-{}".format(p["index"]) for p in result["passes"]]:
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Benchmark runner: builds the program, runs one workload, checks it.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

1. Compiles `src/main/scala` and `perfbench/harness` with the Scala
   compiler jar that ships beside the Spark jars (no build tool), into
   `.bench_build/` (or `$CARGO_TARGET_DIR`); reused while sources are
   unchanged.
2. Empties the run state under `.bench_run/` and generates the corpus
   from `--seed` (`gen.py`).
3. Starts one JVM on the compiled classpath with build.sbt's
   `javaOptions`; `perfbench.Harness` times the workload (see its doc).
4. Checks every key's output from the last timed pass against DuckDB
   running that key's oracle SQL on the same parquet inputs.
5. Prints a run record (host stamps, per-key times, failures), then, as
   the last line, `{"correct", "attempted", "failed", "metrics"}`.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
SF = 0.1
HEAP = "4g"
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 850
FIXTURES_SRC = "src/main/scala/graft/core/Fixtures.scala"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
WORKLOADS = ["etl_pipeline", "llm_curation", "tpch"]
MODULES = ["etl.Etl", "ops.Scans", "stream.Streaming", "llm.Dedup",
           "llm.Similarity", "llm.Curation", "ops.TpchSuite", "ops.SqlApi"]
LAYER_FIELDS = ["wall_s", "build_s", "plan_s", "driver_gap_s", "jobs",
                "tasks", "task_cpu_s", "gc_s", "shuffle_write_mb",
                "spill_mb", "output_rows"]


def unit_of(field):
    if field.endswith("_s"):
        return "s"
    if field.endswith("_mb"):
        return "MB"
    return "rows" if field == "output_rows" else "count"


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars(root):
    """build.sbt's `unmanagedBase`: the Spark jars the program builds on."""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                  open(os.path.join(root, "build.sbt")).read())
    if not m:
        fail("build.sbt sets no unmanagedBase")
    return m.group(1)


def java_options(root):
    """build.sbt's javaOptions: the --add-opens list and -D properties.
    The heap is fixed here, so runs compare whatever the environment."""
    sbt = open(os.path.join(root, "build.sbt")).read()
    opens = re.findall(r'"(java\.base/[^"]+)"', sbt)
    props = re.findall(r'"(-D[^"]+)"', sbt)
    if not opens:
        fail("build.sbt lists no --add-opens packages")
    return ([x for p in opens for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + props + [f"-Xmx{HEAP}"])


def scalac(jars, out, classpath, files, deadline):
    lib = [glob.glob(f"{jars}/scala-{n}-*.jar") for n in
           ("compiler", "library", "reflect")]
    if not all(lib):
        fail(f"no Scala compiler jars in {jars}")
    os.makedirs(out)
    r = subprocess.run(
        ["java", "-XX:-UsePerfData", f"-Djava.io.tmpdir={out}", "-Xss8m",
         "-Xmx2g", "-cp", ":".join(x[0] for x in lib),
         "scala.tools.nsc.Main", "-nowarn", "-d", out, "-classpath",
         classpath] + files,
        capture_output=True, text=True,
        timeout=max(1, deadline - time.time()))
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        fail("compile failed")


def build(root, bdir, fixtures):
    """Compile the program and the harness unless the stamp matches.
    `core.Fixtures.path` hard-codes an absolute fixture root; the copy
    compiled here points it into the checkout's run state, so every write
    stays inside the checkout."""
    srcs = sorted(glob.glob(f"{root}/src/main/scala/**/*.scala",
                            recursive=True))
    harness = sorted(glob.glob(f"{HERE}/harness/*.scala"))
    if not srcs or not os.path.exists(f"{root}/build.sbt"):
        fail("no src/main/scala or build.sbt here; run from a checkout root")
    h = hashlib.sha256(fixtures.encode())
    for f in srcs + harness:
        h.update(os.path.relpath(f, root).encode())
        h.update(open(f, "rb").read())
    stamp = os.path.join(bdir, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return
    deadline = time.time() + BUILD_LIMIT_S
    shutil.rmtree(bdir, ignore_errors=True)
    for f in srcs:
        dst = os.path.join(bdir, "src", os.path.relpath(f, root))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        text = open(f).read()
        if os.path.relpath(f, root) == FIXTURES_SRC:
            m = re.search(r's"(/[^"$]+)/\$sf/\$name"', text)
            if m:
                text = text.replace(m.group(1), fixtures)
            else:
                print("perfbench: no absolute fixture root in "
                      f"{FIXTURES_SRC}; left as the program has it",
                      file=sys.stderr)
        open(dst, "w").write(text)
    jars = spark_jars(root)
    copied = sorted(glob.glob(f"{bdir}/src/**/*.scala", recursive=True))
    scalac(jars, f"{bdir}/classes", f"{jars}/*", copied, deadline)
    scalac(jars, f"{bdir}/harness", f"{bdir}/classes:{jars}/*", harness,
           deadline)
    open(stamp, "w").write(h.hexdigest())


def median(xs):
    return statistics.median(xs) if xs else 0.0


def run_jvm(root, bdir, run, args, corpus, deadline):
    cmd = (["java", "-XX:-UsePerfData"] + java_options(root) +
           [f"-Djava.io.tmpdir={run}/tmp", "-cp",
            f"{bdir}/harness:{bdir}/classes:{spark_jars(root)}/*",
            "perfbench.Harness", "--workload", args.workload,
            "--corpus", corpus, "--out", f"{run}/out",
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--result", f"{run}/result.json"])
    env = dict(os.environ,
               SPARK_GRAFT_CPUS=str(os.cpu_count() or 1),
               SPARK_LOCAL_DIRS=f"{run}/spark-local",
               SPARK_GRAFT_STREAM_CKPT=f"{run}/stream_ckpt")
    launch = time.time()
    with open(f"{run}/jvm.log", "w") as log:
        p = subprocess.Popen(cmd, cwd=f"{run}/work", env=env, stdout=log,
                             stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            p.wait(timeout=deadline - launch)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"JVM did not finish in time; see {run}/jvm.log")
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if p.returncode != 0 or not os.path.exists(f"{run}/result.json"):
        sys.stderr.write(open(f"{run}/jvm.log").read()[-4000:])
        fail(f"JVM exited with {p.returncode}")
    res = json.load(open(f"{run}/result.json"))
    res["setup_s"] = res["setup_end_ms"] / 1e3 - launch
    return res


def duck_connect(corpus, tmp):
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads=2")
    con.execute(f"SET temp_directory='{tmp}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{corpus}/{t}.parquet')")
    return con


def kind(s):
    d = str(s.dtype)
    if d.startswith("uint"):
        return "uint64"
    return "int64" if d.startswith("int") else d


def compare(con, sql, out_dir):
    """The compare of scripts/precheck.py: columns (by name), dtype kind
    (signed-int widths folded), row count, then every value in row
    order. Returns None on a match, else what differs."""
    files = sorted(glob.glob(f"{out_dir}/part-*.parquet"))
    if not files:
        return "no output"
    exp = con.execute(sql).fetchdf()
    got = con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf()
    exp, got = exp[sorted(exp.columns)], got[sorted(got.columns)]
    if list(exp.columns) != list(got.columns):
        return f"columns exp={list(exp.columns)} got={list(got.columns)}"
    if len(exp) != len(got):
        return f"rows exp={len(exp)} got={len(got)}"
    for c in exp.columns:
        if kind(exp[c]) != kind(got[c]):
            return f"dtype col {c}: oracle={kind(exp[c])} spark={kind(got[c])}"
    for c in exp.columns:
        e, g = exp[c], got[c]
        try:
            eq = (e == g) | (e.isna() & g.isna())
        except Exception:
            eq = e.astype(str) == g.astype(str)
        if not eq.all():
            i = int((~eq).values.argmax())
            return f"col {c} row {i}: oracle={e.iloc[i]!r} spark={g.iloc[i]!r}"
    return None


def check(res, run, corpus):
    """Per key: (timed ops that failed, output rows, mismatch or None)."""
    con = duck_connect(corpus, f"{run}/tmp")
    out = {}
    for key, k in res["keys"].items():
        files = sorted(glob.glob(f"{run}/out/{key}/part-*.parquet"))
        rows = con.execute(f"SELECT count(*) FROM read_parquet({files!r})"
                           ).fetchone()[0] if files else 0
        bad = k["error"]
        if bad is None:
            try:
                bad = compare(con, k["oracle"], f"{run}/out/{key}")
            except Exception as e:  # the oracle itself failed
                bad = f"oracle: {type(e).__name__}: {e}"
        n = len(k["times"])
        out[key] = (k["errors"] if k["errors"] else (n if bad else 0),
                    rows, bad)
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a SIGTERM unwinds like an exception, so the JVM is killed and reaped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    bdir = os.path.join(root, os.environ.get("CARGO_TARGET_DIR")
                        or ".bench_build")
    run = os.path.join(root, ".bench_run")
    os.makedirs(run, exist_ok=True)
    lock = open(f"{run}/lock", "w")
    try:
        fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except OSError:
        fail("another run holds .bench_run/lock; runs share the run state")
    build(root, bdir, f"{run}/fixtures")

    deadline = time.time() + RUN_LIMIT_S
    for d in ("corpus", "fixtures", "out", "work", "tmp", "spark-local"):
        shutil.rmtree(f"{run}/{d}", ignore_errors=True)
        os.makedirs(f"{run}/{d}")
    # the stream checkpoint base is kept: a checkpoint a killed run left
    # behind must show up as a failed operation, not be wiped
    os.makedirs(f"{run}/stream_ckpt", exist_ok=True)
    for f in ("result.json", "jvm.log"):
        if os.path.exists(f"{run}/{f}"):
            os.remove(f"{run}/{f}")
    corpus = f"{run}/corpus/perfbench_sf{SF}"
    gen.generate(corpus, SF, args.seed)
    res = run_jvm(root, bdir, run, args, corpus, deadline)
    checked = check(res, run, corpus)
    passes = res["passes"]
    attempted = sum(len(k["times"]) for k in res["keys"].values())
    failed = sum(c[0] for c in checked.values())
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "passes": len(passes), "sessions_build_s": res["sessions_build_s"],
        "pass_s": median([p["wall_s"] for p in passes]),
        "peak_rss_mb": res["peak_rss_kb"] / 1024,
        "host": res["host"],
        "keys": {k: {"warmup_s": v["warmup_s"],
                     "median_s": median(v["times"]),
                     "rows": checked[k][1], "failed": checked[k][0],
                     "problem": checked[k][2]}
                 for k, v in res["keys"].items()}}
    print(json.dumps({"record": record}))

    if args.trace:
        metrics = {}
        layers = res["layers"]
        for m in MODULES:
            rows = sum(checked[k][1] for k, v in res["keys"].items()
                       if v["module"] == m)
            for f in LAYER_FIELDS:
                v = rows if f == "output_rows" else \
                    layers.get(m, {}).get(f, 0.0)
                metrics[f"{m}.{f}"] = {"value": v, "unit": unit_of(f)}
        for name, v in (("core.Sessions.build_s", res["sessions_build_s"]),
                        ("jvm.jit_s", res["jit_s"]),
                        ("spark.codegen_s", res["codegen_s"])):
            metrics[name] = {"value": v, "unit": "s"}
    else:
        op_times = [t for k in res["keys"].values() for t in k["times"]]
        metrics = {
            "setup_s": {"value": res["setup_s"], "unit": "s"},
            "pass_s": {"value": median([p["wall_s"] for p in passes]),
                       "unit": "s"},
            "query_p50_s": {"value": median(op_times), "unit": "s"},
            "cpu_s": {"value": median([p["cpu_s"] for p in passes]),
                      "unit": "s"},
            "write_mb": {"value": median([p["write_bytes"] for p in passes])
                         / 1e6, "unit": "MB"}}
    # every key must carry oracle SQL, or its output went unchecked
    correct = all(k["oracle"] for k in res["keys"].values())
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()

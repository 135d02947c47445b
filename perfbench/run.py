#!/usr/bin/env python3
"""Repo benchmark: one closed-loop run of one workload in a fresh JVM.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: gridmix, catalog_cold (see BENCHMARK.json for why each exists). The first run in a checkout builds the
library and the benchmark program with sbt and derives the scaled corpus; later runs
reuse both. Each run gets a fresh directory for GRAFT_SCRATCH,
SPARK_LOCAL_DIRS and its corpus aliases, so no stored artifact survives
from one run into the next.

Every query's checked (untimed) result is compared with its DuckDB oracle.
The run prints each metric with its name and unit, then, as the last line,
one JSON object {correct, attempted, failed, metrics}: the end-to-end
metrics on an untraced run, the per-layer metrics (and the per-layer self
time table) on a traced one. It exits 1 when a result is wrong and 2 when
it cannot run.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
LAUNCH = os.path.join(HERE, "target", "launch")

# workload -> (committed corpus under perfbench/corpus, ScaleUp factor or None)
CORPORA = {
    "gridmix": ("sf0.01", 2),
    "catalog_cold": ("sf0.001", None),
}
# set-ups per run; setup_s takes their median
SETUPS = 3
# a fixed heap: with a growing one, heap resizing made run-to-run spread
# (and wall time) far larger
JVM_HEAP = ["-Xms2g", "-Xmx2g"]
# every run must end within 180 s; the first (building) run within 900 s
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 600
BUILD_INPUTS = ["build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/project/build.properties",
                "perfbench/src"]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

END_TO_END = ["setup_s", "wall_s", "query_p50_s", "query_tail_s", "ok_ratio",
              "peak_rss_mb", "input_rows_per_s"]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def tree_hash():
    h = hashlib.sha256()
    for rel in BUILD_INPUTS:
        path = os.path.join(ROOT, rel)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(deadline):
    """Compile the library and the benchmark program once per source tree."""
    stamp = os.path.join(WORK, "build.stamp")
    want = tree_hash()
    have = open(stamp).read() if os.path.exists(stamp) else None
    if have == want and os.path.exists(os.path.join(LAUNCH, "classpath.txt")):
        return
    os.makedirs(WORK, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    logf = os.path.join(WORK, "build.log")
    log("building the library and the benchmark program (sbt)")
    with open(logf, "w") as out:
        try:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true",
                 "-Dsbt.server.forcestart=false", "launchSpec"],
                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL,
                timeout=max(1, min(BUILD_LIMIT_S, deadline - time.time())),
            ).returncode
        except subprocess.TimeoutExpired:
            rc = "timeout"
    if rc != 0:
        tail = open(logf).read().splitlines()[-30:]
        raise BenchError("build failed (%s):\n%s" % (rc, "\n".join(tail)))
    with open(stamp, "w") as fh:
        fh.write(want)


def java_cmd(main, extra_props=()):
    cp = open(os.path.join(LAUNCH, "classpath.txt")).read().strip()
    opts = [o for o in open(os.path.join(LAUNCH, "jvm_options.txt")).read().split("\n")
            if o and not o.startswith("-Xmx")]
    return ["java", *opts, *JVM_HEAP, *extra_props, "-cp", cp, main]


def run_jvm(cmd, cwd, env, logf, deadline):
    with open(logf, "w") as out:
        try:
            proc = subprocess.run(cmd, cwd=cwd, env=env, stdout=out,
                                  stderr=subprocess.STDOUT,
                                  stdin=subprocess.DEVNULL,
                                  timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            raise BenchError(f"{cmd[-1] if cmd else 'jvm'} timed out; log {logf}")
    if proc.returncode != 0:
        tail = open(logf).read().splitlines()[-25:]
        raise BenchError("JVM exited with %d:\n%s" % (proc.returncode, "\n".join(tail)))


def corpus_dir(workload, deadline):
    """The workload's corpus: committed, or derived from it once by ScaleUp
    and cached in the work directory (outside any run's set-up time)."""
    src, factor = CORPORA[workload]
    base = os.path.join(HERE, "corpus", src)
    if factor is None:
        return base
    out = os.path.join(WORK, "corpus", f"{src}-x{factor}")
    if os.path.exists(os.path.join(out, "_READY")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    tmp = os.path.join(WORK, "corpus", "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    log(f"deriving the ScaleUp x{factor} corpus from {src}")
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    run_jvm(java_cmd("graft.ScaleUp", [f"-Djava.io.tmpdir={tmp}"]) +
            [base, out, str(factor)], tmp, env,
            os.path.join(WORK, "scaleup.log"), deadline)
    shutil.rmtree(tmp, ignore_errors=True)
    open(os.path.join(out, "_READY"), "w").close()
    return out


def alias(src, dst):
    """A fresh path for the same corpus: hard links, so it costs no copy but
    keys every stored artifact and memo anew."""
    for d, _, fs in os.walk(src):
        rel = os.path.relpath(d, src)
        os.makedirs(os.path.join(dst, rel), exist_ok=True)
        for f in fs:
            if f != "_READY":
                os.link(os.path.join(d, f), os.path.join(dst, rel, f))


def table_glob(corpus, t):
    p = os.path.join(corpus, f"{t}.parquet")
    return os.path.join(p, "*.parquet") if os.path.isdir(p) else p


def oracle_check(result, out, corpus):
    """Compare each checked result with its DuckDB oracle; return failures."""
    import duckdb
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from check import canon

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{table_glob(corpus, t)}'")
    crashed = {e.split(" ")[0] for e in result["errors"] if "(checked run)" in e}
    failures = []
    for name in result["checked"]:
        if name in crashed:
            continue
        files = glob.glob(os.path.join(out, "check", name, "*.parquet"))
        sql = result["oracle"].get(name)
        try:
            if not files:
                raise BenchError("no checked output")
            if sql is None:
                raise BenchError("no oracle SQL")
            got = con.execute(f"SELECT * FROM read_parquet({files!r})").fetchall()
            got_cols = [d[0] for d in con.description]
            want = con.execute(sql).fetchall()
            want_cols = [d[0] for d in con.description]
            gc, g = canon(got, got_cols)
            wc, w = canon(want, want_cols)
            if gc != wc:
                raise BenchError(f"columns {gc} vs oracle {wc}")
            if g != w:
                raise BenchError(f"{len(g)} rows vs oracle {len(w)}; first differing "
                                 f"{[r for r in g if r not in set(w)][:2]} / "
                                 f"{[r for r in w if r not in set(g)][:2]}")
        except Exception as e:  # every failure is reported with its message
            failures.append(f"{name} (oracle): {type(e).__name__}: {str(e).splitlines()[0] if str(e) else ''}")
    return failures


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(CORPORA))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    start = time.time()

    for rel in ("build.sbt", "src/main/scala/graft", "tools/check.py"):
        if not os.path.exists(os.path.join(ROOT, rel)):
            raise BenchError(f"not a checkout of the library: {rel} is missing under {ROOT}")
    first = not os.path.exists(os.path.join(WORK, "build.stamp"))
    deadline = start + (870 if first else RUN_LIMIT_S)
    build(deadline)
    corpus = corpus_dir(a.workload, deadline)

    cpus = os.cpu_count() or 1
    try:
        cpus = len(os.sched_getaffinity(0))
    except AttributeError:
        pass
    run_dir = os.path.join(WORK, "runs", f"{a.workload}-s{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    out = os.path.join(run_dir, "out")
    for d in ("scratch", "local", "tmp", "out"):
        os.makedirs(os.path.join(run_dir, d))
    aliases = []
    for k in range(SETUPS):
        aliases.append(os.path.join(run_dir, "corpus", f"k{k}"))
        alias(corpus, aliases[-1])
    env = dict(os.environ, GRAFT_SCRATCH=os.path.join(run_dir, "scratch"),
               SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"))
    cmd = java_cmd("perfbench.Main",
                   [f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}"]) + [
        f"workload={a.workload}", f"seed={a.seed}", f"seconds={a.seconds}",
        f"trace={a.trace}", f"cpus={cpus}", f"out={out}",
        "corpus=" + ",".join(aliases)]
    try:
        run_jvm(cmd, run_dir, env, os.path.join(run_dir, "jvm.log"), deadline)
        result = json.load(open(os.path.join(out, "result.json")))
        result["errors"] += oracle_check(result, out, aliases[-1])
        failed = result["failed"] + sum("(oracle)" in e for e in result["errors"])
    finally:
        last = os.path.join(WORK, "last", a.workload)
        shutil.rmtree(last, ignore_errors=True)
        os.makedirs(last)
        for f in ("jvm.log", "out/result.json", "out/layers.txt", "out/spans.jsonl"):
            if os.path.exists(os.path.join(run_dir, f)):
                shutil.copy(os.path.join(run_dir, f), last)
        shutil.rmtree(run_dir, ignore_errors=True)

    attempted = result["attempted"]
    metrics = result["metrics"]
    metrics["ok_ratio"]["value"] = 1.0 - failed / attempted
    print(f"workload {a.workload}  seed {a.seed}  cpus {cpus}  rounds {result['rounds']}  "
          f"attempted {attempted}  failed {failed}")
    for e in result["errors"]:
        print(f"error: {e}")
    if a.trace:
        shown = result["layers"]
        print(open(os.path.join(last, "layers.txt")).read().rstrip())
    else:
        shown = {k: metrics[k] for k in END_TO_END}
    for k, m in shown.items():
        extra = ""
        if k == "query_tail_s":
            extra = f"  (p{result['tail_level']:.1f} of {result['tail_n']} executions, 3 beyond it)"
        print(f"{k:28s} {m['value']:.6g} {m['unit']}{extra}")
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": shown}))
    return 0 if correct else 1


if __name__ == "__main__":
    try:
        sys.exit(main())
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(2)

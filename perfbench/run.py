#!/usr/bin/env python3
"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload build|serve --seed N \
        --seconds S --trace 0|1

Builds the engine plus the harness in perfbench/ with sbt when the sources
changed, runs one workload in one JVM (Spark local[4], one closed-loop
client), checks the outputs and prints one JSON result as the last line of
standard output. Everything it writes stays under the working directory:
build output in perfbench/target, scratch indexes and Spark local dirs in
.bench_work/ (deleted after every run), what the serve workload reads (an
index, the catalog tables and their DuckDB oracle results) in .bench_cache/
(kept, keyed by a hash of the sources), span files in .bench_out/.

Environment: SPARK_DRIVER_MEM sizes the JVM heap (default 2g).
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(HERE, "target")
STAMP = os.path.join(TARGET, "perfbench.stamp")
CLASSPATH = os.path.join(TARGET, "perfbench.classpath")
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha256()
    files = []
    for base in (ENGINE_SRC, os.path.join(HERE, "src", "main")):
        for d, _, fs in os.walk(base):
            files += [os.path.join(d, f) for f in fs]
    files += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def norm_cell(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(round(v, 9))
    if isinstance(v, bool):
        return str(v).lower()
    return str(v)


def table_hash(cols, rows):
    """Hash of a result: columns in name order, rows in result order,
    floats rounded to 9 digits."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    h = hashlib.sha256()
    for r in rows:
        h.update("|".join(norm_cell(r[i]) for i in order).encode())
        h.update(b"\n")
    return h.hexdigest()


def result_hash(con, sql):
    rows = con.execute(sql).fetchall()
    return table_hash([d[0] for d in con.description], rows)


def catalog_oracles(prep):
    """Runs the catalog queries' DuckDB oracles over the generated tables
    and stores their result hashes in prep/oracle_hashes.json."""
    with open(os.path.join(prep, "oracle_sql.json")) as f:
        oracles = json.load(f)
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in ("documents", "embeddings"):
        files = os.path.join(prep, "tables", f"{t}.parquet", "*.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{files}')")
    hashes = {}
    for name, sql in sorted(oracles.items()):
        t0 = time.time()
        hashes[name] = result_hash(con, sql)
        log(f"oracle {name}: {time.time() - t0:.1f}s")
    with open(os.path.join(prep, "oracle_hashes.json"), "w") as f:
        json.dump(hashes, f)


def catalog_failures(prep, out_dir):
    """Catalog results in out_dir/<query> that differ from their oracle.
    A query without a result already failed in the harness."""
    with open(os.path.join(prep, "oracle_hashes.json")) as f:
        expected = json.load(f)
    con = duckdb.connect()
    failed = []
    for name, h in sorted(expected.items()):
        files = sorted(glob.glob(os.path.join(out_dir, name, "*.parquet")))
        if files and result_hash(con, f"SELECT * FROM read_parquet({files!r})") != h:
            failed.append(name)
    return failed


def build(stamp):
    """Compile engine + harness with sbt unless this source stamp is built."""
    if os.path.exists(STAMP) and os.path.exists(CLASSPATH):
        with open(STAMP) as f:
            if f.read().strip() == stamp:
                return
    sbt = shutil.which("sbt")
    if sbt is None:
        raise SystemExit("sbt not found on PATH")
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    out = os.path.join(TARGET, "sbt.log")
    os.makedirs(TARGET, exist_ok=True)
    log("building engine + harness with sbt")
    t0 = time.time()
    with open(out, "w") as fh:
        code = run_group([sbt, "--batch", "-Dsbt.log.noformat=true", "compile",
                          "export Runtime/fullClasspath"], 840, cwd=HERE, env=env,
                         stdout=fh, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    with open(out) as fh:
        lines = fh.read().splitlines()
    if code != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit(f"sbt build failed with code {code}")
    cp = [l for l in lines if "perfbench/target" in l and l.count(":") > 2 and not l.startswith("[")]
    if not cp:
        raise SystemExit("sbt printed no classpath")
    with open(CLASSPATH, "w") as f:
        f.write(cp[-1].strip())
    with open(STAMP, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f}s")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["build", "serve"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        raise SystemExit(f"engine sources not found under {ENGINE_SRC}: "
                         "run from the repository root")
    stamp = source_stamp()
    build(stamp)
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    mem = os.environ.get("SPARK_DRIVER_MEM", "2g")
    out_dir = os.path.join(ROOT, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    # keep large direct-buffer allocations in malloc arenas, as the engine's
    # own build does for forked Spark JVMs
    env = dict(os.environ, MALLOC_MMAP_THRESHOLD_="268435456",
               MALLOC_TRIM_THRESHOLD_="268435456", MALLOC_ARENA_MAX="8")

    def run_jvm(workload, out, extra, check=None, trace=a.trace):
        """One harness JVM with a fresh scratch dir, deleted afterwards;
        check(work) returns the names of outputs that failed a check."""
        work = os.path.join(ROOT, ".bench_work", f"{workload}-{os.getpid()}")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
               + [f"-Xmx{mem}", f"-Xms{mem}", f"-Djava.io.tmpdir={work}",
                  "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                  "-cp", cp, "perfbench.Main", "--workload", workload, "--seed", str(a.seed),
                  "--seconds", str(a.seconds), "--trace", str(trace), "--work", work,
                  "--out", out] + extra)
        try:
            code = run_group(cmd, JVM_TIMEOUT_S, cwd=ROOT, env=env, stdout=sys.stderr,
                             stdin=subprocess.DEVNULL)
            if code != 0 or not os.path.exists(out):
                raise SystemExit(f"harness JVM ({workload}) failed with code {code}")
            with open(out) as f:
                res = json.load(f)
            os.remove(out)
            failed = check(work) if check else []
        finally:
            shutil.rmtree(work, ignore_errors=True)
        for name in failed:
            log(f"FAILED {name}: result differs from its DuckDB oracle")
        res["failed"] += len(failed)
        res["correct"] = res["failed"] == 0
        return res

    # what serve reads (the served index, the catalog tables and their
    # oracle results) depends only on the sources. The first run in a
    # checkout, of either workload, makes it in a JVM of its own, next to
    # the build; later runs reuse it.
    prep = os.path.join(ROOT, ".bench_cache", f"serve-{stamp[:16]}")
    if not os.path.exists(os.path.join(prep, "_perfbench_complete")):
        for old in glob.glob(os.path.join(ROOT, ".bench_cache", "serve-*")):
            shutil.rmtree(old, ignore_errors=True)
        log(f"preparing the served data at {os.path.relpath(prep, ROOT)}")
        run_jvm("serve-prep", os.path.join(out_dir, "serve-prep.json"), ["--prep", prep], trace=0)
        catalog_oracles(prep)
        open(os.path.join(prep, "_perfbench_complete"), "w").close()
    extra, check = [], None
    if a.workload == "serve":
        extra = ["--prep", prep]
        check = lambda work: catalog_failures(prep, os.path.join(work, "catalog_out"))
    res = run_jvm(a.workload, os.path.join(
        out_dir, f"result-{a.workload}-seed{a.seed}-trace{a.trace}.json"), extra, check)
    detail = res.pop("detail")
    detail["source_stamp"] = stamp[:16]
    log("detail " + json.dumps(detail, sort_keys=True))
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one run.

Usage (from the root of the repository):

    python3 perfbench/run.py --workload read_partitioned --seed 1 --seconds 10 --trace 0

Builds the harness and graft from source with sbt (once per source state),
runs the harness JVM with one client and local[N] (N = usable cores),
checks every op's result, and prints the metrics named in BENCHMARK.json:
the end-to-end ones with --trace 0, the per-layer ones with --trace 1. The
last line of standard output is one JSON object; the lines above it are the
full report (every metric the run measured, and every failed op with its
reason). perfbench/README.md explains the workloads and metrics.
"""
import argparse
import hashlib
import json
import multiprocessing
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"
TARGET = HERE / "target"
WORKLOADS = ("read_partitioned", "ingest_cycle", "pipeline_ops")
JVM_SECONDS = 170
SENTINEL_LOOPS = 600_000
SENTINEL_DRIFT = 0.25

# Spark on JDK 17 needs these when it is not started by spark-submit; the
# same list as the root build's forked runs.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compiles graft and the harness; returns the runtime classpath."""
    stamp_file, cp_file = TARGET / "perfbench.stamp", TARGET / "classpath.txt"
    stamp = source_stamp()
    if stamp_file.exists() and cp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # no perf-data files and no temp files outside the checkout
    opts = ["-Dsbt.offline=true", "-Dsbt.log.noformat=true", "-Xmx2g", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = WORK / "build.log"
    with open(log, "w") as f:
        proc = subprocess.run(
            ["sbt", "--batch", "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=f, text=True, timeout=800)
    f_out = proc.stdout.strip().splitlines()
    with open(log, "a") as f:
        f.write(proc.stdout)
    if proc.returncode != 0 or not f_out:
        fail(f"build failed (rc={proc.returncode}); see {log}")
    cp = f_out[-1].strip()
    TARGET.mkdir(exist_ok=True)
    cp_file.write_text(cp)
    stamp_file.write_text(stamp)
    return cp


def _spin(n):
    t0 = time.perf_counter()
    x = 1
    for _ in range(n):
        x = (x * 1103515245 + 12345) & 0xFFFFFFFF
    return time.perf_counter() - t0


def sentinel(cores):
    """Fixed CPU work on every core, median of three tries. Another process
    taking cores during a run shows as a slower sentinel after it."""
    pool = multiprocessing.Pool(cores)
    try:
        return statistics.median(max(pool.map(_spin, [SENTINEL_LOOPS] * cores))
                                 for _ in range(3))
    finally:
        pool.close()
        pool.join()


def oracle_failures(res, data_dir):
    """Checks every pipeline_ops output written in set-up against the repo's
    DuckDB oracle SQL, with tools/oracle_check.py's compare semantics.
    Returns {query: reason} for each mismatch.

    The oracle's canonical answer depends only on the SQL and the fixed data,
    so it is cached per (SQL, data) in the work directory: t75's oracle takes
    DuckDB far longer than the run itself."""
    import duckdb
    import pyarrow.parquet as pq
    sys.path.insert(0, str(ROOT / "tools"))
    sys.dont_write_bytecode = True  # leave no __pycache__ in tools/
    from oracle_check import TABLES, canon_table

    data_hash = hashlib.sha256()
    for p in sorted(data_dir.glob("*.parquet")):
        data_hash.update(p.name.encode() + p.read_bytes())
    cache_file = WORK / "oracle-cache.json"
    cache = json.loads(cache_file.read_text()) if cache_file.exists() else {}
    con = None
    bad = {}
    for name, sql in sorted(res["oracle"]["sql"].items()):
        try:
            got = pq.read_table(str(Path(res["oracle"]["check_dir"]) / name))
            cols = got.to_pydict()
            rows = list(zip(*[cols[c] for c in got.column_names])) if got.num_rows else []
            gn, gc, gh, _ = canon_table(got.column_names, rows)
            key = hashlib.sha256(data_hash.digest() + sql.encode()).hexdigest()
            if key not in cache:
                if con is None:
                    con = duckdb.connect()
                    for t in TABLES:
                        p = data_dir / f"{t}.parquet"
                        if p.exists():
                            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
                rel = con.sql(sql)
                cache[key] = list(canon_table(list(rel.columns), rel.fetchall())[:3])
            en, ec, eh = cache[key]
            if (gn, gc, gh) != (en, ec, eh):
                bad[name] = f"oracle mismatch: columns {gn == en}, rows {gc} vs {ec}, hash {gh == eh}"
        except Exception as e:  # noqa: BLE001 - every reason is reported
            bad[name] = f"oracle check error {type(e).__name__}: {e}"
    if con is not None:
        con.close()
        cache_file.write_text(json.dumps(cache))
    return bad


def on_term(signum, frame):
    # turn SIGTERM into an exit, so the finally blocks stop the JVM
    sys.exit(128 + signum)


def main():
    signal.signal(signal.SIGTERM, on_term)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--tiny", action="store_true", help="tiny inputs (self-check)")
    ap.add_argument("--plant", help="give this op a wrong expectation (self-check)")
    a = ap.parse_args()

    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"graft's sources are not under {ROOT}; run from a full checkout", 2)
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    cp = build()

    WORK.mkdir(exist_ok=True)
    out_dir = WORK / "out"
    out_dir.mkdir(exist_ok=True)
    work = WORK / f"{a.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    data_dir = HERE / "data"
    cores = len(os.sched_getaffinity(0))
    cmd = ["java", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}"]
    cmd += [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", str(work),
            "--out", str(out_dir), "--data", str(data_dir), "--cores", str(cores),
            "--tiny", "1" if a.tiny else "0"]
    if a.plant:
        cmd += ["--plant", a.plant]
    log = out_dir / f"{a.workload}.log"
    before = sentinel(cores)
    proc = None
    try:
        with open(log, "w") as errf:
            # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir; keep both in the work dir
            env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
            proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                                    stderr=errf, text=True)
            try:
                stdout, _ = proc.communicate(timeout=JVM_SECONDS)
            except subprocess.TimeoutExpired:
                fail(f"run exceeded {JVM_SECONDS}s; log in {log}")
        result = None
        for line in stdout.splitlines():
            if line.startswith("PERFBENCH_RESULT "):
                result = json.loads(line[len("PERFBENCH_RESULT "):])
            else:
                print(line)
        if proc.returncode != 0 or result is None:
            fail(f"harness failed (rc={proc.returncode}); log in {log}")

        after = sentinel(cores)
        drift = max(before, after) / min(before, after) - 1
        result["metrics"]["bench.sentinel_s"] = {"value": (before + after) / 2, "unit": "s"}
        result["metrics"]["bench.sentinel_drift"] = {"value": drift, "unit": "ratio"}
        print(f"metric bench.sentinel_s {(before + after) / 2:.6f} s (before {before:.4f}, after {after:.4f})")
        if drift > SENTINEL_DRIFT:
            print(f"CONTAMINATED sentinel drifted {drift:.0%} across the run: another "
                  "process took cores; read this run's timings as suspect")
        failed = result["failed"]
        if "oracle" in result:
            for name, why in oracle_failures(result, data_dir).items():
                n = result["oracle"]["ops"].get(name, 1)
                print(f"FAILED op={name} all {n} runs reason={why}")
                failed += n
        names = spec["per_layer"] if a.trace else spec["end_to_end"]
        metrics = {}
        for m in names:
            got = result["metrics"].get(m["name"])
            if got is None or got["unit"] != m["unit"]:
                fail(f"metric {m['name']} ({m['unit']}) not measured: {got}")
            metrics[m["name"]] = got
        print(json.dumps({"correct": failed == 0, "attempted": result["attempted"],
                          "failed": failed, "metrics": metrics}))
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()

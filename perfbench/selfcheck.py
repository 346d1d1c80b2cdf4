#!/usr/bin/env python3
"""Self-check of the benchmark on tiny inputs.

Run from the root of the repository:

    python3 perfbench/selfcheck.py

It asserts that
- every workload prints every metric BENCHMARK.json names, with its unit,
  with --trace 0 and with --trace 1, and that its results are correct;
- a planted wrong expectation is caught and counted as a failed op, on a
  read and on a pipeline query;
- in a directory holding only BENCHMARK.json and perfbench/, the benchmark
  exits non-zero without printing a result.
"""
import json
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
RUN = ["python3", str(HERE / "run.py")]


def run(*args, cwd=ROOT, script=None):
    cmd = (["python3", str(script)] if script else RUN) + list(args)
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    return p.returncode, lines, p.stderr


def result(lines):
    return json.loads(lines[-1])


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    errors = []

    def check(ok, what):
        print(("ok   " if ok else "FAIL ") + what, flush=True)
        if not ok:
            errors.append(what)

    for w in (x["name"] for x in spec["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            rc, lines, err = run("--workload", w, "--seed", "7", "--seconds", "2",
                                 "--trace", str(trace), "--tiny")
            check(rc == 0, f"{w} trace={trace} exits 0 ({err.strip()[-200:]})")
            if rc != 0:
                continue
            r = result(lines)
            check(set(r) == {"correct", "attempted", "failed", "metrics"}, f"{w} result keys")
            check(r["correct"] and r["failed"] == 0 and r["attempted"] >= 1,
                  f"{w} trace={trace} correct with no failed op")
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in r["metrics"].items()}
            check(got == want, f"{w} trace={trace} prints every {key} metric with its unit")
            check(all(isinstance(v["value"], (int, float)) for v in r["metrics"].values()),
                  f"{w} trace={trace} metric values are numbers")

    for w, op in (("read_partitioned", "date_range"), ("pipeline_ops", "t107b_redirect_migration")):
        rc, lines, _ = run("--workload", w, "--seed", "7", "--seconds", "2", "--trace", "0",
                           "--tiny", "--plant", op)
        r = result(lines) if rc == 0 else {}
        check(rc == 0 and not r["correct"] and r["failed"] >= 1, f"{w}: planted wrong result fails")
        check(any(l.startswith(f"FAILED op={op} ") and "wrong result" in l for l in lines),
              f"{w}: the failed op is printed with its reason")

    bare = ROOT / ".perfbench_work" / "selfcheck-bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    shutil.copytree(HERE, bare / "perfbench", ignore=shutil.ignore_patterns("target"))
    rc, lines, _ = run("--workload", "read_partitioned", "--seed", "1", "--seconds", "1",
                       "--trace", "0", cwd=bare, script=bare / "perfbench" / "run.py")
    check(rc != 0 and not any(l.startswith("{") for l in lines),
          "without the repository's sources: non-zero exit, no result")
    shutil.rmtree(bare, ignore_errors=True)

    print(f"{len(errors)} check(s) failed" if errors else "all checks passed")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())

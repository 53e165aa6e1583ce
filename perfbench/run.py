"""Run one benchmark run of graft, or the benchmark's self-test.

    python3 perfbench/run.py --workload cdc_append --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --selftest

Builds graft and the benchmark from source when they changed (build.py),
then runs the workload in one fresh JVM with a fixed heap and a fresh
working directory, which is deleted afterwards. The last line of stdout
is the run's result as one JSON object. `--record FILE` also appends
{"workload", "seed", "trace", "result"} to FILE, the input of
compare.py. A traced run writes its spans to
<build dir>/traces/<workload>-<seed>.jsonl.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("cdc_append", "cdc_churn", "query_catalog", "corpus_fold")
RUN_LIMIT_S = 170  # one run, not counting a build


def jvm(cmd, timeout):
    """Runs one benchmark JVM in its own process group; returns (exit, stdout)."""
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    return proc.returncode, out


def selftest_catalog(workdir):
    """The catalog part of the self-test: every real output must match
    the oracle, and every damaged copy must be rejected."""
    sql = os.path.join(workdir, "results", "oracle_sql.json")
    real = oracle.compare(os.path.join(workdir, "catalog-real"), sql)
    damaged = oracle.compare(os.path.join(workdir, "catalog-damaged"), sql)
    problems = [f"{q}: real output rejected: {p}" for q, p in real.items() if p]
    problems += [f"{q}: damaged output accepted" for q, p in damaged.items() if p is None]
    for p in problems:
        print(f"[selftest] query_catalog {p}", file=sys.stderr)
    print(f"selftest query_catalog oracle: {'ok' if not problems else f'{len(problems)} problems'}"
          f" ({len(real)} queries)")
    return 1 if problems else 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--record", help="append the result, tagged, to this JSONL file")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")

    out = build.build()
    launched_ms = int(time.time() * 1000)
    workdir = os.path.join(build.target_dir(), f"run-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    try:
        if a.selftest:
            code, stdout = jvm(build.java_cmd(out, workdir, ["--selftest"]), 600)
            sys.stdout.write(stdout)
            return code or selftest_catalog(workdir)
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--launched-ms", str(launched_ms)]
        if a.trace:
            traces = os.path.join(out, "traces")
            os.makedirs(traces, exist_ok=True)
            args += ["--detail", os.path.join(traces, f"{a.workload}-{a.seed}.jsonl")]
        code, stdout = jvm(build.java_cmd(out, workdir, args), RUN_LIMIT_S)
        lines = [ln for ln in stdout.splitlines() if ln.strip()]
        if code != 0 or not lines:
            sys.stderr.write(stdout)
            raise SystemExit(f"perfbench: run failed (exit {code})")
        result = json.loads(lines[-1])
        if a.workload == "query_catalog":
            # the catalog's outputs are checked here, outside the JVM
            t0 = time.time()
            bad = {q: p for q, p in oracle.compare(os.path.join(workdir, "results")).items() if p}
            print(f"[perfbench] query_catalog: oracle check {time.time() - t0:.1f} s",
                  file=sys.stderr)
            for q, p in sorted(bad.items()):
                print(f"[perfbench] query_catalog: {q}: {p}", file=sys.stderr)
            result["correct"] = result["correct"] and not bad
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    if a.record:
        with open(a.record, "a") as fh:
            fh.write(json.dumps({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                                 "result": result}) + "\n")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

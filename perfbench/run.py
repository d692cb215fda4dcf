#!/usr/bin/env python3
"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --workload all --seed <n> --seconds <s>

Builds the engine and the benchmark from source if needed (build.py),
then runs `perfbench.Main` on the compiled classpath (no sbt start-up in
any timing) with the benchmark's own WARN-level log4j2 config. Everything
the run writes stays under `.bench_build/` in the repository root and the
run's scratch directory is removed when it ends. The last line of standard
output is one JSON object: {"correct", "attempted", "failed", "metrics"}.
`--workload all` runs every workload untraced and traced, printing every
metric by name with its unit; it exits non-zero if any output check
failed. See perfbench/README.md for the workloads and metrics.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True  # write nothing into the source tree
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

# the gated workloads of BENCHMARK.json, then the ungated curation_stream
WORKLOADS = ("wordcount_jobs", "index_probe", "curation_stream")
JVM_TIMEOUT_S = 165
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def commit_id(digest: str) -> str:
    """HEAD when the root is a git work tree, else a digest of the sources."""
    if not (build.ROOT / ".git").exists():
        return "source-" + digest[:16]
    try:
        r = subprocess.run(["git", "-C", str(build.ROOT), "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "source-" + digest[:16]


def run_one(workload: str, seed: int, seconds: float, trace: int,
            toy: bool = False, tamper: bool = False) -> tuple:
    """Run one workload in its own JVM and print its result, the JSON line
    last. Returns (exit code, whether every output check passed)."""
    classes, digest = build.build()
    jars = build.spark_jars()
    run_dir = build.OUT / "runs" / f"{workload}-{os.getpid()}"
    trace_out = build.OUT / "traces" / f"{workload}-seed{seed}.jsonl"
    (run_dir / "tmp").mkdir(parents=True, exist_ok=True)
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", "-XX:-UsePerfData", "-Xms2g", "-Xmx2g", "-Xss8m"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += [
        f"-Dlog4j2.configurationFile={build.BENCH / 'log4j2.properties'}",
        f"-Djava.io.tmpdir={run_dir / 'tmp'}",
        "-cp", f"{classes}{os.pathsep}{jars}/*", "perfbench.Main",
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(trace), "--toy", "1" if toy else "0", "--tamper", "1" if tamper else "0",
        "--run-dir", str(run_dir), "--trace-out", str(trace_out) if trace else "",
        "--commit", commit_id(digest),
    ]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)

    def stop(signum, _frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print(f"perfbench: {workload} did not finish in {JVM_TIMEOUT_S}s", file=sys.stderr)
        return 1, False
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    lines = [ln for ln in out.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines:
        print(f"perfbench: {workload} failed (exit {proc.returncode})", file=sys.stderr)
        return 1, False
    result = json.loads(lines[-1])
    if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
        print("perfbench: malformed result line", file=sys.stderr)
        return 1, False
    for ln in lines[:-1]:
        print(ln)
    for name, m in result["metrics"].items():
        print(f"{name:40s} {m['value']:>16.6g} {m['unit']}")
    print(json.dumps(result))
    return 0, result["correct"]


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--toy", action="store_true", help="tiny inputs, one set-up (self-test)")
    p.add_argument("--tamper", action="store_true",
                   help="corrupt one output before checking it (self-test)")
    a = p.parse_args()
    if a.workload != "all":
        return run_one(a.workload, a.seed, a.seconds, a.trace, a.toy, a.tamper)[0]
    ok = True
    for w in WORKLOADS:
        for trace in (0, 1):
            print(f"== {w} trace={trace}", flush=True)
            code, correct = run_one(w, a.seed, a.seconds, trace, a.toy, a.tamper)
            ok = ok and code == 0 and correct
            sys.stdout.flush()
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""graft benchmark: the in-situ timestep loop and warm batch sweeps.

Usage (from the repository root):
  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
      [--sf sf0.01] [--max-timesteps N] [--expected FILE] [--corrupt 1]
  python3 perfbench/run.py --record DIR --sf sf0.01   (re-record expected digests)

Builds graft and the benchmark from source when needed (perfbench/build.py),
runs one workload in one JVM on local[nproc/2], and prints one JSON object
as the last line of standard output. With --trace 0 it holds the
end-to-end metrics, with --trace 1 the per-layer metrics. Exits non-zero
when any operation failed or its output was wrong. Artifacts (per-run
JSON, spans) go to perfbench/out/. See perfbench/README.md.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ["loop_scalar", "loop_payload", "arrays_batch", "corpus_batch"]
JVM_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "unknown"
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--sf", default="sf0.01", help="data set under perfbench/data")
    ap.add_argument("--max-timesteps", type=int, help="loops: stop the producer after N timesteps")
    ap.add_argument("--expected", help="batch: expected-digest file to check against")
    ap.add_argument("--corrupt", choices=["0", "1"], default="0",
                    help="loops: perturb one expected total (the check must fail)")
    ap.add_argument("--record", metavar="DIR",
                    help="record expected digests; dump results + oracle SQL to DIR")
    a = ap.parse_args()
    if not a.record and not a.workload:
        ap.error("--workload is required")

    cp = build.ensure_built()
    work = os.path.join(HERE, ".work")
    for d in ("tmp", "local"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
        os.makedirs(os.path.join(work, d))

    args = ["--workload", a.workload or "record", "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--sf", a.sf,
            "--corrupt", a.corrupt, "--commit", git_commit(),
            "--home", os.path.relpath(HERE, ROOT)]
    if a.max_timesteps:
        args += ["--max-timesteps", str(a.max_timesteps)]
    if a.expected:
        args += ["--expected", a.expected]
    if a.record:
        args += ["--record", a.record]
    jvm = ["java", "-Xmx4g", "-Xss8m"]
    for p in ADD_OPENS:
        jvm += ["--add-opens", f"{p}=ALL-UNNAMED"]
    jvm += [
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-Dspark.sql.legacy.parquet.nanosAsLong=true",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        f"-Dspark.local.dir={os.path.join(work, 'local')}",
        f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        f"-Dperfbench.clk_tck={os.sysconf('SC_CLK_TCK')}",
        "-cp", cp, "graft.perfbench.Main",
    ]
    proc = subprocess.Popen(jvm + args, cwd=ROOT, stdout=subprocess.PIPE,
                            text=True, start_new_session=True)

    def kill(*_):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass

    signal.signal(signal.SIGTERM, lambda *x: (kill(), sys.exit(143)))
    try:
        out, _ = proc.communicate(timeout=None if a.record else JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        kill()
        proc.wait()
        print(f"run: timed out after {JVM_TIMEOUT_S} s", file=sys.stderr)
        sys.exit(3)
    finally:
        kill()  # the JVM's whole process group, whatever happened
    sys.stdout.write(out)
    sys.stdout.flush()
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Run one measurement of the marEx pipeline benchmark.

    python3 perfbench/run.py --workload archive-detect --seed 1 --seconds 12 --trace 0

Builds the engine and the harness on first use (see build.py), then runs
one JVM with one Spark session at local[nproc]. The last line of stdout is
the result object; see perfbench/README.md for workloads and metrics.
`--self-test` runs the harness self-tests instead.
"""
import argparse
import os
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
import build  # noqa: E402

WORKLOADS = ["archive-detect", "daily-append", "track-merge"]
# a run must end within 180 s of its start, the build excepted
RUN_TIMEOUT_S = 170
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def git_commit():
    if not (build.ROOT / ".git").exists():
        return "unknown"
    r = subprocess.run(["git", "-C", str(build.ROOT), "rev-parse", "HEAD"],
                       capture_output=True, text=True)
    return r.stdout.strip() if r.returncode == 0 else "unknown"


def cpu_busy(seconds=0.5):
    """Share of CPU time, steal included, that was not idle over a short
    sample taken before the run starts."""
    def sample():
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return sum(v), v[3] + v[4]  # total, idle + iowait
    t0, i0 = sample()
    time.sleep(seconds)
    t1, i1 = sample()
    return 1.0 - (i1 - i0) / max(1, t1 - t0)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not a.self_test and a.workload is None:
        ap.error("--workload is required")
    if a.seconds < 1:
        ap.error("--seconds must be at least 1")
    try:
        classpath, digest = build.build()
    except (build.BuildError, OSError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2

    tmp = build.OUT / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    # a fixed heap and young generation keep peak RSS steady from run to run
    cmd = (["java"] + opens +
           ["-Xms2g", "-Xmx2g", "-Xmn768m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Dperfbench.commit={git_commit()}", f"-Dperfbench.digest={digest[:16]}",
            f"-Dperfbench.busy_before={cpu_busy():.4f}",
            "-cp", os.pathsep.join(str(c) for c in classpath)])
    if a.self_test:
        cmd += ["perfbench.SelfTest", "--out", str(build.OUT)]
    else:
        cmd += ["perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace), "--out", str(build.OUT)]
    # Spark's block and shuffle files stay inside the checkout
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(tmp))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, env=env,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print(f"perfbench: run exceeded {RUN_TIMEOUT_S} s and was stopped", file=sys.stderr)
        return 3
    except KeyboardInterrupt:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    if proc.returncode != 0:
        sys.stderr.write(out)
        print(f"perfbench: JVM exited with {proc.returncode}", file=sys.stderr)
        return proc.returncode
    sys.stdout.write(out)
    return 0


if __name__ == "__main__":
    sys.exit(main())

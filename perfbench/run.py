#!/usr/bin/env python3
"""The benchmark's one command.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
                             [--threads <n>]

Run from the repository root. Builds the program and the benchmark from
source (perfbench/build.py), runs one workload in a fresh JVM, and relays its
output: a summary, then as the last line one JSON object with `correct`,
`attempted`, `failed` and `metrics`. `--trace 0` reports the end-to-end
metrics; `--trace 1` runs the phase untraced and then traced, and reports the
per-layer metrics and the tracing overhead. Everything the run writes stays
under .perfbench/ and .bench_build/ in the current directory.
"""
import argparse
import signal
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True  # leave nothing behind in perfbench/
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("cdc_append", "prime_report", "corpus_clean")
TIMEOUT_S = 175

# Spark on JDK 17 outside spark-submit (same list as the program's build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def git_sha():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True)
        return r.stdout.strip() if r.returncode == 0 else "none"
    except OSError:
        return "none"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--threads", type=int,
                    help="Spark's local[N] thread count: 1 to nproc, default nproc - 1")
    a = ap.parse_args()
    # a SIGTERM to this process must not orphan the compiler or the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("perfbench: terminated"))

    classes, jars, source_sha = build.build()
    tmp = Path(".perfbench") / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           # the heap grows on demand up to its cap, so the resident set
           # follows the heap the run needs; a fixed young generation keeps
           # that growth to retained (old-generation) data, where G1's
           # adaptive young sizing would follow the host's speed instead
           ["-Xmx2g", "-Xmn256m", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-cp", f"{classes}:src/main/resources:{jars}/*", "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--work", ".perfbench/work",
            "--stamp", f"git_sha={git_sha()},source_sha256={source_sha}"] +
           (["--threads", str(a.threads)] if a.threads is not None else []))
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = p.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        sys.exit(f"perfbench: run exceeded {TIMEOUT_S} s")
    finally:
        if p.poll() is None:
            p.kill()
            p.wait()
    lines = out.splitlines()
    if p.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stderr.write(out)
        sys.exit(f"perfbench: run failed (exit code {p.returncode})")
    print("\n".join(lines))


if __name__ == "__main__":
    main()

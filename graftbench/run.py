"""graft benchmark: one command per named workload.

    python3 graftbench/run.py --workload <inventory|serve> \
        --seed <n> --seconds <s> --trace <0|1>
    python3 graftbench/run.py --selftest      # the benchmark's own tests

Checks the environment, builds the engine and the benchmark from source (once
per checkout, see build.py), and runs the benchmark JVM at local[nproc], which
prints the environment record, per-workload detail lines, and as its last
stdout line one JSON object {correct, attempted, failed, metrics}. Notes on
the workloads and metrics are in graftbench/NOTES.md.
"""
import argparse
import json
import os
import re
import signal
import subprocess
import sys

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("inventory", "serve")
SF_TABLES = ("customer", "documents", "embeddings", "events", "lineitem",
             "nation", "orders", "part", "region", "supplier")
MAX_HEAP_GB = 24  # above 32g CompressedOops turn off; keep well below
CHILD_TIMEOUT_S = 170

ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def sf_dir():
    """The sf0.1 tables of TESTDATA.md; GRAFT_BENCH_SF_DIR overrides."""
    return os.environ.get("GRAFT_BENCH_SF_DIR",
                          os.path.join(os.path.expanduser("~"), "testdata", "sf0.1"))


def heap_gb(spec):
    m = re.fullmatch(r"(\d+)([gGmM])", spec)
    if not m:
        return None
    n = int(m.group(1))
    return n if m.group(2) in "gG" else n / 1024


def preflight(heap):
    """Every environment problem in one message, before anything runs."""
    problems = []
    sf = sf_dir()
    missing = [t for t in SF_TABLES if not os.path.exists(os.path.join(sf, t + ".parquet"))]
    if missing:
        problems.append(f"sf0.1 tables missing in {sf}: {', '.join(missing)}")
    gb = heap_gb(heap)
    if gb is None:
        problems.append(f"GRAFT_BENCH_HEAP={heap} is not like 4g or 4096m")
    elif gb > MAX_HEAP_GB:
        problems.append(f"heap {heap} exceeds {MAX_HEAP_GB}g")
    return problems


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def main():
    # a SIGTERM unwinds like an exception, so the build or benchmark JVM in
    # flight is stopped and waited for below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    if not args.selftest and not args.workload:
        ap.error("--workload is required")

    os.chdir(build.ROOT)
    heap = os.environ.get("GRAFT_BENCH_HEAP", "4g")
    problems = [] if args.selftest else preflight(heap)
    try:
        cp = build.build()
    except build.BuildError as e:
        problems.append(f"build failed: {e}")
    if problems:
        print("graftbench preflight failed: " + "; ".join(problems), file=sys.stderr)
        return 2

    tmp = os.path.join(build.OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xmx{heap}", f"-Djava.io.tmpdir={tmp}", "-XX:+UseG1GC",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    cmd += [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd += ["-cp", cp]
    if args.selftest:
        cmd += ["graftbench.SelfTest"]
    else:
        cmd += ["graftbench.Main", "--workload", args.workload, "--seed", str(args.seed),
                "--seconds", str(args.seconds), "--trace", str(args.trace),
                "--nproc", str(nproc()), "--heap", heap, "--sf", sf_dir(),
                "--out", build.OUT]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print(f"graftbench: benchmark JVM exceeded {CHILD_TIMEOUT_S}s and was stopped", file=sys.stderr)
        return 3
    except BaseException:
        proc.kill()
        proc.wait()
        raise
    lines = [ln for ln in out.splitlines() if ln.strip()]
    if args.selftest:
        print("\n".join(lines))
        return proc.returncode
    if proc.returncode != 0 or not lines:
        print("\n".join(lines), file=sys.stderr)
        print(f"graftbench: benchmark JVM exited with {proc.returncode}", file=sys.stderr)
        return proc.returncode or 4
    try:
        last = json.loads(lines[-1])
    except ValueError:
        print("\n".join(lines), file=sys.stderr)
        print("graftbench: benchmark JVM printed no result line", file=sys.stderr)
        return 5
    print("\n".join(lines[:-1]))
    print(json.dumps(last))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload elt_daily --seed 1 --seconds 5 --trace 0

Builds the engine and the benchmark first when needed (see build.py), runs
the workload in one JVM on a local[N] Spark session (N = min(4, cores)),
keeps every file it writes under a fresh directory in the build directory
and deletes it afterwards. `--trace 1` runs the traced variant and reports
the per-layer metrics instead of the end-to-end ones; its spans are kept in
`<build dir>/traces/`. `--capture` rewrites expected/query_mix.json from
this tree instead of checking against it.
"""
import argparse
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("elt_daily", "query_mix", "corpus_curation")
# A run must end within 180 s; the JVM gets what is left after the build.
RUN_LIMIT_S = 170
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def testdata_dir():
    """The sf0.1 tables: $SPARK_GRAFT_SF_DIR (the engine bench's variable)
    when it names one directory, else the sf0.1 row of TESTDATA.md."""
    env = os.environ.get("SPARK_GRAFT_SF_DIR", "")
    if env and "," not in env:
        return env
    path = os.path.join(build.ROOT, "TESTDATA.md")
    if os.path.isfile(path):
        with open(path) as f:
            m = re.search(r"\|\s*0\.1\s*\|\s*`([^`]+)`", f.read())
        if m:
            return m.group(1).rstrip("/")
    raise SystemExit("perfbench: cannot locate the sf0.1 testdata")


def java_cmd(classes, work, main, args, cpus):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    props = {
        "java.io.tmpdir": os.path.join(work, "tmp"),
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.enabled": "false",
        "spark.sql.session.timeZone": "UTC",
        "spark.driver.host": "localhost",
    }
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*
    return (["java", "-XX:-UsePerfData", "-Xmx" + HEAP, "-Xss8m"] + opens +
            ["-D%s=%s" % kv for kv in props.items()] +
            ["-cp", build.classpath(classes), main] + args +
            ["--cpus", str(cpus)])


def run_jvm(cmd, deadline):
    """Run the JVM in its own process group; stream its stdout; kill the
    whole group if it outlives `deadline`. Returns (exit code, lines)."""
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    lines = []
    try:
        def pump():
            for line in proc.stdout:
                lines.append(line.rstrip("\n"))
        t = threading.Thread(target=pump, daemon=True)
        t.start()
        try:
            proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            print("perfbench: run exceeded its time limit", file=sys.stderr)
            return None, lines
        t.join(10)
        return proc.returncode, lines
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()


def expected_metrics(trace):
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--capture", action="store_true")
    a = ap.parse_args()

    start = time.monotonic()
    names = expected_metrics(a.trace)
    classes = build.ensure_built()
    sf = testdata_dir()
    if not os.path.isdir(sf):
        raise SystemExit("perfbench: testdata directory %s is missing" % sf)
    cpus = min(4, os.cpu_count() or 1)
    work_root = os.path.join(build.out_dir(), "work")
    os.makedirs(work_root, exist_ok=True)
    work = tempfile.mkdtemp(prefix="%s-%d-" % (a.workload, a.seed),
                            dir=work_root)
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--testdata", sf,
            "--expected", os.path.join(HERE, "expected", "query_mix.json")]
    if a.trace:
        args += ["--trace-out", os.path.join(
            build.out_dir(), "traces", "%s-%d.json" % (a.workload, a.seed))]
    if a.capture:
        args.append("--capture")
    try:
        code, lines = run_jvm(
            java_cmd(classes, work, "perfbench.Main", args, cpus),
            start + RUN_LIMIT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for line in lines[:-1]:
        print(line)
    if code != 0 or not lines:
        raise SystemExit("perfbench: workload run failed (exit %s)" % code)
    result = json.loads(lines[-1])
    missing = set(names) ^ set(result["metrics"])
    if missing:
        raise SystemExit("perfbench: metrics differ from BENCHMARK.json: %s"
                         % sorted(missing))
    print(json.dumps(result))
    if not result["correct"]:
        sys.exit(1)


if __name__ == "__main__":
    main()

"""Benchmark entry point.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the engine and the benchmark harness (perfbench/build.py), writes the
sf0.1 input tables when they are missing or stale (perfbench/gen_data.py),
then runs one workload in a single JVM at local[<cores>] and prints, as the
last stdout line, one JSON object with `correct`, `attempted`, `failed` and
the metrics BENCHMARK.json declares: its end_to_end metrics with --trace 0,
its per_layer metrics with --trace 1. The line before it summarizes the run (quartiles, sample counts,
failing queries).

The JVM runs with a private /tmp (a mount namespace bound to
perfbench/.work/tmp) when the host allows one, so everything the engine
writes under /tmp stays inside the checkout; each pass also removes what it
added under the engine's scratch directories.

`--record` rewrites perfbench/expected.tsv from this run's outputs instead
of checking them.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
import build  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = build.WORK
DATA = os.path.join(WORK, "data", "sf0.1")
EXPECTED = os.path.join(HERE, "expected.tsv")
HEAP = "4g"
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def data_stamp():
    """Hash of what decides the generated tables: the generator's source
    (which holds its data seed) and the numpy and pyarrow versions."""
    import numpy
    import pyarrow
    h = hashlib.sha256()
    with open(os.path.join(HERE, "gen_data.py"), "rb") as fh:
        h.update(fh.read())
    h.update(f"numpy {numpy.__version__} pyarrow {pyarrow.__version__}".encode())
    return h.hexdigest()


def ensure_data():
    stamp = os.path.join(DATA, ".done")
    want = data_stamp()
    if os.path.exists(stamp) and open(stamp).read() == want:
        return
    shutil.rmtree(DATA, ignore_errors=True)
    subprocess.run([sys.executable, os.path.join(HERE, "gen_data.py"), DATA], check=True)
    with open(stamp, "w") as fh:
        fh.write(want)


def deadline_s(seconds, trace):
    """Wall-clock limit for the JVM: a fixed allowance for start-up, warm-up
    and the work after the timed passes, plus a multiple of the timed window
    (the last pass may overrun it; a traced run also times kernels and
    rebuilds memos after it)."""
    return 110 + seconds * (3 if trace else 2)


def private_tmp_prefix(tmp):
    """Command prefix that runs a program with `tmp` mounted on /tmp, or []."""
    if shutil.which("unshare") is None:
        return []
    probe = subprocess.run(["unshare", "--user", "--map-root-user", "--mount", "true"],
                           stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    if probe.returncode != 0:
        return []
    return ["unshare", "--user", "--map-root-user", "--mount", "sh", "-c",
            'mount --bind "$0" /tmp && exec "$@"', tmp]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    declared = spec["per_layer"] if args.trace else spec["end_to_end"]
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        raise SystemExit(f"unknown workload {args.workload}")

    build.build()
    ensure_data()
    run_dir = os.path.join(WORK, "run")
    tmp = os.path.join(WORK, "tmp")
    for d in (run_dir, tmp):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)

    jvm = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dspark.local.dir={tmp}", "-cp", build.classpath()]
    for p in ADD_OPENS:
        jvm += ["--add-opens", f"{p}=ALL-UNNAMED"]
    jvm += ["perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--data", DATA,
            "--expected", EXPECTED,
            "--spans", os.path.join(WORK, f"spans-{args.workload}-{args.seed}.json")]
    if args.record:
        jvm += ["--record", EXPECTED]

    deadline = deadline_s(args.seconds, args.trace)
    proc = subprocess.Popen(private_tmp_prefix(tmp) + jvm, cwd=run_dir,
                            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, err = proc.communicate(timeout=deadline)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise SystemExit(f"workload {args.workload} exceeded {deadline:.0f} s")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    log = os.path.join(WORK, f"jvm-{args.workload}-{args.seed}.log")
    with open(log, "w") as fh:
        fh.write(err)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or len(lines) < 2:
        sys.stderr.write(err[-5000:])
        raise SystemExit(f"benchmark JVM exited with {proc.returncode}; stderr in {log}")
    for l in err.splitlines():
        if l.startswith("FAILED "):
            sys.stderr.write(l + "\n")
    summary, raw = lines[-2], json.loads(lines[-1])
    missing = [m["name"] for m in declared if m["name"] not in raw["metrics"]]
    if missing:
        raise SystemExit(f"benchmark JVM did not report {missing}")
    print(summary)
    print(json.dumps({
        "correct": raw["correct"], "attempted": raw["attempted"], "failed": raw["failed"],
        "metrics": {m["name"]: {"value": raw["metrics"][m["name"]], "unit": m["unit"]}
                    for m in declared}}))


if __name__ == "__main__":
    main()

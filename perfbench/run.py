"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark from source if needed (build.py),
runs the workload in one JVM with Spark local[nproc], and prints a metric
table followed, as the last line, by one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`. With `--trace 0` the
metrics are the `end_to_end` metrics of BENCHMARK.json, with `--trace 1`
its `per_layer` metrics. Exits nonzero, without a result line, when the
build or the run fails, and nonzero after the result line when an output
did not match the workload's model. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

WORKLOADS = ("registry_api", "landing_ingest", "etl_batch")
JVM_DEADLINE_S = 170   # a run must end within 180 s of its start, build excluded

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)
    sys.exit(1)


def declared_metrics(trace):
    path = os.path.join(ROOT, "BENCHMARK.json")
    with open(path) as fh:
        spec = json.load(fh)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--record", help="write the etl_batch result digests to this file")
    a = ap.parse_args()
    trace = a.trace == "1"

    if not os.path.exists(os.path.join(ROOT, "BENCHMARK.json")):
        fail("BENCHMARK.json not found at the checkout root")
    wanted = declared_metrics(trace)
    try:
        cp = build.build()
    except (build.BuildError, OSError, subprocess.SubprocessError) as e:
        fail(f"build failed: {e}")

    # every file a run writes lives under this private directory
    work = os.path.join(build.BUILD, "run", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    nproc = os.cpu_count() or 1
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    cmd = ["java", "-Xmx3g", "-XX:-UsePerfData", f"-XX:ActiveProcessorCount={nproc}",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dderby.system.home={os.path.join(work, 'derby')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.bench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--work", work,
            "--bench-dir", HERE]
    if a.record:
        cmd += ["--record", os.path.abspath(a.record)]

    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=log,
                                text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=JVM_DEADLINE_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"run exceeded {JVM_DEADLINE_S} s; log kept at {os.path.relpath(log_path, ROOT)}")

    result = None
    for line in out.splitlines():
        if line.startswith("@@RESULT "):
            result = json.loads(line[len("@@RESULT "):])
        else:
            print(line)
    if proc.returncode != 0 or result is None:
        with open(log_path) as fh:
            tail = fh.read()[-4000:]
        print(tail, file=sys.stderr)
        fail(f"run failed with exit code {proc.returncode}; log kept at {os.path.relpath(log_path, ROOT)}")

    spans = os.path.join(work, "spans.jsonl")
    if os.path.exists(spans):
        keep = os.path.join(build.BUILD, "spans", f"{a.workload}-seed{a.seed}.jsonl")
        os.makedirs(os.path.dirname(keep), exist_ok=True)
        shutil.move(spans, keep)
        print(f"[perfbench] spans written to {os.path.relpath(keep, ROOT)}")
    shutil.rmtree(work, ignore_errors=True)

    missing = [m for m in wanted if m not in result["metrics"]]
    if missing:
        fail(f"workload did not report {', '.join(missing)}")
    final = {"correct": result["correct"], "attempted": result["attempted"],
             "failed": result["failed"],
             "metrics": {m: result["metrics"][m] for m in wanted}}
    print(json.dumps(final, separators=(",", ":")))
    sys.stdout.flush()
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()

"""graft benchmark: one command per workload.

  python3 perfbench/run.py --workload <siri_pipeline|query_mix>
      --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds graft and the harness from source
(perfbench/build.py), generates the seeded inputs (perfbench/gen.py,
cached per seed under .bench_data/), runs the workload in one Spark JVM
and prints, as the last line of standard output, one JSON object:
correct, attempted, failed and the metrics by name with their units
(end-to-end metrics with --trace 0, per-layer metrics with --trace 1).
The full artifact goes to .bench_out/. Exits nonzero when any output is
wrong or the run fails. For siri_pipeline this process is also the
open-loop generator that lands the daemon's snapshots.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

WORKLOADS = ("siri_pipeline", "query_mix")
# seconds between landed snapshots in the daemon's open loop, and the
# daemon's ProcessingTime trigger: longer than a micro-batch takes, so
# batches start on the trigger grid and a snapshot's wait for its batch
# depends only on when it landed
LAND_INTERVAL_S = 0.25
TRIGGER_S = 7
RUN_LIMIT_S = 170
JVM_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")] + [
    # a fixed heap and young generation: peak RSS then depends on what
    # the program keeps, not on when G1 decided to grow the heap
    "-Xms3g", "-Xmx3g", "-Xmn1g", "-Xss8m", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def brotli_python():
    """The first python3 on PATH that has `brotlicffi` (or
    GRAFT_BENCH_BROTLI_PYTHON): the generator compresses with it."""
    if "GRAFT_BENCH_BROTLI_PYTHON" in os.environ:
        return os.environ["GRAFT_BENCH_BROTLI_PYTHON"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        exe = os.path.join(d, "python3")
        if os.access(exe, os.X_OK) and subprocess.run(
                [exe, "-c", "import brotlicffi"], capture_output=True).returncode == 0:
            return exe
    raise SystemExit("no python3 with brotlicffi on PATH (set GRAFT_BENCH_BROTLI_PYTHON)")


def generate(root, seed, feed_n):
    """Seeded SIRI inputs, cached per (generator, seed, feed size)."""
    gen = os.path.join(HERE, "gen.py")
    with open(gen, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    data = os.path.join(root, ".bench_data", f"siri-{version}-s{seed}-f{feed_n}")
    if not os.path.exists(os.path.join(data, "expected.json")):
        tmp = data + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        subprocess.run([brotli_python(), gen, tmp, str(seed), str(feed_n)],
                       check=True, timeout=120)
        shutil.rmtree(data, ignore_errors=True)
        os.rename(tmp, data)
    return data


def land(work, feed_dir, jvm):
    """Open loop: land feed file i at start + i * interval by atomic
    rename, recording when it was due and when it landed."""
    ready = os.path.join(work, "daemon_ready")
    waited = time.time()
    while not os.path.exists(ready):
        if jvm.poll() is not None or time.time() - waited > 120:
            raise SystemExit("daemon never started")
        time.sleep(0.05)
    staging = os.path.join(work, "staging")
    landing = os.path.join(work, "landing")
    shutil.copytree(feed_dir, staging)
    names = sorted(os.listdir(staging))
    records = []
    # Spark fires a ProcessingTime trigger at multiples of the interval
    # since the epoch; start just after the next such point
    start = (math.floor((time.time() + 0.5) / TRIGGER_S) + 1) * TRIGGER_S + 0.1
    for i, name in enumerate(names):
        due = start + i * LAND_INTERVAL_S
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        os.rename(os.path.join(staging, name), os.path.join(landing, name))
        records.append({"name": name, "due_ms": int(due * 1000), "land_ms": int(time.time() * 1000)})
    tmp = os.path.join(work, "landed.json.tmp")
    with open(tmp, "w") as f:
        json.dump(records, f)
    os.rename(tmp, os.path.join(work, "landed.json"))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="query_mix: write the expected row counts and checksums")
    a = ap.parse_args()
    t_start = time.time()
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)

    classpath = build.build(root, os.path.join(root, ".bench_build"))
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--trigger-ms", str(TRIGGER_S * 1000)]
    if a.workload == "query_mix":
        data = os.path.join(root, ".bench_data", "query_mix")
        os.makedirs(data, exist_ok=True)
        args += ["--expected", os.path.join(HERE, "query_mix_expected.json")]
        if "GRAFT_BENCH_SF_DIR" in os.environ:
            args += ["--sf", os.environ["GRAFT_BENCH_SF_DIR"]]
        if a.record:
            args += ["--record", "1"]
    else:
        feed_n = max(12, int(a.seconds / LAND_INTERVAL_S))
        data = generate(root, a.seed, feed_n)

    work = os.path.join(root, ".bench_work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    args += ["--data", data, "--work", work, "--out", out]
    # every file Spark or the JVM writes stays inside the work dir
    local = [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
             f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
             f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"]
    cmd = ["java"] + JVM_OPTS + local + ["-cp", classpath, "graftbench.Main"] + args
    jvm_log = open(os.path.join(work, "jvm.log"), "w")
    jvm = subprocess.Popen(cmd, stdout=jvm_log, stderr=subprocess.STDOUT, start_new_session=True)
    try:
        if a.workload == "siri_pipeline":
            land(work, os.path.join(data, "feed"), jvm)
        jvm.wait(timeout=max(10, RUN_LIMIT_S - (time.time() - t_start)))
    except BaseException:
        os.killpg(jvm.pid, signal.SIGKILL)
        jvm.wait()
        jvm_log.close()
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        raise
    jvm_log.close()
    if jvm.returncode != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"benchmark JVM exited with {jvm.returncode}")

    with open(out) as f:
        res = json.load(f)
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        got = res["metrics"].get(m["name"])
        if got is None and a.trace:
            # a layer this workload does not exercise
            got = {"value": 0.0, "unit": m["unit"]}
        if got is None or not isinstance(got["value"], (int, float)) or not math.isfinite(got["value"]):
            raise SystemExit(f"metric {m['name']} missing or not a number: {got}")
        metrics[m["name"]] = {"value": got["value"], "unit": m["unit"]}
    line = {"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
            "failed": int(res["failed"]), "metrics": metrics}

    out_dir = os.path.join(root, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{a.workload}-s{a.seed}-t{a.trace}.json"), "w") as f:
        json.dump({**line, "all_metrics": res["metrics"], "artifact": res["artifact"],
                   "seconds": a.seconds, "run_wall_s": time.time() - t_start}, f, indent=1)
    shutil.move(os.path.join(work, "jvm.log"), os.path.join(out_dir, f"{a.workload}-s{a.seed}-t{a.trace}.log"))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(line))
    if not line["correct"] or line["failed"]:
        log(f"wrong output: {res['artifact'].get('errors') or res['artifact'].get('failures')}")
        sys.exit(1)


if __name__ == "__main__":
    main()

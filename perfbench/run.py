"""graft's benchmark runner.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --smoke

Builds graft and the benchmark from source (perfbench/build.py), waits
for dirty pages to flush, then runs one workload in one JVM with at most
`nproc` (and at most 4) task threads. Prints the run's context (input
shape, host, JVM and Spark settings, checksums) as one JSON line and the
result as the last line:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.

`--smoke` runs every workload once untraced and once traced on tiny
inputs and fails unless each prints every metric BENCHMARK.json names,
with its unit, and checks out correct.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
import build  # noqa: E402

HERE = build.HERE
ROOT = build.ROOT
MAX_THREADS = 4
RUN_LIMIT_S = 170.0
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
JVM_HEAP = "-Xmx3g"


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def dirty_kb():
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("Dirty:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def drain_dirty_pages(deadline_s=30.0):
    """Flush and wait (bounded) until the dirty page set is below 64 MB:
    a timing taken during writeback measures the disk, not graft."""
    subprocess.run(["sync"], check=False)
    end = time.monotonic() + deadline_s
    while dirty_kb() > 65536 and time.monotonic() < end:
        time.sleep(1.0)
    return dirty_kb()


def host_info(threads, dirty_after):
    return {
        "nproc": os.cpu_count(),
        "task_threads": threads,
        "loadavg": list(os.getloadavg()),
        "dirty_kb_at_start": dirty_after,
        "jvm_args": [JVM_HEAP],
    }


def run_one(classes, workload, seed, seconds, trace, smoke, deadline):
    """Run one workload in a fresh JVM; return (context, result) dicts."""
    threads = max(1, min(MAX_THREADS, os.cpu_count() or 1))
    dirty_after = drain_dirty_pages()
    work = os.path.join(build.OUT, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = [build.java(), *[a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")],
           JVM_HEAP, "-Xss8m",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-cp", os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")]),
           "graftbench.PerfBench", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "1" if trace else "0",
           "--threads", str(threads), "--work", work] + (["--smoke"] if smoke else [])
    load_before = os.getloadavg()
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, cwd=work,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit(f"run: {workload} did not finish in time")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0:
        raise SystemExit(f"run: benchmark JVM exited with {proc.returncode}")
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if len(lines) < 2:
        raise SystemExit("run: benchmark JVM printed no result")
    context, result = json.loads(lines[-2]), json.loads(lines[-1])
    host = host_info(threads, dirty_after)
    host["loadavg_before"] = list(load_before)
    context["host"] = host
    return context, result


def missing_metrics(spec, result, trace):
    want = spec["per_layer" if trace else "end_to_end"]
    got = result.get("metrics", {})
    bad = []
    for m in want:
        v = got.get(m["name"])
        if not isinstance(v, dict) or v.get("unit") != m["unit"] or \
                not isinstance(v.get("value"), (int, float)) or isinstance(v.get("value"), bool):
            bad.append(m["name"])
    return bad


def smoke(spec):
    ok = True
    classes = build.build()
    for w in spec["workloads"]:
        for trace in (False, True):
            start = time.monotonic()
            context, result = run_one(classes, w["name"], 1, 1, trace, True,
                                       start + RUN_LIMIT_S)
            bad = missing_metrics(spec, result, trace)
            good = not bad and result.get("correct") is True
            ok &= good
            print(json.dumps({"workload": w["name"], "trace": int(trace), "ok": good,
                              "missing_or_wrong_unit": bad,
                              "failures": context.get("failures", []),
                              "seconds": round(time.monotonic() - start, 1)}))
    print("smoke: " + ("pass" if ok else "FAIL"))
    return 0 if ok else 1


def main():
    start = time.monotonic()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    spec = load_spec()
    if a.smoke and not a.workload:
        return smoke(spec)
    names = [w["name"] for w in spec["workloads"]]
    if a.workload not in names:
        ap.error(f"--workload must be one of {names}")
    classes = build.build()
    # the first run in a checkout also compiles; that time is not the run's
    deadline = max(start, time.monotonic() - 5.0) + RUN_LIMIT_S
    context, result = run_one(classes, a.workload, a.seed, a.seconds, bool(a.trace), a.smoke,
                              deadline)
    bad = missing_metrics(spec, result, bool(a.trace))
    if bad:
        result["correct"] = False
        context.setdefault("failures", []).append(f"metrics missing or mis-united: {bad}")
    print(json.dumps(context))
    sys.stdout.flush()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

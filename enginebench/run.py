#!/usr/bin/env python3
"""Engine benchmark runner.

    python3 enginebench/run.py --workload trickle|backlog|all|selftest
                               [--seed N] [--seconds S] [--trace 0|1]

Builds the program and the benchmark from source (see build.py), runs one
workload in one JVM on local[k], prints every metric by name with its unit,
and prints as its last line one JSON object with the keys `correct`,
`attempted`, `failed` and `metrics`: the end-to-end metrics of
BENCHMARK.json with --trace 0, its per-layer metrics with --trace 1. Exits
non-zero when the correctness gate fails. `all` runs every workload in turn;
`selftest` shows that the gate trips on a corrupted store.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))
import build  # noqa: E402

# module options the Spark launcher would pass on JDK 17 (as build.sbt does)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
RUN_TIMEOUT_S = 170
HEAP = "3g"


def load_spec() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def run_jvm(classes: Path, workload: str, seed: int, seconds: float, trace: int) -> dict:
    base = ROOT / ".bench_build"
    work = base / "work" / f"{workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    (base / "traces").mkdir(parents=True, exist_ok=True)
    trace_out = base / "traces" / f"{workload}-seed{seed}.json"
    jars = build.spark_jars()
    # the throughput collector: no concurrent GC threads competing with the
    # task slots on a small host
    cmd = ["java", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}:{jars}/*", "enginebench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--work", str(work), "--trace-out", str(trace_out)]
    err_path = base / "work" / f"{workload}-{os.getpid()}.stderr"
    lines = []

    def pump(stream):
        for line in stream:
            lines.append(line)
            if line.startswith("[enginebench]"):
                print(line, end="", flush=True)

    with err_path.open("w") as err:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                                cwd=work, start_new_session=True)
        reader = threading.Thread(target=pump, args=(proc.stdout,), daemon=True)
        reader.start()
        try:
            proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            pass
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
            reader.join(timeout=10)
            shutil.rmtree(work, ignore_errors=True)
            err_tail = err_path.read_text()[-6000:]
            err_path.unlink()
    result = None
    for line in lines:
        if line.startswith("ENGINEBENCH_RESULT "):
            result = json.loads(line[len("ENGINEBENCH_RESULT "):])
    if proc.returncode != 0 or result is None:
        sys.stderr.write(err_tail)
        raise SystemExit(f"enginebench: {workload} failed (exit {proc.returncode})")
    result["trace_file"] = str(trace_out.relative_to(ROOT)) if trace else None
    return result


def report(spec: dict, workload: str, result: dict, trace: int) -> dict:
    """Print every metric by name and unit; return the result JSON."""
    want = spec["per_layer"] if trace else spec["end_to_end"]
    metrics = {}
    missing = []
    for m in want:
        got = result["metrics"].get(m["name"])
        if got is None:
            missing.append(m["name"])
            continue
        metrics[m["name"]] = got
        print(f"[enginebench] {workload} {m['name']} = {got['value']} {got['unit']}", flush=True)
    if missing:
        raise SystemExit(f"enginebench: {workload} did not measure {', '.join(missing)}")
    for k, v in result.get("properties", {}).items():
        print(f"[enginebench] {workload} input {k} = {v}", flush=True)
    frac = result["failed"] / max(1, result["attempted"])
    print(f"[enginebench] {workload} failed_ops_frac = {frac} "
          f"({result['failed']} of {result['attempted']} operations)", flush=True)
    return {"correct": bool(result["correct"]), "attempted": int(result["attempted"]),
            "failed": int(result["failed"]), "metrics": metrics}


def overhead(spec: dict, workload: str, result: dict, trace: int) -> None:
    """Untraced results are kept; a traced run reports how far its
    end-to-end numbers sit from their median (the tracing overhead)."""
    # untraced results are comparable while the benchmark and program are
    # the same: the build stamp hashes every source
    config = hashlib.sha256((ROOT / "BENCHMARK.json").read_bytes() +
                            (build.OUT / "stamp").read_bytes()).hexdigest()[:12]
    store = ROOT / ".bench_build" / "results" / f"{workload}-{config}.jsonl"
    store.parent.mkdir(parents=True, exist_ok=True)
    if not trace:
        with store.open("a") as f:
            f.write(json.dumps(result["metrics"]) + "\n")
        return
    if not store.is_file():
        print(f"[enginebench] {workload} tracing overhead: no untraced run to compare with")
        return
    past = [json.loads(l) for l in store.read_text().splitlines() if l.strip()]
    for m in spec["end_to_end"]:
        base = [p[m["name"]]["value"] for p in past if m["name"] in p]
        traced = result["metrics"].get(m["name"])
        if base and traced:
            med = statistics.median(base)
            print(f"[enginebench] {workload} tracing overhead {m['name']}: traced {traced['value']:.4g} "
                  f"vs untraced median {med:.4g} ({(traced['value'] - med) / med * 100:+.1f}%, "
                  f"{len(base)} untraced runs)")


def main() -> int:
    # a terminated runner still stops its JVM (run_jvm's finally kills it)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    spec = load_spec()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    names = [w["name"] for w in spec["workloads"]]
    if a.workload not in names + ["all", "selftest"]:
        ap.error(f"--workload must be one of {', '.join(names + ['all', 'selftest'])}")
    t0 = time.time()
    classes = build.build()
    print(f"[enginebench] build ready in {time.time() - t0:.1f}s", flush=True)
    if a.workload == "selftest":
        r = run_jvm(classes, "selftest", a.seed, a.seconds, 0)
        print(json.dumps({"correct": r["correct"], "attempted": r["attempted"],
                          "failed": r["failed"], "metrics": {}}))
        return 0 if r["correct"] else 1
    out = {}
    for w in (names if a.workload == "all" else [a.workload]):
        r = run_jvm(classes, w, a.seed, a.seconds, a.trace)
        if a.trace:
            # the traced run also measures end to end: report its overhead
            overhead(spec, w, r, 1)
        out[w] = report(spec, w, r, a.trace)
        if not a.trace:
            overhead(spec, w, r, 0)
        if r["trace_file"]:
            print(f"[enginebench] {w} spans written to {r['trace_file']}", flush=True)
    if a.workload == "all":
        final = {"correct": all(o["correct"] for o in out.values()),
                 "attempted": sum(o["attempted"] for o in out.values()),
                 "failed": sum(o["failed"] for o in out.values()),
                 "metrics": {f"{w}.{k}": v for w, o in out.items() for k, v in o["metrics"].items()}}
    else:
        final = out[a.workload]
    print(json.dumps(final))
    return 0 if final["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())

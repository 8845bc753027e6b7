"""Layer-by-layer benchmark of the drifting-CSV -> evolving snapshot table
pipeline. Run from the repository root:

    python3 perfbench/run.py --workload ingest_drift --seed 1 --seconds 20 --trace 0

Builds the engine and the Scala client (perfbench/build.py), runs one JVM with one
Spark session at local[nproc] and one closed-loop client, and prints as its
last stdout line one JSON object: {"correct", "attempted", "failed",
"metrics"}. --trace 0 gives the end-to-end metrics of BENCHMARK.json,
--trace 1 the per-layer ones. Exits 1 when an answer was wrong, 2 when the
benchmark could not run. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
JVM_TIMEOUT_S = 165
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
TAIL_GRID_PERMILLE = (999, 990, 950, 900, 750, 500)


def benchmark_spec():
    with open(os.path.join(BENCH_DIR, "..", "BENCHMARK.json")) as f:
        return json.load(f)


def percentile(values, p):
    """Linear interpolation between order statistics (numpy's default)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n):
    """The highest percentile of the grid with at least ten of `n` samples
    beyond it. Below 20 samples no percentile from the median up has ten
    beyond it, and the tail is reported at the median."""
    for pm in TAIL_GRID_PERMILLE:
        if n * (1000 - pm) >= 10 * 1000:
            return pm / 10.0
    return 50.0


def kind_medians(raw):
    """Median latency of each statement kind of the workload's statement
    class, over its untraced statements."""
    s = raw["samples"][raw["stmt"]]
    by_kind = {}
    for x, k in zip(s["all"], s["all_kinds"]):
        by_kind.setdefault(k, []).append(x)
    return {k: statistics.median(xs) for k, xs in by_kind.items()}


def mix_latency(raw):
    """Per-kind median latencies weighted by each kind's share of the
    workload's cycle: the expected latency of a statement drawn from the
    mix. Unlike the median of all statements, every kind moves it."""
    med = kind_medians(raw)
    mix = {k: raw["cycle"].count(k) for k in med}
    total = sum(mix.values())
    return sum(mix[k] * med[k] for k in med) / total


def end_to_end(raw):
    """End-to-end metrics from the JVM's raw record, over the untraced
    statements of the workload's statement class. Returns (metrics,
    details); the details carry the tail at the rule's percentile with
    its sample count, throughput and the failed-operation ratio."""
    stmt = raw["stmt"]
    xs = raw["samples"][stmt]["all"]
    p = tail_percentile(len(xs))
    m = {
        "setup_s": (raw["setup_s"], "s"),
        "stmt_p50_s": (statistics.median(xs), "s"),
        "stmt_mix_s": (mix_latency(raw), "s"),
        "write_bytes_per_row": (raw["bytes_written"] / raw["rows_submitted"], "B/row"),
        "stored_bytes_per_row": (raw["bytes_live"] / raw["rows_live"], "B/row"),
        "retained_heap_mb": (raw["heap_mb"], "MB"),
    }
    details = {"nproc": raw["nproc"], "seed": raw["seed"], "statement": stmt,
               "statements": len(xs), "stmt_tail_s": percentile(xs, p),
               "kind_p50_s": kind_medians(raw), "session_s": raw["session_s"],
               "tail_percentile": p,
               "stmt_rows_per_s": raw["class_rows"][stmt] / raw["class_s"][stmt],
               "cycles": raw["cycles"], "measured_s": raw["measured_s"],
               "failed_op_ratio": raw["failed"] / max(1, raw["attempted"]),
               "failed_in": raw["failed_in"]}
    return m, details


def per_layer(raw, spec):
    """Per-layer metrics: the median of each traced value (a layer the
    workload never calls reads 0), plus the tracing overhead of each
    statement class: traced median minus untraced median."""
    layers = raw["layers"]
    m = {}
    for x in spec["per_layer"]:
        name = x["name"]
        if name.startswith("overhead."):
            cls = name[len("overhead."):-len("_p50_s")]
            s = raw["samples"].get(cls, {})
            v = (statistics.median(s["traced"]) - statistics.median(s["all"])
                 if s.get("traced") and s.get("all") else 0.0)
        else:
            xs = layers.get(name, [])
            v = statistics.median(xs) if xs else 0.0
        m[name] = (v, x["unit"])
    return m


def jvm_command(classes, jars, scratch, args, out, extra):
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java"] + opens +
            ["-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
             f"-Dspark.local.dir={tmp}",
             f"-Dspark.sql.warehouse.dir={os.path.join(scratch, 'spark-warehouse')}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-cp", build.classpath(classes, jars), "graftbench.Main",
             "--workload", args.workload, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace),
             "--scratch", scratch, "--out", out] + extra)


def run_jvm(cmd, log_path):
    """Run the benchmark JVM in its own process group and wait for it; on a
    timeout or a SIGTERM, kill the group and wait until it has ended."""
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            return proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            return None
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt-expected", action="store_true",
                    help="break one expected answer on purpose (self-test)")
    ap.add_argument("--raw-out", help="also keep the JVM's raw record "
                    "here, and its log beside it")
    args = ap.parse_args(argv)

    spec = benchmark_spec()
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {args.workload}")
    try:
        classes, jars = build.build()
    except build.BuildError as e:
        fail(f"build failed: {e}")

    runs = os.path.join(build.build_dir(), "runs")
    os.makedirs(runs, exist_ok=True)
    scratch = tempfile.mkdtemp(prefix="run-", dir=runs)
    try:
        out = os.path.join(scratch, "raw.json")
        log = os.path.join(scratch, "jvm.log")
        extra = ["--corrupt-expected"] if args.corrupt_expected else []
        t0 = time.time()
        rc = run_jvm(jvm_command(classes, jars, scratch, args, out, extra), log)
        if rc != 0 or not os.path.isfile(out):
            with open(log, errors="replace") as f:
                tail = f.read()[-3000:]
            sys.stderr.write(tail)
            fail("benchmark JVM timed out" if rc is None
                 else f"benchmark JVM exited with {rc}")
        with open(out) as f:
            raw = json.load(f)
        if args.raw_out:
            shutil.copyfile(out, args.raw_out)
            shutil.copyfile(log, args.raw_out + ".log")
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    for f_ in raw["failures"]:
        print(f"[perfbench] wrong answer: {f_}", file=sys.stderr)
    if not raw["samples"].get(raw["stmt"], {}).get("all"):
        fail(f"no untraced {raw['stmt']} statement completed")
    e2e, details = end_to_end(raw)
    details["wall_s"] = time.time() - t0
    if args.trace:
        metrics = per_layer(raw, spec)
        wanted = [x["name"] for x in spec["per_layer"]]
    else:
        metrics = e2e
        wanted = [x["name"] for x in spec["end_to_end"]]
    print("details " + json.dumps(details, sort_keys=True))
    result = {
        "correct": raw["failed"] == 0,
        "attempted": int(raw["attempted"]),
        "failed": int(raw["failed"]),
        "metrics": {k: {"value": metrics[k][0], "unit": metrics[k][1]}
                    for k in wanted},
    }
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())

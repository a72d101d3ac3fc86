"""One command for the benchmark: build, generate, run, check, report.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --workload all --seed 1      # every workload in turn

Run from the repository root. The last line of standard output is one JSON
object {"correct", "attempted", "failed", "metrics"}; with --trace 0 the
metrics are the end-to-end metrics of BENCHMARK.json, with --trace 1 its
per-layer metrics. Lines before it print the workload's own metrics by name
with their unit and the run's environment record. Exits 1 when any output
is incorrect, 2 when the program cannot be built or run.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ["solana_etl", "dashboard", "feed_ingest", "corpus_curate"]
# untimed load between set-up and the timed window
SETTLE_SECONDS = 2.0
HEAP = "3g"
# size of the dashboard tables solana_etl refreshes after each load
ETL_DASH_EVENTS = 10_000
ETL_DASH_MINTS = 1_000
# closed-loop client threads of the dashboard workload
DASH_CLIENTS = 2
# feed_ingest open-loop rate (messages/s), frozen at about half the drain
# capacity measured on the commit that introduced the benchmark, and the
# micro-batch admission cap of both legs
FEED_RATE = 250.0
FEED_BATCH_CAP = 500
FEED_BACKLOG = 4000
JVM_TIMEOUT_S = 170


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except OSError:
        return None


def cpu_times():
    """(steal, total) jiffies of all CPUs, or None off Linux."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:9]]
        return v[7], sum(v)
    except (OSError, ValueError, IndexError):
        return None


def source_id(root):
    """The commit when the checkout is a git repository, else a digest of
    the program sources."""
    if os.path.isdir(os.path.join(root, ".git")):
        try:
            out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                                 text=True, timeout=10)
            if out.returncode == 0:
                return out.stdout.strip()
        except (OSError, subprocess.TimeoutExpired):
            pass
    with open(os.path.join(root, ".bench_build", "program.stamp")) as f:
        return "src-sha256:" + f.read()[:16]


def generate(workload, seed, seconds, trace, input_dir):
    if workload == "feed_ingest":
        # a traced run makes two passes over the feed, each half as long
        passes = 2 if trace else 1
        phase1 = int(FEED_RATE * seconds * 0.6 / passes)
        backlog = FEED_BACKLOG // passes
        facts = gen.gen_feed(seed, input_dir, phase1 + backlog)
        facts.update(phase1=phase1, backlog=backlog)
        return facts
    facts = gen.GENERATORS[workload](seed, input_dir)
    if workload == "solana_etl":
        # the dashboard the load feeds, refreshed after every load
        gen.gen_dashboard(seed, os.path.join(input_dir, "tables"), ETL_DASH_EVENTS, ETL_DASH_MINTS)
    return facts


def run_jvm(cp, cds, cfg, cfg_path, log_path):
    work = cfg["work"]
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData"]
           + ([f"-XX:SharedArchiveFile={cds}"] if cds else []) + build.jvm_opens()
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Dspark.local.dir={work}/spark-local",
              f"-Dspark.sql.warehouse.dir={work}/warehouse",
              f"-Djava.io.tmpdir={work}/tmp",
              "-cp", cp, "perfbench.Main", cfg_path])
    os.makedirs(f"{work}/tmp", exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=f"{work}/spark-local")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT, env=env)
        try:
            return proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            return None


def steal_pct(start, end):
    """Share of CPU time the hypervisor gave to other guests during the run."""
    if not start or not end or end[1] <= start[1]:
        return None
    return 100.0 * (end[0] - start[0]) / (end[1] - start[1])


def e2e_metrics(rec, gen_s):
    plain = rec["plain"]
    setup = gen_s + rec["jvm_start_s"] + rec["setup_s"]
    return {
        "setup_s": (setup, "s"),
        "p50_ms": (plain["p50_ms"], "ms"),
        "throughput_per_s": (plain["throughput_per_s"], "1/s"),
    }


# per-layer metrics of BENCHMARK.json: engine counters per operation of the
# traced pass, summed over every layer the tracer saw
PER_OP = [
    ("engine.cpu_ms_per_op", "cpu_s", 1e3, "ms"),
    ("engine.run_ms_per_op", "run_s", 1e3, "ms"),
    ("engine.sched_wait_ms_per_op", "sched_wait_s", 1e3, "ms"),
    ("engine.tasks_per_op", "tasks", 1, "count"),
    ("engine.stages_per_op", "stages", 1, "count"),
    ("engine.jobs_per_op", "jobs", 1, "count"),
    ("engine.shuffle_write_bytes_per_op", "shuffle_write_bytes", 1, "bytes"),
    ("engine.shuffle_read_bytes_per_op", "shuffle_read_bytes", 1, "bytes"),
    ("engine.spill_bytes_per_op", "spill_bytes", 1, "bytes"),
    ("sources.input_bytes_per_op", "input_bytes", 1, "bytes"),
    ("sources.records_in_per_op", "records_in", 1, "count"),
    ("sinks.output_bytes_per_op", "output_bytes", 1, "bytes"),
    ("sinks.records_out_per_op", "records_out", 1, "count"),
    ("driver.plan_ms_per_op", "plan_ms", 1, "ms"),
]


def layer_metrics(rec):
    traced = rec["traced"]
    ops = max(1, traced["ops"])
    tot = {}
    # jobs outside every traced call are the benchmark's own checks
    for layer, counters in rec["layers"].items():
        if layer == "unattributed":
            continue
        for k, v in counters.items():
            tot[k] = tot.get(k, 0.0) + v
    m = {name: (tot.get(key, 0.0) * scale / ops, unit) for name, key, scale, unit in PER_OP}
    m["engine.failed_tasks"] = (tot.get("failed_tasks", 0.0), "count")
    m["driver.self_ms_per_op"] = (rec["driver_self_s"] * 1e3 / ops, "ms")
    m["jvm.gc_ms_per_op"] = (rec["jvm_gc_s"] * 1e3 / ops, "ms")
    m["jvm.peak_heap_mb"] = (rec["peak_heap_mb"], "MB")
    return m


# fewer operations per pass than this leave the tracing overhead below the
# run-to-run noise
OVERHEAD_MIN_OPS = 20


def trace_overhead(rec):
    """Traced minus untraced end-to-end figures, as a share of the untraced."""
    plain, traced = rec["plain"], rec["traced"]
    out = {}
    for k in ("p50_ms", "throughput_per_s"):
        pct = 100.0 * (traced[k] - plain[k]) / plain[k]
        out[f"trace.overhead.{k}_pct"] = (
            pct if min(plain["ops"], traced["ops"]) >= OVERHEAD_MIN_OPS
            else f"unresolved ({pct:.1f} over {plain['ops']} and {traced['ops']} operations)")
    return out


def own_layer_metrics(workload, rec):
    """The workload's own per-layer metrics, named by module."""
    out = {}
    for layer, counters in sorted(rec["layers"].items()):
        if layer == "unattributed":
            continue
        for k, v in sorted(counters.items()):
            out[f"{layer}.{k}"] = v
    out.update(rec["traced"]["layer"])
    out.update(trace_overhead(rec))
    lay = rec["layers"]
    for kind, c in lay.items():
        if kind.startswith("dash.") and c.get("calls"):
            out[f"{kind}.sched_wait_ms"] = c["sched_wait_s"] * 1e3 / c["calls"]
    d = lay.get("dash.drilldown")
    if d and d.get("calls"):
        # a drilldown returns one row
        out["dash.drilldown.rows_scanned_per_row_returned"] = d["records_in"] / d["calls"]
    return out


def run_one(root, args, workload):
    build_dir = os.path.join(root, ".bench_build")
    cp = build.build(root, build_dir)
    runs = os.path.join(build_dir, "runs")
    run_name = f"{workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    run_dir = os.path.join(runs, run_name)
    shutil.rmtree(run_dir, ignore_errors=True)
    input_dir = os.path.join(run_dir, "input")
    load_start = loadavg()
    cpu_start = cpu_times()
    t0 = time.perf_counter()
    facts = generate(workload, args.seed, args.seconds, args.trace, input_dir)
    gen_s = time.perf_counter() - t0
    cfg = {
        "workload": workload, "seed": args.seed, "seconds": args.seconds,
        "trace": bool(args.trace), "nproc": os.cpu_count(),
        "settle_seconds": SETTLE_SECONDS,
        "input": input_dir, "work": os.path.join(run_dir, "work"),
        "out": os.path.join(run_dir, "record.json"), "spans": os.path.join(runs, run_name + "-spans.json"),
        "clients": DASH_CLIENTS, "feed_rate": FEED_RATE, "feed_batch_cap": FEED_BATCH_CAP,
        "facts": {k: v for k, v in facts.items() if not isinstance(v, list)},
    }
    os.makedirs(cfg["work"], exist_ok=True)
    cfg_path = os.path.join(run_dir, "config.json")
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    log_path = os.path.join(run_dir, "jvm.log")
    code = run_jvm(cp, build.archive(build_dir), cfg, cfg_path, log_path)
    if code != 0 or not os.path.exists(cfg["out"]):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        shutil.rmtree(run_dir, ignore_errors=True)
        raise RuntimeError(f"{workload}: JVM run failed (exit {code})")
    with open(cfg["out"]) as f:
        rec = json.load(f)
    measured = rec["traced"] if args.trace else rec["plain"]
    problems = [] if measured["failed"] == 0 else [f"{measured['failed']} operation(s) failed in the JVM"]
    try:
        found, guards = check.CHECKS[workload](measured["checks"], facts)
    except Exception as e:  # an unreadable output is an incorrect one
        found, guards = [f"check failed: {e!r}"], {}
    problems += found
    record = {
        "workload": workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "nproc": os.cpu_count(), "master": rec["master"],
        "shuffle_partitions": rec["shuffle_partitions"], "heap": HEAP,
        "max_heap_mb": rec["max_heap_mb"], "loadavg_start": load_start, "loadavg_end": loadavg(),
        "steal_pct": steal_pct(cpu_start, cpu_times()),
        "source": source_id(root), "gen_s": gen_s, "jvm_start_s": rec["jvm_start_s"],
        "cds": build.archive(build_dir) is not None, "setup_jvm_s": rec["setup_s"], "ops": measured["ops"], "problems": problems,
    }
    failed = measured["failed"] if not problems else measured["attempted"]
    if args.trace:
        metrics = layer_metrics(rec)
        own = own_layer_metrics(workload, rec)
        own.update(guards)
    else:
        metrics = e2e_metrics(rec, gen_s)
        own = {k: v["value"] for k, v in measured["named"].items()}
        units = {k: v["unit"] for k, v in measured["named"].items()}
    for k, v in sorted(own.items()):
        unit = "" if args.trace else " " + units[k]
        print(f"{workload} {k} = {v}{unit}")
    for k, (v, u) in metrics.items():
        print(f"{workload} {k} = {v} {u}")
    print("record " + json.dumps(record))
    for p in problems:
        print(f"{workload} INCORRECT: {p}")
    with open(os.path.join(build_dir, "runs", "results.jsonl"), "a") as f:
        f.write(json.dumps({"record": record, "metrics": metrics, "own": own}) + "\n")
    shutil.rmtree(run_dir, ignore_errors=True)
    return {
        "correct": not problems,
        "attempted": int(measured["attempted"]),
        "failed": int(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        print("perfbench: run from the repository root (src/main/scala/graft not found)",
              file=sys.stderr)
        sys.exit(2)
    names = WORKLOADS if args.workload == "all" else [args.workload]
    try:
        results = [run_one(root, args, w) for w in names]
    except (RuntimeError, OSError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(2)
    for r in results[:-1]:
        print(json.dumps(r))
    print(json.dumps(results[-1]))
    sys.exit(0 if all(r["correct"] for r in results) else 1)


if __name__ == "__main__":
    main()

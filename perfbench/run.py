#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload curation --seed 1 --seconds 10 --trace 0

One process per run, one client in a closed loop: the next operation starts
only after the previous one returns. Set-up (session start, input
generation, fixture build, warm-up) is timed as ``setup_s``; then
operations run until their summed latency reaches ``--seconds``. Every
operation's output is checked after the window against an independent
computation (``oracles.py``).

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` alternates an
untraced operation with a traced one (own Spark job group, harvested from
the status store after it returns) followed by its prefix runs, prints the
per-layer metrics, and writes spans and the ledger to
``perfbench/out/trace-<workload>-s<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
WORK = os.path.join(HERE, "work")

# a run must end well inside 180 s: the window stops early (after at least
# one operation) once the process is this old
WINDOW_DEADLINE_S = 110.0

# op_p50_s, rows_per_s and peak_rss_mb are printed on the summary line, not
# gated: on a host whose hypervisor steals up to a fifth of CPU time in
# bursts, their run-to-run spread reached 0.3-0.7 (latency) and 0.28 (RSS)
# while CPU time per operation stayed within 0.1-0.2
END_TO_END = {"setup_s": "s", "cpu_s_per_op": "s"}
PER_LAYER = {
    "driver.plan_build_s": "s", "driver.gap_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
    "spark.core_busy": "ratio", "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes", "spark.spill_bytes": "bytes",
    "spark.input_bytes": "bytes", "spark.gc_s": "s",
    "functions.pii.s": "s", "operators.boilerplate.s": "s",
    "functions.quality_gate.s": "s", "dedup.decontaminate.s": "s",
    "dedup.exact.s": "s", "operators.sampler.s": "s", "operators.packing.s": "s",
    "dedup.decontaminate.kept_ratio": "ratio",
    "streaming.merge_s": "s", "streaming.lookup_s": "s",
    "streaming.write_bytes_per_row": "bytes", "streaming.table_bytes": "bytes",
    "trace.overhead_s": "s",
}
HARVESTED = {"driver.gap_s": "gap_s", "spark.jobs": "jobs", "spark.stages": "stages",
             "spark.tasks": "tasks", "spark.executor_run_s": "executor_run_s",
             "spark.executor_cpu_s": "executor_cpu_s", "spark.core_busy": "core_busy",
             "spark.shuffle_write_bytes": "shuffle_write_bytes",
             "spark.shuffle_read_bytes": "shuffle_read_bytes",
             "spark.spill_bytes": "spill_bytes", "spark.input_bytes": "input_bytes",
             "spark.gc_s": "gc_s"}
ACCUMULATOR_ERROR = "Failed to update accumulator"


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_heap_mb() -> int:
    """A quarter of host memory (or of the cgroup limit, if lower), kept
    between 1 and 4 GiB."""
    with open("/proc/meminfo") as f:
        total_kb = int(next(ln for ln in f if ln.startswith("MemTotal")).split()[1])
    limit = total_kb * 1024
    try:
        with open("/sys/fs/cgroup/memory.max") as f:
            raw = f.read().strip()
        if raw.isdigit():
            limit = min(limit, int(raw))
    except OSError:
        pass
    return max(1024, min(4096, limit // 4 // 2**20))


def start_session(work: str, cores: int):
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    # everything Spark, its JVM and its python workers write stays in the run's
    # work directory
    os.environ.update(TMPDIR=tmp, SPARK_LOCAL_DIRS=local,
                      PYSPARK_PYTHON=sys.executable,
                      PYSPARK_DRIVER_PYTHON=sys.executable)
    spark = (SparkSession.builder.master(f"local[{cores}]")
             .appName("perfbench")
             .config("spark.driver.memory", f"{driver_heap_mb()}m")
             .config("spark.sql.shuffle.partitions", str(cores))
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.local.dir", local)
             .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
             .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp}")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the JVM and every process under it, and wait for
    each to end."""
    import ledger
    from pyspark import SparkContext

    tree = [p for p in ledger.process_tree() if p != os.getpid()]
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()   # the JVM exits on EOF from its parent
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 15
    for pid in tree:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


class Trace:
    """Per-run tracing state: spans, per-op ledgers, prefix tables, counts."""

    def __init__(self, spark, cores: int):
        import ledger

        self.spans = ledger.Spans()
        self.harvester = ledger.Harvester(spark)
        self.cores = cores
        self.ops: "dict[int, dict]" = {}
        self.counts: "dict[str, dict[int, float]]" = {}
        self.untraced: "list[float]" = []
        self.traced: "list[float]" = []

    def grouped(self, group: str, fn):
        """Run ``fn`` under its own job group; return (wall s, harvest)."""
        h = self.harvester
        h.set_group(group)
        t0 = time.perf_counter()
        try:
            fn()
        finally:
            wall = time.perf_counter() - t0
            h.clear_group()
        return wall, h.harvest(group, wall, self.cores)

    def run_op(self, wl, i: int) -> None:
        from workloads import Curation

        def full():
            with self.spans.span("op", i):
                if isinstance(wl, Curation):
                    with self.spans.span("driver.plan_build", i):
                        df = wl.build(i)
                    with self.spans.span("action", i):
                        wl.collect(i, df)
                else:
                    wl.op(i, self)

        size0 = 0 if isinstance(wl, Curation) else wl.table_bytes()
        wall, led = self.grouped(f"op{i}", full)
        self.traced.append(wall)
        led["plan_build_s"] = sum(s["end"] - s["start"] for s in self.spans.spans
                                  if s["op"] == i and s["name"] == "driver.plan_build")
        led["wall_s"] = wall
        self.ops[i] = {"full": led}
        if not isinstance(wl, Curation):
            # the table walks run outside the timed operation; lookups do not
            # write, so the size after the operation is the size after its commit
            size = wl.table_bytes()
            self.counts.setdefault("streaming.write_bytes_per_row", {})[i] = \
                (size - size0) / wl.rows(i)
            self.counts.setdefault("streaming.table_bytes", {})[i] = size
            return
        prefixes = []
        for k, layer in enumerate(wl.LAYERS):
            def run_prefix(k=k):
                with self.spans.span(f"prefix:{layer}", i):
                    wl.prefix(i, k).write.format("noop").mode("overwrite").save()
            wall_k, led_k = self.grouped(f"op{i}.prefix{k}", run_prefix)
            prefixes.append({"layer": layer, "wall_s": wall_k, "jobs": led_k["jobs"],
                             "tasks": led_k["tasks"]})
        self.ops[i]["prefixes"] = prefixes
        # untimed, from fresh prefixes outside any group: the ratio's row
        # counts, and the split composition's output for the checks
        name, a, b = wl.RATIO
        n_a, n_b = (wl.prefix(i, wl.LAYERS.index(x)).count() for x in (a, b))
        self.ops[i]["ratio"] = {name: n_b / n_a if n_a else 0.0}
        wl.split_results[i] = [tuple(r) for r in
                               wl.prefix(i, len(wl.LAYERS) - 1).collect()]

    def per_op_layers(self) -> "dict[str, list[float]]":
        out: "dict[str, list[float]]" = {}
        for i, rec in sorted(self.ops.items()):
            vals: "dict[str, float]" = {"driver.plan_build_s": rec["full"]["plan_build_s"]}
            for name, key in HARVESTED.items():
                vals[name] = rec["full"][key]
            prev_wall = 0.0
            for p in rec.get("prefixes", []):
                vals[p["layer"] + ".s"] = p["wall_s"] - prev_wall
                prev_wall = p["wall_s"]
            vals.update(rec.get("ratio", {}))
            for s in self.spans.spans:
                if s["op"] == i and s["name"] in ("streaming.merge", "streaming.lookup"):
                    key = s["name"] + "_s"
                    vals[key] = vals.get(key, 0.0) + s["end"] - s["start"]
            for name, by_op in self.counts.items():
                if i in by_op:
                    vals[name] = by_op[i]
            for name, v in vals.items():
                out.setdefault(name, []).append(v)
        return out

    def metrics(self) -> "dict[str, float]":
        per_op = self.per_op_layers()
        m = {name: statistics.median(per_op[name]) if name in per_op else 0
             for name in PER_LAYER}
        m["trace.overhead_s"] = (statistics.median(self.traced)
                                 - statistics.median(self.untraced))
        return m


def timed(fn, *args) -> float:
    t0 = time.perf_counter()
    fn(*args)
    return time.perf_counter() - t0


def run(args, t_proc0: float, work: str) -> dict:
    import ledger
    from workloads import WORKLOADS

    def age() -> float:
        return time.perf_counter() - t_proc0

    cores = host_cores()
    spark = start_session(work, cores)
    phases = {"session": age()}
    try:
        wl = WORKLOADS[args.workload](spark, args.seed, work)
        wl.setup()
        phases["inputs"] = age()
        warm = [timed(wl.op, i) for i in range(wl.warmup_ops)]
        i = wl.warmup_ops
        setup_s = phases["warm-up"] = age()
        wl.results.clear()      # the checks cover the timed operations
        trace = Trace(spark, cores) if args.trace else None
        lat, rates, cpu, failed = [], [], [], 0
        steal0 = ledger.host_steal()
        # the traced run makes one untraced and one traced operation
        while (not (trace and lat) and sum(lat) < args.seconds
               and not (lat and age() > WINDOW_DEADLINE_S)
               and i + 2 <= wl.capacity):
            try:
                # CPU per operation is a median of per-operation readings: a
                # window holds three or four operations and the first is still
                # the heaviest, so a window total over the count jumps with it
                cpu_at = ledger.tree_cpu_s()
                lat.append(timed(wl.op, i))
                cpu.append(ledger.tree_cpu_s() - cpu_at)
                rates.append(wl.rows(i) / lat[-1])
                if trace:
                    trace.untraced.append(lat[-1])
                    i += 1
                    trace.run_op(wl, i)
            except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
                print(f"op {i} failed: {e!r}", file=sys.stderr)
                failed += 1
                lat.append(0.0)
            i += 1
        steal = ledger.host_steal(steal0)
        peak = ledger.tree_peak_rss_mb()
        phases["window"] = age()
        errors = wl.check()
        phases["checks"] = age()
        wl.close()
    finally:
        stop_session(spark)
    phases["stop"] = age()
    ok = [t for t in lat if t > 0]
    result = {
        "correct": not errors, "attempted": len(lat), "failed": failed,
        "errors": errors[:10], "warmup_s": warm, "latencies_s": lat,
        "phases": phases, "host_steal": steal,
    }
    if trace:
        result["metrics"] = trace.metrics()
        result["trace"] = trace
    else:
        result["metrics"] = {"setup_s": setup_s, "cpu_s_per_op": statistics.median(cpu) if cpu else 0.0}
    result["ungated"] = {
        "op_p50_s": statistics.median(ok) if ok else 0.0,
        "rows_per_s": statistics.median(rates) if rates else 0.0,
        "peak_rss_mb": peak,
    }
    return result


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path[:0] = [HERE, ROOT]
    import ledger

    t_proc0 = time.perf_counter() - ledger.process_age_s()
    # import the program first: without it the run fails here, before any
    # process is started or any result printed
    import workloads

    if args.workload not in workloads.WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; "
                         f"one of {sorted(workloads.WORKLOADS)}")
    os.makedirs(OUT, exist_ok=True)
    work = os.path.join(WORK, f"{args.workload}-s{args.seed}-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    log_path = os.path.join(OUT, f"stderr-{args.workload}-s{args.seed}-t{args.trace}.log")
    real_err = os.dup(2)
    log_fd = os.open(log_path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
    os.dup2(log_fd, 2)
    failed = True
    try:
        result = run(args, t_proc0, work)
        failed = False
    except BaseException:
        import traceback

        traceback.print_exc()
        raise
    finally:
        sys.stderr.flush()
        os.dup2(real_err, 2)
        os.close(log_fd)
        shutil.rmtree(work, ignore_errors=True)
        with open(log_path, errors="replace") as f:
            log = f.readlines()
        sys.stderr.writelines(log[-40:] if failed else [])
    acc_errors = sum(ACCUMULATOR_ERROR in ln for ln in log)
    units = PER_LAYER if args.trace else END_TO_END
    metrics = {k: {"value": v, "unit": units[k]} for k, v in result["metrics"].items()}
    if args.trace:
        tr = result.pop("trace")
        with open(os.path.join(OUT, f"trace-{args.workload}-s{args.seed}.json"), "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "accumulator_update_errors": acc_errors,
                       "metrics": result["metrics"], "ops": tr.ops,
                       "untraced_s": tr.untraced, "traced_s": tr.traced,
                       "spans": tr.spans.spans}, f, indent=1)
    for e in result["errors"]:
        print(f"check failed: {e}")
    print(f"# {args.workload} seed={args.seed} warm-up={[round(t, 3) for t in result['warmup_s']]} "
          f"ops={[round(t, 3) for t in result['latencies_s']]} "
          f"accumulator_update_errors={acc_errors} "
          f"phases={ {k: round(v, 1) for k, v in result['phases'].items()} } "
          f"host_steal={result['host_steal']:.3f} "
          + " ".join(f"{k}={v:.4f}" for k, v in result["ungated"].items()))
    print(json.dumps({"correct": result["correct"], "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload grep_campaign --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. Generates the workload's inputs from the
seed, starts one Spark session on local[<cores>], sets up and warms up,
then runs the workload's operation in a closed loop (one driver thread,
one operation at a time) for at least --seconds, checks the outputs, and
prints a report line followed by the result line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics. --trace 1 runs the same loop
with the Spark event log on, alternating traced and untraced operations,
and reports the per-layer metrics (see README.md). Everything the run
writes goes under .perfbench_run/<tag>/ in the checkout and is removed at
exit; the traced run's spans are kept in .perfbench_out/.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
NOISY_STEAL = 0.05  # CPU steal share over the run
NOISY_LOAD = 1.5  # 1-min load average per core


def process_start() -> float:
    """Epoch seconds at which this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(l.split()[1]) for l in f if l.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


def cpu_times() -> tuple[int, int]:
    """(total, steal) jiffies of the aggregate cpu line."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v[:8]), v[7]


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def process_tree(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo += children.get(p, [])
    return out


def peak_rss_mb(pids: list[int]) -> float:
    """Sum over processes of their peak resident set (VmHWM)."""
    kb = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as f:
                kb += next((int(l.split()[1]) for l in f if l.startswith("VmHWM")), 0)
        except OSError:
            continue
    return kb / 1024.0


class Bench:
    """What a workload sees: session, tracer, seed and a private work dir."""

    def __init__(self, seed: int, tag: str, run_dir: str, cores: int):
        self.seed = seed
        self.tag = tag
        self.run_dir = run_dir
        self.cores = cores
        self.inputs: dict = {}
        self.spark = None
        self.tracer = None
        self.clock = time.perf_counter

    def path(self, name: str) -> str:
        return os.path.join(self.run_dir, name)


def clean_stale(tag_prefix: str) -> None:
    """Remove run dirs and program /tmp fixtures of benchmark processes
    that are no longer alive."""
    for d in glob.glob(os.path.join(ROOT, ".perfbench_run", f"{tag_prefix}*")) + glob.glob(
        f"/tmp/wc_*_{tag_prefix}*"
    ):
        pid = os.path.basename(d).split(tag_prefix, 1)[1].split("_", 1)[0]
        if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(d, ignore_errors=True)


def start_spark(b: Bench, trace: bool):
    from warcannon_spark.session import get_spark

    conf = {
        "spark.driver.memory": "3g",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={b.path('tmp')}",
        "spark.sql.warehouse.dir": b.path("warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(b.path("events"), exist_ok=True)
        conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + b.path("events"),
            "spark.eventLog.compress": "false",
        }
    spark = get_spark(app_name="perfbench", master=f"local[{b.cores}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, its JVM and the JVM's Python workers, and wait
    until each has exited."""
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    tree = [p for p in process_tree(os.getpid()) if p != os.getpid()]
    try:
        spark.stop()
        gw.shutdown()
    except Exception:  # a gateway broken mid-call: the JVM is killed below
        traceback.print_exc()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 20
    while time.time() < deadline:
        alive = [p for p in tree if os.path.exists(f"/proc/{p}") and _not_zombie(p)]
        if not alive:
            return
        time.sleep(0.2)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass


def _not_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def closed_loop(w, b: Bench, seconds: float, trace: bool) -> list:
    """Issue one operation at a time until ``seconds`` have passed, the
    last operation ended on a boundary and at least two boundaries were
    crossed. A traced run alternates traced and untraced operations."""
    from workloads import Op

    ops = []
    boundaries = 0
    deadline = b.clock() + seconds
    while True:
        b.tracer.enabled = trace and len(ops) % 2 == 0
        try:
            o = w.op(b)
            w.check_op(b, o)
        except Exception:
            traceback.print_exc()
            o = Op(0.0, 0, b.tracer.enabled, failed=1)
        ops.append(o)
        if o.failed or w.at_boundary(o):
            boundaries += 1
        if w.exhausted() or (b.clock() >= deadline and w.at_boundary(o) and boundaries >= 2):
            b.tracer.enabled = False
            return ops


def host_report(start: tuple, cores: int) -> dict:
    """Load average and CPU steal over the run; diagnostics, not metrics."""
    (c0, s0), load0 = start
    (c1, s1), load1 = cpu_times(), loadavg()
    steal = (s1 - s0) / max(c1 - c0, 1)
    return {
        "cores": cores,
        "load1_start": load0,
        "load1_end": load1,
        "steal_frac": round(steal, 4),
        "noisy": steal > NOISY_STEAL or max(load0, load1) > NOISY_LOAD * cores,
    }


def run(args) -> int:
    t_proc = process_start()
    if not os.path.isfile(os.path.join(ROOT, "warcannon_spark", "session.py")):
        print(f"perfbench: no warcannon_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import tracing
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    tag_prefix = "perfbench"
    tag = f"{tag_prefix}{os.getpid()}"
    clean_stale(tag_prefix)
    run_dir = os.path.join(ROOT, ".perfbench_run", tag)
    cores = len(os.sched_getaffinity(0))
    b = Bench(args.seed, tag, run_dir, cores)
    for d in ("tmp", "local"):
        os.makedirs(b.path(d), exist_ok=True)
    os.environ |= {
        "TMPDIR": b.path("tmp"),
        "SPARK_LOCAL_DIRS": b.path("local"),
        "PYSPARK_PYTHON": sys.executable,
    }
    host0 = (cpu_times(), loadavg())
    w = WORKLOADS[args.workload]()
    spark = None
    try:
        b.inputs = w.prepare(b)
        t0 = time.perf_counter()
        spark = b.spark = start_spark(b, args.trace)
        session_start_s = time.perf_counter() - t0
        b.tracer = tracing.Tracer(spark.sparkContext, tag, enabled=False)
        w.setup(b)
        setup_s = time.time() - t_proc

        ops = closed_loop(w, b, args.seconds, args.trace)
        rss = peak_rss_mb(process_tree(os.getpid()))
        failures = w.final_checks(b)
        w.close()
        layers = {}
        if args.trace:
            stop_spark(spark)
            spark = None
            items = tracing.parse_events(tracing.read_event_log(b.path("events")))
            by_span = tracing.attribute(items, b.tracer.spans)
            layers = w.layers(b, ops, by_span)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
            for d in glob.glob(f"/tmp/wc_*_{tag}*"):
                shutil.rmtree(d, ignore_errors=True)

    attempted = sum(o.attempted for o in ops)
    failed = attempted if failures else sum(o.failed for o in ops)
    good = [o for o in ops if not o.failed and o.seconds > 0]
    e2e_ops = [o for o in good if not o.traced] if args.trace else good
    report = {
        "workload": w.name,
        "seed": args.seed,
        "trace": args.trace,
        "loop": f"closed, 1 driver thread, local[{cores}]",
        "inputs": b.inputs,
        "host": host_report(host0, cores),
        "ops": len(ops),
        "op_s": [f"{o.kind}:{o.seconds:.3f}" for o in ops],
        "failed_frac": failed / max(attempted, 1),
        "failures": failures,
        "metrics": {
            "setup_s": {"value": setup_s, "unit": "s"},
            "peak_rss_mb": {"value": rss, "unit": "MB"},
            "failed_frac": {"value": failed / max(attempted, 1), "unit": "ratio"},
        }
        | ({k: {"value": v, "unit": u} for k, (v, u) in w.report(e2e_ops).items()} if e2e_ops else {}),
    }
    if args.trace:
        overhead = tracing_overhead(good)
        layers = {"session.start_s": session_start_s, "trace.overhead_s": overhead} | layers
        units = _layer_units()
        metrics = {k: {"value": layers.get(k, 0.0), "unit": u} for k, u in units.items()}
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        trace_file = os.path.join(out_dir, f"{w.name}-s{args.seed}-{tag}.json")
        with open(trace_file, "w") as f:
            json.dump(
                {
                    "spans": b.tracer.dump(),
                    "self_s": tracing.self_times(b.tracer.spans),
                    "layers": layers,
                },
                f,
                indent=1,
            )
        report["trace_file"] = os.path.relpath(trace_file, ROOT)
    else:
        if not e2e_ops:
            print("perfbench: no operation succeeded", file=sys.stderr)
        e = w.e2e(e2e_ops) if e2e_ops else {}
        units = _e2e_units()
        vals = e | {"setup_s": setup_s}
        metrics = {k: {"value": vals.get(k, 0.0), "unit": u} for k, u in units.items()}
    print(json.dumps(report))
    print(
        json.dumps(
            {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
        )
    )
    return 0


def tracing_overhead(ops) -> float:
    """Median traced minus median untraced time, over the operations of
    the most frequent kind."""
    from workloads import p50

    if not ops:
        return 0.0
    kind = Counter(o.kind for o in ops).most_common(1)[0][0]
    traced = [o.seconds for o in ops if o.kind == kind and o.traced]
    untraced = [o.seconds for o in ops if o.kind == kind and not o.traced]
    return p50(traced) - p50(untraced) if traced and untraced else 0.0


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _e2e_units() -> dict[str, str]:
    return {m["name"]: m["unit"] for m in _spec()["end_to_end"]}


def _layer_units() -> dict[str, str]:
    return {m["name"]: m["unit"] for m in _spec()["per_layer"]}


def main() -> int:
    # a terminated run still stops Spark and removes its files (finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return run(ap.parse_args())


if __name__ == "__main__":
    sys.exit(main())

"""webgraph_spark benchmark: one seeded workload, oracle-checked, one JSON line.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 5 --trace 0

Run from the repository root. The run starts a local Spark session on
``local[<cores>]`` (cores = CPUs this process may use, shuffle partitions =
cores), sets the workload up, then repeats passes over the workload's
operations until ``--seconds`` have elapsed (at least one pass). Every
output is checked against an independent oracle after its pass.

``--trace 0`` reports the end-to-end metrics: ``pass_cpu_s`` (median CPU
seconds of one pass, summed over this process, the JVM and its Python
workers), ``setup_s`` (session start + median of the repeated input
set-ups, wall time) and ``peak_rss_mb`` (JVM VmHWM + this process's max
RSS). Pass wall times are printed and kept in the detail file. ``--trace 1``
turns on the Spark event log, makes an untraced warm-up pass and then
alternates traced and untraced passes (at least one of each), and reports
the per-layer metrics (see ``layers.py``), including the tracing overhead.

Everything the run writes stays under ``perfbench/runs/``: a scratch
directory that is removed at the end and a per-run detail file
``<workload>_s<seed>_t<trace>_<utc time>_<pid>.json`` with the host stamp,
every pass and every span. The last line of standard output is the result
object ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
# fixed-size driver heap (-Xms = -Xmx): a growable heap makes the JVM's
# resident high-water mark vary by +-15% from run to run
DRIVER_MEMORY = "1g"


def cpu_jiffies() -> tuple[int, int]:
    """(total, steal) jiffies from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals[:8]), (vals[7] if len(vals) > 7 else 0)


def host_stamp(j0: tuple[int, int], load0: list[float]) -> dict:
    """Host contention over the run: steal share of CPU time and load
    averages at start and end. Metadata that explains an outlying run."""
    j1 = cpu_jiffies()
    total = j1[0] - j0[0]
    with open("/proc/loadavg") as f:
        load1 = [float(x) for x in f.read().split()[:3]]
    return {
        "steal_pct": round(100.0 * (j1[1] - j0[1]) / total, 2) if total > 0 else 0.0,
        "loadavg_start": load0,
        "loadavg_end": load1,
        "cores": os.cpu_count(),
    }


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of process ``root`` and its descendants
    (the JVM and its Python workers), including reaped children."""
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            procs[int(name)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    ticks, frontier, seen = 0, [root], {root}
    while frontier:
        pid = frontier.pop()
        ticks += procs.get(pid, (0, 0))[1]
        kids = [c for c, (ppid, _) in procs.items() if ppid == pid and c not in seen]
        seen.update(kids)
        frontier += kids
    return ticks / os.sysconf("SC_CLK_TCK")


def jvm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def start_session(workdir: str, cores: int, trace: bool):
    from webgraph_spark.session import get_spark

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY}",
        "spark.default.parallelism": str(cores),
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(workdir, "local"),
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
    }
    if trace:
        log_dir = os.path.join(workdir, "eventlog")
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("perfbench", master=f"local[{cores}]", shuffle_partitions=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit (it exits when its stdin
    closes), so the run leaves no process behind."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def run_pass(ctx, wl, index: int, traced: bool) -> dict:
    """One pass over the workload's operations, then their checks. An
    operation fails if it raises, is not reached, or fails its check."""
    from workloads import CHECK, RUN, SPAN, release

    state = {"pass": index}
    ops: dict[str, dict] = {}
    errors: dict[str, list[str]] = {}
    cpu0, j0 = tree_cpu_s(os.getpid()), cpu_jiffies()
    with ctx.tracer.span("pass", index=index, traced=traced) as prec:
        for op in wl.ops:
            try:
                with ctx.tracer.span(SPAN[op]) as rec:
                    RUN[op](ctx, state)
                ops[op] = rec
            except Exception:
                errors[op] = [f"{op}: raised\n{traceback.format_exc()}"]
                break
    j1 = cpu_jiffies()
    prec["cpu_s"] = tree_cpu_s(os.getpid()) - cpu0
    prec["steal_pct"] = 100.0 * (j1[1] - j0[1]) / max(j1[0] - j0[0], 1)
    # checks run outside every span and job group
    for op, rec in ops.items():
        try:
            errs = CHECK[op](ctx, state, rec)
        except Exception:
            errs = [f"{op} check: raised\n{traceback.format_exc()}"]
        if errs:
            errors[op] = errs
    release(state)
    prec["ops"] = {op: rec["id"] for op, rec in ops.items()}
    prec["errors"] = [e for errs in errors.values() for e in errs]
    prec["failed_ops"] = len(wl.ops) - len(ops) + len(set(errors) & set(ops))
    return prec


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "webgraph_spark", "__init__.py")):
        print(f"perfbench: no webgraph_spark package in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    trace = bool(args.trace)

    stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime())
    run_id = f"{wl.name}_s{args.seed}_t{args.trace}_{stamp}_{os.getpid()}"
    runs_dir = os.path.join(HERE, "runs")
    workdir = os.path.join(runs_dir, run_id)
    os.makedirs(os.path.join(workdir, "tmp"))
    # Spark, its JVMs, its Python workers and tempfile write only under the
    # scratch dir (-XX:-UsePerfData: no JVM perf-data file in /tmp)
    tmp = os.path.join(workdir, "tmp")
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [
        os.environ.get("JAVA_TOOL_OPTIONS"), f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"]))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    sys.path.insert(0, ROOT)
    cores = len(os.sched_getaffinity(0))

    j0 = cpu_jiffies()
    with open("/proc/loadavg") as f:
        load0 = [float(x) for x in f.read().split()[:3]]

    from layers import layer_metrics
    from spans import Tracer, attribute, install_iterate_probe, read_event_log
    from workloads import Context, expect, prepare

    tracer = Tracer()
    spark = None
    detail: dict = {"run_id": run_id, "workload": wl.name, "seed": args.seed,
                    "seconds": args.seconds, "trace": args.trace, "cores": cores,
                    "shuffle_partitions": cores, "n_convs": wl.n_convs}
    passes: list[dict] = []
    errors: list[str] = []
    setup_s = peak_rss_mb = 0.0
    try:
        with tracer.span("session") as session:
            spark = start_session(workdir, cores, trace)
        if trace:
            tracer.sc = spark.sparkContext
            install_iterate_probe(tracer)
        ctx = Context(spark, tracer, workdir, args.seed, cores)

        prep_s = []
        for _ in range(SETUP_REPS):
            with tracer.span("setup.prepare") as rec:
                prepare(ctx, wl)
            prep_s.append(rec["end"] - rec["start"])
        errors += expect(ctx, wl)

        setup_s = (session["end"] - session["start"]) + statistics.median(prep_s)
        sc = tracer.sc

        # a traced run makes an untraced warm-up pass, then alternates
        # traced and untraced passes, so the tracing overhead compares
        # passes of the same warmth
        t_end = time.time() + args.seconds
        while True:
            traced = trace and len(passes) % 2 == 1
            tracer.sc = sc if traced else None
            p = run_pass(ctx, wl, len(passes) + 1, traced=traced)
            passes.append(p)
            errors += p["errors"]
            if p["errors"] or (time.time() >= t_end and (not trace or len(passes) >= 3)):
                break
        tracer.sc = None
        peak_rss_mb = jvm_hwm_mb(spark.sparkContext._gateway.proc.pid) + \
            resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    except Exception:
        errors.append("run: raised\n" + traceback.format_exc())
    finally:
        if spark is not None:
            stop_session(spark)

    attempted = len(wl.ops) * len(passes) or 1
    failed = sum(p["failed_ops"] for p in passes) if passes else attempted
    correct = not errors
    metrics: dict = {}
    if trace and passes:
        try:
            attribute(tracer, *read_event_log(os.path.join(workdir, "eventlog")))
            metrics = layer_metrics(tracer, passes, len(ctx.arcs[0]))
        except Exception:
            errors.append("trace: raised\n" + traceback.format_exc())
        correct = not errors
    elif passes:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "pass_cpu_s": {"value": statistics.median(p["cpu_s"] for p in passes), "unit": "s"},
            "peak_rss_mb": {"value": peak_rss_mb, "unit": "MB"},
        }

    detail.update({
        "host": host_stamp(j0, load0),
        "correct": correct, "errors": errors,
        "passes": [{k: p[k] for k in ("start", "end", "cpu_s", "steal_pct")} for p in passes],
        "metrics": metrics,
        "spans": tracer.spans,
    })
    shutil.rmtree(workdir, ignore_errors=True)
    with open(os.path.join(runs_dir, run_id + ".json"), "w") as f:
        json.dump(detail, f, indent=1, default=str)

    for e in errors:
        print("perfbench error:", e, file=sys.stderr)
    print(f"# {run_id}: host {json.dumps(detail['host'])}")
    for p in passes:
        print(f"# pass {p['index']}: wall {p['end'] - p['start']:.3f} s, cpu {p['cpu_s']:.3f} s, "
              f"host steal {p['steal_pct']:.1f}%")
    for name, m in metrics.items():
        print(f"# {name} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    sys.stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())

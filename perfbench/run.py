#!/usr/bin/env python3
"""caspr_spark benchmark: one workload, one seed, one fresh Spark app.

    python3 perfbench/run.py --workload featurize_longhist --seed 1 \\
        --seconds 10 --trace 0

Run from the repository root. The run generates its inputs from the
seed, starts a local Spark app on half of ``min(nproc, 4)`` cores, sends
the workload's untimed warm-up requests, then a closed loop with one
client until the timed requests add up to ``--seconds``. Every output is
checked outside the timed window. Times in the metrics are net of the
hypervisor's steal (``net_of_steal``). The last stdout line is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. Lines before it are for people: host, input sizes, the
workload's metrics under their own names, tails and the warm-up trend.
All files live under ``.perfbench_work/`` in the repository and are
removed at exit.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {"setup_s": "s", "rows_per_s": "rows/s", "main_p50_s": "s",
              "side_p50_s": "s"}

# span -> the quantities the traced run reports for it
SPANS = {
    "sources.read": ("wall_s", "jobs"),
    "pipeline.fit": ("wall_s", "driver_s", "jobs", "tasks",
                     "executor_cpu_s", "input_bytes"),
    "pipeline.featurize": ("wall_s", "driver_s", "jobs", "tasks",
                           "executor_cpu_s", "gc_s", "shuffle_write_bytes",
                           "spill_bytes"),
    "pipeline.transform": ("wall_s", "driver_s", "jobs", "tasks",
                           "executor_cpu_s", "gc_s", "shuffle_write_bytes",
                           "spill_bytes"),
    "train_distributed.fit": ("wall_s", "driver_s", "jobs", "tasks",
                              "executor_cpu_s", "python_run_s"),
    "score.score": ("wall_s", "driver_s", "jobs", "tasks", "executor_cpu_s",
                    "python_run_s", "python_bytes_sent"),
    "data.tensorize": ("wall_s",),
    "models.encode": ("wall_s",),
    "streaming.dedup_fold": ("wall_s", "driver_s", "jobs", "tasks",
                             "executor_cpu_s", "shuffle_write_bytes"),
    "streaming.ann_fold": ("wall_s", "driver_s", "jobs", "tasks",
                           "executor_cpu_s", "shuffle_write_bytes"),
}
# per-layer values the workloads or the runner compute themselves
EXTRA = {"sources.partition_probe_hit_ratio": "ratio",
         "train_distributed.fit.jobs_per_epoch": "count",
         "state.frames": "count", "state.bytes_per_live_row": "B/row"}


def _unit(quantity: str) -> str:
    if quantity.endswith("_s"):
        return "s"
    return "B" if quantity.endswith("bytes") or \
        quantity == "python_bytes_sent" else "count"


def per_layer_units() -> dict:
    units = {f"{span}.{q}": _unit(q) for span, qs in SPANS.items()
             for q in qs}
    units.update(EXTRA)
    return units


def tail(xs: list[float]):
    """Highest of the usual percentiles with at least ten requests above
    it (nearest rank), as (percentile, value, n); None if n < 20."""
    xs = sorted(xs)
    n = len(xs)
    for p in (99.9, 99, 95, 90, 75, 50):
        if n * (1 - p / 100) >= 10:
            rank = max(1, -(-int(p * n) // 100))
            return p, xs[rank - 1], n
    return None


def vm_hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and all its descendants
    (the JVM and its Python workers), including reaped children."""
    kids: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                st = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime, stime, cutime, cstime
        ticks[int(d)] = sum(int(x) for x in st[11:15])
        kids.setdefault(int(st[1]), []).append(int(d))
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(kids.get(pid, ()))
    return total / _TICK


def steal_s() -> float:
    """CPU seconds the hypervisor has taken from this machine's vCPUs
    since boot."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


def net_of_steal(wall: float, cpu: float, steal: float) -> float:
    """Wall time less the hypervisor's share of it. Steal accrues only
    on a vCPU that has work, and only this process tree has work, so
    the tree was runnable for ``cpu + steal`` CPU-seconds and ran for
    ``cpu`` of them; its critical path is taken to have lost the same
    fraction. Without steal this is the wall time."""
    return wall * cpu / (cpu + steal) if cpu + steal > 0 else wall


class Meter:
    """Wall, CPU and steal seconds since it was made."""

    def __init__(self):
        self.cpu, self.steal = tree_cpu_s(), steal_s()
        self.t = time.perf_counter()

    def read(self) -> tuple[float, float, float]:
        return (time.perf_counter() - self.t, tree_cpu_s() - self.cpu,
                steal_s() - self.steal)


def configure_env(work: str) -> int:
    """One client, one Spark app on at most 2 cores; every scratch path
    under ``work``; ``caspr_spark`` importable on the Python workers."""
    # half the cores, at most two: the JVM's JIT and GC threads, the
    # Python driver and the Python workers get the rest, so the requests
    # do not queue behind them for a core
    cpus = max(1, min(len(os.sched_getaffinity(0)), 4) // 2)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_DRIVER_MEMORY": "2g",
        "TMPDIR": tmp,
        # one BLAS thread per task slot: the Python workers already
        # fill every core
        "OMP_NUM_THREADS": "1", "OPENBLAS_NUM_THREADS": "1",
        "MKL_NUM_THREADS": "1",
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options '-Djava.io.tmpdir={tmp} "
            "-XX:-UsePerfData' "
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"),
    })
    sys.path[:0] = [ROOT, HERE]
    return cpus


def stop_spark(spark) -> None:
    """Stop the app, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("featurize_longhist", "embed_ingest"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    steal0 = steal_s()
    if not os.path.isfile(os.path.join(ROOT, "caspr_spark", "__init__.py")):
        print(f"perfbench: no caspr_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{os.getpid()}")
    cpus = configure_env(work)
    try:
        return run(args, work, cpus, steal0)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: str, cpus: int, steal0: float) -> int:
    import gen
    import attribution
    import workloads
    from caspr_spark import get_spark, sources

    wl = workloads.WORKLOADS[args.workload](args.seed, work,
                                           attribution.NullTracer())
    phases = {"imports": time.perf_counter() - T_START}
    m = Meter()
    sizes = wl.generate()
    made = m.read()
    gen_s = made[0]

    spark = get_spark(f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    phases["session"] = time.perf_counter() - T_START
    # process start -> session up, without input generation
    session = net_of_steal(phases["session"] - made[0],
                           tree_cpu_s() - made[1],
                           steal_s() - steal0 - made[2])
    import pyspark
    print(f"host: cpus={cpus} spark={pyspark.__version__} "
          f"python={platform.python_version()} seed={args.seed} "
          f"workload={args.workload} trace={args.trace}")
    print(f"inputs: {json.dumps(sizes)} "
          f"config={json.dumps(gen.SIZES[args.workload])}")
    try:
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        wl.start(spark)
        jit = spark._jvm.java.lang.management.ManagementFactory \
            .getCompilationMXBean()
        ops = wl.ops()

        mismatches: list[str] = []
        errors: list[str] = []
        check_s = 0.0
        # (kind, wall s, net s, CPU s, steal s, JIT compile ms) of every
        # request: the warm-up trend and the host's interference
        log: list = []

        def attempt(op) -> tuple[float, float] | None:
            """Run one request (timed) and check its output (untimed);
            its wall seconds and wall seconds net of steal, None if it
            failed."""
            nonlocal gen_s, check_s
            if op.prepare:
                t = time.perf_counter()
                op.prepare()
                gen_s += time.perf_counter() - t
            jit0 = jit.getTotalCompilationTime()
            m = Meter()
            try:
                op.run()
            except Exception as e:                      # noqa: BLE001
                errors.append(f"{op.kind}: {type(e).__name__}: {e}"[:300])
                return None
            took, cost, steal = m.read()
            net = net_of_steal(took, cost, steal)
            log.append((op.kind, round(took, 3), round(net, 3),
                        round(cost, 2), round(steal, 2),
                        jit.getTotalCompilationTime() - jit0))
            t = time.perf_counter()
            try:
                with wl.tracer.span("check"):
                    op.check()
            except workloads.Mismatch as e:
                mismatches.append(str(e))
                return None
            finally:
                check_s += time.perf_counter() - t
            return took, net

        # the traced run also traces the warm-up, so calls made only there
        # (the single DDP fit) still get per-layer numbers
        tracer = attribution.Tracer(spark) if args.trace \
            else attribution.NullTracer()
        wl.tracer = tracer
        totals0 = tracer.executor_totals() if args.trace else None
        # warm-up: the workload's untimed requests, checked all the same.
        # The first request of each type is the program's cold start and
        # counts as set-up; the rest only let the JIT settle.
        warm: dict[str, list[float]] = {k: [] for k in wl.kinds}
        warm_units: dict[str, int] = {}
        cold_s = 0.0
        while any(len(warm[k]) < n for k, n in wl.warmup.items()):
            op = next(ops)
            done = attempt(op)
            if done is None:
                break
            if not warm[op.kind]:
                cold_s += done[1]
            warm[op.kind].append(done[1])
            warm_units[op.kind] = op.units
        phases["warm_up"] = time.perf_counter() - T_START
        setup_s = session + cold_s
        warm_spans = {k: len(v) for k, v in getattr(tracer, "spans",
                                                   {}).items()}
        probes0 = dict(sources._NPARTS_STATS)
        lat: dict[str, list[float]] = {k: [] for k in wl.kinds}
        net: dict[str, list[float]] = {k: [] for k in wl.kinds}
        units = dict.fromkeys(wl.kinds, 0)
        attempted = failed = 0
        busy = 0.0
        while busy < args.seconds and not (errors or mismatches):
            op = next(ops)
            attempted += 1
            done = attempt(op)
            if done is None:
                failed += 1
                break
            busy += done[0]
            lat[op.kind].append(done[0])
            net[op.kind].append(done[1])
            units[op.kind] += op.units
        probes1 = dict(sources._NPARTS_STATS)
        totals1 = tracer.executor_totals() if args.trace else None
        try:
            phases["timed"] = time.perf_counter() - T_START
            extra = wl.finish()
        except workloads.Mismatch as e:
            mismatches.append(str(e))
            extra = {}
        rss_mb = (vm_hwm_kb("self") + vm_hwm_kb(jvm_pid)) / 1024.0
    finally:
        phases["finish"] = time.perf_counter() - T_START
        stop_spark(spark)
    phases["stop"] = time.perf_counter() - T_START

    med = {k: statistics.median(v) if v else 0.0 for k, v in lat.items()}
    med_net = {k: statistics.median(v) if v else 0.0 for k, v in net.items()}
    # mean of the per-type rates at median latency, so neither the mix
    # of request types a run happens to finish nor one slow request
    # moves it
    rates = [units[k] / len(v) / med_net[k] for k, v in net.items() if v]
    e2e = {"setup_s": setup_s,
           "rows_per_s": sum(rates) / len(rates) if rates else 0.0,
           "main_p50_s": med_net[wl.main], "side_p50_s": med_net[wl.side]}
    report = {
        "requests": {k: len(v) for k, v in lat.items()},
        "p50_s": med,
        "p50_net_s": med_net,
        "steal_s": steal_s() - steal0,
        "tails": {k: tail(v) for k, v in net.items()},
        "failed_op_share": failed / attempted if attempted else 1.0,
        "input_gen_s": gen_s,
        "check_s": check_s,
        "warmup_s": warm,
        "requests_log": log,
        "phases_s": phases,
        # first-half over second-half median of the main requests: near
        # 1 when the warm-up left no trend in the timed requests
        "main_trend": _trend(net[wl.main]),
        "peak_rss_mb": rss_mb,
        "named": named_metrics(net, units, warm, warm_units),
    }
    if errors or mismatches:
        report["errors"] = errors[:3]
        report["mismatches"] = mismatches[:3]
    if args.trace:
        layer = per_layer(tracer, warm_spans, extra, probes0, probes1)
        report["attribution_check"] = tracer.self_check(totals0, totals1)
        report["traced_end_to_end"] = e2e
        metrics = {k: {"value": layer[k], "unit": u}
                   for k, u in per_layer_units().items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u}
                   for k, u in END_TO_END.items()}
    print("report: " + json.dumps(report, default=str))
    correct = not mismatches and not errors and \
        (not args.trace or report["attribution_check"]["ok"])
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


def _trend(xs: list[float]):
    if len(xs) < 4:
        return None
    h = len(xs) // 2
    return statistics.median(xs[:h]) / statistics.median(xs[h:])


# the README's per-request metric names: (kinds whose units and time
# make a rate) or a single kind's median / tail
NAMED = {
    "featurize_events_per_s": ("rate", ("fit", "transform")),
    "fit_p50_s": ("p50", "fit"), "transform_p50_s": ("p50", "transform"),
    "train_samples_per_s": ("rate", ("train",)),
    "score_rows_per_s": ("rate", ("score",)),
    "score_p50_s": ("p50", "score"), "score_tail_s": ("tail", "score"),
    "ingest_rows_per_s": ("rate", ("fold",)),
    "fold_p50_s": ("p50", "fold"), "fold_tail_s": ("tail", "fold"),
}


def named_metrics(lat: dict, units: dict, warm: dict,
                  warm_units: dict) -> dict:
    """Every per-request metric name, n/a where this workload does not
    issue that request. A request made only as the warm-up (the DDP
    fit) is reported from that cold call, under ``<name>_cold``."""
    named = {}
    for name, (how, kinds) in NAMED.items():
        if how == "rate":
            t = sum(sum(lat.get(k, ())) for k in kinds)
            if t:
                named[name] = sum(units.get(k, 0) for k in kinds) / t
            elif all(warm.get(k) for k in kinds):
                named[f"{name}_cold"] = (sum(warm_units[k] for k in kinds)
                                         / sum(warm[k][0] for k in kinds))
            else:
                named[name] = "n/a"
        elif lat.get(kinds):
            named[name] = (statistics.median(lat[kinds]) if how == "p50"
                           else tail(lat[kinds]))
        else:
            named[name] = "n/a"
    return named


def per_layer(tracer, warm_spans: dict, extra: dict, probes0: dict,
              probes1: dict) -> dict:
    """Per-call means of every span quantity over the timed calls, or
    over the warm-up calls for a call the timed loop does not repeat;
    0 for spans this workload never enters. Plus the workload's own
    per-layer values."""
    out = {}
    for span, qs in SPANS.items():
        recs = tracer.spans.get(span, [])
        recs = recs[warm_spans.get(span, 0):] or recs
        for q in qs:
            out[f"{span}.{q}"] = (sum(r[q] for r in recs) / len(recs)
                                  if recs else 0.0)
    calls = probes1["calls"] - probes0["calls"]
    misses = probes1["misses"] - probes0["misses"]
    out["sources.partition_probe_hit_ratio"] = ((calls - misses) / calls
                                                if calls else 0.0)
    for k in EXTRA:
        if k in extra:
            out[k] = extra[k]
        out.setdefault(k, 0.0)
    return out


if __name__ == "__main__":
    sys.exit(main())

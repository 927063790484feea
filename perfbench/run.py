"""Layered benchmark of the pages -> tiers -> store -> serve system.

Run from the root of a checkout:

    python3 perfbench/run.py --workload bulk_build --seed 1 --seconds 10 --trace 0

Workloads (see ``perfbench/workloads.py`` and ``BENCHMARK.json``):
``bulk_build`` and ``sync_serve``, at ``local[4]`` with one Spark driver
process, a 2 GB Spark driver heap and one closed-loop client.

One run: start the session and make the inputs from ``--seed`` (set-up),
run one untimed warm-up operation, then run operations until they have
taken ``--seconds`` seconds, checking each one's output against a
reference computed outside the timed path. With ``--trace 0`` the last
stdout line holds the end-to-end metrics; with ``--trace 1`` it holds the
per-layer metrics, taken from spans around the calls into each module and
from Spark's event log.

Memory is resident memory sampled from /proc while measured operations run.
The end-to-end ``python_peak_rss_mb`` is the peak of this driver process and
Spark's Python workers together. The JVM's peak is the per-layer
``jvm.peak_rss_mb``: the JVM grows its heap by how long its collections
take, so its resident size follows the host's load as much as the program.

The host throttle probe runs before and after, outside the timed path, and its
readings go into the run's artifact under ``.bench_work/results/``.

Exit code 2, with no result line, when the program is not in the working
directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import threading
import time

CORES = 4


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


class RssMonitor(threading.Thread):
    """Resident memory of this process and all its descendants, sampled
    from /proc: the peak over the whole run, and, while ``measuring`` is
    set, the peak of each kind of process, ``java`` (the Spark driver JVM)
    and ``python`` (this driver process and Spark's Python workers)."""

    INTERVAL_S = 0.2

    def __init__(self):
        super().__init__(daemon=True)
        self.peak_kb = 0
        self.measured_peak_kb: dict = {}
        self.measuring = threading.Event()
        self._stop_evt = threading.Event()

    @staticmethod
    def tree_rss_kb(root_pid: int) -> dict:
        """{process kind: resident kB} over ``root_pid`` and its descendants."""
        children: dict = {}
        rss: dict = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    comm, rest = f.read().rsplit(")", 1)
                ppid = int(rest.split()[1])
                with open(f"/proc/{name}/statm") as f:
                    pages = int(f.read().split()[1])
            except (OSError, IndexError, ValueError):
                continue  # exited while being read
            children.setdefault(ppid, []).append(int(name))
            kind = "java" if comm.endswith("(java") else "python"
            rss[int(name)] = (kind, pages * (os.sysconf("SC_PAGE_SIZE") // 1024))
        total: dict = {}
        todo = [root_pid]
        while todo:
            pid = todo.pop()
            if pid in rss:
                kind, kb = rss[pid]
                total[kind] = total.get(kind, 0) + kb
            todo += children.get(pid, [])
        return total

    def run(self):
        while not self._stop_evt.is_set():
            measuring = self.measuring.is_set()
            kinds = self.tree_rss_kb(os.getpid())
            self.peak_kb = max(self.peak_kb, sum(kinds.values()))
            # only a sample taken wholly inside a measured operation counts
            if measuring and self.measuring.is_set():
                for k, kb in kinds.items():
                    self.measured_peak_kb[k] = max(self.measured_peak_kb.get(k, 0), kb)
            self._stop_evt.wait(self.INTERVAL_S)

    def measured_peak_mb(self, kind: str) -> float:
        return self.measured_peak_kb.get(kind, 0) / 1024

    def stop(self):
        self._stop_evt.set()
        self.join()


def host_probe(root: str, env: dict) -> dict:
    """tools.throttle_probe.probe in a child interpreter (recorded, never
    gated on)."""
    code = ("import json, sys; sys.path.insert(0, '.');"
            "from tools.throttle_probe import probe; print(json.dumps(probe(0.05)))")
    try:
        out = subprocess.run([sys.executable, "-c", code], cwd=root, env=env,
                             capture_output=True, text=True, timeout=60, check=True)
        return json.loads(out.stdout.strip().splitlines()[-1])
    except (subprocess.SubprocessError, ValueError, IndexError) as e:
        return {"error": f"{type(e).__name__}: {e}"}


class Ctx:
    """What a workload needs from the harness."""

    def __init__(self, spark, root: str, work: str, traced: bool):
        self.spark = spark
        self.root = root
        self.work = work
        self.traced = traced  # a traced run (--trace 1)
        self.cores = CORES
        self.tracer = None


def start_session(work: str, app: str, trace: bool):
    from usgs_geomag_algorithms_spark.session import get_spark

    conf = {
        # a fixed, small Spark driver heap: peak memory then reads the same run
        # to run instead of following the JVM's lazy heap growth
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
        })
    return get_spark(app_name=app, cores=CORES, shuffle_partitions=CORES, extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark, then the gateway JVM (it exits when its stdin closes),
    and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def measure(args, work: str, rss: RssMonitor) -> dict:
    from perfbench import eventlog, spans, stats
    from perfbench.workloads import WORKLOADS, cached_long_store

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    trace = bool(args.trace)
    wl = WORKLOADS[args.workload](args.seed)
    root = os.getcwd()
    t0 = time.perf_counter()
    # the per-checkout fixture, built in its own process by whichever run
    # comes first, before this process's JVM starts
    cached_long_store(root)
    prepare_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    spark = start_session(work, f"perfbench-{args.workload}", trace)
    session_s = time.perf_counter() - t0
    ctx = Ctx(spark, root, work, trace)
    t0 = time.perf_counter()
    wl.setup(ctx)
    inputs_s = time.perf_counter() - t0

    res = {"attempted": 0, "failed": 0, "failures": [], "windows": []}

    def run_op(i: int, record: bool = True):
        spark.catalog.clearCache()
        res["attempted"] += 1
        start_wall, t = time.time(), time.perf_counter()
        try:
            if i >= 0:
                rss.measuring.set()
            try:
                out = wl.op(ctx, i)
            finally:
                rss.measuring.clear()
            dt = time.perf_counter() - t
            # warm-up outputs are not checked: they are not measured
            errs = wl.check(ctx, i, out) if i >= 0 else []
        except Exception as e:  # a failed operation is counted, not fatal
            dt, errs = None, [f"{type(e).__name__}: {e}"]
        if errs:
            res["failed"] += 1
            res["failures"].append({"op": i, "errors": errs[:6]})
        elif i >= 0 and record:
            res["windows"].append((start_wall, start_wall + dt))
        return None if errs else dt

    for i in range(1, wl.warmup_ops + 1):
        run_op(-i)  # warm-up: JIT, caches and lazy set-up; untimed
    if hasattr(wl, "prepare_reference"):
        # untimed, and held in memory through every measured operation alike
        wl.prepare_reference(ctx)
    # measured operations; a traced run pairs each traced operation with
    # the same operation untraced (traced first, so warm-up drift can only
    # inflate the overhead estimate) and reports per-layer numbers from the
    # traced ones
    tracer = spans.Tracer() if trace else None
    lat, pairs, i, busy = [], [], 0, 0.0
    while busy < args.seconds:
        if trace:
            ctx.tracer, tracer.op = tracer, i
            wl.instrument(ctx, tracer)
        dt = run_op(i)
        if trace:
            tracer.restore()
            ctx.tracer = None
            pairs.append((i, dt, run_op(i + 1, record=False)))
            i += 1
        if dt is not None:
            lat.append(dt)
            busy += dt
        elif res["failed"] > 3 and not lat:
            break
        i += 1
    if trace and hasattr(wl, "traced_extra"):
        res["attempted"] += 1
        try:
            errs = wl.traced_extra(ctx, tracer)
        except Exception as e:  # counted, not fatal
            errs = [f"{type(e).__name__}: {e}"]
        if errs:
            res["failed"] += 1
            res["failures"].append({"op": "traced_extra", "errors": errs[:6]})
    summary = wl.summary(ctx)
    stop_session(spark)

    out = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "ops": len(lat),
        "latencies_s": lat,
        "prepare_s": prepare_s,
        "session_s": session_s,
        "inputs_s": inputs_s,
        "setup_s": prepare_s + session_s + inputs_s,
        "summary": summary,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "failures": res["failures"],
        "peak_rss_mb_measured": {k: rss.measured_peak_mb(k) for k in ("java", "python")},
    }
    if lat:
        out["latency_p50_ms"] = 1e3 * stats.median(lat)
        p = stats.tail_percentile(len(lat))
        out["latency_tail"] = {"percentile": p, "n": len(lat),
                               "ms": 1e3 * stats.percentile(lat, p) if p else None}
    if trace:
        # the event log is complete once the session has stopped
        log = eventlog.load(os.path.join(work, "eventlog"))
        added = [s for s in tracer.spans if s.attrs.get("harness")]
        layers = wl.layer_metrics(ctx, tracer, log)
        layers.update(eventlog.stage_metrics(log, res["windows"], [tracer.wall(s) for s in added],
                                             len(lat)))
        # traced latency without the traced run's own added work, against
        # the paired untraced latency
        ratios = [(t - sum(s.duration for s in added if s.op == op)) / u
                  for op, t, u in pairs if t and u]
        layers["trace.overhead_share"] = stats.median(ratios) - 1.0 if ratios else 0.0
        layers["jvm.peak_rss_mb"] = rss.measured_peak_mb("java")
        out["per_layer"] = layers
        out["span_totals"] = tracer.by_name()
        out["spans"] = tracer.to_json()
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "usgs_geomag_algorithms_spark", "__init__.py"))
            and os.path.isfile(os.path.join(root, "__spark_entry__.py"))):
        print(f"perfbench: the program's sources are not in {root}", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    work = os.path.join(root, ".bench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # Spark's Python workers import the program from the checkout; every
    # temporary file stays under the checkout's .bench_work
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [root, os.environ.get("PYTHONPATH")]))
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")

    probe_before = host_probe(root, dict(os.environ))
    rss = RssMonitor()
    rss.start()
    try:
        out = measure(args, work, rss)
        rss.stop()
        out["peak_rss_mb_run"] = rss.peak_kb / 1024
        out["host_probe"] = {"before": probe_before, "after": host_probe(root, dict(os.environ))}
    finally:
        if rss.is_alive():
            rss.stop()
        shutil.rmtree(work, ignore_errors=True)

    if "latency_p50_ms" not in out:
        print(json.dumps({k: out[k] for k in ("workload", "failures")}), file=sys.stderr)
        print("perfbench: no operation succeeded", file=sys.stderr)
        return 1
    # every metric BENCHMARK.json names; a layer this workload never
    # reaches reads 0
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.trace:
        values = out["per_layer"]
        names = spec["per_layer"]
    else:
        values = {"latency_p50_ms": out["latency_p50_ms"], "setup_s": out["setup_s"],
                  "python_peak_rss_mb": out["peak_rss_mb_measured"]["python"]}
        names = spec["end_to_end"]
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in names}
    result = {
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": metrics,
    }
    results_dir = os.path.join(root, ".bench_work", "results")
    os.makedirs(results_dir, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}.json"
    with open(os.path.join(results_dir, name), "w") as f:
        json.dump(dict(out, result=result), f, indent=1, default=str)

    tail = out["latency_tail"]
    print(f"workload {args.workload} seed {args.seed}: {out['ops']} timed operations, "
          f"failed {out['failed']} of {out['attempted']} attempted "
          f"(failed_share {out['failed'] / out['attempted']:.3f})")
    if tail["percentile"]:
        print(f"latency p{tail['percentile']} {tail['ms']:.1f} ms (n={tail['n']})")
    print(f"summary {json.dumps(out['summary'], default=str)}")
    print(f"host_probe {json.dumps(out['host_probe'])}")
    for k, v in metrics.items():
        print(f"{k} {v['value']:.6g} {v['unit']}")
    print(f"correct {str(result['correct']).lower()}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

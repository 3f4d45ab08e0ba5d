"""Benchmark entry point.

    python3 perfbench/run.py --workload kg_build_cold --seed 1 --seconds 10 --trace 0

Runs one workload in this (fresh) process from the root of a source
checkout: writes the seeded inputs, starts a ``local[nproc]`` session
through ``graphlab_spark.session.get_spark``, sets up, runs the
workload's operations for ``--seconds``, checks every output, stops
every process it started, and prints as its last line one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
``end_to_end`` metrics of BENCHMARK.json with ``--trace 0``, its
``per_layer`` metrics with ``--trace 1``. Lines before it give the run
context, the workload's own named figures and, when traced, the span
table. All files go under ``.perfbench_work/`` in the checkout and are
removed at the end.
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
import threading
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
# The driver heap is committed and touched at JVM start, so it is a fixed
# part of the JVM's resident memory. Peak memory replaces that part by the
# heap the program still holds after a full collection at the end of
# set-up, a fixed amount of work. The alternatives were noisier on
# 4 vCPU, 15 GB: the heap's resident size follows G1's run-to-run growth
# (~25% spread across seeds); its occupancy after G1's young collections
# includes old garbage not yet reclaimed (one run in ten read 2.5x the
# others); and after the timed window it grows with the number of
# operations that fitted in it (Spark keeps status data per job).
DRIVER_MEM = "2g"
DRIVER_MEM_BYTES = 2 * 2**30
KERNEL_SAMPLE = 200  # heavy pages timed per kernel in a traced run
HW_CONTROL_DOCS = 2000


@dataclass
class Sample:
    kind: str
    wall: float
    result: object
    ok: bool
    span: object = None


# ------------------------------------------------------------ processes

def process_start_time() -> float:
    """Epoch seconds at which this process started (from /proc)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as fh:
        btime = next(int(line.split()[1]) for line in fh if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def pss_bytes(pid: int) -> int:
    """Proportional resident set size: resident pages, each shared page
    split among the processes sharing it, so a fork-then-exec child or
    forked Python workers are not counted twice."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, ValueError, IndexError):
        pass
    return 0


class RssSampler(threading.Thread):
    """Peak resident memory of this process's descendants (the driver JVM
    and its Python workers): summed PSS, sampled from /proc."""

    def __init__(self, interval: float = 0.5):
        super().__init__(daemon=True)
        self.interval, self.peak = interval, 0
        self._stop_ev = threading.Event()

    def run(self) -> None:
        me = os.getpid()
        while not self._stop_ev.is_set():
            self.peak = max(self.peak, sum(pss_bytes(p) for p in descendants(me)))
            self._stop_ev.wait(self.interval)

    def stop(self) -> int:
        self._stop_ev.set()
        self.join()
        return self.peak


def retained_heap(spark) -> int:
    """Driver heap in use after a full collection, in bytes: what the
    program keeps alive."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    return jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage().getUsed()


def stop_session(spark) -> None:
    """Stop Spark, end the gateway JVM and wait until every process this
    run started has exited."""
    from pyspark import SparkContext

    procs = descendants(os.getpid())
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        gw.proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            gw.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gw.proc.kill()
            gw.proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 30
    while time.time() < deadline:
        procs = [p for p in procs if _alive(p)]
        if not procs:
            return
        time.sleep(0.2)
    for p in procs:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while any(_alive(p) for p in procs):
        time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


# ------------------------------------------------------------ kernels

def kernel_us_per_doc(seed: int) -> dict[str, float]:
    """Single-process per-doc time of the three parse kernels on a fixed
    seeded sample of heavy pages (median of three passes)."""
    from graphlab_spark.operators.extract import extract_text_bytes
    from graphlab_spark.operators.mentions import _first_token_gate, build_alias_map, find_mentions
    from graphlab_spark.operators.triples import extract_triples_text
    from graphlab_spark.sources import corpus
    from perfbench import inputs

    htmls = [p["html"] for p in inputs.heavy_pages(inputs.page_ids(seed, KERNEL_SAMPLE))]
    amap = build_alias_map(corpus.alias_rows())
    gate = _first_token_gate(amap)
    texts = [extract_text_bytes(h) for h in htmls]
    kernels = {
        "extract.us_per_doc": lambda: [extract_text_bytes(h) for h in htmls],
        "mentions.us_per_doc": lambda: [find_mentions(t, amap, gate) for t in texts],
        "triples.us_per_doc": lambda: [extract_triples_text(t) for t in texts],
    }
    out = {}
    for name, fn in kernels.items():
        walls = []
        for _ in range(3):
            t0 = time.perf_counter()
            fn()
            walls.append(time.perf_counter() - t0)
        out[name] = statistics.median(walls) / len(htmls) * 1e6
    return out


# ------------------------------------------------------------ tracing

def install_wrappers(tracer) -> None:
    from graphlab_spark.operators import canonicalize, dedup, dedup_incremental, linking, scratch
    from graphlab_spark.plans import pipeline

    def pin(df, name="stage"):
        return f"pin:{name}"

    tracer.wrap(scratch, "materialize", pin)
    tracer.wrap(pipeline, "_pin", pin)
    tracer.wrap(linking, "collect_alias_rows", "collect_alias_rows")
    tracer.wrap(pipeline, "build_alias_map", "build_alias_map")
    tracer.wrap(pipeline, "parse_stage", "parse_stage")  # broadcasts the alias map
    tracer.wrap(pipeline, "_build_outputs", "build_outputs")  # driver-side plan building
    tracer.wrap(pipeline, "entity_map_adaptive", "entity_map_adaptive")
    tracer.wrap(linking, "link_surfaces", "link_surfaces")
    tracer.wrap(pipeline, "_entity_map_distributed", "entity_map_distributed")
    tracer.wrap(canonicalize, "canonicalize_stage", "canonicalize_stage")
    tracer.wrap(pipeline, "vocab_entity_map_small", "vocab_entity_map_small",
                attrs=lambda spark, surfaces, *a, **k: {"surfaces": len(set(surfaces))})
    tracer.wrap(dedup, "minhash_lsh_pairs", "minhash_lsh_pairs")
    tracer.wrap(dedup_incremental, "apply_increment", "apply_increment")
    tracer.wrap(dedup_incremental, "_check_sig_family", "check_sig_family")


def count_spans(tracer, spark) -> None:
    """Wrap DataFrame.count and the dedup workload's pair collection so
    each is its own eager span."""
    from perfbench import workloads

    tracer.wrap(type(spark.range(0)), "count", "count")
    tracer.wrap(workloads, "collect_pairs", "collect_pairs")


def universal_layers(tracer, samples, principal: str, kids) -> dict:
    from perfbench import tracing

    rows = []
    for s in samples:
        if s.kind != principal or not s.ok or s.span is None:
            continue
        spans = tracing.subtree(s.span, kids)
        pins = [x for x in spans if x.name.startswith("pin:")]
        inc = {k: sum(x.self_stats.get(k, 0) for x in spans) for k in tracing.STAT_KEYS}
        rows.append({
            "spark.jobs": inc["jobs"],
            "spark.tasks": inc["tasks"],
            "spark.executor_run_s": inc["run_s"],
            "spark.executor_cpu_s": inc["cpu_s"],
            "spark.gc_s": inc["gc_s"],
            "spark.shuffle_read_bytes": inc["shuffle_read_bytes"],
            "spark.shuffle_write_bytes": inc["shuffle_write_bytes"],
            "spark.spill_bytes": inc["spill_bytes"],
            "scratch.pin_s": sum(x.wall for x in pins),
            "scratch.pin_bytes": sum(x.self_stats["output_bytes"] for x in pins),
            "vocab.surfaces": sum(x.attrs.get("surfaces", 0) for x in spans),
            "trace.op_p50_s": s.wall,
            "trace.eager_cover": 1.0 - tracing.self_time(s.span, kids) / s.wall,
        })
    if not rows:
        raise RuntimeError(f"no successful traced {principal} operation")
    return {k: statistics.median(r[k] for r in rows) for k in rows[0]}


def print_spans(tracer, kids) -> None:
    """Write the recorded spans out, one ``span`` line each."""
    from perfbench import tracing

    for s in tracer.spans:
        print("span", json.dumps({
            "id": s.id, "name": s.name, "parent": s.parent, "start": s.start, "end": s.end,
            "wall_s": round(s.wall, 4), "self_s": round(tracing.self_time(s, kids), 4),
            **s.attrs, **{k: round(v, 4) for k, v in s.self_stats.items()},
        }))


# ------------------------------------------------------------ main

def select_metrics(values: dict, wanted: list[dict]) -> dict:
    """The declared metrics with their units. A module metric a workload
    never enters reads 0; a value under an undeclared name is an error."""
    unknown = set(values) - {m["name"] for m in wanted}
    if unknown:
        raise RuntimeError(f"metrics not declared in BENCHMARK.json: {sorted(unknown)}")
    return {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in wanted}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env(cores: int) -> None:
    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("tmp", "scratch", "spark-local", "eventlog"):
        os.makedirs(os.path.join(WORK, d))
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_SCRATCH": os.path.join(WORK, "scratch"),
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(WORK, "spark-local"),
        "TMPDIR": os.path.join(WORK, "tmp"),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={WORK}/tmp -XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
    })
    sys.path.insert(0, ROOT)
    sys.path.insert(1, os.path.join(ROOT, "tools"))


def main(argv=None) -> int:
    t_proc = process_start_time()
    # a terminated run still stops its session and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    args = parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    cores = len(os.sched_getaffinity(0))
    prepare_env(cores)
    try:
        return run(args, spec, cores, t_proc)
    finally:
        shutil.rmtree(WORK, ignore_errors=True)


def run_op(wl, kind: str, tracer) -> Sample:
    with tracer.span(kind) if tracer else nullcontext() as root:
        t0 = time.perf_counter()
        try:
            res, ok = getattr(wl, f"op_{kind}")(), True
        except Exception:
            traceback.print_exc()
            res, ok = None, False
        wall = time.perf_counter() - t0
    return Sample(kind, wall, res, ok, root)


def timed_ops(wl, seconds: float, tracer) -> list[Sample]:
    """Run the workload's cycles until ``seconds`` have passed and at
    least ``wl.min_cycles`` are done."""
    samples: list[Sample] = []
    t_start = time.time()
    while time.time() - t_start < seconds or len(samples) < wl.min_cycles * len(wl.kinds):
        samples.extend(run_op(wl, kind, tracer) for kind in wl.kinds)
    return samples


def run(args, spec: dict, cores: int, t_proc: float) -> int:
    from perfbench.workloads import WORKLOADS  # needs graphlab_spark in the checkout

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}")
    wl = WORKLOADS[args.workload](os.path.join(WORK, "data"), args.seed, cores)

    # input generation and the hardware control are not set-up
    t0 = time.time()
    sizes = wl.generate()
    kernels = kernel_us_per_doc(args.seed) if args.trace else {}
    from scaling_bench import hardware_control  # tools/scaling_bench.py

    hw_s = hardware_control(cores, n_docs=HW_CONTROL_DOCS, reps=1)
    untimed = time.time() - t0

    from graphlab_spark.session import get_spark

    conf = {"spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"}
    if args.trace:
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.compress": "false",
                     "spark.eventLog.dir": "file://" + os.path.join(WORK, "eventlog")})
    sampler = RssSampler()
    sampler.start()
    spark = get_spark(f"perfbench-{args.workload}", master=f"local[{cores}]",
                      shuffle_partitions=cores, extra_conf=conf)
    tracer = None
    try:
        session_start_s = time.time() - t_proc - untimed
        if args.trace:
            from perfbench.tracing import Tracer

            tracer = Tracer(spark.sparkContext)
            install_wrappers(tracer)
        t_setup = time.time()
        wl.setup(spark)
        workload_setup_s = time.time() - t_setup
        setup_s = time.time() - t_proc - untimed
        heap = retained_heap(spark)
        if tracer is not None:
            count_spans(tracer, spark)
        t_start = time.time()
        samples = timed_ops(wl, args.seconds, tracer)
        measured_s = time.time() - t_start
        peak = sampler.stop()
        if tracer is not None:
            samples += [run_op(wl, kind, tracer) for kind in wl.traced_kinds]
            tracer.unwrap_all()
        t_check = time.time()
        try:
            wl.check(samples)
        except Exception:
            traceback.print_exc()
            wl.gate_failed = True
            for s in samples:  # nothing verified
                s.ok = False
        probed = wl.probe() if tracer is not None else {}
        java = spark.sparkContext._jvm.System.getProperty("java.version")
        check_s = time.time() - t_check
    finally:
        sampler.stop()
        t_stop = time.time()
        stop_session(spark)
        stop_s = time.time() - t_stop

    import pyspark

    print("context", json.dumps({
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "nproc": cores, "cores_used": cores, "master": f"local[{cores}]",
        "driver_memory": DRIVER_MEM, "pyspark": pyspark.__version__, "java": java,
        "inputs": {**sizes, **probed}, "hardware_control_s": hw_s, "hardware_control_docs": HW_CONTROL_DOCS,
        "phases_s": {"untimed_inputs": untimed, "session_start": session_start_s,
                     "workload_setup": workload_setup_s, "measured": measured_s,
                     "check": check_s, "stop": stop_s},
        "peak_pss_mb": peak / 2**20, "retained_heap_mb": heap / 2**20,
        "operations": [[s.kind, round(s.wall, 4), s.ok] for s in samples],
    }))
    for msg in wl.failures:
        print("FAILED", msg)

    attempted = len(samples)
    failed = sum(not s.ok for s in samples)
    good = [s for s in samples if s.ok]
    if not any(s.kind == wl.throughput for s in good) or not any(s.kind == wl.principal for s in good):
        raise RuntimeError("no successful timed operation")
    for name, (value, unit) in {"failed_frac": (failed / attempted, "ratio"),
                                **wl.named_metrics(samples)}.items():
        print("metric", name, value, unit)

    if args.trace:
        from perfbench import tracing

        tracing.attribute(tracer, tracing.read_event_log(os.path.join(WORK, "eventlog")))
        kids = tracing.children(tracer)
        print_spans(tracer, kids)
        values = {"session.start_s": session_start_s, **kernels,
                  **universal_layers(tracer, samples, wl.principal, kids),
                  **wl.layers(tracer, samples, kids)}
        wanted = spec["per_layer"]
    else:
        values = {"setup_s": setup_s, "docs_per_s": wl.docs_per_s(good),
                  "op_p50_s": statistics.median(s.wall for s in good if s.kind == wl.principal),
                  "peak_rss_mb": (peak - DRIVER_MEM_BYTES + heap) / 2**20}
        wanted = spec["end_to_end"]
    print(json.dumps({"correct": failed == 0 and not wl.gate_failed, "attempted": attempted, "failed": failed,
                      "metrics": select_metrics(values, wanted)}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

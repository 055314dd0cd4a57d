"""Keyed-table benchmark: one closed-loop client on ``local[nproc]``.

    python3 perfbench/run.py --workload keyed_mixed --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke

The workload's inputs come from ``--seed``. After set-up and an untimed
warm-up, the client runs whole units (a keyed read/write cycle, a graph
pipeline) until ``--seconds`` have passed, at least one. Every output is
checked against an independent model, and one JSON object is printed as the
last line of stdout: the end-to-end metrics, or with ``--trace 1`` the
per-layer metrics of a run with every op traced. ``--smoke`` runs every workload at a tiny size in both modes and
checks that the printed metric names match ``BENCHMARK.json``. See
``perfbench/README.md`` for the metric definitions.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shlex
import shutil
import sys
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from graph_batch import GRAPH, GraphBatch  # noqa: E402
from keyed import READS, KeyedMixed  # noqa: E402
from measure import median, p90, tree_cpu_s, vm_hwm_mb  # noqa: E402
from tracer import Tracer  # noqa: E402

WORKLOADS = {"keyed_mixed": KeyedMixed, "graph_batch": GraphBatch}
SIZES = {
    "full": {
        "keyed_mixed": {"n_rows": 20_000, "batch_rows": 300},
        "graph_batch": {"n_pairs": 10_000, "n_vertices": 5_000},
    },
    "smoke": {
        "keyed_mixed": {"n_rows": 2_000, "batch_rows": 20},
        "graph_batch": {"n_pairs": 2_000, "n_vertices": 1_000},
    },
}


@dataclass
class Op:
    kind: str
    slot: int
    ms: float = 0.0
    cpu_s: float = 0.0
    rows: int = 0
    extra: dict = field(default_factory=dict)


class Ctx:
    """What a workload needs from the harness: the session, the tracer, a
    private directory, the recorded ops and the check counters."""

    def __init__(self, spark, tracer: Tracer, seed: int, workdir: str):
        self.spark = spark
        self.jvm_pid = spark.sparkContext._gateway.proc.pid if spark else None
        self.tracer = tracer
        self.seed = seed
        self.workdir = workdir
        self.ops: list[Op] = []
        self.slot = 0
        self.attempted = 0
        self.failed = 0

    def path(self, name: str) -> str:
        return os.path.join(self.workdir, name)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"CHECK FAILED: {what}", file=sys.stderr)

    @contextmanager
    def op(self, kind: str, record: bool = True):
        """Time one client op; traced, it is the root span of its layers.
        ``slot`` is the op's position in its unit."""
        rec = Op(kind, self.slot)
        cpu0 = tree_cpu_s(self.jvm_pid) + time.process_time()
        with self.tracer.span(f"op.{kind}"):
            t0 = time.perf_counter()
            yield rec
            rec.ms = (time.perf_counter() - t0) * 1000.0
        rec.cpu_s = tree_cpu_s(self.jvm_pid) + time.process_time() - cpu0
        if record:
            self.slot += 1
            self.attempted += 1
            self.ops.append(rec)


def launch_env(workdir: str) -> str:
    """Point every temp and local dir of the session into ``workdir`` and
    size the driver heap below physical memory. Returns the heap size."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(workdir, "warehouse")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options {shlex.quote(java_opts)} pyspark-shell"
    )
    with open("/proc/meminfo") as fh:
        total_mb = int(fh.readline().split()[1]) // 1024
    return f"{min(4096, total_mb // 4)}m"


def start_session(workdir: str, app: str):
    heap = launch_env(workdir)
    from spark_on_hbase_spark.session import get_spark, size_driver_heap_for_launch

    size_driver_heap_for_launch(heap)
    spark = get_spark(app)
    spark.sparkContext.setLogLevel("FATAL")
    return spark


def stop_session(spark) -> None:
    """Stop the SparkContext, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — a hung JVM must not outlive the run
            proc.kill()
            proc.wait()


def run(name: str, seed: int, seconds: float, trace: bool, size: str, spark=None) -> dict:
    """One benchmark run of one workload; returns the result object."""
    if name not in WORKLOADS:
        raise SystemExit(f"unknown workload {name!r}; choose from {sorted(WORKLOADS)}")
    workdir = os.path.join(ROOT, ".perfbench_tmp", f"{name}-{seed}-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    own_session = spark is None
    try:
        t0 = time.perf_counter()
        if own_session:
            spark = start_session(workdir, "perfbench")
        session_s = time.perf_counter() - t0
        ctx = Ctx(spark, Tracer(spark.sparkContext), seed, workdir)
        wl = WORKLOADS[name](ctx, **SIZES[size][name])
        wl.setup()
        setup_s = time.perf_counter() - t0
        wl.warmup()

        units, t_start = 0, time.perf_counter()
        ctx.tracer.enabled = trace
        try:
            while True:
                ctx.slot = 0
                wl.unit(units)
                units += 1
                if time.perf_counter() - t_start >= seconds:
                    break
        except Exception:  # noqa: BLE001 — a failed op ends the window, counted
            traceback.print_exc()
            ctx.attempted += 1
            ctx.failed += 1
        ctx.tracer.enabled = False
        window_s = time.perf_counter() - t_start
        end = wl.finish()
        jvm_mb = vm_hwm_mb(ctx.jvm_pid)
        if trace:
            check_span_sums(ctx)
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            ctx.tracer.dump(os.path.join(out_dir, f"spans-{name}-{seed}.jsonl"))
            metrics = layer_metrics(ctx, end, session_s, jvm_mb)
        else:
            metrics = e2e_metrics(ctx, units, setup_s)
        print(
            f"{name} seed={seed} session={session_s:.1f}s setup={setup_s:.1f}s "
            f"window={window_s:.1f}s units={units} ops={len(ctx.ops)} "
            f"checks={ctx.attempted - len(ctx.ops)} failed={ctx.failed}\n  "
            + " ".join(f"{o.kind}={o.ms:.0f}ms/{o.cpu_s:.1f}cpu" for o in ctx.ops),
            file=sys.stderr,
        )
        return {
            "correct": ctx.failed == 0,
            "attempted": ctx.attempted,
            "failed": ctx.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        if own_session and spark is not None:
            stop_session(spark)
        shutil.rmtree(workdir, ignore_errors=True)


def check_span_sums(ctx: Ctx) -> None:
    """Every traced op: its layers' self times add up to its root span."""
    by_op: dict[int, list] = {}
    for s in ctx.tracer.spans:
        by_op.setdefault(s.op, []).append(s)
    for spans in by_op.values():
        root = next(s for s in spans if s.parent is None)
        ctx.check(
            abs(sum(s.self_s for s in spans) - root.dur_s) < 1e-6,
            f"self times add up to {root.name}",
        )


def e2e_metrics(ctx: Ctx, units: int, setup_s: float) -> dict:
    """Every unit runs the same op sequence, so the mean unit time does not
    depend on how many units fit in the window. A unit cut short by a
    failed op counts as one."""
    units = max(units, 1)
    return {
        "setup_s": (setup_s, "s"),
        "unit_s": (sum(o.ms for o in ctx.ops) / 1000.0 / units, "s"),
        "unit_cpu_s": (sum(o.cpu_s for o in ctx.ops) / units, "s"),
    }


def op_ms_gmean(ops: list[Op]) -> float:
    """Geometric mean over a unit's op positions of each position's median
    wall latency: every op counts alike, however long it takes."""
    by_slot: dict[int, list[float]] = {}
    for o in ops:
        by_slot.setdefault(o.slot, []).append(o.ms)
    logs = [math.log(median(v)) for v in by_slot.values()]
    return math.exp(sum(logs) / len(logs)) if logs else 0.0


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def layer_metrics(ctx: Ctx, end: dict, session_s: float, jvm_mb: float) -> dict:
    spans = [s for s in ctx.tracer.spans if s.parent is not None]

    def named(n):
        return [s for s in spans if s.name == n]

    def self_ms(n):
        return median(s.self_s * 1000.0 for s in named(n))

    def per_call(n, attr, also=()):
        calls = named(n)
        total = sum(getattr(s, attr) for s in calls + [x for a in also for x in named(a)])
        return total / len(calls) if calls else 0.0

    def failed(prefix):
        return sum(s.failed_tasks for s in spans if s.name.startswith(prefix))

    ops = ctx.ops
    m: dict = {"session.get_spark_s": (session_s, "s"), "jvm.peak_rss_mb": (jvm_mb, "MiB")}
    enc = named("keys.encode")
    n_enc = sum(s.attrs.get("n", 0) for s in enc)
    m["keys.encode_us"] = (sum(s.self_s for s in enc) * 1e6 / n_enc if n_enc else 0.0, "us")
    m["keys.encodes"] = (n_enc, "count")
    m["table.layers"] = (_mean(o.extra["layers"] for o in ops if "layers" in o.extra), "count")
    for r in READS:
        plan, exec_ = f"table.{r}.plan", f"table.{r}.exec"
        kind = {"point_read": "get", "range_read": "range", "semi_read": "semi"}[r]
        m[f"table.{r}.plan_ms"] = (self_ms(plan), "ms")
        m[f"table.{r}.exec_ms"] = (self_ms(exec_), "ms")
        m[f"table.{r}.jobs"] = (per_call(plan, "jobs", (exec_,)), "count")
        m[f"table.{r}.tasks"] = (per_call(plan, "tasks", (exec_,)), "count")
        m[f"table.{r}.files"] = (
            _mean(o.extra["files"] for o in ops if o.kind == kind and "files" in o.extra),
            "count",
        )
        m[f"table.{r}.calls"] = (len(named(plan)), "count")
    stalls = []
    for w in KeyedMixed.CYCLE:
        n = f"table.{w}"
        m[f"{n}.ms"] = (self_ms(n), "ms")
        m[f"{n}.rows"] = (sum(s.attrs.get("rows", 0) for s in named(n)), "count")
        m[f"{n}.jobs"] = (per_call(n, "jobs"), "count")
        m[f"{n}.tasks"] = (per_call(n, "tasks"), "count")
        stalls += [
            s.dur_s * 1000.0
            for s in named(n)
            if s.attrs.get("layers_after", 0) < s.attrs.get("layers_before", 0)
        ]
    m["table.compactions"] = (len(stalls), "count")
    m["table.compaction_stall_ms"] = (median(stalls), "ms")
    m["table.compact_ms"] = (end.get("compact_ms", 0.0), "ms")
    written = [o.extra["bytes_by_root"] for o in ops if "bytes_by_root" in o.extra]
    m["table.bytes_written"] = (sum(b.get("table", 0) for b in written), "B")
    m["table.bytes_on_disk"] = (end.get("disk_by_root", {}).get("table", 0), "B")
    m["table.failed_tasks"] = (failed("table."), "count")
    for w in KeyedMixed.CYCLE:
        m[f"index.{w}.ms"] = (self_ms(f"index.{w}"), "ms")
    m["index.lookup.plan_ms"] = (self_ms("index.lookup.plan"), "ms")
    m["index.lookup.exec_ms"] = (self_ms("index.lookup.exec"), "ms")
    m["index.lookup.tasks"] = (per_call("index.lookup.plan", "tasks", ("index.lookup.exec",)), "count")
    m["index.failed_tasks"] = (failed("index."), "count")
    m["matview.refresh.ms"] = (self_ms("matview.refresh"), "ms")
    m["matview.refresh.rows"] = (sum(s.attrs.get("rows", 0) for s in named("matview.refresh")), "count")
    m["matview.refresh.tasks"] = (per_call("matview.refresh", "tasks"), "count")
    m["matview.failed_tasks"] = (failed("matview."), "count")
    for g in GRAPH:
        n = f"graph.{g}"
        m[f"{n}.ms"] = (self_ms(n), "ms")
        m[f"{n}.jobs"] = (per_call(n, "jobs"), "count")
        m[f"{n}.tasks"] = (per_call(n, "tasks"), "count")
    m["graph.bsp_converge.supersteps"] = (
        _mean(s.attrs["supersteps"] for s in named("graph.bsp_converge")), "count"
    )
    m["graph.failed_tasks"] = (failed("graph."), "count")
    m["joins.lookup_join.ms"] = (self_ms("joins.lookup_join"), "ms")
    m["joins.fill_join.ms"] = (self_ms("joins.fill_join"), "ms")
    m["joins.failed_tasks"] = (failed("joins."), "count")
    m["agg.cutoff.ms"] = (self_ms("agg.cutoff"), "ms")
    m["agg.failed_tasks"] = (failed("agg."), "count")
    roots = [s for s in ctx.tracer.spans if s.parent is None]
    m["trace.spans"] = (len(ctx.tracer.spans), "count")
    m["trace.client_self_frac"] = (
        sum(s.self_s for s in roots) / sum(s.dur_s for s in roots) if roots else 0.0, "frac"
    )
    op_s = sum(o.ms for o in ops) / 1000.0
    m["tracing_overhead_frac"] = (ctx.tracer.overhead_s / op_s if op_s else 0.0, "frac")
    m.update(client_metrics(ctx, end))
    return m


def client_metrics(ctx: Ctx, end: dict) -> dict:
    """The client-visible figures per op type."""
    ops = ctx.ops

    def ms(*kinds):
        return [o.ms for o in ops if o.kind in kinds]

    reads = [o for o in ops if o.kind in ("get", "range", "semi", "lookup")]
    muts = [o for o in ops if o.kind in KeyedMixed.CYCLE]
    mut_rows = sum(o.rows for o in muts)
    stages = [o for o in ops if o.kind.split(".")[0] in ("graph", "joins", "agg")]
    pipelines = max(1, sum(1 for o in stages if o.slot == 0))
    return {
        "op_ms_gmean": (op_ms_gmean(ops), "ms"),
        "get_ms_p50": (median(ms("get")), "ms"),
        "get_ms_tail": (p90(ms("get")), "ms"),
        "scan_ms_p50": (median(ms("range", "semi")), "ms"),
        "read_ops_per_s": (len(reads) * 1000.0 / sum(o.ms for o in reads) if reads else 0.0, "1/s"),
        "mutate_ms_p50": (median(ms(*KeyedMixed.CYCLE)), "ms"),
        "mutate_ms_tail": (p90(ms(*KeyedMixed.CYCLE)), "ms"),
        "mutate_rows_per_s": (mut_rows * 1000.0 / sum(o.ms for o in muts) if muts else 0.0, "1/s"),
        "index_lookup_ms_p50": (median(ms("lookup")), "ms"),
        "refresh_ms_p50": (median(ms("refresh")), "ms"),
        "write_bytes_per_row": (
            sum(o.extra.get("bytes_written", 0) for o in muts) / mut_rows if mut_rows else 0.0,
            "B",
        ),
        "disk_bytes_per_live_row": (
            end["disk_bytes"] / end["live_rows"] if end.get("live_rows") else 0.0, "B"
        ),
        "pipeline_s": (sum(o.ms for o in stages) / 1000.0 / pipelines if stages else 0.0, "s"),
        "failed_frac": (ctx.failed / ctx.attempted if ctx.attempted else 0.0, "frac"),
    }


def smoke() -> int:
    """Run every workload tiny, in both modes, in one session; compare the
    printed metric names with BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    want = {
        False: [m["name"] for m in bench["end_to_end"]],
        True: [m["name"] for m in bench["per_layer"]],
    }
    workdir = os.path.join(ROOT, ".perfbench_tmp", f"smoke-{os.getpid()}")
    os.makedirs(workdir)
    spark = start_session(workdir, "perfbench-smoke")
    ok = True
    try:
        for w in bench["workloads"]:
            for trace in (False, True):
                res = run(w["name"], 1, 0, trace, "smoke", spark=spark)
                names = list(res["metrics"])
                good = names == want[trace] and res["correct"]
                ok &= good
                print(
                    f"smoke {w['name']} trace={int(trace)}: "
                    f"{'ok' if good else 'MISMATCH'} correct={res['correct']} "
                    f"missing={sorted(set(want[trace]) - set(names))} "
                    f"extra={sorted(set(names) - set(want[trace]))}"
                )
    finally:
        stop_session(spark)
        shutil.rmtree(workdir, ignore_errors=True)
    return 0 if ok else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()
    if args.smoke:
        return smoke()
    if not args.workload:
        ap.error("--workload is required")
    res = run(args.workload, args.seed, args.seconds, bool(args.trace), "full")
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())

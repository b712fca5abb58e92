"""Lakehouse benchmark for walden_spark.

Usage (from the repository root):

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 10 --trace 0

One run is one process: a ``local[nproc]`` Spark session with nproc
shuffle partitions, driven by closed-loop client threads of this
process. The run generates its inputs from ``--seed``, sets the session
up several times, warms up, measures a fixed
number of op rounds set by ``--seconds``, checks every result, tears
everything down and prints one JSON line: end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``. See
perfbench/README.md for the metric and workload glossary.
"""

from __future__ import annotations

import argparse
import collections
import importlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import types

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("analytics", "lake_ingest")
SETUP_REPS = 3


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full",
                   help="input scale; tiny is for the benchmark's own tests")
    p.add_argument("--corrupt", type=int, default=0,
                   help="falsify the result of this timed op (1-based), to "
                        "prove that a wrong result counts as a failure")
    p.add_argument("--plan-only", action="store_true",
                   help="print the op sequence of the first rounds and exit")
    return p.parse_args(argv)


def _pin_environment(work: str) -> dict:
    """Pin parallelism and memory from the benchmark's environment and
    keep every file the run writes inside ``work``."""
    nproc = int(os.environ.get("PERFBENCH_NPROC") or len(os.sched_getaffinity(0)))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "TMPDIR": tmp,
        "TZ": "UTC",
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "WALDEN_DRIVER_MEMORY": os.environ.get("PERFBENCH_DRIVER_MEMORY", "2g"),
        "PYTHONPATH": os.pathsep.join(
            [os.getcwd()] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
    })
    time.tzset()
    tempfile.tempdir = tmp
    return {
        "nproc": nproc,
        "shuffle_partitions": nproc,
        "driver_memory": os.environ["WALDEN_DRIVER_MEMORY"],
    }


class Run:
    """State of one benchmark run, shared by the harness and the
    workload module."""

    def __init__(self, args, work: str, nproc: int):
        import probes

        self.args, self.work, self.nproc = args, work, nproc
        self.data_dir = os.path.join(work, "data")
        self.warehouse = os.path.join(work, "warehouse")
        self.tracer = probes.Tracer(bool(args.trace))
        self.sstats = probes.SparkStats()
        self.progress = probes.StreamProgress()
        self.spark = None
        self.registry = None
        self.expected: dict = {}  # result fingerprints, filled by make_inputs
        self.counters: dict[str, float] = {}
        self.samples: dict[str, list[float]] = {}
        self.window_start = 0.0
        self._lock = threading.Lock()

    # ---- helpers for workloads ----

    def count(self, key: str, n: float = 1) -> None:
        with self._lock:
            self.counters[key] = self.counters.get(key, 0) + n

    def sample(self, key: str, v: float) -> None:
        with self._lock:
            self.samples.setdefault(key, []).append(v)

    def fetch(self, df, layer: str):
        """Collect a DataFrame to the driver as pandas (Arrow path), the
        way a BI or pipeline client fetches a result."""
        with self.tracer.span(f"{layer}.exec"):
            pdf = df.toPandas()
        self.count(f"{layer}.rows_out", len(pdf))
        return pdf

    def build(self, name: str):
        """Call registry builder ``name`` on the run's input directory
        and fetch its result."""
        q = self.registry[name]
        layer = _layer_of(q.fn.__module__)
        with self.tracer.span(f"{layer}.{name}"):
            with self.tracer.span(f"{layer}.build"):
                df = q.fn(self.spark, self.data_dir)
            return self.fetch(df, layer)

    # ---- session lifecycle ----

    def start_session(self):
        """Start as a new process would: re-import the engine's modules
        (a traced run wraps them again), start a session through
        ``get_spark`` (launching the JVM if none runs) and load the
        registry."""
        self.tracer.restore()
        for name in [m for m in sys.modules if m == "walden_spark" or m.startswith("walden_spark.")]:
            del sys.modules[name]
        _instrument(self)
        from walden_spark.registry import load_all
        from walden_spark.session import get_spark

        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{self.nproc}]",
            shuffle_partitions=self.nproc,
            warehouse_dir=self.warehouse,
            extra_conf={
                "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.streams.addListener(self.progress.listener())
        self.registry = load_all()


def _layer_of(module: str) -> str:
    parts = module.split(".")
    if len(parts) > 1 and parts[1] in ("operators", "functions", "streaming"):
        return parts[1]
    return "queries"


def _instrument(run: Run) -> None:
    """Traced runs only: wrap the engine's public entry points."""
    if not run.tracer.enabled:
        return
    import walden_spark.catalog as catalog
    import walden_spark.registry as registry
    import walden_spark.session as session
    import walden_spark.timetravel as timetravel

    t = run.tracer
    t.wrap(session, "get_spark", "session.start")
    t.wrap(registry, "load_all", "session.load_all")
    dml = ("DELETE", "MERGE", "UPDATE", "INSERT")
    t.wrap(
        session.WaldenSession, "sql", None,
        lambda self, q, *a: "session.dml" if q.lstrip().upper().startswith(dml) else "session.sql",
    )
    vt = timetravel.VersionedTable
    for name in ("append", "upsert_keys", "delete_keys", "delete_where", "merge_into"):
        t.wrap(vt, name, f"timetravel.commit.{name}")
    for name in ("maybe_compact", "maybe_compact_manifests", "expire_versions"):
        t.wrap(vt, name, f"timetravel.maintenance.{name}")
    for name in ("read", "scan", "read_changes"):
        t.wrap(vt, name, f"timetravel.resolve.{name}")
    t.wrap(vt, "write", "timetravel.write")
    for name in ("merge_into", "delete_where"):
        t.wrap(catalog.Catalog, name, f"catalog.cow.{name}")


def _percentile(xs: list[float], q: float) -> float:
    import numpy as np

    return float(np.percentile(xs, q)) if xs else 0.0


def _mean(xs: list[float]) -> float:
    return sum(xs) / len(xs) if xs else 0.0


class _Clients:
    """Closed-loop client threads. The workload's plan is a seeded
    sequence of op rounds; the threads take the ops of a round in order
    from a shared queue, and a thread starts its next op only after its
    previous one finished.

    Only the engine's work is measured. A round's inputs are built
    (``prepare_round``) before its clock starts; the bookkeeping a
    workload does between its ops (``record``, single-client workloads
    only) runs with the tracer paused and outside the op's job group,
    and its wall and CPU time are taken out of the window; results are
    checked (``check``) after the window."""

    def __init__(self, run: Run, wl, n_threads: int):
        self.run, self.wl, self.n = run, wl, n_threads
        self.results: list[tuple] = []  # (latency_s, spec, result, error)
        self.records: list[tuple] = []  # (latency_s, ok, kind), after check_all
        self.lock = threading.Lock()
        self.n_done = 0
        self.errors: list[str] = []
        self.record_s = self.record_cpu_s = 0.0
        if hasattr(wl, "record") and n_threads != 1:
            raise ValueError("a workload with a record hook must have one client")

    def _one(self, thread: int, spec, timed: bool) -> None:
        run, wl = self.run, self.wl
        sc = run.spark.sparkContext
        op_id = f"t{thread}-{spec['i']}-{spec['op']}"
        traced = run.tracer.enabled
        if traced:
            sc.setJobGroup(op_id, spec["op"])
        result, error = None, None
        t0 = time.perf_counter()
        try:
            with run.tracer.span("client.op", op=op_id):
                result = wl.execute(run, spec)
        except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
            error = f"{op_id}: {type(e).__name__}: {str(e)[:300]}"
        latency = time.perf_counter() - t0
        if traced:
            sc.setJobGroup("perfbench-idle", "")
            run.sstats.collect(sc, op_id)
        with self.lock:
            self.n_done += timed
            corrupt = timed and self.n_done == run.args.corrupt
        if corrupt and error is None:
            result = wl.corrupt(result)
        if error is None and hasattr(wl, "record"):
            w0, c0 = time.perf_counter(), time.thread_time()
            try:
                with run.tracer.paused():
                    wl.record(run, spec, result)
            except Exception as e:  # noqa: BLE001
                error = f"{op_id}: record: {type(e).__name__}: {str(e)[:300]}"
            self.record_s += time.perf_counter() - w0
            self.record_cpu_s += time.thread_time() - c0
        if timed:
            with self.lock:
                self.results.append((latency, spec, result, error))
        elif not self._ok(spec, result, error):
            self.errors.append(error or f"warm-up op {op_id} returned a wrong result")

    def _ok(self, spec, result, error) -> bool:
        if error is not None:
            return False
        try:
            return bool(self.wl.check(self.run, spec, result))
        except Exception as e:  # noqa: BLE001
            self.errors.append(f"check of {spec['i']}: {type(e).__name__}: {str(e)[:300]}")
            return False

    def warm_up(self) -> None:
        """Untimed pass over the first ``WARMUP`` ops of round 0. Round 0
        lists the op kinds in a fixed order, so every seed warms up the
        same kinds."""
        ops = next(self.wl.plan(self.run))[: self.wl.WARMUP]
        if hasattr(self.wl, "prepare_round"):
            self.wl.prepare_round(self.run, ops)
        for spec in ops:
            self._one(0, dict(spec, thread=0), False)

    def _drain(self, thread: int, queue: collections.deque) -> None:
        while True:
            with self.lock:
                if not queue:
                    return
                spec = dict(queue.popleft(), thread=thread)
            self._one(thread, spec, True)

    def measure(self, rounds: int) -> list[tuple[int, float, float]]:
        """Run ``rounds`` whole rounds after round 0, the warm-up's.
        Whole rounds keep the op mix of every run the same whatever the
        seed or the speed. Returns (ops, wall s, CPU s) of each round."""
        import probes

        run = self.run
        run.sstats = probes.SparkStats()  # set-up and warm-up ops do not count
        run.counters.clear()
        run.samples.clear()
        run.tracer.overhead_s = 0.0
        run.window_start = time.perf_counter()
        pid = os.getpid()
        plan = self.wl.plan(run)
        next(plan)
        out = []
        for _ in range(rounds):
            ops = next(plan)
            if hasattr(self.wl, "prepare_round"):
                self.wl.prepare_round(run, ops)
            queue = collections.deque(ops)
            threads = [
                threading.Thread(target=self._drain, args=(i, queue), daemon=True)
                for i in range(self.n)
            ]
            self.record_s = self.record_cpu_s = 0.0
            cpu0, t0 = probes.cpu_seconds(pid), time.perf_counter()
            for th in threads:
                th.start()
            for th in threads:
                th.join()
            out.append((
                len(ops),
                time.perf_counter() - t0 - self.record_s,
                probes.cpu_seconds(pid) - cpu0 - self.record_cpu_s,
            ))
        run.tracer.enabled = False  # the checks after the window are not traced
        return out

    def check_all(self) -> None:
        """Check every timed op's result, after the window."""
        for latency, spec, result, error in self.results:
            if error is not None:
                self.errors.append(error)
            self.records.append((latency, self._ok(spec, result, error), spec["kind"]))


def _stop_processes(run: Run) -> None:
    """Stop Spark, the JVM and its Python workers, and wait for them."""
    import probes

    if run.spark is None:
        return
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    kids = probes.descendants(os.getpid())
    run.spark.stop()
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 - best effort; the process wait follows
        pass
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 20
    alive = list(kids)
    while alive and time.time() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}") and not _zombie(p)]
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, 9)
        except OSError:
            pass
    SparkContext._gateway = None
    SparkContext._jvm = None
    run.spark = None


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


def main(argv=None) -> int:
    args = _args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "walden_spark", "__init__.py")):
        print("perfbench: run from the repository root (walden_spark/ not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    sys.path.insert(1, root)
    wl = importlib.import_module(f"workloads.{args.workload}")
    if args.plan_only:
        plan = wl.plan(types.SimpleNamespace(args=args))
        for _ in range(3):
            print(json.dumps(next(plan), sort_keys=True))
        return 0

    base = os.path.join(root, ".perfbench_work")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=base)
    try:
        env = _pin_environment(work)
        os.chdir(work)  # derby.log / spark-warehouse land in the run dir
        result = _run(args, root, work, env, wl)
    finally:
        os.chdir(root)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass
    print(json.dumps({"env": env, "loadavg": os.getloadavg()}))
    print(json.dumps(result))
    return 0


def _phase(name: str, t0: float) -> float:
    now = time.perf_counter()
    print(f"perfbench: {name} {now - t0:.2f}s", file=sys.stderr)
    return now


def _run(args, root: str, work: str, env: dict, wl) -> dict:
    import probes

    run = Run(args, work, env["nproc"])
    t_inputs = time.perf_counter()
    wl.make_inputs(run)
    inputs_s = _phase("inputs", t_inputs) - t_inputs

    setups = []
    try:
        # Each set-up imports the engine's modules anew, starts a session,
        # loads the registry, registers the inputs and runs the first op.
        # The first also launches the JVM; the others reuse it, because
        # two more JVM launches would add 10-30 s to every run. The run
        # goes on with the last session.
        for rep in range(SETUP_REPS):
            if run.spark is not None:
                run.spark.stop()
            t0 = time.perf_counter()
            run.start_session()
            wl.register(run, rep)
            wl.first_op(run)
            setups.append(_phase(f"setup {rep}", t0) - t0)

        clients = _Clients(run, wl, min(wl.THREADS, run.nproc))
        t_warm = time.perf_counter()
        clients.warm_up()
        warmup_s = _phase("warm-up", t_warm) - t_warm

        pid = os.getpid()
        jvm_pid = int(run.spark.sparkContext._jvm.ProcessHandle.current().pid())
        with probes.RssSampler([pid, jvm_pid]) as rss:
            rounds = clients.measure(max(1, round(args.seconds / wl.ROUND_S)))
        wall = sum(r[1] for r in rounds)
        print("perfbench: rounds (ops, wall s, cpu s) " + json.dumps(rounds), file=sys.stderr)
        t_fin = time.perf_counter()
        clients.check_all()
        final_ok, extra = wl.finish(run)
        _phase("checks", t_fin)
        rss_py, rss_jvm = probes.peak_rss_mb(pid), probes.peak_rss_mb(jvm_pid)
    finally:
        run.tracer.restore()
        t_stop = time.perf_counter()
        _stop_processes(run)
        _phase("teardown", t_stop)
    tmp_left = probes.dir_mb(os.path.join(work, "tmp")) + probes.dir_mb(os.environ["SPARK_LOCAL_DIRS"])

    for e in clients.errors[:5]:
        print(f"perfbench: {e}", file=sys.stderr)
    recs = clients.records
    lat = [r[0] for r in recs]
    attempted = max(1, len(recs))
    failed = sum(1 for r in recs if not r[1]) + (0 if final_ok else 1)
    correct = failed == 0 and not clients.errors

    if not args.trace:
        metrics = {
            "setup_s": (statistics.median(setups), "s"),
            "ops_per_s": (statistics.median(n / w for n, w, _ in rounds), "1/s"),
            "latency_p50_s": (_percentile(lat, 50), "s"),
            "ok_frac": ((attempted - failed) / attempted, "frac"),
            "cpu_s_per_op": (statistics.median(c / n for n, _, c in rounds), "s"),
            "space_amp": (extra.get("space_amp", 1.0), "ratio"),
        }
    else:
        metrics = _layer_metrics(run, clients, wall, extra)
        metrics.update({
            "proc.jvm_peak_rss_mb": (rss_jvm, "MB"),
            "proc.py_peak_rss_mb": (rss_py, "MB"),
            "proc.rss_p50_mb": (statistics.median(rss.samples), "MB"),
            "proc.tmp_mb_left": (tmp_left, "MB"),
            "proc.cold_setup_s": (setups[0], "s"),
            "proc.warmup_s": (warmup_s, "s"),
            "proc.inputs_s": (inputs_s, "s"),
        })
        run.tracer.dump(os.path.join(
            root, ".perfbench_traces", f"{args.workload}-seed{args.seed}.jsonl"
        ))
    return {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }


def _layer_metrics(run: Run, clients: _Clients, wall: float, extra: dict) -> dict:
    t, w0 = run.tracer, run.window_start
    n_ops = max(1, len(clients.records))
    c = run.counters
    m = {
        "session.start_s": (statistics.median(t.durations("session.start") or [0.0]), "s"),
        "session.load_all_s": (statistics.median(t.durations("session.load_all") or [0.0]), "s"),
        "session.sql_s": (_mean(t.durations("session.sql", w0)), "s"),
        "session.sql_calls": (len(t.durations("session.sql", w0)) + len(t.durations("session.dml", w0)), "count"),
        "session.dml_s": (_mean(t.durations("session.dml", w0)), "s"),
        "queries.build_s": (_mean(t.durations("queries.build", w0)), "s"),
        "queries.exec_s": (_mean(t.durations("queries.exec", w0)), "s"),
        "queries.calls": (len(t.durations("queries.build", w0)), "count"),
        "queries.rows_out": (c.get("queries.rows_out", 0), "count"),
    }
    s = run.sstats.totals
    for k in run.sstats.FIELDS:
        unit = "count" if k in ("jobs", "stages", "tasks", "failed_tasks") else ("MB" if k.endswith("_mb") else "s")
        m[f"spark.{k}"] = (s[k], unit)
    m["spark.busy_frac"] = (s["task_run_s"] / (wall * run.nproc), "frac")
    for name in ("append", "upsert_keys", "delete_keys", "delete_where", "merge_into"):
        m[f"timetravel.commit_s.{name}"] = (_mean(t.durations(f"timetravel.commit.{name}", w0)), "s")
    m["timetravel.commit_s.maintenance"] = (_mean(t.durations("timetravel.maintenance", w0)), "s")
    m["timetravel.commits"] = (
        len(t.durations("timetravel.write", w0)) - t.errors("timetravel.write", "ConcurrentWriteError", w0),
        "count",
    )
    m["timetravel.conflicts"] = (t.errors("timetravel.write", "ConcurrentWriteError", w0), "count")
    m["timetravel.resolve_s"] = (_mean(t.durations("timetravel.resolve", w0)), "s")
    m["timetravel.read_exec_s"] = (_mean(t.durations("timetravel.exec", w0)), "s")
    m["catalog.cow_s"] = (_mean(t.durations("catalog.cow", w0)), "s")
    m["catalog.calls"] = (len(t.durations("catalog.cow", w0)), "count")
    for op in OPERATOR_OPS:
        m[f"operators.{op}.s"] = (_mean(t.durations(f"operators.{op}", w0)), "s")
    m["operators.pairs_out"] = (c.get("operators.pairs_out", 0), "count")
    m["functions.pandas_udf_s"] = (_mean(t.durations("functions.udf_pandas_scalar", w0)), "s")
    m["streaming.mor_upsert.s"] = (_mean(t.durations("streaming.streaming_mor_upsert", w0)), "s")
    batches = [b for b in run.progress.batches if b["t"] >= w0]
    durs = [b["duration_s"] for b in batches]
    m["streaming.batches"] = (len(batches), "count")
    m["streaming.batch_s"] = (_mean(durs), "s")
    m["streaming.batch_p50_s"] = (statistics.median(durs) if durs else 0.0, "s")
    m["streaming.input_rows"] = (sum(b["input_rows"] for b in batches), "count")
    kinds: dict[str, list[float]] = {}
    for lat, _, kind in clients.records:
        kinds.setdefault(kind, []).append(lat)
    lat = [r[0] for r in clients.records]
    m["ops.latency_p90_s"] = (_percentile(lat, 90), "s")
    m["ops.count"] = (len(lat), "count")
    m["ops.per_s"] = (len(lat) / wall, "1/s")
    m["ops.commit_p50_s"] = (_percentile(kinds.get("commit", []), 50), "s")
    m["ops.read_p50_s"] = (_percentile(kinds.get("read", []), 50), "s")
    for key in ("timetravel.layers_at_read", "timetravel.scan_files_kept_frac"):
        m[key] = (_mean(run.samples.get(key, [])), "count" if "layers" in key else "frac")
    for key, unit in (
        ("timetravel.table_mb", "MB"), ("timetravel.versions", "count"),
        ("catalog.table_mb", "MB"), ("operators.dedup_recall", "frac"),
    ):
        m[key] = (extra.get(key, 0.0), unit)
    for layer, secs in t.self_times(w0).items():
        m[f"self.{layer}_s"] = (secs / n_ops, "s")
    m["trace.overhead_frac"] = ((t.overhead_s + run.sstats.read_s) / wall, "frac")
    m["trace.spans"] = (len(t.spans), "count")
    return m


OPERATOR_OPS = (
    "text_quality_filter_per_source", "dedup_exact", "dedup_minhash_lsh",
    "dedup_simhash", "dedup_embedding_lsh", "ann_ivf_probe",
)


if __name__ == "__main__":
    sys.exit(main())

"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload migrate --seed 1 --seconds 14 --trace 0

Run from the repository root.  Each run generates its inputs from
``--seed`` into a private directory under ``.perfbench/`` (also the run's
TMPDIR, Spark local dir and JVM temp dir), starts one Spark session on
``local[<cores>]`` with the engine's default configuration, warms up,
issues timed requests until ``--seconds`` of request time is measured,
checks every output, and deletes the directory.

The last stdout line is the result: ``{"correct", "attempted", "failed",
"metrics"}``.  ``--trace 0`` reports the end-to-end metrics, ``--trace 1``
the per-layer ``<module>.<measure>`` metrics.  The line before it holds the
run's context (commit, cores, master, versions, seed, host probe) and
workload details (figures such as ``index_build_s`` and ``error_rate``, and
latency percentiles where enough samples exist).
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from collections import defaultdict  # noqa: E402

import layers  # noqa: E402
import workloads  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "sqlite_to_clickhouse_spark"

WORKLOADS = {w.name: w for w in (workloads.Migrate, workloads.IndexServing)}

END_TO_END = {
    "setup_s": "s",
    "requests_per_s": "1/s",
    "rows_per_s": "1/s",
}

_COUNTS = ("jobs", "tasks")
_BYTES = ("shuffle_bytes", "spill_bytes", "python_bytes")


def _unit(measure: str) -> str:
    return "count" if measure in _COUNTS else "B" if measure in _BYTES else "s"


_CALL = ("construct_s", "plan_s", "execute_s", "jobs", "tasks")
_KERNEL = _BYTES + ("python_run_s",)
# Modules of the ops the migrate workload runs (workloads.Migrate.OPS).
OP_MODULES = ("operators.relational", "operators.joins", "operators.windows",
              "operators.tpch_extra", "streaming.ops")
PER_LAYER = {
    **{f"{mod}.{m}": _unit(m) for mod in OP_MODULES for m in _CALL},
    **{f"operators.similarity.{m}": _unit(m) for m in _CALL + _KERNEL + (
        "build_s", "query_s", "append_s", "delete_s", "compact_s")},
    **{f"operators.entity.{m}": _unit(m) for m in _CALL + _KERNEL + (
        "build_s", "match_s", "append_s", "delete_s", "compact_s")},
    **{f"operators.dedup.{m}": _unit(m) for m in _CALL + _KERNEL + (
        "build_s", "lookup_s", "append_s", "delete_s", "compact_s")},
    **{f"migrate.{m}": _unit(m) for m in ("migrate_s", "dedup_s", "jobs", "tasks") + _KERNEL},
    "sources.sqlite.extract_s": "s",
    "sources.sinks.write_s": "s",
    "sources.sinks.files": "count",
    "sources.sinks.bytes_per_row": "B",
    "io.manifest_versions": "count",
    "io.data_files": "count",
    "io.tombstone_rows": "count",
    "session.start_s": "s",
    "session.warmup_s": "s",
    "session.persisted_rdds": "count",
    "session.tmp_entries": "count",
    "session.peak_rss_mb": "MB",
    "trace.overhead_s": "s",
    "trace.requests_per_s": "1/s",
}


class Run:
    """Bookkeeping for one run: timed calls grouped into requests, output
    failures, and the per-layer tracer.

    Each request belongs to a class (an analytics op, a migration, an
    ingest batch with or without a delete).  Rates use the median request
    time of each class, weighted by how often the class occurs in one round
    of the workload's mix (``mix``, 1 when absent), so one slow request (a
    GC pause, a late JIT compile) does not move them and a window that ends
    mid-round weights no class twice."""

    def __init__(self, tracer, seconds: float, traced: bool, run_dir: str):
        self.tracer = tracer
        self.seconds = seconds
        self.traced = traced
        self.run_dir = run_dir
        self.measured = 0.0  # request seconds so far
        self.requests = 0
        self.by_class = defaultdict(list)  # class -> [(seconds, items)]
        self.mix = {}  # class -> requests of that class per round
        self.latency = defaultdict(list)  # call kind -> [seconds]
        self.failed = set()  # request ids with an error or a failed check
        self.errors = []
        self.layers = {}
        self.gauges = {}
        self.detail = {}
        self._rid = -1
        self._class = None
        self._t0 = 0.0

    def begin_request(self, klass: "str | None") -> int:
        """Start a request; ``klass=None`` keeps it out of the rates (a
        once-per-run step such as a compaction)."""
        self._rid = self.requests
        self.requests += 1
        self._class = klass
        self._t0 = self.measured
        return self._rid

    def end_request(self, items: int) -> None:
        if self._class is not None:
            self.by_class[self._class].append((self.measured - self._t0, items))

    def rates(self) -> "tuple[float, float]":
        """(requests per second, rows per second) over one round of the
        mix, each class at its median request time."""
        cost = rows = count = 0.0
        for klass, v in self.by_class.items():
            w = self.mix.get(klass, 1)
            cost += w * statistics.median(t for t, _n in v)
            rows += w * statistics.median(n for _t, n in v)
            count += w
        if cost <= 0:
            return 0.0, 0.0
        return count / cost, rows / cost

    def fail(self, rid: int, why: str) -> None:
        self.failed.add(rid)
        if len(self.errors) < 20:
            self.errors.append(f"request {rid}: {why}"[:400])

    def call(self, kind: str, module: str, label: str, thunk, verb: "str | None" = None):
        """Time one call of the current request.  ``thunk`` returns
        (output, {phase: seconds} or None).  Returns (request id, output),
        the output None when the call raised."""
        self.tracer.begin(label)
        t0 = time.perf_counter()
        try:
            out, phases = thunk()
        except Exception as ex:  # noqa: BLE001 — counted, reported, run goes on
            out, phases = None, None
            traceback.print_exc()
            self.fail(self._rid, f"{label} raised {ex!r}")
        took = time.perf_counter() - t0
        self.measured += took
        self.latency[kind].append(took)
        phases = dict(phases or {})
        if verb:
            phases[verb] = took
        self.tracer.end(module, phases)
        return self._rid, out

    def request(self, klass, kind, module, label, thunk, *, items, verb=None):
        """A request made of one call; ``items`` may be a function of the
        output."""
        self.begin_request(klass)
        rid, out = self.call(kind, module, label, thunk, verb)
        if out is None:
            items = 0
        self.end_request(items(out) if callable(items) else items)
        return rid, out


def _peak_rss_mb(pids) -> float:
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024.0


def _reset_peak_rss() -> None:
    """Start the peak-RSS count after input generation (Linux: writing 5
    to clear_refs resets VmHWM)."""
    try:
        with open("/proc/self/clear_refs", "w") as fh:
            fh.write("5")
    except OSError:
        pass


def _source_digest() -> str:
    h = hashlib.sha256()
    for base, dirs, files in sorted(os.walk(os.path.join(ROOT, PACKAGE))):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(base, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def _commit() -> "str | None":
    """HEAD of the repository this checkout is, or None when it is not a
    git work tree of its own (the source digest identifies it then)."""
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "--show-toplevel", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    lines = out.stdout.splitlines()
    if out.returncode != 0 or len(lines) != 2 or os.path.realpath(lines[0]) != os.path.realpath(ROOT):
        return None
    return lines[1]


def _isolate(run_dir: str) -> dict:
    """Point every temp location at the run directory and pin the session
    configuration to the engine's defaults."""
    paths = {k: os.path.join(run_dir, k) for k in ("tmp", "local", "jvmtmp", "warehouse")}
    for p in paths.values():
        os.makedirs(p, exist_ok=True)
    os.environ["TMPDIR"] = paths["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = paths["local"]
    os.environ["TZ"] = "UTC"
    time.tzset()
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    for k in ("SPARK_GRAFT_SHUFFLE_PARTITIONS", "SPARK_GRAFT_DRIVER_MEM"):
        os.environ.pop(k, None)
    paths["cores"] = cores
    return paths


def _shutdown(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except (Py4JError, OSError):  # the JVM may already be going away
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _remove_run_dir(run_dir: str) -> None:
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(run_dir))  # .perfbench/, once no run uses it
    except OSError:
        pass


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ package next to {HERE}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    run_dir = os.path.join(ROOT, ".perfbench", f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    paths = _isolate(run_dir)
    spark = None
    try:
        work = WORKLOADS[args.workload]()
        t_gen = time.perf_counter()
        work.prepare(run_dir, args.seed)
        gen_s = time.perf_counter() - t_gen
        _reset_peak_rss()

        from sqlite_to_clickhouse_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark(
            f"perfbench-{args.workload}",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                # -XX:-UsePerfData: no hsperfdata file in /tmp
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={paths['jvmtmp']} -XX:-UsePerfData",
                "spark.sql.warehouse.dir": paths["warehouse"],
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(1).collect()
        start_s = time.perf_counter() - t0
        tracer = layers.Tracer(spark, args.trace == 1)
        run = Run(tracer, args.seconds, args.trace == 1, run_dir)
        t1 = time.perf_counter()
        work.warm_up(spark, run)
        warmup_s = time.perf_counter() - t1
        setup_s = time.perf_counter() - T_START - gen_s
        tracer.skip()

        work.serve(spark, run)

        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        peak_rss_mb = _peak_rss_mb([os.getpid(), jvm_pid])
        run.gauges.setdefault("session.persisted_rdds", len(spark.sparkContext._jsc.getPersistentRDDs()))
        run.gauges.setdefault("session.tmp_entries", len(os.listdir(paths["tmp"])))
        work.verify(run)

        import bench

        sc = spark.sparkContext
        context = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "commit": _commit(),
            "source_digest": _source_digest(),
            "nproc": paths["cores"],
            "default_parallelism": sc.defaultParallelism,
            "master": sc.master,
            "pyspark": __import__("pyspark").__version__,
            "java": spark._jvm.java.lang.System.getProperty("java.version"),
            "host_probe_s": bench.host_speed_probe(),
        }
    except BaseException:
        if spark is not None:
            _shutdown(spark)
        _remove_run_dir(run_dir)
        raise
    _shutdown(spark)
    _remove_run_dir(run_dir)

    requests_per_s, rows_per_s = run.rates()
    if args.trace:
        values = {k: 0.0 for k in PER_LAYER}
        values.update(tracer.means())
        values.update(run.layers)
        values.update(run.gauges)
        values["session.start_s"] = start_s
        values["session.warmup_s"] = warmup_s
        values["session.peak_rss_mb"] = peak_rss_mb
        values["trace.overhead_s"] = tracer.overhead_s / max(1, run.requests)
        values["trace.requests_per_s"] = requests_per_s
        metrics = {k: {"value": float(values[k]), "unit": u} for k, u in PER_LAYER.items()}
    else:
        values = {"setup_s": setup_s, "requests_per_s": requests_per_s, "rows_per_s": rows_per_s}
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}

    detail = dict(run.detail)
    detail.update({
        "error_rate": len(run.failed) / max(1, run.requests),
        "measured_s": run.measured,
        "input_gen_s": gen_s,
        "peak_rss_mb": peak_rss_mb,
        "session_start_s": start_s,
        "warmup_s": warmup_s,
        "errors": run.errors,
    })
    for kind, lat in sorted(run.latency.items()):
        detail[f"{kind}_s"] = [round(x, 4) for x in lat]
        detail[f"{kind}_p50_s"] = layers.percentile(lat, 0.5)
        detail[f"{kind}_p90_s"] = layers.percentile(lat, 0.9)
    print(json.dumps({"context": context, "detail": detail}))
    if run.requests == 0:  # nothing measured is a failed run, not an empty one
        run.fail(0, "no request completed")
    print(json.dumps({
        "correct": not run.failed,
        "attempted": max(1, run.requests),
        "failed": len(run.failed),
        "metrics": metrics,
    }))
    sys.stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())

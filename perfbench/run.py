"""Repository benchmark: one workload, one ``local[nproc]`` SparkSession.

    python3 perfbench/run.py --workload cron_increments --seed 1 --seconds 25 --trace 0

Set-up (session start, seeded input generation, warehouse pre-load,
warm-up) is untimed and reported as ``setup_s``. The timed phase is a
closed loop with one client for ``--seconds``; outputs are then checked
against a DuckDB recomputation. ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` enables the Spark event log and layer spans and
prints the per-layer metrics. The last stdout line is the result JSON; the
line before it describes the host, code and run. See perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TMP_BASE = os.path.join(REPO, ".perfbench_tmp")
#: an operation during which the hypervisor took more than this share of
#: the machine's CPU time (steal in /proc/stat) is disturbed
STEAL_MAX = 0.03
#: disturbed operations are re-run while no undisturbed one exists and the
#: timed phase is shorter than this many times --seconds
RETRY_SPAN = 2

END_TO_END = {
    "setup_s": "s",
    "op_s_p50": "s",
}

PER_LAYER = {
    "parse.busy_s": "s",
    "transform.busy_s": "s",
    "parse.rows_invalid": "count",
    "catalog.routed_write_s": "s",
    "catalog.promote_s": "s",
    "catalog.files_written": "count",
    "catalog.bytes_written": "bytes",
    "catalog.storage_amp": "bytes/byte",
    "checkpoint.read_s": "s",
    "checkpoint.mark_s": "s",
    "aggregate.partials_s": "s",
    "aggregate.input_rows": "count",
    "compact.s": "s",
    "compact.buckets": "count",
    "summary.rebuild_s": "s",
    "metrics.flush_s": "s",
    "increment.s_p50": "s",
    "report.ms_p50": "ms",
    "report.view_ms.request": "ms",
    "report.view_ms.trend": "ms",
    "report.view_ms.error": "ms",
    "report.view_ms.error_pivot": "ms",
    "report.view_ms.detail": "ms",
    "report.view_ms.ip": "ms",
    "report.bytes_read": "bytes",
    "report.jobs_per_view": "count",
    "dedup.shingle_s": "s",
    "dedup.bucket_s": "s",
    "dedup.verify_s": "s",
    "dedup.candidates": "count",
    "dedup.pairs": "count",
    "dedup.verified_ratio": "ratio",
    "dedup.skipped_buckets": "count",
    "dedup.recall": "ratio",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.cpu_busy_ratio": "ratio",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.gc_s": "s",
    "trace.overhead_s": "s",
}


class Context:
    def __init__(self, args, spark, tmp, tracer, cores) -> None:
        self.seed = args.seed
        self.seconds = args.seconds
        self.scale = args.scale
        self.spark = spark
        self.tmp = tmp
        self.tracer = tracer
        self.cores = cores
        self.captured: dict = {}
        self.setup_phases: dict[str, float] = {}
        self._mark = time.perf_counter()

    def phase(self, name: str) -> None:
        """Record the set-up time spent since the previous phase ended."""
        now = time.perf_counter()
        self.setup_phases[name] = round(now - self._mark, 3)
        self._mark = now


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input size factor (the smoke test runs at 0.01)")
    return p.parse_args(argv)


def code_identity() -> dict:
    """Git commit when run inside a work tree, plus a digest of the package
    sources (a benchmark checkout need not be a git repository)."""
    h = hashlib.sha256()
    for root in ("abs_log_spark", "jobs"):
        for dirpath, dirs, files in sorted(os.walk(os.path.join(REPO, root))):
            dirs.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    with open(os.path.join(dirpath, f), "rb") as fh:
                        h.update(fh.read())
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=REPO, capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except (OSError, subprocess.TimeoutExpired):
        commit = None
    return {"git_commit": commit, "source_sha256": h.hexdigest()[:16]}


def _children(pid: int) -> list[int]:
    try:
        with open(f"/proc/{pid}/task/{pid}/children") as f:
            kids = [int(x) for x in f.read().split()]
    except OSError:
        return []
    return kids + [g for k in kids for g in _children(k)]


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every live descendant
    (the JVM and its Python workers), including their reaped children."""
    total = 0
    for pid in [os.getpid()] + _children(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / os.sysconf("SC_CLK_TCK")


def host_steal() -> tuple[int, int]:
    """(steal, total) clock ticks of all CPUs so far, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def _alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and its Python workers, and wait
    until every one of them has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    tree = _children(proc.pid) if proc else []
    spark.stop()
    if proc is None:
        return
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 20
    for pid in tree:
        while _alive(pid):
            if time.time() > deadline:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            time.sleep(0.05)


def spark_layers(traced, jobs, spans, cores) -> dict:
    """Spark counters of the jobs submitted inside each traced operation
    (median over operations), and the report-span share of them."""
    from perfbench.workloads import med

    def jobs_in(t0, t1):
        return [j for j in jobs if t0 <= j.submitted <= t1]

    per = [jobs_in(o["t0"], o["t1"]) for o in traced]
    out = {
        "spark.jobs": med(len(js) for js in per),
        "spark.tasks": med(sum(j.tasks for j in js) for js in per),
        "spark.cpu_busy_ratio": med(
            sum(j.cpu_s for j in js) / (o["wall"] * cores) for o, js in zip(traced, per)
        ),
        "spark.shuffle_write_bytes": med(sum(j.shuffle_write_bytes for j in js) for js in per),
        "spark.shuffle_read_bytes": med(sum(j.shuffle_read_bytes for j in js) for js in per),
        "spark.spill_bytes": med(sum(j.spill_bytes for j in js) for js in per),
        "spark.gc_s": med(sum(j.gc_s for j in js) for js in per),
    }
    views = [s for s in spans if s.name.startswith("report:")]
    if views:
        vj = [jobs_in(s.t0, s.t1) for s in views]
        out["report.bytes_read"] = sum(j.input_bytes for js in vj for j in js) / len(views)
        out["report.jobs_per_view"] = sum(len(js) for js in vj) / len(views)
    return out


def span_table(spans, jobs) -> dict:
    """Per span name: count, total and self seconds, and the jobs, tasks
    and executor CPU seconds attributed to it (innermost open span)."""
    from perfbench.tracing import innermost, self_time

    table: dict = {}
    for s in spans:
        row = table.setdefault(s.name, {"n": 0, "total_s": 0.0, "self_s": 0.0,
                                        "jobs": 0, "tasks": 0, "cpu_s": 0.0})
        row["n"] += 1
        row["total_s"] += s.dur
        row["self_s"] += self_time(s, spans)
    for j in jobs:
        s = innermost(spans, j.submitted)
        if s is not None:
            row = table[s.name]
            row["jobs"] += 1
            row["tasks"] += j.tasks
            row["cpu_s"] += j.cpu_s
    return {k: {f: round(v, 4) if isinstance(v, float) else v for f, v in r.items()}
            for k, r in sorted(table.items())}


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, REPO)
    # the package under test: a checkout without it fails here, before any
    # process is started or file written
    import pyspark
    import pyarrow
    import duckdb

    from abs_log_spark.session import get_spark
    from perfbench.tracing import Tracer, layer_patches, read_event_log
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    os.makedirs(TMP_BASE, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=TMP_BASE)
    spark = None
    try:
        for d in ("local", "tmp", "events"):
            os.makedirs(os.path.join(tmp, d))
        # Python workers import the package from this checkout; every
        # scratch file of the JVM and the workers stays under tmp
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (REPO, os.environ.get("PYTHONPATH")) if p)
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
        os.environ["TMPDIR"] = os.path.join(tmp, "tmp")
        os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
        confs = {
            "spark.local.dir": os.path.join(tmp, "local"),
            "spark.sql.warehouse.dir": os.path.join(tmp, "spark-warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(tmp, 'tmp')}",
            "spark.driver.memory": "2g",
        }
        if args.trace:
            confs.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(tmp, "events"),
                "spark.eventLog.compress": "false",
            })
        master = f"local[{cores}]"
        spark = get_spark(app_name=f"perfbench:{args.workload}", master=master,
                          extra_confs=confs)
        tracer = Tracer()
        ctx = Context(args, spark, tmp, tracer, cores)
        ctx.setup_phases["session"] = round(ctx._mark - T_START, 3)
        wl = WORKLOADS[args.workload](ctx)
        wl.setup()
        setup_s = time.perf_counter() - T_START

        ops, attempted, failed, failures = [], 0, 0, []
        df_cls = type(spark.range(1))
        t_phase = time.perf_counter()
        # a traced run alternates untraced and traced operations, untraced
        # first, so it compares both kinds and no traced one runs cold
        min_ops = 2 if args.trace else 1

        def more() -> bool:
            elapsed = time.perf_counter() - t_phase
            if attempted < min_ops or elapsed < args.seconds:
                return True
            return (all(o["disturbed"] for o in ops)
                    and elapsed < RETRY_SPAN * args.seconds)

        while wl.has_next(attempted) and more():
            traced = bool(args.trace) and attempted % 2 == 1
            tracer.enabled = traced
            c0, s0 = tree_cpu_s(), host_steal()
            t0, p0 = time.time(), time.perf_counter()
            try:
                if traced:
                    with layer_patches(tracer, df_cls, ctx.captured), tracer.span("op"):
                        rec = wl.op(attempted)
                else:
                    rec = wl.op(attempted)
            except Exception:
                failed += 1
                failures.append(traceback.format_exc(limit=3))
                traceback.print_exc()
                rec = None
            finally:
                tracer.enabled = False
                attempted += 1
            if rec is None:
                continue
            s1 = host_steal()
            steal = (s1[0] - s0[0]) / max(s1[1] - s0[1], 1)
            rec.update(t0=t0, t1=time.time(), wall=time.perf_counter() - p0,
                       cpu=tree_cpu_s() - c0, steal=steal, disturbed=steal > STEAL_MAX,
                       traced=traced)
            if traced:
                wl.after_traced_op(rec)
            failed += len(rec["failures"])
            failures += rec["failures"]
            ops.append(rec)
        timed_s = time.perf_counter() - t_phase

        t_check = time.perf_counter()
        extra = {}
        if ops:
            more, extra = wl.check(ops)
        else:
            more = ["no operation completed"]
        failed += len(more)
        failures += more
        check_s = time.perf_counter() - t_check
        if args.trace and ops:
            extra.update(wl.extra_layers(ops))
        stop_spark(spark)
        spark = None

        walls = [o["wall"] for o in ops] or [0.0]
        # undisturbed operations only, unless every one was disturbed
        kept = [o["wall"] for o in ops if not o["disturbed"]] or walls
        info = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "seconds": args.seconds, "timed_s": round(timed_s, 3),
            "check_s": round(check_s, 3), "scale": args.scale,
            "nproc": cores, "master": master,
            "versions": {"python": sys.version.split()[0], "pyspark": pyspark.__version__,
                         "pyarrow": pyarrow.__version__, "duckdb": duckdb.__version__},
            "code": code_identity(),
            "setup_phases": ctx.setup_phases, "ops": len(ops), "op_s": [round(w, 4) for w in walls],
            "op_cpu_s": [round(o["cpu"], 2) for o in ops],
            "op_steal": [round(o["steal"], 4) for o in ops],
            "disturbed": sum(o["disturbed"] for o in ops),
            "failed_ratio": failed / max(attempted, 1), "failures": failures[:10],
            "loop": "closed, 1 client",
        }
        if args.trace:
            traced = [o for o in ops if o["traced"]]
            untraced = [o for o in ops if not o["traced"]]
            jobs = read_event_log(os.path.join(tmp, "events"))
            values = dict.fromkeys(PER_LAYER, 0.0)
            values.update(spark_layers(traced, jobs, tracer.spans, cores))
            values.update(wl.layers(ops, traced, tracer.spans))
            values.update(extra)
            if traced and untraced:
                values["trace.overhead_s"] = (
                    statistics.median(o["wall"] for o in traced)
                    - statistics.median(o["wall"] for o in untraced))
            info["spans"] = span_table(tracer.spans, jobs)
            metrics = {k: {"value": float(values[k]), "unit": u} for k, u in PER_LAYER.items()}
        else:
            values = {
                "setup_s": setup_s,
                "op_s_p50": statistics.median(kept),
            }
            metrics = {k: {"value": float(values[k]), "unit": u} for k, u in END_TO_END.items()}
        print(json.dumps(info), flush=True)
        print(json.dumps({"correct": failed == 0 and bool(ops), "attempted": max(attempted, 1),
                          "failed": failed, "metrics": metrics}), flush=True)
        return 0
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(TMP_BASE)
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())

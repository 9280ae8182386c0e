"""The benchmark workloads. Each is a closed loop with one client: the next
operation starts only after the previous one returned.

A workload object is driven by ``run.py`` in four steps: ``setup()``
(inputs, warehouse pre-load, warm-up; untimed), ``op(i)`` repeatedly for
the measured seconds, ``check(ops)`` (DuckDB recomputation, after the
timed phase) and, in a traced run, ``layers(...)`` over the traced
operations' spans.
"""

from __future__ import annotations

import importlib.util
import os
import statistics
import time
from datetime import datetime

from pyspark.sql import functions as F

from abs_log_spark.catalog import Catalog
from abs_log_spark.functions.parse import parse_arrow
from abs_log_spark.operators.dedup import minhash_lsh_pairs
from abs_log_spark.plans.pipeline import run_pipeline, transform
from abs_log_spark.sources.synth import gen_sources_dim
from perfbench import checks
from perfbench.inputs import (
    CORRUPT_EVERY,
    planted_pairs,
    write_cron_input,
    write_documents,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: the --from/--to window of the windowed views (inside the 2 h of data)
WINDOW = (datetime(2024, 1, 1, 0, 30), datetime(2024, 1, 1, 1, 30))
#: the six log_show views every cron cycle serves: (name, view, options,
#: sink, windowed); every sink and both window modes appear in each cycle,
#: so all cycles do the same work
VIEWS = (
    ("request", "request", {}, "sink_a", False),
    ("trend", "trend", {"group_by": "hour"}, "sink_b", True),
    ("error", "error", {}, "sink_c", False),
    ("error_pivot", "error", {"pivot": True}, "sink_a", True),
    ("detail", "detail", {"uri": "/api/user/*/profile"}, "sink_b", False),
    ("ip", "ip", {}, "sink_c", True),
)
MIN_JACCARD = 0.5


def _log_show():
    spec = importlib.util.spec_from_file_location(
        "log_show", os.path.join(REPO, "jobs", "log_show.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def scaled_rows(rows: int, scale: float) -> int:
    """Row counts stay multiples of 1000 so corrupt lines are exact."""
    return max(CORRUPT_EVERY, int(rows * scale) // CORRUPT_EVERY * CORRUPT_EVERY)


def dir_bytes(path: str, newer_than: float = 0.0, suffix: str = "") -> tuple[int, int]:
    """(files, bytes) under ``path`` modified at or after ``newer_than``."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            if not n.endswith(suffix):
                continue
            st = os.stat(os.path.join(root, n))
            if st.st_mtime >= newer_than:
                files += 1
                size += st.st_size
    return files, size


def span_sum(spans, name: str) -> float:
    return sum(s.dur for s in spans if s.name == name)


def spans_within(spans, op: dict) -> list:
    """Spans that opened and closed inside one operation."""
    return [s for s in spans if op["t0"] <= s.t0 and s.t1 <= op["t1"]]


def med(xs) -> float:
    xs = [x for x in xs if x is not None]
    return float(statistics.median(xs)) if xs else 0.0


class Workload:
    name = ""

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.spark = ctx.spark

    def has_next(self, i: int) -> bool:
        return True

    def after_traced_op(self, op: dict) -> None:
        """Per-operation measurements taken after a traced operation."""

    def extra_layers(self, ops) -> dict:
        """Per-layer values that need runs of their own (traced run only)."""
        return {}


class CronIncrements(Workload):
    """abs-log's cron deployment: each cycle ingests one new ``part_bucket``
    with ``run_pipeline(resume=True)`` into a warehouse that already holds
    16 buckets of history (5k rows each), then serves the six ``log_show``
    views from it. Set-up runs one untimed cycle, so the coldest cycle is
    not timed."""

    name = "cron_increments"
    history_buckets = 16

    def __init__(self, ctx) -> None:
        super().__init__(ctx)
        self.history_rows = scaled_rows(5_000, ctx.scale)
        self.increment_rows = scaled_rows(10_000, ctx.scale)
        # bucket ``history_buckets`` is the warm-up cycle's; a cycle takes
        # 12-20 s on a 4-core host, the timed phase may re-run disturbed
        # cycles, and it ends early when a faster program has ingested every
        # prepared increment
        self.increments = max(3, int(ctx.seconds // 3) + 2)
        self.inp = os.path.join(ctx.tmp, "input_sequences")
        self.cat = Catalog(root=os.path.join(ctx.tmp, "warehouse"))
        self.log_show = _log_show()
        self.last_views: tuple | None = None

    def setup(self) -> None:
        spark, h, phase = self.spark, self.history_buckets, self.ctx.phase
        write_cron_input(
            spark, self.inp, self.ctx.seed, h, self.history_rows,
            1 + self.increments, self.increment_rows,
        )
        self.seq = spark.read.parquet(self.inp)
        self.dim = gen_sources_dim(spark)
        phase("inputs")
        run_pipeline(spark, self.cat, self.seq.where(F.col("part_bucket") < h), self.dim, "history")
        phase("history")
        fails = self._cycle(h)["failures"]
        if fails:
            raise RuntimeError(f"warm-up cycle: {fails}")
        phase("warmup")

    def has_next(self, i: int) -> bool:
        return i < self.increments

    def view(self, sink: str, view: str, kw: dict, window):
        """One log_show view, read and filtered the way ``log_show.main``
        does, materialized with ``toPandas``."""
        ls = self.log_show
        df = self.cat.read(self.spark, ls.table_for_view(sink, view))
        if window:
            ts_col = "ts" if view in ("detail", "ip") else "minute"
            t0, t1 = window
            df = df.where((F.col(ts_col) >= F.lit(t0)) & (F.col(ts_col) < F.lit(t1)))
            if "day" in df.columns:
                df = df.where((F.col("day") >= F.lit(t0.date())) & (F.col("day") <= F.lit(t1.date())))
        return ls.build_view(df, view, sink=sink, **kw).toPandas()

    def op(self, i: int) -> dict:
        return self._cycle(self.history_buckets + 1 + i)

    def _cycle(self, k: int) -> dict:
        """Ingest bucket ``k``, then serve the six views."""
        tracer = self.ctx.tracer
        t = time.perf_counter()
        with tracer.span("increment"):
            vals = run_pipeline(self.spark, self.cat,
                                self.seq.where(F.col("part_bucket") <= k), self.dim, f"cron{k}")
        inc_s = time.perf_counter() - t
        fails = []
        want = (self.increment_rows, self.increment_rows // CORRUPT_EVERY, 1, k)
        got = (vals.get("rows_in"), vals.get("rows_invalid"),
               vals.get("buckets_processed"), vals.get("buckets_skipped"))
        if got != want:
            fails.append(f"increment {k}: (rows_in, rows_invalid, processed, skipped) {got} != {want}")
        view_ms, outputs = {}, {}
        for name, view, kw, sink, windowed in VIEWS:
            t = time.perf_counter()
            with tracer.span(f"report:{name}"):
                outputs[name] = self.view(sink, view, kw, WINDOW if windowed else None)
            view_ms[name] = (time.perf_counter() - t) * 1e3
        self.last_views = outputs
        return {"increment_s": inc_s, "view_ms": view_ms,
                "agg_rows": vals.get("rows_agg_input", 0), "failures": fails}

    def check(self, ops) -> tuple[list[str], dict]:
        con = checks.connect()
        try:
            last = self.history_buckets + len(ops)
            fails = checks.check_warehouse(con, self.cat.root, self.inp, last)
            for name, view, kw, sink, windowed in VIEWS:
                kind = "error_pivot" if kw.get("pivot") else view
                sql = checks.view_sql(con, self.cat.root, sink, kind,
                                      WINDOW if windowed else None, kw.get("uri"))
                diff = checks.frames_match(self.last_views[name], con.execute(sql).df())
                if diff:
                    fails.append(f"view {name} on {sink} (window={windowed}): {diff}")
        finally:
            con.close()
        return fails, {}

    def layers(self, ops, traced, spans) -> dict:
        def per_op(fn):
            return med(fn(o, spans_within(spans, o)) for o in traced)

        def span_s(name):
            return per_op(lambda o, sp: span_sum(sp, name))

        out = {
            "catalog.routed_write_s": span_s("catalog.write:_routed_staging"),
            "aggregate.partials_s": span_s("catalog.write:agg_partials"),
            "catalog.promote_s": span_s("catalog.promote"),
            "checkpoint.read_s": span_s("checkpoint.read"),
            "checkpoint.mark_s": span_s("checkpoint.mark"),
            "compact.s": span_s("compact"),
            "compact.buckets": per_op(lambda o, sp: sum(
                s.attrs.get("buckets", 0) for s in sp if s.name == "compact")),
            "summary.rebuild_s": span_s("summary.rebuild"),
            "metrics.flush_s": span_s("metrics.flush"),
            "aggregate.input_rows": per_op(lambda o, sp: o["agg_rows"]),
            "catalog.files_written": per_op(lambda o, sp: o["files_written"]),
            "catalog.bytes_written": per_op(lambda o, sp: o["bytes_written"]),
            "increment.s_p50": med(o["increment_s"] for o in traced),
            "report.ms_p50": med(ms for o in traced for ms in o["view_ms"].values()),
        }
        for name, *_ in VIEWS:
            out[f"report.view_ms.{name}"] = med(o["view_ms"][name] for o in traced)
        return out

    def after_traced_op(self, op: dict) -> None:
        op["files_written"], op["bytes_written"] = dir_bytes(
            self.cat.root, newer_than=op["t0"], suffix=".parquet"
        )

    def extra_layers(self, ops) -> dict:
        """Layer timings that need their own runs: parse alone and
        parse + abstract + enrich, each into Spark's noop sink, over the
        last increment's input (median of three), plus storage
        amplification of the final warehouse."""
        from pyspark.sql import Observation

        last = self.history_buckets + len(ops)
        inc = self.spark.read.parquet(self.inp).where(F.col("part_bucket") == last)

        def noop(df):
            t = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t

        obs = Observation("parse")
        parse_s = [noop(parse_arrow(inc).observe(
            obs, F.sum(F.when(~F.col("valid"), 1).otherwise(0)).alias("invalid")))]
        parse_s += [noop(parse_arrow(inc)) for _ in range(2)]
        transform_s = [noop(transform(inc, self.dim)) for _ in range(3)]
        _, wh_bytes = dir_bytes(self.cat.root)
        in_bytes = sum(
            dir_bytes(os.path.join(self.inp, f"part_bucket={b}"))[1] for b in range(last + 1)
        )
        return {
            "parse.busy_s": med(parse_s),
            "transform.busy_s": med(transform_s),
            "parse.rows_invalid": obs.get["invalid"],
            "catalog.storage_amp": wh_bytes / in_bytes,
        }


class NearDupDedup(Workload):
    """``minhash_lsh_pairs(min_jaccard=0.5)`` over a stored corpus, then
    ``count()``: shingle persist, band-bucket groupBy, candidate expansion,
    exact-Jaccard verify join."""

    name = "near_dup_dedup"

    def __init__(self, ctx) -> None:
        super().__init__(ctx)
        self.n_docs = scaled_rows(15_000, ctx.scale)
        self.path = os.path.join(ctx.tmp, "input_documents")
        self.pairs_path = os.path.join(ctx.tmp, "pairs")

    def setup(self) -> None:
        write_documents(self.spark, self.path, self.ctx.seed, self.n_docs)
        self.docs = self.spark.read.parquet(self.path)
        self.ctx.phase("inputs")
        # one warm-up pass, which writes the pairs the check verifies; the
        # pass after it is still 15-20 % slower than the next one on a 4-core
        # host, but each further warm-up pass adds ~5 s to every set-up
        self._pairs(lambda pairs, po, so: pairs.write.parquet(self.pairs_path))
        self.ctx.phase("warmup")

    def _pairs(self, action):
        persisted, skipped = [], []
        pairs = minhash_lsh_pairs(self.docs, min_jaccard=MIN_JACCARD,
                                  persisted_out=persisted, skipped_out=skipped)
        try:
            return action(pairs, persisted, skipped)
        finally:
            for df in persisted:
                df.unpersist()

    def op(self, i: int) -> dict:
        tracer = self.ctx.tracer
        if not tracer.enabled:
            return {"pairs": self._pairs(lambda p, po, so: p.count()), "failures": []}
        persisted, skipped = [], []
        pairs = minhash_lsh_pairs(self.docs, min_jaccard=MIN_JACCARD,
                                  persisted_out=persisted, skipped_out=skipped)
        try:
            # materialize the persisted handles in order, then the pairs
            with tracer.span("dedup.shingle"):
                persisted[0].count()
            with tracer.span("dedup.bucket"):
                persisted[1].count()
            with tracer.span("dedup.verify"):
                n = pairs.count()
        except BaseException:
            for df in persisted:
                df.unpersist()
            raise
        # counted by after_traced_op, outside the operation's wall
        pending = (self.ctx.captured.pop("candidates"), skipped[0], persisted)
        return {"pairs": n, "pending": pending, "failures": []}

    def after_traced_op(self, op: dict) -> None:
        candidates, skipped, persisted = op.pop("pending")
        try:
            op["candidates"], op["skipped"] = candidates.count(), skipped.count()
        finally:
            for df in persisted:
                df.unpersist()

    def check(self, ops) -> tuple[list[str], dict]:
        counts = sorted({o["pairs"] for o in ops})
        con = checks.connect()
        try:
            fails, total, found = checks.check_pairs(con, self.pairs_path, self.path, MIN_JACCARD)
        finally:
            con.close()
        if counts != [total]:
            fails.append(f"timed passes counted {counts} pairs, the verified pass wrote {total}")
        recall = found / planted_pairs(self.ctx.seed, self.n_docs)
        if recall < 0.99:
            fails.append(f"recall of planted pairs {recall:.4f} < 0.99")
        return fails, {"dedup.recall": recall}

    def layers(self, ops, traced, spans) -> dict:
        def span_s(name):
            return med(span_sum(spans_within(spans, o), name) for o in traced)

        cand = med(o["candidates"] for o in traced)
        pairs = med(o["pairs"] for o in traced)
        return {
            "dedup.shingle_s": span_s("dedup.shingle"),
            "dedup.bucket_s": span_s("dedup.bucket"),
            "dedup.verify_s": span_s("dedup.verify"),
            "dedup.candidates": cand,
            "dedup.pairs": pairs,
            "dedup.verified_ratio": pairs / cand if cand else 0.0,
            "dedup.skipped_buckets": med(o["skipped"] for o in traced),
        }


WORKLOADS = {w.name: w for w in (CronIncrements, NearDupDedup)}

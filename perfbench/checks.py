"""Correctness checks: DuckDB recomputations over the same parquet files the
program wrote. Each check returns a list of failure strings (empty = pass).
"""

from __future__ import annotations

import math
from datetime import datetime

import duckdb
import pandas as pd

from perfbench.inputs import CORRUPT_EVERY, DUP_EVERY, sink_of_source


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET memory_limit = '1GB'")
    return con


def _routed(wh: str) -> str:
    return f"read_parquet('{wh}/routed_*/*/*.parquet', filename=true)"


def _sink_case() -> str:
    arms = " ".join(
        f"WHEN {k} THEN '{sink_of_source(k)}'" for k in range(3)
    )
    return f"CASE CAST(substr(source, 4) AS INTEGER) % 3 {arms} END"


def check_warehouse(con, wh: str, inp: str, last_bucket: int) -> list[str]:
    """Routed tables, folded summaries and error views of a cron warehouse
    against the input buckets ``0..last_bucket``."""
    fails = []
    con.execute(f"""
        CREATE OR REPLACE TEMP VIEW inp AS
        SELECT doc_id, tokens, source FROM read_parquet('{inp}/*/*.parquet', hive_partitioning=true)
        WHERE part_bucket <= {last_bucket}""")
    con.execute(f"""
        CREATE OR REPLACE TEMP VIEW routed AS
        SELECT regexp_extract(filename, 'routed_([^/]+)/', 1) AS sink, * EXCLUDE (filename)
        FROM {_routed(wh)}""")
    n_in = con.execute("SELECT count(*) FROM inp").fetchone()[0]

    want = dict(con.execute(f"SELECT {_sink_case()}, count(*) FROM inp GROUP BY 1").fetchall())
    got = dict(con.execute("SELECT sink, count(*) FROM routed GROUP BY 1").fetchall())
    if want != got:
        fails.append(f"routed rows per sink {got} != input {want}")

    n, missing, diff = con.execute("""
        SELECT count(*), count(*) FILTER (WHERE i.doc_id IS NULL),
               count(*) FILTER (WHERE i.tokens IS DISTINCT FROM r.tokens)
        FROM routed r LEFT JOIN inp i USING (doc_id)""").fetchone()
    if (n, missing, diff) != (n_in, 0, 0):
        fails.append(f"token join: {n} routed rows, {missing} unmatched, {diff} differ (input {n_in})")

    corrupt = n_in // CORRUPT_EVERY
    pv, inv = con.execute(
        f"SELECT sum(pv), sum(invalid_hits) FROM read_parquet('{wh}/minute_agg_*/*/*.parquet')"
    ).fetchone()
    if (pv, inv) != (n_in - corrupt, corrupt):
        fails.append(f"sum(pv)={pv} invalid_hits={inv}, want {n_in - corrupt}/{corrupt}")

    keys = ("sink", "site", "minute", "uri_abs")
    on = " AND ".join(f"a.{k} IS NOT DISTINCT FROM b.{k}" for k in keys)
    exact = ("pv", "bytes_sum", "err_hits", "invalid_hits")
    approx = ("rt_sum", "rt_min", "rt_max", "rt_p25", "rt_p50", "rt_p75")
    differs = " OR ".join(
        [f"a.{c} IS DISTINCT FROM b.{c}" for c in exact]
        + [f"(a.{c} IS NULL) <> (b.{c} IS NULL) OR abs(a.{c} - b.{c}) > 1e-6 * greatest(1, abs(a.{c}))"
           for c in approx]
    )
    bad = con.execute(f"""
        WITH a AS (
          SELECT sink, site, date_trunc('minute', ts) AS minute, uri_abs,
                 sum(CASE WHEN valid THEN 1 ELSE 0 END) AS pv,
                 coalesce(sum(bytes), 0) AS bytes_sum, sum(rt) AS rt_sum,
                 min(rt) AS rt_min, max(rt) AS rt_max,
                 quantile_cont(rt, 0.25) AS rt_p25, quantile_cont(rt, 0.5) AS rt_p50,
                 quantile_cont(rt, 0.75) AS rt_p75,
                 sum(CASE WHEN status >= 400 THEN 1 ELSE 0 END) AS err_hits,
                 sum(CASE WHEN NOT valid THEN 1 ELSE 0 END) AS invalid_hits, 1 AS hit
          FROM routed GROUP BY ALL),
        b AS (SELECT *, 1 AS hit FROM read_parquet('{wh}/minute_agg_*/*/*.parquet'))
        SELECT count(*) FROM a FULL OUTER JOIN b ON {on}
        WHERE a.hit IS NULL OR b.hit IS NULL OR {differs}""").fetchone()[0]
    if bad:
        fails.append(f"{bad} minute_agg rows differ from a full recompute over routed")

    bad = con.execute(f"""
        WITH a AS (SELECT sink, date_trunc('minute', ts) AS minute, status, count(*) AS hits
                   FROM routed WHERE valid AND status >= 400 GROUP BY ALL),
             b AS (SELECT sink, minute, status, hits FROM read_parquet('{wh}/errors_*/*/*.parquet'))
        SELECT count(*) FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b
                              UNION ALL SELECT * FROM b EXCEPT ALL SELECT * FROM a)""").fetchone()[0]
    if bad:
        fails.append(f"{bad} errors rows differ from a full recompute over routed")
    return fails


# ---------------------------------------------------------------------------
# log_show views
# ---------------------------------------------------------------------------


def _where(ts_col: str, window: tuple[datetime, datetime] | None, *extra: str) -> str:
    conds = list(extra)
    if window:
        conds += [f"{ts_col} >= TIMESTAMP '{window[0]}'", f"{ts_col} < TIMESTAMP '{window[1]}'"]
    return ("WHERE " + " AND ".join(conds)) if conds else ""


def _ranked(base: str, part: str, order: str, cols: str, limit: int) -> str:
    return f"""
        WITH r AS (SELECT *, row_number() OVER ({part} ORDER BY {order}) AS rank FROM ({base}))
        SELECT {cols} FROM r WHERE rank <= {limit}"""


def view_sql(con, wh: str, sink: str, view: str, window, uri: str | None, limit: int = 10) -> str:
    """DuckDB twin of ``jobs/log_show.build_view`` (NULLS FIRST = Spark's
    ascending order)."""
    ma = f"read_parquet('{wh}/minute_agg_{sink}/*/*.parquet')"
    er = f"read_parquet('{wh}/errors_{sink}/*/*.parquet')"
    rt = f"read_parquet('{wh}/routed_{sink}/*/*.parquet')"
    if view == "request":
        base = f"""
            SELECT *, round(hits * 100.0 / sum(hits) OVER (), 4) AS hits_pct,
                      round(bytes * 100.0 / sum(bytes) OVER (), 4) AS bytes_pct,
                      round(time * 100.0 / sum(time) OVER (), 4) AS time_pct
            FROM (SELECT uri_abs, sum(pv) AS hits, sum(bytes_sum) AS bytes, sum(rt_sum) AS time
                  FROM {ma} {_where('minute', window)} GROUP BY uri_abs)"""
        return _ranked(
            base, "", "hits DESC, uri_abs NULLS FIRST",
            "rank, uri_abs, hits, hits_pct, bytes, bytes_pct, round(time, 3) AS time, time_pct",
            limit,
        )
    if view == "trend":
        return f"""
            SELECT date_trunc('hour', minute) AS bucket, sum(pv) AS pv,
                   sum(bytes_sum) AS bytes_sum, sum(rt_sum) AS rt_sum, min(rt_min) AS rt_min,
                   max(rt_max) AS rt_max, sum(err_hits) AS err_hits,
                   sum(invalid_hits) AS invalid_hits
            FROM {ma} {_where('minute', window)} GROUP BY 1 ORDER BY 1 NULLS FIRST LIMIT {limit}"""
    if view == "error":
        return f"""
            SELECT status, sum(hits) AS hits FROM {er} {_where('minute', window)}
            GROUP BY status ORDER BY hits DESC LIMIT {limit}"""
    if view == "error_pivot":
        statuses = [r[0] for r in con.execute(
            f"SELECT DISTINCT status FROM {er} {_where('minute', window)} ORDER BY 1"
        ).fetchall()]
        cols = ", ".join(
            f"coalesce(sum(hits) FILTER (WHERE status = {s}), 0) AS \"{s}\"" for s in statuses
        )
        return f"""
            SELECT minute, {cols} FROM {er} {_where('minute', window)}
            GROUP BY minute ORDER BY minute NULLS FIRST LIMIT {limit}"""
    if view == "detail":
        base = f"""
            SELECT *, round(hits * 100.0 / sum(hits) OVER (PARTITION BY uri_abs), 4) AS hits_pct
            FROM (SELECT uri_abs, args_abs, count(*) AS hits, sum(bytes) AS bytes,
                         round(sum(rt), 3) AS time
                  FROM {rt} {_where('ts', window, 'valid', f"uri_abs = '{uri}'")}
                  GROUP BY uri_abs, args_abs)"""
        return _ranked(
            base, "PARTITION BY uri_abs", "hits DESC, uri_abs NULLS FIRST, args_abs NULLS FIRST",
            "uri_abs, args_abs, hits, bytes, time, hits_pct, rank", limit,
        )
    if view == "ip":
        base = f"""
            SELECT *, round(hits * 100.0 / sum(hits) OVER (), 4) AS hits_pct
            FROM (SELECT source, count(*) AS hits, sum(bytes) AS bytes
                  FROM {rt} {_where('ts', window, 'valid')} GROUP BY source)"""
        return _ranked(base, "", "hits DESC, source NULLS FIRST",
                       "source, hits, bytes, hits_pct, rank", limit)
    raise ValueError(view)


def _cell(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, (pd.Timestamp, datetime)):
        return pd.Timestamp(v).isoformat()
    if hasattr(v, "item"):  # numpy scalar
        return v.item()
    return v


def _same(a, b) -> bool:
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return abs(a - b) <= 1e-3 * max(1.0, abs(a))
    return a == b


def frames_match(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None if both frames hold the same rows (order-insensitive, floats to
    1e-3 relative), else a short description of the first difference."""
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    rows_g = sorted((tuple(_cell(v) for v in r) for r in got.itertuples(index=False)), key=repr)
    rows_w = sorted((tuple(_cell(v) for v in r) for r in want.itertuples(index=False)), key=repr)
    if len(rows_g) != len(rows_w):
        return f"{len(rows_g)} rows != {len(rows_w)}"
    for rg, rw in zip(rows_g, rows_w):
        if not all(_same(x, y) for x, y in zip(rg, rw)):
            return f"row {rg} != {rw}"
    return None


# ---------------------------------------------------------------------------
# near-duplicate pairs
# ---------------------------------------------------------------------------


def check_pairs(con, pairs: str, docs: str, min_jaccard: float) -> tuple[list[str], int, int]:
    """Recompute each reported pair's word-3-gram Jaccard from the raw text.
    Returns (failures, pair count, planted (i-1, i) pairs found)."""
    n, bad, planted = con.execute(f"""
        WITH p AS (SELECT * FROM read_parquet('{pairs}/*.parquet')),
        d AS (SELECT doc_id, string_split(text, ' ') AS w FROM read_parquet('{docs}/*.parquet')),
        s AS (SELECT doc_id, list_distinct(list_transform(range(1, len(w) - 1),
                     i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])) AS sh FROM d),
        j AS (SELECT p.doc_a, p.doc_b, p.jaccard,
                     len(list_intersect(a.sh, b.sh)) AS ni, len(a.sh) AS na, len(b.sh) AS nb
              FROM p JOIN s a ON a.doc_id = p.doc_a JOIN s b ON b.doc_id = p.doc_b)
        SELECT count(*),
               count(*) FILTER (WHERE ni / (na + nb - ni) < {min_jaccard}
                                   OR abs(ni / (na + nb - ni) - jaccard) > 2e-6),
               count(*) FILTER (WHERE doc_b = doc_a + 1 AND doc_b % {DUP_EVERY} = 0)
        FROM j""").fetchone()
    total = con.execute(f"SELECT count(*) FROM read_parquet('{pairs}/*.parquet')").fetchone()[0]
    fails = []
    if total != n:
        fails.append(f"{total - n} pairs name documents that are not in the input")
    if bad:
        fails.append(f"{bad} of {n} pairs have a recomputed Jaccard below {min_jaccard} or off the reported value")
    return fails, total, planted

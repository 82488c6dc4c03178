"""Statistics, the oracle comparison and the per-layer roll-up behind run.py.

Kept apart from run.py so that the unit tests can import it without a JVM.
"""
import datetime
import math

import numpy as np
import pandas as pd

MB = 1e6


def median(xs):
    """Median of a non-empty sequence; the mean of the two middle values
    when the length is even."""
    s = sorted(xs)
    if not s:
        raise ValueError("median of an empty sample")
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0


def percentile(xs, q):
    """The q-th percentile (0 <= q <= 100) by linear interpolation between
    the closest ranks, the rule numpy and Excel's PERCENTILE.INC use."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of an empty sample")
    if not 0 <= q <= 100:
        raise ValueError("percentile rank out of range: %r" % q)
    pos = (len(s) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def tail_percentile(xs):
    """The highest of p99, p95, p90 and p75 with at least ten samples beyond
    it, as (rank, value); None when even p75 has fewer."""
    for q in (99, 95, 90, 75):
        if len(xs) * (100 - q) / 100.0 >= 10:
            return q, percentile(xs, q)
    return None


def unstolen(wall_s, cpu_s, steal_s):
    """Wall time with the host's steal time taken out: `wall_s` times the
    share of the CPU time the machine's threads asked for that the host
    granted, cpu / (cpu + steal). `cpu_s` is the process's CPU time over the
    interval and `steal_s` the machine's steal time (time the host ran
    something else while a CPU of this machine had work). Equal to `wall_s`
    where steal time is not reported (negative) or nothing ran.

    On a shared host the steal time of a pass ranged from 0 to 17 s and its
    wall time rose with it; this is the time the same work takes on an
    unshared machine, where steal time is 0."""
    if steal_s < 0 or cpu_s + steal_s <= 0:
        return wall_s
    return wall_s * cpu_s / (cpu_s + steal_s)


def union_length(intervals, lo=None, hi=None):
    """Total length covered by the union of (start, end) intervals, each
    first clipped to [lo, hi] when given. Overlapping and nested intervals
    count once; empty or inverted ones count nothing."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    clipped.sort()
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


# --- oracle comparison -------------------------------------------------------
# The same rules as the repository's correctness gate: columns ordered by
# name, rows sorted over every column, dates read as timestamps, and every
# other cell compared dtype-strictly (an int 2 against a float 2.0 fails).

def _canon_dates(df):
    for c in df.columns:
        if df[c].dtype == object:
            nn = df[c].dropna()
            if len(nn) and isinstance(nn.iloc[0], datetime.date) \
                    and not isinstance(nn.iloc[0], datetime.datetime):
                df[c] = pd.to_datetime(df[c])
    return df


def _norm(df):
    df = _canon_dates(df.copy())
    df = df[sorted(df.columns)]
    if len(df.columns) and len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    return df.reset_index(drop=True)


_FLOATS = (float, np.floating)
_INTS = (int, np.integer)


def cells_equal(a, b):
    if a is None and b is None:
        return True
    a_f, b_f = isinstance(a, _FLOATS), isinstance(b, _FLOATS)
    if a_f != b_f:
        return False
    if a_f:
        return (math.isnan(a) and math.isnan(b)) or a == b
    if isinstance(a, _INTS) != isinstance(b, _INTS):
        return False
    try:
        if pd.isna(a) and pd.isna(b):
            return True
        if bool(pd.isna(a)) != bool(pd.isna(b)):
            return False
    except (TypeError, ValueError):
        pass
    try:
        return bool(a == b)
    except (TypeError, ValueError):
        return False


def compare_frames(spark_df, oracle_df):
    """None when the two frames hold the same rows, else a one-line reason."""
    try:
        s, o = _norm(spark_df), _norm(oracle_df)
    except TypeError as e:
        return "unsortable column (array or struct in the output?): %s" % e
    if list(s.columns) != list(o.columns):
        return "columns differ: spark=%s oracle=%s" % (list(s.columns), list(o.columns))
    if len(s) != len(o):
        return "row count differs: spark=%d oracle=%d" % (len(s), len(o))
    ok = np.ones(len(s), dtype=bool)
    for c in s.columns:
        a, b = s[c], o[c]
        if a.dtype == b.dtype and a.dtype != object:
            # one dtype on both sides: cells_equal reduces to equality with
            # NaN/NaT equal to itself, which numpy evaluates column-wise
            na = a.isna().to_numpy()
            ok &= (na & b.isna().to_numpy()) | (a.to_numpy() == b.to_numpy())
        else:
            ok &= np.fromiter((cells_equal(x, y) for x, y in zip(a.tolist(), b.tolist())),
                              dtype=bool, count=len(a))
    if not ok.all():
        i = int(np.argmin(ok))
        return "%d/%d rows differ; first: spark=%s oracle=%s" % (
            int((~ok).sum()), len(s), tuple(s.iloc[i]), tuple(o.iloc[i]))
    return None


# --- per-layer roll-up -------------------------------------------------------

def pass_layers(record, result_rows):
    """Per-layer metrics of each timed pass of a traced run's record.

    `result_rows` is the number of rows all the mix's queries return
    together, i.e. the rows one pass hands to its sinks."""
    spans = {s["id"]: s for s in record["spans"]}

    def pass_of(span_id):
        while span_id in spans:
            s = spans[span_id]
            if s["kind"] == "pass":
                return s["id"]
            span_id = s["parent"]
        return None

    cores = record["cores"]
    out = []
    for p in record["passes"]:
        if not p["timed"]:
            continue
        pid = None
        for s in record["spans"]:
            if s["kind"] == "pass" and s["name"] == "pass%d" % p["index"]:
                pid = s["id"]
        lo, hi = p["start_ms"], p["end_ms"]
        wall = (hi - lo) / 1e3
        mine = [s for s in record["spans"] if pass_of(s["id"]) == pid]
        jobs = [j for j in record["jobs"] if pass_of(j["span"]) == pid]
        stages = [t for t in record["stages"] if pass_of(t["span"]) == pid]
        plans = [q for q in record["plans"] if lo <= q["start_ms"] <= hi]

        def dur(kind):
            return sum(s["end_ms"] - s["start_ms"] for s in mine if s["kind"] == kind) / 1e3

        def tot(key):
            return sum(t[key] for t in stages)

        busy = union_length([(j["start_ms"], j["end_ms"]) for j in jobs], lo, hi) / 1e3
        task_s = tot("run_ms") / 1e3
        output_mb = tot("output_bytes") / MB
        stored_mb = p["stored_bytes"] / MB
        input_rows = tot("input_rows")
        out.append({
            "queries.call_s": dur("call"),
            "queries.action_s": dur("action"),
            "plans.analysis_s": sum(q["analysis_ms"] for q in plans) / 1e3,
            "plans.optimization_s": sum(q["optimization_ms"] for q in plans) / 1e3,
            "plans.planning_s": sum(q["planning_ms"] for q in plans) / 1e3,
            "plans.sql_executions": len(plans),
            "sources.input_mb": tot("input_bytes") / MB,
            "sources.input_rows": input_rows,
            "sources.rows_read_per_row_out": input_rows / result_rows if result_rows else 0.0,
            "spark.jobs": len(jobs),
            "spark.stages": len(stages),
            "spark.single_task_stages": sum(1 for t in stages if t["tasks"] == 1),
            "spark.tasks": tot("tasks"),
            "spark.job_busy_s": busy,
            "spark.driver_gap_s": wall - busy,
            "spark.task_s": task_s,
            "spark.task_cpu_s": tot("cpu_ns") / 1e9,
            "spark.gc_s": p["gc_ms"] / 1e3,
            "spark.core_use": task_s / (cores * busy) if busy else 0.0,
            "spark.shuffle_write_mb": tot("shuffle_write_bytes") / MB,
            "spark.shuffle_read_mb": tot("shuffle_read_bytes") / MB,
            "spark.spill_mb": tot("spill_bytes") / MB,
            "engine.output_mb": output_mb,
            "engine.output_rows": tot("output_rows"),
            "engine.stored_mb": stored_mb,
            "engine.files": p["stored_files"],
            "engine.written_per_stored": output_mb / stored_mb if stored_mb else 0.0,
            # not reported; the bound checks compare against them
            "_pass_s": wall,
            "_cpu_s": p["cpu_ns"] / 1e9,
        })
    return out

"""Metric arithmetic of the benchmark, kept free of I/O so it can be tested.

`end_to_end` turns one harness output into the user-visible metrics;
`per_layer` turns the traced passes of one harness output into the layer
counters. Counts and times of a layer are reported per traced pass.
"""
import math
import statistics

MEMOS = ["shared.word_pairs", "shared.cc_labels", "shared.vecs", "bpe.trained"]


def geomean(values):
    """Geometric mean of positive values."""
    values = list(values)
    if not values or min(values) <= 0:
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def quartiles(values):
    """(q1, median, q3) as `statistics.quantiles(values, n=4)` gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def iqr_share(values):
    """Distance between the first and third quartile, as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2


def interval_union(intervals):
    """Total length covered by a set of [start, end] intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def max_task_share(task_max_ms, task_sum_ms):
    """Longest task as a share of all task time of one op (1.0 = serial)."""
    return task_max_ms / task_sum_ms if task_sum_ms > 0 else None


def end_to_end(out, launch_s):
    """User-visible metrics of one untraced run.

    `launch_s` is the epoch time at which the harness process was started,
    so `setup_s` covers JVM start, session start and the set-up passes.
    """
    execs = [e for p in out["passes"] if p["kind"] == "plain" for e in p["execs"]]
    per_op = {}
    for e in execs:
        per_op.setdefault(e["op"], []).append(e["s"])
    return {
        "setup_s": out["setup_done_ms"] / 1000.0 - launch_s,
        "batch_s": statistics.median(p["wall_s"] for p in out["passes"]
                                     if p["kind"] == "plain"),
        "geomean_op_s": geomean(statistics.median(v) for v in per_op.values()),
        "op_p50_s": statistics.median(e["s"] for e in execs),
        "peak_rss_mb": out["vm_hwm_kb"] / 1024.0,
    }


def per_layer(out, out_rows):
    """Layer counters of the traced passes of one run.

    `out_rows` maps each op to the row count of its checked result.
    """
    recs = out["trace"]
    n_pass = len({r["tag"].split("/", 1)[0] for r in recs})

    def total(key):
        return sum(r["c"].get(key, 0.0) for r in recs) / n_pass

    scan_rows = total("scan_rows")
    result_rows = sum(out_rows.get(r["tag"].split("/", 1)[1], 0) for r in recs) / n_pass
    shares = [s for s in (max_task_share(r["c"].get("task_max_ms", 0.0),
                                         r["c"].get("task_sum_ms", 0.0)) for r in recs)
              if s is not None]
    plain = [p["wall_s"] for p in out["passes"] if p["kind"] == "plain"]
    traced = [p["wall_s"] for p in out["passes"] if p["kind"] == "traced"]
    memo_s = out.get("memo_build_s", {})
    m = {
        "tables.resolve_ms": statistics.mean(out["tables_resolve_ms"].values()),
        "ops.build_ms": sum(r["build_s"] for r in recs) * 1000.0 / n_pass,
        "ops.build_jobs": total("build_jobs"),
        "plan.analysis_ms": total("analysis_ms"),
        "plan.optimize_ms": total("optimize_ms"),
        "plan.physical_ms": total("physical_ms"),
        "plans.graft_nodes": total("graft_nodes"),
        "exec.jobs": total("jobs"),
        "exec.stages": total("stages"),
        "exec.tasks": total("tasks"),
        "exec.driver_only_ms": sum(r["wall_s"] * 1000.0 - interval_union(r["jobs"])
                                   for r in recs) / n_pass,
        "exec.task_wait_ms": total("task_wait_ms"),
        "exec.max_task_share": statistics.median(shares) if shares else 0.0,
        "scan.bytes": total("scan_bytes"),
        "scan.rows": scan_rows,
        "scan.rows_per_out_row": scan_rows / result_rows if result_rows else 0.0,
        "exchange.write_bytes": total("exchange_write_bytes"),
        "exchange.read_bytes": total("exchange_read_bytes"),
        "exchange.write_ms": total("exchange_write_ms"),
        "exchange.fetch_wait_ms": total("exchange_fetch_wait_ms"),
        "exec.cpu_ms": total("cpu_ms"),
        "exec.gc_ms": total("gc_ms"),
        "spill.bytes": total("spill_bytes"),
        "exec.peak_task_mem_mb": max((r["c"].get("peak_task_mem_bytes", 0.0) for r in recs),
                                     default=0.0) / 1048576.0,
        "memo.cached_mb": out["memo_cached_mb"],
        "write.bytes": total("write_bytes"),
        "write.rows": total("write_rows"),
        "write.amplification": (total("write_bytes") / total("scan_bytes")
                                if total("scan_bytes") else 0.0),
        "stream.microbatches": total("microbatches"),
        "stream.batch_ms": total("stream_batch_ms"),
        "stream.state_rows": total("stream_state_rows"),
        "exec.failed_tasks": total("failed_tasks"),
        "exec.stage_retries": total("stage_retries"),
        "trace.overhead": statistics.median(traced) / statistics.median(plain),
    }
    for name in MEMOS:
        m[f"memo.build_s.{name}"] = memo_s.get(name, 0.0)
    return m

"""Aggregation helpers for the benchmark: percentiles, span self time,
metric names, and the mapping from a run's raw record to the metrics
BENCHMARK.json declares."""

import math
import re

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def valid_name(name):
    """Metric and workload names: letters, digits, `_`, `.`, `-`;
    starting with a letter or digit; at most 64 characters."""
    return bool(NAME_RE.match(name))


def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it. None for no samples."""
    if not values:
        return None
    if not 0 < p <= 100:
        raise ValueError("p must be in (0, 100]")
    xs = sorted(values)
    return xs[max(0, math.ceil(p / 100.0 * len(xs)) - 1)]


def median(values):
    """Middle value; mean of the two middle values for an even count."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return None
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2.0


def normalized(rows):
    """Rows as sorted tuples with every non-integer number rounded to
    4 decimals, so two engines' results compare by value."""
    def cell(x):
        if isinstance(x, bool) or isinstance(x, int) or x is None or isinstance(x, str):
            return x
        return round(float(x), 4)
    out = [tuple(cell(x) for x in row) for row in rows]
    return sorted(out, key=lambda r: tuple((x is None, 0 if x is None else x) for x in r))


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
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


def self_times(spans, root_name="bench.window"):
    """Self time per layer under the first span named `root_name`.

    `spans` are (id, parent, name, start, end). A span's self time is
    its duration minus the part of it its children cover (children
    clipped to the parent's interval); a layer is the name up to the
    first dot. Returns ({layer: self time}, root duration)."""
    by_parent = {}
    for s in spans:
        by_parent.setdefault(s[1], []).append(s)
    root = next((s for s in spans if s[2] == root_name), None)
    if root is None:
        return {}, 0.0
    out = {}
    stack = [root]
    while stack:
        sid, _, name, start, end = stack.pop()
        kids = by_parent.get(sid, [])
        covered = union_length(
            [(max(k[3], start), min(k[4], end)) for k in kids if min(k[4], end) > max(k[3], start)])
        layer = name.split(".", 1)[0]
        out[layer] = out.get(layer, 0.0) + max(0.0, (end - start) - covered)
        stack.extend(kids)
    return out, root[4] - root[3]


def _p(samples, name, p):
    v = percentile(samples.get(name, []), p)
    return 0.0 if v is None else v


def _mean(samples, name):
    xs = samples.get(name, [])
    return sum(xs) / len(xs) if xs else 0.0


def end_to_end(rec):
    """Set-up time, and the work CPU per unit of work in the measured
    window (an input line for the stream, a table operation for the
    table loop): Spark's executor CPU over the window's tasks plus the
    CPU of the thread driving the work."""
    v = rec["values"]
    return {
        "setup_s": median(rec["setup_s"]),
        "cpu_ms_per_item": (v["window.driver_cpu_ms"] + v["window.executor_cpu_ms"])
        / v["window.items"],
    }


LAYERS = ["bench", "streaming", "operators", "pipeline", "dedup", "graph", "similarity", "spark"]
COMMITS = {"operators.merge", "operators.append", "operators.deleteWhere", "operators.compact"}


def commit_stats(spans):
    """Per table-format commit span: Spark jobs it ran, and its time
    not covered by any of those jobs (driver-only ms)."""
    kids = {}
    for sp in spans:
        if sp[2] == "spark.job":
            kids.setdefault(sp[1], []).append((sp[3], sp[4]))
    jobs, driver_only = [], []
    for sp in spans:
        if sp[2] in COMMITS:
            js = kids.get(sp[0], [])
            jobs.append(float(len(js)))
            clipped = [(max(a, sp[3]), min(b, sp[4])) for a, b in js if min(b, sp[4]) > max(a, sp[3])]
            driver_only.append((sp[4] - sp[3]) - union_length(clipped))
    return jobs, driver_only


SPARK_COUNTERS = ["jobs", "stages", "tasks", "executor_cpu_ms", "shuffle_read_bytes",
                  "shuffle_write_bytes", "spill_bytes", "input_bytes", "gc_ms", "sql_actions"]


def per_layer(rec):
    """Every per-layer metric from a traced record; 0 where the
    workload does not reach the layer."""
    s, v = rec["samples"], rec["values"]
    m = {}
    for ph in ["latest_offset_ms", "query_planning_ms", "wal_commit_ms", "add_batch_ms",
               "commit_offsets_ms", "state_update_ms", "state_commit_ms", "batch_ms"]:
        m["streaming.%s.p50" % ph] = _p(s, "streaming.live." + ph, 50)
    m["streaming.batch_ms.p95"] = _p(s, "streaming.live.batch_ms", 95)
    m["streaming.drain_add_batch_ms.p50"] = _p(s, "streaming.drain.add_batch_ms", 50)
    m["streaming.drain_state_update_ms.p50"] = _p(s, "streaming.drain.state_update_ms", 50)
    m["streaming.state_rows"] = v.get("streaming.drain.state_rows", 0.0)
    m["streaming.state_mem_bytes"] = v.get("streaming.drain.state_mem_bytes", 0.0)
    m["streaming.generator_late_ms.max"] = _p(s, "streaming.generator_late_ms", 100)
    m["streaming.backlog_chunks.max"] = _p(s, "streaming.backlog_chunks", 100)
    m["streaming.drain_records_per_s"] = v.get("streaming.drain_records_per_s", 0.0)
    m["streaming.live_latency_p50_ms"] = _p(s, "streaming.live_latency_ms", 50)
    m["streaming.live_latency_p95_ms"] = _p(s, "streaming.live_latency_ms", 95)
    m["streaming.live_latency_samples"] = float(len(s.get("streaming.live_latency_ms", [])))

    m["operators.ops_per_s"] = v.get("operators.ops_per_s", 0.0)
    m["operators.merge_p50_ms"] = _p(s, "operators.merge_ms", 50)
    m["operators.append_p50_ms"] = _p(s, "operators.append_ms", 50)
    m["operators.lookup_p50_ms"] = _p(s, "operators.lookup_ms", 50)
    m["operators.lookup_p90_ms"] = _p(s, "operators.lookup_ms", 90)
    m["operators.band_agg_p50_ms"] = _p(s, "operators.band_agg_ms", 50)
    m["operators.delete_ms.p50"] = _p(s, "operators.delete_ms", 50)
    m["operators.compact_ms.p50"] = _p(s, "operators.compact_ms", 50)
    m["operators.merge_files_touched.mean"] = _mean(s, "operators.merge_files_touched")
    m["operators.merge_files_carried.mean"] = _mean(s, "operators.merge_files_carried")
    jobs, driver_only = commit_stats(rec["spans"])
    m["operators.commit_jobs.mean"] = sum(jobs) / len(jobs) if jobs else 0.0
    m["operators.commit_driver_only_ms.p50"] = percentile(driver_only, 50) or 0.0
    for k in ["compact_bytes_rewritten", "live_files.end", "bytes_written_per_user_byte",
              "space_per_live_byte", "lookup_pruned_share", "cas_conflicts"]:
        m["operators." + k] = v.get("operators." + k, 0.0)
    m["operators.lookup_files_scanned.mean"] = _mean(s, "operators.lookup_files_scanned")

    for k in ["pipeline.build_ms", "text.quality_gate_ms", "pipeline.decontaminate_ms",
              "pipeline.write_shards_ms", "dedup.jaccard_pairs_ms", "graph.pagerank_ms",
              "similarity.ivf_build_ms", "similarity.ivf_probe_ms"]:
        m[k + ".p50"] = _p(s, k, 50)
    for k in ["pipeline.docs_in", "pipeline.keep_share", "similarity.ann_recall_at_k"]:
        m[k] = v.get(k, 0.0)

    items = max(1.0, v.get("window.items", 1.0))
    m["driver.cpu_ms_per_item"] = v.get("window.driver_cpu_ms", 0.0) / items
    m["spark.executor_cpu_ms_per_item"] = v.get("window.executor_cpu_ms", 0.0) / items
    # operations: chunks, table operations or pass steps; a table
    # operation is also the table's item
    ops = max(1.0, v.get("window.ops", items))
    for k in SPARK_COUNTERS:
        m["spark.%s_per_op" % k] = rec["spark"].get(k, 0.0) / ops
    spans = rec["spans"]
    window = next((sp for sp in spans if sp[2] == "bench.window"), None)
    if window:
        jobs = [(max(sp[3], window[3]), min(sp[4], window[4])) for sp in spans
                if sp[2] == "spark.job" and min(sp[4], window[4]) > max(sp[3], window[3])]
        wall = window[4] - window[3]
        m["spark.driver_only_share"] = (wall - union_length(jobs)) / wall if wall > 0 else 0.0
    else:
        m["spark.driver_only_share"] = 0.0
    selfs, wall = self_times(spans)
    for layer in LAYERS:
        m["%s.self_share" % layer] = selfs.get(layer, 0.0) / wall if wall > 0 else 0.0
    m["trace.spans"] = float(len(spans))
    m["jvm.peak_rss_mb"] = v.get("jvm.peak_rss_mb", 0.0)
    return m

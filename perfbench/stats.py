"""Metric arithmetic for the benchmark: percentiles with failed operations
counted as +inf, interval unions, span self time, and the end-to-end and
per-layer metrics derived from one raw result file written by the harness.

Pure functions over plain dicts and lists; tests/test_stats.py covers them.
"""

import math
import re

INF = float("inf")
# JSON has no infinity: a percentile that lands on a failed operation is
# printed as this value instead.
INF_STANDIN = 1e18


def percentile(values, p):
    """The p-th percentile (0..100) by linear interpolation between closest
    ranks. +inf values (failed operations) sort last and make every
    percentile that touches them +inf. Empty input gives 0.0."""
    xs = sorted(values)
    if not xs:
        return 0.0
    if len(xs) == 1:
        return xs[0]
    pos = (len(xs) - 1) * p / 100.0
    lo = int(math.floor(pos))
    hi = min(lo + 1, len(xs) - 1)
    frac = pos - lo
    if frac == 0:
        return xs[lo]
    if math.isinf(xs[hi]):
        return INF
    return xs[lo] + (xs[hi] - xs[lo]) * frac


def supported_tail(n, beyond=10):
    """The highest of the usual tail percentiles that has at least `beyond`
    samples above it in a sample of n, or None when even the median has
    fewer."""
    best = None
    for p in (50, 90, 99, 99.9):
        if n * (100 - p) >= beyond * 100 - 1e-6:
            best = p
    return best


def median(values):
    return percentile(values, 50)


def finite(x):
    return INF_STANDIN if math.isinf(x) else x


def union_length(intervals):
    """Total length covered by a set of [start, end] intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, start, end):
    """The parts of `intervals` that fall inside [start, end]."""
    return [(max(s, start), min(e, end)) for s, e in intervals
            if min(e, end) > max(s, start)]


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    s, e = span
    return (e - s) - union_length(clip(children, s, e))


def bytes_written_per_row(bytes_before, bytes_after, ops):
    """Bytes the table directory grew by, per row submitted by write
    operations that succeeded (reads, feeds and failed writes submit
    none)."""
    rows = sum(op.get("rows", 0) for op in ops
               if op.get("ok") and op.get("class") == "commit")
    grown = bytes_after - bytes_before
    return grown / rows if rows else 0.0


# ---------------------------------------------------------------------------
# end-to-end metrics (untraced runs)
# ---------------------------------------------------------------------------

def op_seconds(op):
    return (op["end_us"] - op["start_us"]) / 1e6


def op_latencies_ms(ops):
    """Per-operation latency in ms; a failed operation counts as +inf."""
    return [op_seconds(op) * 1e3 if op["ok"] else INF for op in ops]


def geomean(values):
    if not values:
        return 0.0
    if any(math.isinf(v) for v in values):
        return INF
    return math.exp(sum(math.log(v) for v in values) / len(values))


def kind_p50_ms(ops):
    """Median latency of each operation kind, combined over kinds by the
    geometric mean, so a run's figure does not depend on how often each
    kind ran (one kind: its median)."""
    kinds = sorted({op["kind"] for op in ops})
    return geomean([median(op_latencies_ms([op for op in ops if op["kind"] == k]))
                    for k in kinds])


def setup_seconds(setup):
    return setup["build_s"] + median(setup["generate_s"]) + setup["warm_s"]


def end_to_end(result):
    ops = result["ops"]
    busy = sum(op_seconds(op) for op in ops)
    rows = sum(op["rows"] for op in ops if op["ok"])
    return {
        "setup_s": setup_seconds(result["setup"]),
        "peak_rss_mb": result["meta"]["peak_rss_mb"],
        "op_p50_ms": finite(kind_p50_ms(ops)),
        "rows_per_s": rows / busy if busy > 0 else 0.0,
    }


# ---------------------------------------------------------------------------
# per-layer metrics (traced runs)
# ---------------------------------------------------------------------------

class SpanTree:
    """Spans of one traced run, with the jobs and Catalyst records tied to
    them. Times in seconds since the epoch."""

    def __init__(self, trace):
        self.spans = {s["id"]: s for s in trace["spans"]}
        self.children = {}
        for s in trace["spans"]:
            self.children.setdefault(s["parent"], []).append(s["id"])
        self.jobs = [j for j in trace["jobs"] if j["end_ms"] >= 0]
        self.jobs_by_span = {}
        for j in self.jobs:
            self.jobs_by_span.setdefault(j["span"], []).append(j)
        self.queries = trace["queries"]
        self.progress = trace["progress"]
        # spans of timed operations only; set-up and warm-up spans are left
        # out of every per-layer figure
        self.timed = {x for r in self.roots() for x in self.subtree(r)}

    def interval(self, sid):
        s = self.spans[sid]
        return s["start_us"] / 1e6, s["end_us"] / 1e6

    def duration(self, sid):
        s, e = self.interval(sid)
        return e - s

    def subtree(self, sid):
        out, todo = [], [sid]
        while todo:
            x = todo.pop()
            out.append(x)
            todo.extend(self.children.get(x, []))
        return out

    def named(self, name):
        return [sid for sid in self.timed if self.spans[sid]["name"] == name]

    def roots(self):
        """The spans of timed operations."""
        return [sid for sid, s in self.spans.items() if s["name"] == "op"]

    def jobs_in(self, sid):
        return [j for x in self.subtree(sid) for j in self.jobs_by_span.get(x, [])]

    @staticmethod
    def job_interval(j):
        return j["start_ms"] / 1e3, j["end_ms"] / 1e3

    def driver_seconds(self, sid):
        """Wall time of a span during which none of its jobs ran."""
        return self_time(self.interval(sid),
                         [self.job_interval(j) for j in self.jobs_in(sid)])

    def queries_in(self, sid):
        s, e = self.interval(sid)
        return [q for q in self.queries
                if q["start_ms"] > 0 and s <= q["start_ms"] / 1e3 <= e]


def per_op_mean(roots, f):
    return sum(f(r) for r in roots) / len(roots) if roots else 0.0


# Per-layer metrics named after the span (or trigger phase) they time. The
# names are read from BENCHMARK.json, so the query list and the table's
# operation kinds live only there and in the harness.
SPAN_METRICS = [
    (re.compile(r"queries\.(\w+)_s"), "queries.%s", 1.0),
    (re.compile(r"operators\.TimeTravel\.(\w+)_ms"), "operators.TimeTravel.%s", 1e3),
]
TRIGGER_METRIC = re.compile(r"streaming\.(\w+)_ms")


def layer_metrics(result, names):
    """Every per-layer metric in `names` (BENCHMARK.json's per_layer); a
    layer the workload does not reach reads 0."""
    tr = SpanTree(result["trace"])
    ops = result["ops"]
    values = result.get("values") or {}
    setup = result["setup"]
    roots = tr.roots()
    m = {
        "GraftSession.build_s": setup["build_s"],
        "setup.generate_s": median(setup["generate_s"]),
        "setup.warm_s": setup["warm_s"],
    }

    def span_median(name, scale=1.0):
        return median([tr.duration(s) * scale for s in tr.named(name)])

    # export
    exports = [op for op in ops if op["kind"] == "export"]
    runs = tr.named("etl.ExportPipeline.run")

    def jobs_where(sids, pred):
        return [j for sid in sids for j in tr.jobs_in(sid) if pred(j)]

    is_write = lambda j: j["site"].startswith("parquet at Sinks.scala")
    m.update({
        "etl.GraphQlApi.fetch_s": span_median("etl.GraphQlApi.fetchAllAreas"),
        "etl.GraphQlApi.pages": median([op["pages"] for op in exports]),
        "etl.FetchClient.retries": median([op["retries"] for op in exports]),
        "etl.FetchClient.useful_ratio": (
            sum(op["pages"] for op in exports) /
            sum(op["requests"] for op in exports) if exports else 0.0),
        "etl.JsonSource.load_s": span_median("etl.JsonSource.load"),
        "etl.ExportPipeline.run_s": span_median("etl.ExportPipeline.run"),
        "etl.ExportPipeline.driver_s": median(
            [tr.driver_seconds(s) for s in runs]),
        "etl.ExportPipeline.readback_job_s": (
            sum(tr.job_interval(j)[1] - tr.job_interval(j)[0]
                for j in jobs_where(runs, lambda j: not is_write(j)))
            / len(runs) if runs else 0.0),
        "etl.Sinks.write_job_s": (
            sum(tr.job_interval(j)[1] - tr.job_interval(j)[0]
                for j in jobs_where(runs, is_write)) / len(runs)
            if runs else 0.0),
        "etl.Sinks.output_bytes": median([op["parquet_bytes"] for op in exports]),
        "etl.Sinks.output_files": median([op["output_files"] for op in exports]),
    })

    # curation queries and versioned-table calls: one span each
    for name in names:
        for pattern, span, scale in SPAN_METRICS:
            hit = pattern.fullmatch(name)
            if hit:
                m[name] = span_median(span % hit.group(1), scale)

    # curate
    cand = values.get("dedup_candidate_pairs", 0)
    res = values.get("dedup_result_pairs", 0)
    m.update({
        "operators.Dedup.candidate_pairs": cand,
        "operators.Dedup.result_pairs": res,
        "operators.Dedup.useful_ratio": res / cand if cand else 0.0,
    })

    # lakehouse
    skips = [op for op in ops if op["kind"] == "readVersionSkipping"]
    total = sum(op["files_total"] for op in skips)
    m.update({
        "operators.TimeTravel.skip_files_read_ratio": (
            sum(op["files_read"] for op in skips) / total if total else 0.0),
        "operators.TimeTravel.log_entries": values.get("log_entries", 0),
        "operators.TimeTravel.live_files": values.get("live_files", 0),
    })
    # change-feed triggers: the phases of each trigger's progress report
    progress = [p for p in tr.progress if p["span"] in tr.timed]
    for name in names:
        hit = TRIGGER_METRIC.fullmatch(name)
        if hit:
            part = "triggerExecution" if hit.group(1) == "trigger" else hit.group(1)
            m[name] = median([p.get(part + "_ms", 0) for p in progress])

    # Spark and Catalyst, per traced operation
    def job_sum(key, scale=1.0):
        return per_op_mean(roots, lambda r: sum(
            j[key] for j in tr.jobs_in(r)) * scale)

    def phase_sum(phase):
        return per_op_mean(roots, lambda r: sum(
            q[phase + "_ms"] for q in tr.queries_in(r)) / 1e3)

    m.update({
        "spark.jobs": per_op_mean(roots, lambda r: len(tr.jobs_in(r))),
        "spark.tasks": job_sum("tasks"),
        "spark.driver_s": per_op_mean(roots, tr.driver_seconds),
        "catalyst.analysis_s": phase_sum("analysis"),
        "catalyst.optimization_s": phase_sum("optimization"),
        "catalyst.planning_s": phase_sum("planning"),
        "spark.executor_cpu_s": job_sum("executor_cpu_ns", 1e-9),
        "spark.gc_s": job_sum("gc_ms", 1e-3),
        "spark.shuffle_read_bytes": job_sum("shuffle_read_bytes"),
        "spark.shuffle_write_bytes": job_sum("shuffle_write_bytes"),
        "spark.spill_bytes": job_sum("spill_bytes"),
    })

    m.update(tracing_overhead(ops))
    m.update(workload_views(result))
    return m


def tracing_overhead(ops):
    """Traced minus untraced wall time per operation, per operation kind,
    weighted by how often each kind ran. The first unit is left out: it is
    still settling after the warm-up."""
    ops = [op for op in ops if op.get("unit", 0) > 0]
    diff = base = 0.0
    n = 0
    for kind in sorted({op["kind"] for op in ops}):
        t = [op_seconds(op) for op in ops if op["kind"] == kind and op["traced"]]
        u = [op_seconds(op) for op in ops if op["kind"] == kind and not op["traced"]]
        if t and u:
            k = len(t) + len(u)
            diff += k * (median(t) - median(u))
            base += k * median(u)
            n += k
    return {
        "trace.overhead_s": diff / n if n else 0.0,
        "trace.overhead_frac": diff / base if base else 0.0,
    }


def workload_views(result):
    """The workload-specific figures: export throughput and size ratio, the
    curation pass time, and the versioned table's latency classes and
    space cost. A workload reads 0 on the others' figures."""
    ops = result["ops"]
    values = result.get("values") or {}

    def lat(cls):
        return op_latencies_ms([op for op in ops if op.get("class") == cls])

    exports = [op for op in ops if op["kind"] == "export"]
    busy = sum(op_seconds(op) for op in exports)
    json_bytes = sum(op["json_bytes"] for op in exports if op["ok"])
    commits, reads, feeds = lat("commit"), lat("read"), lat("feed")
    passes = [op for op in ops if op["kind"] == "curate_pass"]
    return {
        "export.rows_per_s": (sum(op["rows"] for op in exports if op["ok"]) / busy
                              if busy else 0.0),
        "export.bytes_ratio": (sum(op["parquet_bytes"] for op in exports if op["ok"])
                               / json_bytes if json_bytes else 0.0),
        "curate.pass_s": finite(median(
            [op_seconds(op) if op["ok"] else INF for op in passes])),
        "lakehouse.commit_p50_ms": finite(median(commits)),
        "lakehouse.commit_p90_ms": finite(percentile(commits, 90)),
        "lakehouse.commit_n": len(commits),
        "lakehouse.read_p50_ms": finite(median(reads)),
        "lakehouse.read_p90_ms": finite(percentile(reads, 90)),
        "lakehouse.read_n": len(reads),
        "lakehouse.feed_p50_ms": finite(median(feeds)),
        "lakehouse.bytes_written_per_row": (bytes_written_per_row(
            values["table_bytes_start"], values["table_bytes_end"], ops)
            if "table_bytes_start" in values else 0.0),
        "failed_frac": (sum(1 for op in ops if not op["ok"]) / len(ops)
                        if ops else 0.0),
    }

"""Turns one harness run record into the benchmark's metrics.

The harness (src/main/scala/perfbench) records raw facts only: wall-clock
spans around each public call, and, for traced units, the jobs, completed
stages and query executions Spark's listeners reported. Everything here is
derived offline from those facts.
"""
import statistics


def tail_percentile(samples, beyond=10):
    """The highest nearest-rank percentile that has at least `beyond`
    samples ranked above it. Returns (percentile, value, n) or None when
    there are too few samples for any such percentile."""
    xs = sorted(samples)
    n = len(xs)
    k = n - 1 - beyond  # 0-based rank with exactly `beyond` ranks above it
    if k < 0:
        return None
    return 100.0 * (k + 1) / n, xs[k], n


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def driver_gap(start, end, stage_intervals):
    """Wall time of [start, end] not covered by any stage span."""
    clipped = [(max(s, start), min(e, end)) for s, e in stage_intervals]
    return (end - start) - union_length(clipped)


def median(xs):
    return statistics.median(xs) if xs else 0.0


SLACK_MS = 2.0  # listener timestamps are whole milliseconds


class Attribution:
    """Maps each recorded job (and its stages and query executions) to the
    innermost span it started in."""

    def __init__(self, record):
        self.spans = {s["id"]: s for s in record["spans"]}
        self.children = {}
        for s in record["spans"]:
            self.children.setdefault(s["parent"], []).append(s)
        stage_by_id = {}
        for st in record["stages"]:
            stage_by_id[st["stage"]] = st  # the last attempt wins
        self.stage_span = {}
        self.jobs_in, self.stages_in, self.qes_in = {}, {}, {}
        for job in record["jobs"]:
            sid = self.innermost(job["time_ms"])
            if sid is None:
                continue
            self.jobs_in.setdefault(sid, []).append(job)
            for stage_id in job["stages"]:
                st = stage_by_id.get(stage_id)
                if st is not None and stage_id not in self.stage_span:
                    self.stage_span[stage_id] = sid
                    self.stages_in.setdefault(sid, []).append(st)
        for qe in record["queries"]:
            starts = [p["start_ms"] for p in qe["phases"].values()]
            sid = self.innermost(min(starts)) if starts else None
            if sid is not None:
                self.qes_in.setdefault(sid, []).append(qe)

    def innermost(self, t):
        best = None
        for s in self.spans.values():
            if s["start_ms"] - SLACK_MS <= t <= s["end_ms"] + SLACK_MS:
                if best is None or s["start_ms"] >= best["start_ms"]:
                    best = s
        return None if best is None else best["id"]

    def subtree(self, sid):
        out, todo = [], [sid]
        while todo:
            x = todo.pop()
            out.append(x)
            todo.extend(c["id"] for c in self.children.get(x, []))
        return out

    def layer(self, sid):
        """Scheduler, executor and Catalyst totals over a span's subtree."""
        ids = self.subtree(sid)
        jobs = [j for i in ids for j in self.jobs_in.get(i, [])]
        stages = [s for i in ids for s in self.stages_in.get(i, [])]
        qes = [q for i in ids for q in self.qes_in.get(i, [])]
        span = self.spans[sid]

        def ssum(key):
            return sum(s.get(key, 0) or 0 for s in stages)

        def phase(name):
            return sum(q["phases"][name]["end_ms"] - q["phases"][name]["start_ms"]
                       for q in qes if name in q["phases"])
        intervals = [(s["submit_ms"], s["done_ms"]) for s in stages
                     if s.get("submit_ms") is not None and s.get("done_ms") is not None]
        return {
            "scheduler.jobs": len(jobs),
            "scheduler.stages": len(stages),
            "scheduler.tasks": ssum("tasks"),
            "scheduler.driver_gap_ms": driver_gap(span["start_ms"], span["end_ms"], intervals),
            "executor.run_ms": ssum("run_ms"),
            "executor.cpu_ms": ssum("cpu_ms"),
            "executor.gc_ms": ssum("gc_ms"),
            "executor.shuffle_read_bytes": ssum("shuffle_read_bytes"),
            "executor.shuffle_write_bytes": ssum("shuffle_write_bytes"),
            "executor.spill_bytes": ssum("spill_bytes"),
            "executor.bytes_written": ssum("bytes_written"),
            "catalyst.analysis_ms": phase("analysis"),
            "catalyst.optimization_ms": phase("optimization"),
            "catalyst.planning_ms": phase("planning"),
        }


def dur(span):
    return span["end_ms"] - span["start_ms"]


def child_spans(attr, sid, name):
    return [c for c in attr.children.get(sid, []) if c["name"] == name]


ETL_LAYER = ["etl.job1.plan_ms", "etl.job1.write_ms", "etl.job1.jobs", "etl.job1.stages",
             "etl.job1.tasks", "etl.job1.exec_run_ms", "etl.job1.exec_cpu_ms",
             "etl.job1.shuffle_write_bytes", "etl.job1.spill_bytes", "etl.job1.bytes_written",
             "etl.job1.files_written", "etl.job1.rows_in", "etl.job1.rows_out",
             "etl.publish.dims_ms", "etl.publish.dims_jobs", "etl.publish.fact_ms",
             "etl.publish.fact_jobs", "etl.publish.exec_run_ms", "etl.publish.exec_cpu_ms",
             "etl.publish.rows", "etl.publish.readback_ms"]
ENTRY_LAYER = ["entry.build_ms", "entry.build_jobs", "entry.action_ms", "entry.action_jobs"]
SPARK_LAYER = ["catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
               "scheduler.jobs", "scheduler.stages", "scheduler.tasks", "scheduler.driver_gap_ms",
               "executor.run_ms", "executor.cpu_ms", "executor.gc_ms",
               "executor.shuffle_read_bytes", "executor.shuffle_write_bytes",
               "executor.spill_bytes"]
PER_LAYER = ETL_LAYER + ENTRY_LAYER + SPARK_LAYER + ["trace.overhead_pct"]
LAYER_UNITS = {"_ms": "ms", "_bytes": "bytes", "bytes_written": "bytes", "_pct": "%"}


def layer_unit(name):
    for suffix, unit in LAYER_UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


def etl_month_layers(attr, month_span, op):
    """Per-layer figures of one traced month."""
    def one(name):
        spans = child_spans(attr, month_span["id"], name)
        return spans[0] if spans else None
    plan, write = one("etl.job1.plan"), one("etl.job1.write")
    dims, fact, back = one("etl.publish.dims"), one("etl.publish.fact"), one("etl.publish.readback")
    job1 = [attr.layer(s["id"]) for s in (plan, write) if s]
    pub = [attr.layer(s["id"]) for s in (dims, fact) if s]

    def tot(parts, key):
        return sum(p[key] for p in parts)
    out = {
        "etl.job1.plan_ms": dur(plan) if plan else 0.0,
        "etl.job1.write_ms": dur(write) if write else 0.0,
        "etl.job1.jobs": tot(job1, "scheduler.jobs"),
        "etl.job1.stages": tot(job1, "scheduler.stages"),
        "etl.job1.tasks": tot(job1, "scheduler.tasks"),
        "etl.job1.exec_run_ms": tot(job1, "executor.run_ms"),
        "etl.job1.exec_cpu_ms": tot(job1, "executor.cpu_ms"),
        "etl.job1.shuffle_write_bytes": tot(job1, "executor.shuffle_write_bytes"),
        "etl.job1.spill_bytes": tot(job1, "executor.spill_bytes"),
        "etl.job1.bytes_written": tot(job1, "executor.bytes_written"),
        "etl.job1.files_written": op.get("files_written", 0),
        "etl.job1.rows_in": int(op.get("intake", {}).get("n_rows", 0)),
        "etl.job1.rows_out": op.get("fact_rows", 0),
        "etl.publish.dims_ms": dur(dims) if dims else 0.0,
        "etl.publish.dims_jobs": attr.layer(dims["id"])["scheduler.jobs"] if dims else 0,
        "etl.publish.fact_ms": dur(fact) if fact else 0.0,
        "etl.publish.fact_jobs": attr.layer(fact["id"])["scheduler.jobs"] if fact else 0,
        "etl.publish.exec_run_ms": tot(pub, "executor.run_ms"),
        "etl.publish.exec_cpu_ms": tot(pub, "executor.cpu_ms"),
        "etl.publish.rows": op.get("published_rows", 0),
        "etl.publish.readback_ms": dur(back) if back else 0.0,
    }
    out.update({k: v for k, v in attr.layer(month_span["id"]).items() if k in SPARK_LAYER})
    return out


def query_layers(attr, query_span):
    """Per-layer figures of one traced query."""
    build = child_spans(attr, query_span["id"], "entry.build")
    action = child_spans(attr, query_span["id"], "entry.action")
    out = {
        "entry.build_ms": sum(dur(s) for s in build),
        "entry.build_jobs": sum(attr.layer(s["id"])["scheduler.jobs"] for s in build),
        "entry.action_ms": sum(dur(s) for s in action),
        "entry.action_jobs": sum(attr.layer(s["id"])["scheduler.jobs"] for s in action),
    }
    out.update({k: v for k, v in attr.layer(query_span["id"]).items() if k in SPARK_LAYER})
    return out

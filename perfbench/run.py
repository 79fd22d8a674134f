#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload etl_month --seed 1 --seconds 10 --trace 0

Builds the harness with the program's sources on first use, generates the
inputs from --seed into a fresh directory under .bench_build/, runs the
workload in one JVM on local[nproc], checks the outputs, and prints two
JSON lines: the workload's named metrics with their sample counts, then
the result object (always the last line). With --trace 1 the result holds
the per-layer metrics and the run's spans are kept in the artifact file.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402

OUT = os.path.join(ROOT, ".bench_build", "perfbench")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
ZONE_CSV = os.path.join(ROOT, "data", "taxi_zone_lookup.csv")
WORKLOADS = ("etl_month", "registry_mix")
ROWS_PER_MONTH = 150_000
RAW_FILES = 4  # distinct timed raw months, reused round-robin under new month labels
MAX_MONTHS = 48
# Discarded months, the first into an empty target. Smaller, so they cost
# little set-up time, but they run the same code on the same kind of month.
WARMUP_MONTHS = 3
WARMUP_ROWS = 20_000
RUN_TIMEOUT_S = 170
HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def spark_jars():
    """The jars of the Spark installation: $SPARK_HOME's, else those of the
    spark-submit on the PATH."""
    home = os.environ.get("SPARK_HOME")
    submit = shutil.which("spark-submit")
    if not home and submit:
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return os.path.join(home, "jars") if home else ""


SPARK_JARS = spark_jars()


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg):
    log(msg)
    sys.exit(2)


# ---------------------------------------------------------------- build

def source_digest():
    h = hashlib.sha256()
    roots = [PROGRAM_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for root in roots:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for path in paths:
            h.update(os.path.relpath(path, ROOT).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the harness and the program once per source state."""
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    stamp = os.path.join(OUT, "build.stamp")
    digest = source_digest()
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.isdir(classes):
        return classes
    log("building the harness and the program (sbt compile)")
    os.makedirs(OUT, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    cmd = ["sbt", "--batch", "-Dsbt.offline=true", "-Dsbt.server.autostart=false",
           f"-Dsbt.global.base={os.path.join(OUT, 'sbt-global')}",
           f"-Dperfbench.spark.jars={SPARK_JARS}", "-J-Xmx2g", "compile"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        cmd[2:2] = ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    with open(os.path.join(OUT, "build.log"), "w") as out:
        rc = subprocess.call(cmd, cwd=HERE, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, env=env, timeout=850)
    if rc != 0 or not os.path.isdir(classes):
        die(f"build failed (rc={rc}); see {os.path.join(OUT, 'build.log')}")
    with open(stamp, "w") as f:
        f.write(digest)
    return classes


# ---------------------------------------------------------------- inputs

def month_label(i):
    return 2024 + i // 12, i % 12 + 1


def make_inputs(workload, seed, work):
    """Write the run's inputs; returns the harness properties for them."""
    if workload == "etl_month":
        os.makedirs(os.path.join(work, "raw"))
        paths = []
        for i in range(WARMUP_MONTHS + MAX_MONTHS):
            y, m = month_label(i)
            j = i - WARMUP_MONTHS
            name = f"warmup_{i}" if j < 0 else f"yellow_tripdata_{j % RAW_FILES}"
            path = os.path.join(work, "raw", f"{name}.parquet")
            if j < RAW_FILES:
                gen.write_month(path, seed, y, m, WARMUP_ROWS if j < 0 else ROWS_PER_MONTH)
            paths.append(f"{y}-{m:02d}={path}")
        return {"months": ",".join(paths), "warmup_months": str(WARMUP_MONTHS)}
    data = os.path.join(work, "registry")
    os.makedirs(data)
    gen.write_registry(data)
    order = list(load_json("workloads.json")[workload])
    random.Random(seed).shuffle(order)
    return {"data_dir": data, "queries": ",".join(order)}


def load_json(name):
    with open(os.path.join(HERE, name)) as f:
        return json.load(f)


# ---------------------------------------------------------------- run

def cpu_jiffies():
    """(steal, total) CPU jiffies of the machine so far, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def run_harness(classes, props, work, deadline):
    props_path = os.path.join(work, "run.properties")
    with open(props_path, "w") as f:
        for k, v in props.items():
            f.write(f"{k}={v}\n".replace("\\", "\\\\"))
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = ["java", f"-Xmx{HEAP}", *opens, "-XX:+UseParallelGC",
           f"-Dderby.system.home={work}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-cp", f"{classes}:{SPARK_JARS}/*", "perfbench.Harness", props_path]
    os.makedirs(os.path.join(work, "tmp"))
    env = dict(os.environ, GRAFT_ZONE_CSV=ZONE_CSV,
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    steal0, total0 = cpu_jiffies()
    with open(os.path.join(work, "harness.log"), "w") as out:
        proc = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, env=env, start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:  # also on SIGTERM/SIGINT: never leave the JVM behind
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if rc != 0:
        with open(os.path.join(work, "harness.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        die(f"harness failed ({rc})")
    steal1, total1 = cpu_jiffies()
    with open(props["out"]) as f:
        record = json.load(f)
    # time the hypervisor gave to other guests while the run held the host
    record["context"]["steal_pct"] = 100.0 * (steal1 - steal0) / max(1, total1 - total0)
    return record


def duckdb_fact_count(path, sql):
    """Independent row count of the fact a raw month must yield: the
    program's own cleanse/derive CTEs, run by DuckDB over the raw file."""
    import duckdb
    con = duckdb.connect()
    try:
        raw = path.replace("'", "''")
        return con.execute(
            f"WITH raw AS (SELECT * FROM read_parquet('{raw}')),\n"
            f"{sql['cleanse']},\n{sql['derive']}\nSELECT count(*) FROM banded").fetchone()[0]
    finally:
        con.close()


def check_etl(record):
    failures, counts = [], {}
    for op in record["ops"]:
        if "error" in op:
            failures.append(f"{op['op']}: {op['error']}")
            continue
        if op["path"] not in counts:
            counts[op["path"]] = duckdb_fact_count(op["path"], record["sql"])
        want = counts[op["path"]]
        got = {k: op[k] for k in ("fact_rows", "catalog_rows", "published_rows", "readback_rows")}
        if any(v != want for v in got.values()):
            failures.append(f"{op['op']}: duckdb={want} spark={got}")
    return failures


def record_expected(record):
    expected = load_json("expected.json")
    seen = {}
    for op in record["ops"]:
        got = {"rows": op["rows"], "fingerprint": op["fingerprint"]}
        if seen.setdefault(op["op"], got) != got:
            die(f"{op['op']}: result differs between passes; not recorded")
    expected.update(seen)
    with open(os.path.join(HERE, "expected.json"), "w") as f:
        json.dump(dict(sorted(expected.items())), f, indent=1)
        f.write("\n")


def check_registry(record):
    expected = load_json("expected.json")
    failures = []
    for op in record["ops"]:
        exp = expected.get(op["op"])
        if "error" in op:
            failures.append(f"{op['op']}: {op['error']}")
        elif exp is None:
            failures.append(f"{op['op']}: no expected result recorded")
        elif (op["rows"], op["fingerprint"]) != (exp["rows"], exp["fingerprint"]):
            failures.append(f"{op['op']}: rows={op['rows']} fp={op['fingerprint']} "
                            f"expected rows={exp['rows']} fp={exp['fingerprint']}")
    return failures


# ---------------------------------------------------------------- metrics

def clean_ops(record):
    """The run's operations that raised no error, keyed the way their spans
    name them: a month label, or (query, pass)."""
    return {(o["op"], o.get("pass")): o for o in record["ops"] if "error" not in o}


def end_to_end(workload, record, traced):
    """End-to-end figures over the (un)traced timed units of a run: the
    workload's own named figures, the gated generic ones, the sample
    counts, and the per-operation walls they were taken from. Operations
    that raised an error are left out (they count as failed), and so is a
    pass that holds one; a figure with no sample left is None."""
    spans = record["spans"]
    ok = clean_ops(record)
    if workload == "etl_month":
        months = [s for s in spans if s["name"] == "month" and s["attrs"]["traced"] == traced
                  and (s["attrs"]["month"], None) in ok]
        timed = [ok[(s["attrs"]["month"], None)] for s in months]
        op_walls = [o["published_ms"] / 1e3 for o in timed]
        rows = ROWS_PER_MONTH
        wall_s = sum(map(metrics.dur, months)) / 1e3
        named = {
            "star_ready_s": (metrics.median([o["star_ready_ms"] / 1e3 for o in timed]), "s"),
            "published_s": (metrics.median(op_walls), "s"),
            "ingest_rows_per_s": (rows * len(months) / wall_s if wall_s else None, "1/s"),
        }
        samples = {"months": len(timed), "rows_per_month": rows}
        op_mean = statistics.fmean(op_walls) if op_walls else None
    else:
        queries = [s for s in spans if s["name"] == "query"]
        bad = {s["parent"] for s in queries
               if (s["attrs"]["query"], s["attrs"]["pass"]) not in ok}
        passes = [s for s in spans if s["name"] == "pass" and s["attrs"]["traced"] == traced
                  and s["id"] not in bad]
        pass_ids = {s["id"] for s in passes}
        op_walls = [metrics.dur(s) / 1e3 for s in queries if s["parent"] in pass_ids]
        pass_s = metrics.median([metrics.dur(s) / 1e3 for s in passes])
        tail = metrics.tail_percentile(op_walls)
        named = {
            "pass_s": (pass_s, "s"),
            "query_p50_s": (metrics.median(op_walls), "s"),
            "query_tail_s": (tail[1] if tail else None, "s"),
        }
        samples = {"passes": len(passes), "queries": len(op_walls),
                   "query_tail_percentile": tail[0] if tail else None}
        # the median pass over its queries: a whole pass averages out where
        # the seeded order puts each query
        op_mean = pass_s * len(passes) / len(op_walls) if op_walls else None
    # the geometric mean moves smoothly with every operation, where the
    # median of a mixed query list jumps between queries; next to the
    # arithmetic mean it damps a single slow operation
    gmean = statistics.geometric_mean(op_walls) if op_walls else None
    return named, {"op_gmean_s": gmean, "op_mean_s": op_mean}, samples, op_walls


def per_layer(workload, record):
    """Layer figures of each traced unit (a month, or a pass summed over its
    queries): their medians, and the per-operation breakdown. Operations
    that raised an error, and passes that hold one, are left out."""
    attr = metrics.Attribution(record)
    spans = record["spans"]
    ok = clean_ops(record)
    units, per_op = [], []
    if workload == "etl_month":
        for s in spans:
            key = (s["attrs"].get("month"), None)
            if s["name"] == "month" and s["attrs"]["traced"] and key in ok:
                unit = metrics.etl_month_layers(attr, s, ok[key])
                units.append(unit)
                per_op.append(dict(op=s["attrs"]["month"], **unit))
    else:
        for p in spans:
            if p["name"] == "pass" and p["attrs"]["traced"]:
                qs = [q for q in spans if q["name"] == "query" and q["parent"] == p["id"]]
                if any((q["attrs"]["query"], q["attrs"]["pass"]) not in ok for q in qs):
                    continue
                qs = [(q["attrs"]["query"], metrics.query_layers(attr, q)) for q in qs]
                per_op += [dict(op=name, pass_index=p["attrs"]["pass"], **x) for name, x in qs]
                units.append({k: sum(x[k] for _, x in qs)
                              for k in metrics.ENTRY_LAYER + metrics.SPARK_LAYER})
    names = [n for n in metrics.PER_LAYER if n != "trace.overhead_pct"]
    return {n: metrics.median([u.get(n, 0) for u in units]) for n in names}, per_op


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true", help="keep the run's work directory")
    ap.add_argument("--record", action="store_true",
                    help="write the registry results to expected.json (after an oracle check)")
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(PROGRAM_SRC) or not os.path.isfile(ZONE_CSV):
        die(f"run from the root of a checkout: {PROGRAM_SRC} or {ZONE_CSV} is missing")
    if not os.path.isdir(SPARK_JARS):
        die(f"no Spark jars at '{SPARK_JARS}': set SPARK_HOME")
    classes = build()
    deadline = time.time() + RUN_TIMEOUT_S  # a first build may take longer
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time() * 1000)}-{os.getpid()}"
    work = os.path.join(OUT, "runs", run_id)
    os.makedirs(work)
    try:
        props = make_inputs(args.workload, args.seed, work)
        props.update(workload=args.workload, run_id=run_id, seconds=str(args.seconds),
                     trace=str(args.trace), work_dir=work,
                     cpus=str(len(os.sched_getaffinity(0))),
                     out=os.path.join(work, "record.json"))
        record = run_harness(classes, props, work, deadline)
        if args.record and args.workload != "etl_month":
            record_expected(record)
        checks = check_etl(record) if args.workload == "etl_month" else check_registry(record)
    finally:
        if not args.keep:
            shutil.rmtree(work, ignore_errors=True)

    named, generic, samples, op_walls = end_to_end(args.workload, record, traced=False)
    setup_s = (record["first_op_ms"] - record["jvm_start_ms"]) / 1e3
    peak_rss_mb = record["peak_rss_kb"] / 1024.0
    attempted, failed = len(record["ops"]), len(checks)
    detail = {name: {"value": v, "unit": u} for name, (v, u) in named.items()}
    detail.update({
        "setup_s": {"value": setup_s, "unit": "s"},
        "fail_ratio": {"value": failed / attempted, "unit": "ratio"},
        "peak_rss_mb": {"value": peak_rss_mb, "unit": "MB"},
    })
    artifact = {"run_id": run_id, "workload": args.workload, "seed": args.seed,
                "seconds": args.seconds, "trace": args.trace, "samples": samples,
                "metrics": detail, "op_walls_s": op_walls, "context": record["context"],
                "failures": checks}
    if args.trace:
        layers, per_op = per_layer(args.workload, record)
        t_named, t_generic, t_samples, _ = end_to_end(args.workload, record, traced=True)
        overhead = {k: {"untraced": generic[k], "traced": t_generic[k],
                        "delta_pct": 100.0 * (t_generic[k] - generic[k]) / generic[k]
                        if generic[k] and t_generic[k] is not None else None}
                    for k in generic}
        layers["trace.overhead_pct"] = overhead["op_mean_s"]["delta_pct"] or 0.0
        artifact.update(tracing_overhead=overhead, traced_samples=t_samples,
                        per_layer=layers, per_op=per_op,
                        spans=record["spans"], jobs=record["jobs"],
                        stages=record["stages"], query_executions=record["queries"])
        result = {n: {"value": v, "unit": metrics.layer_unit(n)} for n, v in layers.items()}
    else:
        result = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "op_gmean_s": {"value": generic["op_gmean_s"], "unit": "s"},
            "op_mean_s": {"value": generic["op_mean_s"], "unit": "s"},
            "peak_rss_mb": {"value": peak_rss_mb, "unit": "MB"},
        }
    os.makedirs(os.path.join(OUT, "artifacts"), exist_ok=True)
    art_path = os.path.join(OUT, "artifacts", f"{run_id}.json")
    with open(art_path, "w") as f:
        json.dump(artifact, f)
    for c in checks:
        log(f"CHECK FAILED {c}")
    print(json.dumps({"workload": args.workload, "seed": args.seed, "metrics": detail,
                      "samples": samples, "context": record["context"],
                      "artifact": os.path.relpath(art_path, ROOT)}))
    print(json.dumps({"correct": not checks, "attempted": attempted, "failed": failed,
                      "metrics": result}))


if __name__ == "__main__":
    main()

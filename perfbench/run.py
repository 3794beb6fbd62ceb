#!/usr/bin/env python3
"""Run one benchmark workload against migrator_spark and print its metrics.

    python3 perfbench/run.py --workload apply_hot --seed 1 --seconds 20 --trace 0

Run it from the repository root (any directory works; paths resolve from
this file). The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones
of a separate traced run. The line before it is the full record
(``{"record": {...}}``): every metric, host drift and resource
counters. Records are also appended to ``.perfbench/out/records.jsonl``
and a traced run writes its spans and Spark stage attribution to
``.perfbench/out/trace-<workload>-<seed>-<pid>.json``.

All state lives under ``.perfbench/`` in the repository root: the input
cache (generated logs, oracle digests), per-run scratch (tables, Spark
local dirs, temp files; removed at exit) and the output records.
See perfbench/README.md for the workloads and the metric table.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import threading
import time
import uuid

from inputs import gen_seed
from observe import (SPARK_FIELDS, SPARK_SPANS, Tracer, TreeRss, check_span_tree,
                     descendants, kill_and_wait, spark_attribution)
from workloads import SIZES, WORKLOADS, Run, apply_hot, median

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
STATE = os.path.join(ROOT, ".perfbench")
OUT = os.path.join(STATE, "out")

# name -> unit; the end-to-end metrics of an untraced run. Apart from
# set-up they are process-tree CPU seconds, not wall: on a shared host
# other guests' CPU steal moves the wall of the same run by up to 2x, and
# CPU time leaves steal out. The wall figures are in every record and in
# the traced run's per-layer metrics.
END_TO_END = {
    "setup_s": "s",
    "apply_cpu_s_per_kevent": "s",
    "commit_cpu_p50_s": "s",
    "replay_verify_cpu_s": "s",
    "changes_feed_cpu_s": "s",
    "lookup_cpu_p50_s": "s",
}
LEG_BUDGET_S = 165.0  # the whole traced run, scaling leg included, ends within this
# Thread scaling is measured on the bulk path only: a local[1] leg of
# trickle_serve does not fit in the traced run's time limit.
SCALING_WORKLOAD = "apply_hot"
SELF_SPANS = ("workload", "warmin", "prebuild", "apply", "merge", "read", "changes",
              "lookup", "mv_refresh")


def per_layer_units() -> dict[str, str]:
    units = {
        "session.start_s": "s", "session.warmin_s": "s",
        "streaming.apply.first_batch_s": "s", "streaming.apply.overhead_s": "s",
        "laketable.merge.events": "count", "laketable.merge.winners": "count",
        "laketable.merge.dedup_ratio": "ratio", "laketable.merge.applied": "count",
        "laketable.merge.deleted": "count", "laketable.merge.broadcast_share": "ratio",
        "laketable.merge.files_staged": "count", "laketable.merge.bytes_staged": "bytes",
        "laketable.merge.write_amp": "ratio", "laketable.merge.write_job_s": "s",
        "laketable.merge.compactions": "count", "laketable.merge.compacting_commit_s": "s",
        "laketable.merge.plain_commit_s": "s",
        "tableio.ops_per_commit": "count", "tableio.s_per_commit": "s",
        "laketable.files_live": "count", "laketable.chain_mean": "count",
        "laketable.chain_max": "count",
        "laketable.read.local_s": "s", "laketable.read.shuffle_s": "s",
        "laketable.read.full_s": "s", "laketable.count_s": "s",
        "laketable.changes.s": "s", "laketable.changes.rows": "count",
        "laketable.changes.buckets_touched": "count", "laketable.lookup.s": "s",
        "matview.refresh.incremental_s": "s",
        "transforms.cdc_transform_rows_per_s": "rows/s",
        "resources.persisted_rdds_end": "count", "resources.jvm_threads_end": "count",
        "resources.py_threads_end": "count", "resources.peak_rss_mb": "MB",
        "host.canary_s": "s", "host.steal_pct": "%", "host.user_pct": "%",
        "scaling.apply_events_per_s_1core": "events/s", "scaling.thread_eff_1to4": "ratio",
        "tracing.overhead_frac": "ratio",
        "wall.apply_events_per_s": "events/s", "wall.commit_p50_s": "s",
        "wall.replay_verify_s": "s",
    }
    for kind in SPARK_SPANS:
        for f in SPARK_FIELDS:
            units[f"spark.{kind}.{f}"] = (
                "ratio" if f == "task_skew" else "bytes" if f.endswith("bytes") else "count")
    for name in SELF_SPANS:
        units[f"span.{name}.self_s"] = "s"
    return units


def process_age_s() -> float:
    """Seconds since this process started (kernel start time)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def code_fingerprint() -> str:
    """Hash of the program and benchmark sources: records of other code
    are not used as this code's reference."""
    h = hashlib.sha256()
    for top in ("migrator_spark", "perfbench"):
        for dirpath, dirnames, files in os.walk(os.path.join(ROOT, top)):
            dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
            for name in sorted(files):
                if name.endswith(".py"):
                    path = os.path.join(dirpath, name)
                    h.update(os.path.relpath(path, ROOT).encode())
                    with open(path, "rb") as f:
                        h.update(f.read())
    return h.hexdigest()[:16]


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("apply_hot", "trickle_serve"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # the CPUs this process may run on (what nproc prints), not every CPU
    # of the machine: a container given a few cores of a large host
    # would otherwise start one task thread and worker per host CPU
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)))
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input size; tiny is for the self-test")
    ap.add_argument("--leg", action="store_true",
                    help=f"scaling leg of {SCALING_WORKLOAD}: set up once and time one drain")
    args = ap.parse_args(argv)
    if args.leg and args.workload != SCALING_WORKLOAD:
        ap.error(f"--leg runs {SCALING_WORKLOAD} only")
    return args


def prepare_env(work: str) -> None:
    """Keep every file the run writes inside the checkout, and measure
    the default program: no engine switch from the caller leaks in.
    Runs before the first import of migrator_spark, whose modules read
    some switches at import time."""
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    # bind Spark to the loopback interface even where the host name does
    # not resolve
    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    os.environ.setdefault("SPARK_LOCAL_HOSTNAME", "localhost")
    for d in ("tmp", "local", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # Python workers import migrator_spark from the checkout
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    import tempfile

    tempfile.tempdir = None


def spark_conf(work: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",  # one file, read by spark_attribution
        })
    return conf


def stop_spark(spark) -> None:
    """Stop the session, end the gateway JVM, and wait for it and every
    process it started (Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    kids = descendants(os.getpid())
    spark.stop()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    kill_and_wait(kids, grace_s=15)


def finite(v) -> float:
    v = float(v)
    return v if math.isfinite(v) else 0.0


def resources(spark) -> dict:
    jvm = spark.sparkContext._jvm
    return {
        "persisted_rdds_end": float(spark.sparkContext._jsc.getPersistentRDDs().size()),
        "jvm_threads_end": float(
            jvm.java.lang.management.ManagementFactory.getThreadMXBean().getThreadCount()),
        "py_threads_end": float(threading.active_count()),
    }


def scaling_leg(args) -> dict:
    """This workload's apply throughput at local[1], in a fresh process
    set up like the traced run (tracing on, the same warm-ins), given
    what is left of ``LEG_BUDGET_S``. The leg's result line. On
    timeout the leg and every process under it are killed and reaped."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", "1", "--trace", "1", "--cores", "1",
           "--size", args.size, "--leg"]
    p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                         text=True)
    try:
        out, err = p.communicate(timeout=max(0.1, LEG_BUDGET_S - process_age_s()))
    except subprocess.TimeoutExpired:
        kids = descendants(p.pid)
        p.kill()
        p.communicate()
        kill_and_wait(kids)
        raise
    if p.returncode != 0:
        raise RuntimeError(f"exited {p.returncode}: {err[-500:]}")
    return json.loads(out.strip().splitlines()[-1])


def untraced_apply_cpu(workload: str, size: str, cores: int, code: str) -> list[float]:
    """apply_cpu_s_per_kevent of earlier untraced records of this code."""
    path = os.path.join(OUT, "records.jsonl")
    if not os.path.exists(path):
        return []
    out = []
    with open(path) as f:
        for line in f:
            r = json.loads(line)
            if (r["workload"], r["size"], r["cores"], r["trace"], r["leg"], r.get("code")) == \
                    (workload, size, cores, 0, False, code) and r["correct"]:
                out.append(r["metrics"]["apply_cpu_s_per_kevent"])
    return out[-10:]


def run_workload(args, work: str) -> dict:
    from migrator_spark.session import get_spark

    trace = bool(args.trace)
    tracer = Tracer(trace, uuid.uuid4().hex[:12])
    record = {"workload": args.workload, "seed": args.seed, "gen_seed": gen_seed(args.seed),
              "size": args.size,
              "cores": args.cores, "trace": args.trace, "leg": args.leg,
              "seconds": args.seconds, "code": code_fingerprint()}
    with TreeRss() as rss:
        spark = get_spark(f"perfbench-{args.workload}", cores=args.cores,
                          extra_conf=spark_conf(work, trace))
        session_s = process_age_s()
        now = time.time()
        tracer.add("session", now - session_s, now, None)
        run = Run(spark, tracer, work, os.path.join(STATE, "cache"), record["gen_seed"],
                  args.seconds, SIZES[args.workload][args.size], trace)
        layer: dict[str, float] = {}
        try:
            with tracer.span("workload"):
                extra = apply_hot(run, leg=True) if args.leg else WORKLOADS[args.workload](run)
                if trace and not args.leg:
                    layer.update(trace_probes(run, extra))
            res = resources(spark)
        finally:
            stop_spark(spark)
    s = run.samples
    eps = run.events_applied / run.apply_wall if run.apply_wall else 0.0
    e2e = {
        "setup_s": session_s + sum(run.setup["warmin"]) + run.setup["prebuild_s"],
        "apply_events_per_s": eps,
        "commit_p50_s": median(s["commit"]),
        "replay_verify_s": median(s["replay_verify"]),
        "changes_feed_s": median(s["changes"]),
        "lookup_p50_s": median(s["lookup"]),
        "apply_cpu_s_per_kevent":
            1000 * run.apply_cpu / run.events_applied if run.events_applied else 0.0,
        "commit_cpu_p50_s": median(run.cpu["commit"]),
        "replay_verify_cpu_s": median(run.cpu["replay_verify"]),
        "changes_feed_cpu_s": median(run.cpu["changes"]),
        "lookup_cpu_p50_s": median(run.cpu["lookup"]),
    }
    serve = {"read_full_s": median(s["read"]), "mv_refresh_s": median(s["mv_refresh"]),
             "changes_s": s["changes"], "lookup_s": s["lookup"]}
    res["peak_rss_mb"] = rss.peak_kb / 1024.0
    host = {"canary_s": median(run.host["canary"]), "steal_pct": run.host["steal_pct"],
            "user_pct": run.host["user_pct"]}
    record.update({
        "correct": run.failed == 0 and run.attempted > 0,
        "attempted": run.attempted, "failed": run.failed, "errors": run.errors[:20],
        "failed_ops_frac": run.failed / max(run.attempted, 1),
        "metrics": {k: finite(v) for k, v in e2e.items()},
        "cycles": run.cycles, "commits": len(run.commits), "measured_s": run.measured_s,
        "session_s": session_s, "warmin_s": run.setup["warmin"],
        "prebuild_s": run.setup["prebuild_s"], "serve": serve,
        "host": host, "resources": res,
    })
    if trace and not args.leg:
        layer.update(commit_layer(run, session_s))
        layer.update({f"resources.{k}": v for k, v in res.items()})
        layer.update({f"host.{k}": v for k, v in host.items()})
        spark_metrics = spark_attribution(os.path.join(work, "eventlog"), tracer.spans)
        for kind, fields in spark_metrics.items():
            calls = max(1, sum(1 for sp in tracer.spans if sp["name"] == kind))
            for f, v in fields.items():
                layer[f"spark.{kind}.{f}"] = v if f == "task_skew" else v / calls
        self_s = tracer.self_times()
        for name in SELF_SPANS:
            calls = sum(1 for sp in tracer.spans if sp["name"] == name)
            layer[f"span.{name}.self_s"] = self_s.get(name, 0.0) / calls if calls else 0.0
        # A leg that runs out of time leaves its metrics at 0 (noted in
        # the record); one that fails or answers wrongly is a failed op.
        one = 0.0
        if args.workload != SCALING_WORKLOAD:
            record["scaling_leg"] = f"not run: thread scaling is measured on {SCALING_WORKLOAD}"
        else:
            run.attempted += 1
            try:
                leg = scaling_leg(args)
                if leg["correct"]:
                    one = leg["metrics"]["apply_events_per_s"]["value"]
                else:
                    run.fail(f"scaling leg: {leg['failed']} of {leg['attempted']} ops failed")
            except subprocess.TimeoutExpired:
                record["scaling_leg"] = "timed out: scaling.* not measured"
            except (RuntimeError, KeyError, ValueError) as e:
                run.fail(f"scaling leg: {e}")
        record.update(correct=run.failed == 0, attempted=run.attempted, failed=run.failed,
                      errors=run.errors[:20], failed_ops_frac=run.failed / run.attempted)
        layer["scaling.apply_events_per_s_1core"] = one
        layer["scaling.thread_eff_1to4"] = eps / one / args.cores if one else 0.0
        ref = untraced_apply_cpu(args.workload, args.size, args.cores, record["code"])
        cpu = record["metrics"]["apply_cpu_s_per_kevent"]
        layer["tracing.overhead_frac"] = cpu / median(ref) - 1.0 if ref else 0.0
        layer.update({f"wall.{k}": record["metrics"][k]
                      for k in ("apply_events_per_s", "commit_p50_s", "replay_verify_s")})
        record["tracing_overhead_basis"] = f"{len(ref)} untraced records"
        record["per_layer"] = {k: finite(v) for k, v in layer.items()}
        record["span_problems"] = check_span_tree(tracer.spans)
        os.makedirs(OUT, exist_ok=True)
        trace_path = os.path.join(OUT, f"trace-{args.workload}-{args.seed}-{os.getpid()}.json")
        with open(trace_path, "w") as f:
            json.dump({"run_id": tracer.run_id, "workload": args.workload, "seed": args.seed,
                       "spans": tracer.spans, "self_s": self_s, "spark": spark_metrics}, f)
        record["trace_file"] = os.path.relpath(trace_path, ROOT)
    return record


def commit_layer(run, session_s: float) -> dict:
    """laketable.merge.* and friends from the commit lineage records."""
    commits = [c for c in run.commits if not c.get("skipped")]
    n = max(len(commits), 1)
    tot = {k: sum(c["totals"][k] for c in commits) for k in ("events", "applied", "deleted")}
    winners = tot["applied"] + tot["deleted"]
    compacting = [c["wall"] for c in commits if c.get("compacted")]
    plain = [c["wall"] for c in commits if not c.get("compacted")]
    files = sum(x[0] for x in run.staged)
    nbytes = sum(x[1] for x in run.staged)
    payload = sum(x[2] for x in run.staged)
    out = {
        "session.start_s": session_s,
        "session.warmin_s": run.setup["warmin"][0],
        "streaming.apply.first_batch_s": commits[0]["wall"] if commits else 0.0,
        "laketable.merge.events": tot["events"] / n,
        "laketable.merge.winners": winners / n,
        "laketable.merge.dedup_ratio": winners / tot["events"] if tot["events"] else 0.0,
        "laketable.merge.applied": tot["applied"] / n,
        "laketable.merge.deleted": tot["deleted"] / n,
        "laketable.merge.broadcast_share": sum(1 for c in commits if c.get("used_broadcast")) / n,
        "laketable.merge.files_staged": files / max(len(run.staged), 1),
        "laketable.merge.bytes_staged": nbytes / max(len(run.staged), 1),
        "laketable.merge.write_amp": nbytes / payload if payload else 0.0,
        "laketable.merge.compactions": len(compacting) / max(run.cycles, 1),
        "laketable.merge.compacting_commit_s": median(compacting),
        "laketable.merge.plain_commit_s": median(plain),
        "laketable.read.full_s": median(run.samples["read"]),
        "laketable.changes.s": median(run.samples["changes"]),
        "laketable.changes.rows": median(run.samples["changes.rows"]),
        "laketable.changes.buckets_touched": median(run.samples["changes.buckets"]),
        "laketable.lookup.s": median(run.samples["lookup"]),
        "matview.refresh.incremental_s": median(run.samples["mv_refresh"]),
    }
    return out


def trace_probes(run, extra: dict) -> dict:
    direct = extra["direct"]
    plain = [c["wall"] for c in run.commits if not c.get("compacted")]
    reads = run.read_probes(run.table_path)
    out = {
        "streaming.apply.overhead_s": median(plain) - direct["direct_s"],
        "laketable.merge.write_job_s": direct["write_job_s"],
        "tableio.ops_per_commit": direct["ops_per_commit"],
        "tableio.s_per_commit": direct["s_per_commit"],
        "transforms.cdc_transform_rows_per_s": run.transform_probe(extra["log"]),
    }
    out.update({f"laketable.{k}": v for k, v in reads.items()})
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    work = os.path.join(STATE, f"run-{os.getpid()}")
    try:
        prepare_env(work)
        sys.path.insert(0, ROOT)
        import migrator_spark  # fails fast where the program is absent

        home = os.path.dirname(os.path.dirname(os.path.realpath(migrator_spark.__file__)))
        if home != os.path.realpath(ROOT):
            raise SystemExit(f"migrator_spark is not in this checkout ({ROOT})")
        record = run_workload(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, "records.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    if args.leg:
        names = {"apply_events_per_s": "events/s"}
    elif args.trace:
        names = per_layer_units()
    else:
        names = END_TO_END
    source = record["per_layer"] if args.trace and not args.leg else record["metrics"]
    print(json.dumps({"record": record}))
    print(json.dumps({
        "correct": record["correct"], "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": {k: {"value": source[k], "unit": u} for k, u in names.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

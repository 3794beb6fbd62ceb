"""The benchmark's workloads, driven through migrator_spark's public API.

Both workloads apply change events to a ``LakeTable`` in cycles, verify
the table against the replay oracle after each cycle, and then serve the
consumer reads (full read, change feed, point lookups, materialized view
refresh). They differ in how the events arrive:

- ``apply_hot``: a Structured Streaming drain of a skewed log into an
  empty table, a few large micro-batches per cycle. The bulk merge path
  does the work; the consumer reads see one large change set.
- ``trickle_serve``: many tiny uniform-key commits through the
  streaming ``foreachBatch`` body on a pre-built table, one whole
  amortized-compaction cycle at a time. Per-commit fixed cost and
  compaction do the work; the consumer reads see one small change set.

Every operation is closed-loop and sequential, and is counted in
``attempted``; one that raises or returns a wrong answer is counted in
``failed``.
"""

from __future__ import annotations

import os
import shutil
import statistics
import threading
import time
from collections import defaultdict

from inputs import DIGEST_COLS, EventLog, digest_rows, repo_counts
from observe import canary_s, cpu_share, cpu_times, tree_cpu_s

MV_AGGS = {"n_docs": ("count", None), "n_sha": ("count", "content_sha256")}
LOOKUP_KEYS = 16
SERVE_REPS = 3  # changes(v-1) and lookup calls per serve pass, interleaved

# Input sizes. "tiny" exists for the self-test only.
SIZES = {
    "apply_hot": {
        "full": dict(num_events=45_000, num_keys=4_500, hot_fraction=0.3,
                     num_files=6, content_repeat=4, files_per_trigger=2,
                     buckets=8, warmin_events=2_000),
        "tiny": dict(num_events=6_000, num_keys=600, hot_fraction=0.3,
                     num_files=4, content_repeat=4, files_per_trigger=2,
                     buckets=4, warmin_events=1_000),
    },
    "trickle_serve": {
        "full": dict(prebuild_events=10_000, num_keys=5_000, batch_events=500,
                     max_commits=32, content_repeat=4, buckets=8,
                     warmin_events=2_000),
        "tiny": dict(prebuild_events=1_000, num_keys=500, batch_events=50,
                     max_commits=40, content_repeat=4, buckets=4,
                     warmin_events=500),
    },
}
MAX_CYCLE_COMMITS = 16
# Nominal wall of one measured cycle on a 4-vCPU host: a run measures
# round(--seconds / CYCLE_S) cycles, at least one.
CYCLE_S = 20.0


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def payload_schema():
    from pyspark.sql import types as T

    from migrator_spark.schema import PAYLOAD_FIELDS

    return T.StructType(PAYLOAD_FIELDS + [T.StructField("content_sha256", T.StringType(), True)])


def counting_io():
    """A ``LocalTableIO`` that counts metadata operations and the time
    spent in them (the direct-merge replay's ``tableio.*`` metrics)."""
    from migrator_spark.plans.tableio import LocalTableIO

    io = LocalTableIO()
    io.ops, io.busy_s = 0, 0.0
    lock = threading.Lock()
    for name in ("read_text", "write_text_atomic", "write_text_exclusive", "exists",
                 "makedirs", "listdir", "rename", "remove", "rmtree", "mtime",
                 "open_input_file"):
        def counted(*a, _fn=getattr(io, name), **k):
            t = time.perf_counter()
            try:
                return _fn(*a, **k)
            finally:
                with lock:
                    io.ops += 1
                    io.busy_s += time.perf_counter() - t

        setattr(io, name, counted)
    return io


class Run:
    """State of one benchmark run: the session, the tracer, the timing
    samples, the commit records and the correctness counters."""

    def __init__(self, spark, tracer, work: str, cache: str, seed: int, seconds: float,
                 size: dict, trace: bool):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.cache = cache
        self.seed = seed
        self.seconds = seconds
        self.size = size
        self.trace = trace
        self.samples: dict[str, list[float]] = defaultdict(list)  # wall seconds
        self.cpu: dict[str, list[float]] = defaultdict(list)  # process-tree CPU seconds
        self.commits: list[dict] = []
        self.staged: list[tuple[int, int, int]] = []  # (files, bytes, payload bytes)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.events_applied = 0
        self.apply_wall = 0.0
        self.apply_cpu = 0.0
        self.table_path: str | None = None
        self.cycles = 0
        self.setup: dict = {}
        self.measured_s = 0.0
        self.host: dict = {}

    def setup_done(self, setup: dict) -> None:
        """Set-up is over: open the measured window's host record."""
        self.setup = setup
        self.host = {"canary": [canary_s()], "cpu0": cpu_times()}

    def host_after(self) -> None:
        self.host["canary"].append(canary_s())
        self.host.update(cpu_share(self.host.pop("cpu0"), cpu_times()))

    def fail(self, what: str) -> None:
        self.failed += 1
        self.errors.append(what)

    def op(self, name: str, fn, check=None, sample: str | None = None):
        """One timed, counted operation: its wall and process-tree CPU
        seconds are sampled. ``check(result)`` runs after the timer
        stops; False counts the operation as failed."""
        self.attempted += 1
        with self.tracer.span(name):
            c = tree_cpu_s()
            t = time.perf_counter()
            try:
                out = fn()
            except Exception as e:  # counted, reported, and the run goes on
                self.fail(f"{name}: {type(e).__name__}: {str(e)[:300]}")
                return None
            dt = time.perf_counter() - t
            dc = tree_cpu_s() - c
        self.samples[sample or name].append(dt)
        self.cpu[sample or name].append(dc)
        if check is not None and not check(out):
            self.fail(f"{name}: wrong result")
        return out

    def warm_in(self, log: EventLog, n: int) -> float:
        """The untimed warm-in merge of the log's first ``n`` events on a
        scratch table; returns its wall. It pays JVM codegen and Python
        worker start."""
        from pyspark.sql import functions as F

        from migrator_spark.functions.transforms import default_cdc_transform
        from migrator_spark.plans.laketable import LakeTable
        from migrator_spark.schema import ENVELOPE_SCHEMA, KEY_COLS

        path = os.path.join(self.work, "warmin")
        with self.tracer.span("warmin"):
            t = time.perf_counter()
            table = LakeTable.create(self.spark, path, payload_schema(), KEY_COLS,
                                     num_buckets=self.size["buckets"])
            events = self.spark.read.schema(ENVELOPE_SCHEMA).parquet(log.dir)
            table.merge(events.filter(F.col("offset") < n), stream_id="warmin",
                        batch_id=0, salt_buckets=32, transform=default_cdc_transform)
            wall = time.perf_counter() - t
        shutil.rmtree(path, ignore_errors=True)
        return wall

    def warm_stream(self, log: EventLog, files_per_trigger: int) -> float:
        """An untimed stream drain of a small log into a scratch table;
        returns its wall. It warms what direct merges leave cold (the
        file source, micro-batch planning, the ``foreachBatch`` body):
        without it the first measured drain cost about twice the CPU of
        a second one."""
        from migrator_spark.plans.laketable import LakeTable
        from migrator_spark.schema import KEY_COLS
        from migrator_spark.streaming.apply import start_stream

        path = os.path.join(self.work, "warmin-stream")
        with self.tracer.span("warmin"):
            t = time.perf_counter()
            LakeTable.create(self.spark, path, payload_schema(), KEY_COLS,
                             num_buckets=self.size["buckets"])
            q = start_stream(self.spark, log.dir, path, path + "-ck",
                             max_files_per_trigger=files_per_trigger, available_now=True)
            q.awaitTermination()
            wall = time.perf_counter() - t
        _drop_table(path)
        return wall

    def planned_cycles(self, cap: int) -> int:
        """Cycles to measure, from ``--seconds`` alone (at most ``cap``).
        Counting them against the clock would let a fast host fit a
        second, warmer cycle and split the runs into two groups."""
        return max(1, min(cap, round(self.seconds / CYCLE_S)))

    # ------------------------------------------------------ consumer reads
    def verify(self, table_path: str, expected_digest: str) -> tuple[float, float] | None:
        """The full read: the resolved read-back's digest must equal the
        oracle's. Returns its wall and CPU seconds, or None when the read
        raised."""
        from migrator_spark.plans.laketable import LakeTable

        n = len(self.samples["read"])
        self.op("read",
                lambda: digest_rows(LakeTable.load(self.spark, table_path)
                                    .read(columns=DIGEST_COLS).collect()),
                check=lambda d: d == expected_digest)
        if len(self.samples["read"]) == n:
            return None
        return self.samples["read"][-1], self.cpu["read"][-1]

    def serve(self, log: EventLog, table_path: str, mv, last: dict, end: int) -> None:
        """Consumer reads after a cycle's verified full read:
        ``SERVE_REPS`` rounds of the last commit's change feed and a
        point lookup of fresh oracle keys, then, in a traced run, the
        view refresh."""
        from migrator_spark.plans.laketable import LakeTable

        state = log.state(end)
        table = LakeTable.load(self.spark, table_path)
        want = log.changed_keys(last["lo"], last["hi"])
        since = last["version"] - 1
        old = LakeTable.load_version(self.spark, table_path, since).manifest["buckets"]
        new = table.manifest["buckets"]
        self.samples["changes.buckets"].append(
            sum(1 for b in set(old) | set(new) if old.get(b) != new.get(b)))
        for i in range(SERVE_REPS):
            rows = self.op("changes", lambda: table.changes(since).count(),
                           check=lambda n: n == want)
            if rows is not None:
                self.samples["changes.rows"].append(rows)
            keys = log.sample_keys(state, LOOKUP_KEYS,
                                   self.seed * 7919 + self.cycles * SERVE_REPS + i)
            expected = log.expected_rows(state, keys)
            self.op("lookup",
                    lambda: {tuple(r) for r in table.lookup(keys, columns=DIGEST_COLS).collect()},
                    check=lambda got: got == expected)
        if mv is None:
            return
        if self.op("mv_refresh", mv.refresh,
                   check=lambda r: r["mode"] == "incremental") is None:
            return
        got = {r["repo"]: (r["n_docs"], r["n_sha"]) for r in mv.read().collect()}
        want_mv = {k: (v, v) for k, v in repo_counts(state).items()}
        if got != want_mv:
            self.fail("mv_refresh: view differs from the oracle's per-repo counts")

    # ----------------------------------------------------- trace-only probes
    def staged_stats(self, table_path: str) -> None:
        """Files and bytes each recorded commit added, from manifest
        diffs against its parent snapshot."""
        from migrator_spark.plans.laketable import LakeTable

        for c in self.commits:
            if c.get("table") != table_path or c.get("skipped"):
                continue
            v = c["version"]
            new = LakeTable.load_version(self.spark, table_path, v).manifest["buckets"]
            old = LakeTable.load_version(self.spark, table_path, v - 1).manifest["buckets"]
            files = {f for fl in new.values() for f in fl} - {f for fl in old.values() for f in fl}
            nbytes = sum(os.path.getsize(os.path.join(table_path, f)) for f in files)
            self.staged.append((len(files), nbytes, c["payload_bytes"]))

    def direct_replay(self, log: EventLog, base_path: str | None, ranges) -> dict:
        """Replay commit offset ranges with ``LakeTable.merge`` directly
        (no streaming layer) through a counting ``TableIO``."""
        from pyspark.sql import functions as F

        from migrator_spark.functions.transforms import default_cdc_transform
        from migrator_spark.plans.laketable import LakeTable
        from migrator_spark.schema import ENVELOPE_SCHEMA, KEY_COLS

        path = os.path.join(self.work, "direct")
        shutil.rmtree(path, ignore_errors=True)
        if base_path:
            shutil.copytree(base_path, path)
        else:
            LakeTable.create(self.spark, path, payload_schema(), KEY_COLS,
                             num_buckets=self.size["buckets"])
        events = self.spark.read.schema(ENVELOPE_SCHEMA).parquet(log.dir)
        io = counting_io()
        walls, writes = [], []
        for i, (lo, hi) in enumerate(ranges):
            with self.tracer.span("probe.merge"):
                t = time.perf_counter()
                table = LakeTable.load(self.spark, path, io=io)
                table.merge(events.filter((F.col("offset") >= lo) & (F.col("offset") < hi)),
                            stream_id="direct", batch_id=i, salt_buckets=32,
                            transform=default_cdc_transform)
                walls.append(time.perf_counter() - t)
            writes.append(table.last_write_sec)
        shutil.rmtree(path, ignore_errors=True)
        return {"direct_s": median(walls), "write_job_s": median(writes),
                "ops_per_commit": io.ops / len(ranges), "s_per_commit": io.busy_s / len(ranges)}

    def read_probes(self, table_path: str) -> dict:
        """Interleaved bucket-local vs shuffle resolve A/B and the exact
        count on the final table."""
        from migrator_spark.plans.laketable import LakeTable

        table = LakeTable.load(self.spark, table_path)
        walls = defaultdict(list)
        for _ in range(3):
            for mode in ("local", "shuffle"):
                with self.tracer.span(f"probe.read_{mode}"):
                    t = time.perf_counter()
                    table.read(resolve=mode).count()
                    walls[mode].append(time.perf_counter() - t)
        for _ in range(2):
            with self.tracer.span("probe.count"):
                t = time.perf_counter()
                table.count()
                walls["count"].append(time.perf_counter() - t)
        chains = [len(fl) for fl in table.manifest["buckets"].values()] or [0]
        return {"read.local_s": median(walls["local"]), "read.shuffle_s": median(walls["shuffle"]),
                "count_s": median(walls["count"]), "files_live": float(sum(chains)),
                "chain_mean": sum(chains) / len(chains), "chain_max": float(max(chains))}

    def transform_probe(self, log: EventLog) -> float:
        """Rows/s of ``default_cdc_transform`` on a fixed cached frame of
        the log's first file, forced by an aggregate over its output."""
        from pyspark.sql import functions as F

        from migrator_spark.functions.transforms import default_cdc_transform
        from migrator_spark.schema import ENVELOPE_SCHEMA

        frame = (self.spark.read.schema(ENVELOPE_SCHEMA)
                 .parquet(os.path.join(log.dir, log.files[0]))
                 .filter(F.col("op") != "delete").drop("offset", "op", "ts").cache())
        n = frame.count()
        walls = []
        for _ in range(3):
            with self.tracer.span("probe.transform"):
                t = time.perf_counter()
                default_cdc_transform(frame).agg(
                    F.count("content_sha256"), F.sum(F.length("content"))).collect()
                walls.append(time.perf_counter() - t)
        frame.unpersist()
        return n / median(walls)


# ---------------------------------------------------------------- apply_hot
def apply_hot(run: Run, leg: bool = False) -> dict:
    from migrator_spark.lifecycle import LifecycleCallbacks
    from migrator_spark.plans.laketable import LakeTable
    from migrator_spark.plans.matview import MaterializedView
    from migrator_spark.schema import KEY_COLS
    from migrator_spark.streaming.apply import start_stream

    size = run.size
    log = EventLog(os.path.join(run.cache, "logs"), "apply_hot", seed=run.seed,
                   num_events=size["num_events"], num_keys=size["num_keys"],
                   hot_fraction=size["hot_fraction"], num_files=size["num_files"],
                   content_repeat=size["content_repeat"])
    expected = log.oracle_digest(log.num_events)
    offsets = log.file_offsets()
    m = size["files_per_trigger"]
    batch_ranges = [(offsets[i][0], offsets[min(i + m, len(offsets)) - 1][1])
                    for i in range(0, len(offsets), m)]

    # a small log of the same shape, two micro-batches, for the stream warm-in
    warm_log = EventLog(os.path.join(run.cache, "logs"), "apply_hot", seed=run.seed,
                        num_events=size["warmin_events"], num_keys=size["num_keys"],
                        hot_fraction=size["hot_fraction"], num_files=2 * m,
                        content_repeat=size["content_repeat"])
    warmin = [run.warm_in(log, size["warmin_events"]), run.warm_stream(warm_log, m)]
    run.setup_done({"warmin": warmin, "prebuild_s": 0.0})

    t0 = time.perf_counter()
    kept: str | None = None
    for _ in range(1 if leg else run.planned_cycles(cap=10)):
        c = run.cycles
        path = os.path.join(run.work, f"hot-{c}")
        table = LakeTable.create(run.spark, path, payload_schema(), KEY_COLS,
                                 num_buckets=size["buckets"])
        mv = None
        if run.trace and not leg:
            mv = MaterializedView.create(run.spark, path + "-mv", table, ["repo"], MV_AGGS,
                                         num_buckets=4)
            mv.refresh()  # cursor on the empty table: the timed refresh is incremental
        batch_no = [0]
        drain = {}
        cpu_mark = [0.0]  # tree CPU at the drain start, then at the last progress callback

        def progress(rec, path=path):
            end = time.time()
            cpu = tree_cpu_s()
            run.cpu["commit"].append(cpu - cpu_mark[0])
            cpu_mark[0] = cpu
            i = batch_no[0]
            batch_no[0] += 1
            lo, hi = batch_ranges[i] if i < len(batch_ranges) else (0, 0)
            run.commits.append({**rec, "table": path, "wall": rec["elapsed_sec"], "lo": lo,
                                "hi": hi, "payload_bytes": log.payload_bytes(lo, hi)})
            run.samples["commit"].append(rec["elapsed_sec"])
            if run.tracer.enabled:
                run.tracer.add("merge", end - rec["elapsed_sec"], end, drain.get("span"))

        cb = LifecycleCallbacks(on_replication_progress=progress)
        t_cycle = time.perf_counter()
        c_cycle = cpu_mark[0] = tree_cpu_s()
        run.attempted += 1
        with run.tracer.span("apply") as sp:
            drain["span"] = sp["id"] if sp else None
            t = time.perf_counter()
            try:
                q = start_stream(run.spark, log.dir, path, path + "-ck",
                                 max_files_per_trigger=m, available_now=True, callbacks=cb)
                q.awaitTermination()
                if q.exception() is not None:
                    raise RuntimeError(str(q.exception()))
            except Exception as e:
                run.fail(f"apply: {type(e).__name__}: {str(e)[:300]}")
            wall = time.perf_counter() - t
        run.apply_cpu += tree_cpu_s() - c_cycle
        run.events_applied += log.num_events
        run.apply_wall += wall
        run.attempted += batch_no[0]
        if batch_no[0] != len(batch_ranges):
            run.fail(f"apply: {batch_no[0]} commits, expected {len(batch_ranges)}")
        if leg:
            run.cycles += 1
            break
        if run.verify(path, expected) is not None:
            run.samples["replay_verify"].append(time.perf_counter() - t_cycle)
            run.cpu["replay_verify"].append(tree_cpu_s() - c_cycle)
        mine = [x for x in run.commits if x["table"] == path]
        if mine:
            run.serve(log, path, mv, mine[-1], log.num_events)
        run.cycles += 1
        if run.trace:
            run.staged_stats(path)
        if kept:
            _drop_table(kept)
        kept = path
    run.measured_s = time.perf_counter() - t0
    run.host_after()
    run.table_path = kept

    if run.trace and not leg:
        return {"direct": run.direct_replay(log, None, batch_ranges), "log": log}
    return {"log": log}


# ------------------------------------------------------------ trickle_serve
def trickle_serve(run: Run) -> dict:
    from pyspark.sql import functions as F

    from migrator_spark.functions.transforms import default_cdc_transform
    from migrator_spark.plans.laketable import LakeTable
    from migrator_spark.plans.matview import MaterializedView
    from migrator_spark.schema import ENVELOPE_SCHEMA, KEY_COLS
    from migrator_spark.streaming.apply import make_apply_batch

    size = run.size
    pre, b = size["prebuild_events"], size["batch_events"]
    log = EventLog(os.path.join(run.cache, "logs"), "trickle_serve", seed=run.seed,
                   num_events=pre + b * size["max_commits"], num_keys=size["num_keys"],
                   hot_fraction=0.0, num_files=8, content_repeat=size["content_repeat"])
    # one warm-in: the pre-built table's merge is the second warm merge
    setup = {"warmin": [run.warm_in(log, size["warmin_events"])]}
    events = run.spark.read.schema(ENVELOPE_SCHEMA).parquet(log.dir)
    path = os.path.join(run.work, "trickle")
    with run.tracer.span("prebuild"):
        t = time.perf_counter()
        table = LakeTable.create(run.spark, path, payload_schema(), KEY_COLS,
                                 num_buckets=size["buckets"])
        table.merge(events.filter(F.col("offset") < pre), stream_id="prebuild", batch_id=0,
                    salt_buckets=32, transform=default_cdc_transform)
        mv = None
        if run.trace:
            mv = MaterializedView.create(run.spark, path + "-mv", table, ["repo"], MV_AGGS,
                                         num_buckets=4)
            mv.refresh()
        setup["prebuild_s"] = time.perf_counter() - t
    pristine = None
    if run.trace:
        pristine = os.path.join(run.work, "trickle-pristine")
        shutil.copytree(path, pristine)
    run.setup_done(setup)

    records: list[dict] = []
    body = make_apply_batch(path, "trickle", on_progress=records.append)
    t0 = time.perf_counter()
    k = 0
    # whole compaction cycles only: every run covers the same mix of
    # plain and compacting commits, and the log holds the batches of
    # max_commits / MAX_CYCLE_COMMITS cycles even if none compacted
    for _ in range(run.planned_cycles(cap=size["max_commits"] // MAX_CYCLE_COMMITS)):
        t_cycle = time.perf_counter()
        c_cycle = tree_cpu_s()
        with run.tracer.span("apply"):
            for _ in range(MAX_CYCLE_COMMITS):
                lo, hi = pre + k * b, pre + (k + 1) * b
                batch = events.filter((F.col("offset") >= lo) & (F.col("offset") < hi))
                n_before = len(records)
                run.op("merge", lambda: body(batch, k), sample="commit")
                k += 1
                if len(records) != n_before + 1:
                    break  # the failed commit is already counted
                rec, wall = records[-1], run.samples["commit"][-1]
                run.commits.append({**rec, "table": path, "wall": wall, "lo": lo, "hi": hi,
                                    "payload_bytes": log.payload_bytes(lo, hi)})
                run.events_applied += hi - lo
                run.apply_wall += wall
                run.apply_cpu += run.cpu["commit"][-1]
                if rec.get("compacted"):
                    break
        commits_wall = time.perf_counter() - t_cycle
        commits_cpu = tree_cpu_s() - c_cycle
        end = pre + k * b
        expected = log.oracle_digest(end)  # outside every timed window
        verified = run.verify(path, expected)
        if verified is not None:
            run.samples["replay_verify"].append(commits_wall + verified[0])
            run.cpu["replay_verify"].append(commits_cpu + verified[1])
        run.serve(log, path, mv, run.commits[-1], end)
        run.cycles += 1
    run.measured_s = time.perf_counter() - t0
    run.host_after()
    run.table_path = path
    if run.trace:
        run.staged_stats(path)
        first = [(c["lo"], c["hi"]) for c in run.commits if not c.get("compacted")][:4]
        return {"direct": run.direct_replay(log, pristine, first), "log": log}
    return {"log": log}


def _drop_table(path: str) -> None:
    for p in (path, path + "-mv", path + "-ck"):
        shutil.rmtree(p, ignore_errors=True)


WORKLOADS = {"apply_hot": apply_hot, "trickle_serve": trickle_serve}

"""fits2db_spark benchmark: one closed-loop client per workload.

    python3 perfbench/run.py --workload iterative_cold --seed 1 --seconds 25 --trace 0

Run it from the root of a source checkout. Workloads (see README.md):

* ``iterative_cold``  6 pinned wide keys on the driver path, a freshly
                      staged data directory and freed memos before each lap
* ``ingest_fits_sql`` ``cli.run`` loads seeded FITS tiles into DDL, CSV text
                      and a Derby table over JDBC, a fresh table per lap
* ``headline_warm``   the 15 pinned headline keys over ``tables.warm_cache``;
                      run by hand only, it is not listed in BENCHMARK.json

``WARMUP_LAPS`` laps run first, outside the measuring window; then laps
repeat until ``--seconds`` have passed, with at least ``MIN_MEASURED``
measured laps. Every op is timed including construction. Outputs are checked after
the timed laps. The last stdout line is one JSON object; with ``--trace 1``
its metrics are the per-layer ones, reduced from Spark's event log.
Everything the run writes goes under ``perfbench/.work`` (removed at exit)
and, for traced runs, the span file under ``perfbench/results``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shlex
import shutil
import statistics
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data", "sf0.01")

WORKLOADS = ("headline_warm", "iterative_cold", "ingest_fits_sql")
# The first lap runs in a cold JVM (class loading, JIT) and is reported as
# first_lap_s only. lap_s is measured over the laps after it, as the sum over
# keys of each key's median op time, so a burst of host noise that hits one
# lap moves it little.
WARMUP_LAPS = 1
MIN_MEASURED = 3
# a run starts no lap that would push it past this many measured seconds
LAP_BUDGET_S = 90.0
INGEST_TILES, INGEST_ROWS = 4, 10_000
SHUFFLE_PARTITIONS = 4
TAIL_PCT = 90  # op_tail_s percentile (nearest rank)

_T0 = time.perf_counter()


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure_process(work: str, trace: bool) -> str | None:
    """Point every temporary and Spark directory into ``work`` and choose
    the session confs; must run before pyspark or fits2db_spark is
    imported. Returns the event-log directory when tracing."""
    for sub in ("tmp", "local", "warehouse", "derby"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    java_opts = f"-Djava.io.tmpdir={tmp} -Dderby.system.home={os.path.join(work, 'derby')}"
    confs = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": java_opts,
    }
    log_dir = None
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        confs.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    args = []
    for k, v in confs.items():
        args += ["--conf", f"{k}={v}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(shlex.quote(a) for a in args + ["pyspark-shell"])
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return log_dir


def stage_copy(dst: str) -> str:
    shutil.copytree(DATA, dst)
    return dst


class Bench:
    """State of one run: the session, spans, op records and check results."""

    def __init__(self, args, work: str, log_dir: str | None):
        from perfbench import trace

        self.args = args
        self.work = work
        self.log_dir = log_dir
        self.tracing = bool(args.trace)
        self.rng = random.Random(args.seed)
        self.spans = trace.Spans()
        self.ops: list[dict] = []  # {"lap", "key", "s", "ok"}
        self.failures: list[str] = []
        self.layer: dict[str, float] = {}
        self.memo_polls: list[tuple[int, int, float]] = []  # (lap, rdds, mb)
        self.trace_hook_s = 0.0
        self.spark = None

    # --- session -------------------------------------------------------
    def start_session(self) -> None:
        from perfbench import trace

        t = time.perf_counter()
        from fits2db_spark.session import get_spark

        self.spark = get_spark("fits2db_spark_perfbench", shuffle_partitions=SHUFFLE_PARTITIONS)
        self.layer["session.get_spark_s"] = time.perf_counter() - t
        self.spark.sparkContext.setLogLevel("ERROR")
        self.stream = trace.StreamProgress()
        self.spark.streams.addListener(self.stream)

    def group(self, sid: int | None) -> None:
        sc = self.spark.sparkContext
        if sid is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(f"pb:{sid}", self.spans.items[sid]["name"])

    def jobs_in_group(self, sid: int) -> int:
        return len(self.spark.sparkContext.statusTracker().getJobIdsForGroup(f"pb:{sid}"))

    def after_op(self, lap: int) -> None:
        """Untimed per-op trace hook: memo storage poll."""
        if not self.tracing:
            return
        from perfbench import trace

        t = time.perf_counter()
        rdds, mb = trace.storage(self.spark)
        self.memo_polls.append((lap, rdds, mb))
        self.trace_hook_s += time.perf_counter() - t

    # --- laps ----------------------------------------------------------
    def run_laps(self, keys: list[str], op, before_lap=None) -> list[float]:
        """Closed loop: laps over a seed-permuted key order until the
        measuring time is spent. Returns lap wall times (untimed hooks and
        waits excluded)."""
        laps: list[float] = []
        t_start = None
        while True:
            n = len(laps)
            if n == WARMUP_LAPS:
                t_start = time.perf_counter()
            if n >= WARMUP_LAPS + MIN_MEASURED:
                elapsed = time.perf_counter() - t_start
                if elapsed >= self.args.seconds or elapsed + laps[-1] > LAP_BUDGET_S:
                    break
            if before_lap is not None and n > 0:
                before_lap(n)
            order = list(keys)
            self.rng.shuffle(order)
            self.paused = 0.0
            lap_sid = self.spans.open("lap", lap=n)
            t0 = time.perf_counter()
            for key in order:
                op_sid = self.spans.open(f"op:{key}", key=key, lap=n)
                paused_before = self.paused
                t = time.perf_counter()
                try:
                    op(n, key, op_sid)
                    ok = True
                except Exception as exc:  # an op failure is counted, not fatal
                    ok = False
                    self.failures.append(f"lap {n} {key}: {type(exc).__name__}: {exc}"[:300])
                    self.spans.unwind(op_sid)
                self.group(None)
                s = time.perf_counter() - t - (self.paused - paused_before)
                self.spans.close(op_sid, ok=ok)
                self.ops.append({"lap": n, "key": key, "s": s, "ok": ok})
                p = time.perf_counter()
                self.after_op(n)
                self.paused += time.perf_counter() - p
            lap_s = time.perf_counter() - t0 - self.paused
            self.spans.close(lap_sid, lap_s=lap_s)
            laps.append(lap_s)
        return laps

    def query_op(self, data_dir_of, keep: dict):
        """Op for the registry workloads: construction, then the returned
        DataFrame's noop-sink write, each under its own job group."""
        from fits2db_spark.registry import all_queries

        qs = all_queries()

        def op(lap: int, key: str, op_sid: int) -> None:
            data_dir = data_dir_of(lap)
            b = self.spans.open("build")
            self.group(b)
            df = qs[key](self.spark, data_dir)
            self.spans.close(b)
            e = self.spans.open("exec")
            self.group(e)
            df.write.format("noop").mode("overwrite").save()
            self.spans.close(e)
            self.group(None)
            p = time.perf_counter()
            self.spans.items[op_sid]["attrs"]["build_jobs"] = self.jobs_in_group(b)
            if key.startswith("stream_live_"):
                # the drains report through the listener bus asynchronously
                if not self.stream.wait_idle():
                    raise RuntimeError("streaming query did not report termination")
                op_span = self.spans.items[op_sid]
                batches = self.stream.between(op_span["t0"], time.time())
                if not batches:
                    raise RuntimeError("stream_live op ran no micro-batch (memo returned)")
            self.paused += time.perf_counter() - p
            keep[key] = df

        return op

    # --- workloads -----------------------------------------------------
    def setup_queries(self, pinned: str) -> None:
        from perfbench import checks

        self.keys = checks.load_json("keys.json")[pinned]
        self.expected = checks.load_json("expected.json")

    def headline_warm(self) -> list[float]:
        from fits2db_spark.tables import warm_cache

        from perfbench import trace

        self.setup_queries("HEADLINE")
        data_dir = stage_copy(os.path.join(self.work, "stage", "sf0.01"))
        t = time.perf_counter()
        warm_cache(self.spark, data_dir, partitions=SHUFFLE_PARTITIONS)
        self.layer["tables.warm_cache_s"] = time.perf_counter() - t
        self.base_rdds, mb = trace.storage(self.spark)
        self.base_mb = mb
        self.layer["tables.cached_mb"] = mb
        self.setup_s = time.perf_counter() - _T0
        keep: dict = {}
        op = self.query_op(lambda lap: data_dir, keep)
        if self.tracing:
            self.wrap_table_loads()
        laps = self.run_laps(self.keys, op)
        self.check_queries(keep)
        return laps

    def iterative_cold(self) -> list[float]:
        from fits2db_spark.session import free_memo_checkpoints

        from perfbench import trace

        self.setup_queries("ITERATIVE_COLD")
        dirs = {0: stage_copy(os.path.join(self.work, "stage", "sf0.01-lap0"))}
        free_memo_checkpoints()
        self.layer["tables.warm_cache_s"] = 0.0
        self.base_rdds, self.base_mb = trace.storage(self.spark)
        self.layer["tables.cached_mb"] = self.base_mb
        self.setup_s = time.perf_counter() - _T0

        def before_lap(lap: int) -> None:
            # a new path, and a new last path component, per lap: the
            # live-stream memo is keyed on the path and the staged event
            # slices on its last component, and free_memo_checkpoints()
            # clears neither (see README.md)
            dirs[lap] = stage_copy(os.path.join(self.work, "stage", f"sf0.01-lap{lap}"))
            free_memo_checkpoints()

        keep: dict = {}
        op = self.query_op(dirs.__getitem__, keep)
        if self.tracing:
            self.wrap_table_loads()
        laps = self.run_laps(self.keys, op, before_lap)
        self.check_build_jobs_repeat()
        self.check_queries(keep)
        return laps

    def ingest_fits_sql(self) -> list[float]:
        from fits2db_spark import cli

        from perfbench import catalog

        tiles = catalog.write_catalog(
            os.path.join(self.work, "fits"), self.args.seed, INGEST_TILES, INGEST_ROWS
        )
        self.layer["tables.warm_cache_s"] = 0.0
        self.layer["tables.cached_mb"] = 0.0
        self.keys = [os.path.basename(p) for p, _ in tiles]
        self.tile_paths = dict((os.path.basename(p), p) for p, _ in tiles)
        self.tile_stats = dict((os.path.basename(p), s) for p, s in tiles)
        self.fits_bytes = sum(os.path.getsize(p) for p, _ in tiles)
        self.jdbc_url = f"jdbc:derby:{os.path.join(self.work, 'derby', 'cat')};create=true"
        self.csv_dirs: list[tuple[int, str, str]] = []  # (lap, tile, dir)
        if self.tracing:
            self.wrap_ingest_layers()
        self.setup_s = time.perf_counter() - _T0
        nparts = str(min(len(os.sched_getaffinity(0)), 4))

        def op(lap: int, key: str, op_sid: int) -> None:
            out = os.path.join(self.work, "out", f"lap{lap}", key)
            os.makedirs(out, exist_ok=True)
            self.group(op_sid)
            argv = [
                self.tile_paths[key], "--table", f"cat_lap{lap}",
                "--create", "--sql-out", os.path.join(out, "ddl.sql"),
                "--csv-out", os.path.join(out, "csv"),
                "--jdbc-url", self.jdbc_url,
                "--jdbc-driver", "org.apache.derby.jdbc.EmbeddedDriver",
                "--mode", "append", "--num-partitions", nparts,
            ]
            rc = cli.run(argv, spark=self.spark)
            if rc != 0:
                raise RuntimeError(f"cli.run returned {rc}")
            self.csv_dirs.append((lap, key, os.path.join(out, "csv")))

        laps = self.run_laps(self.keys, op)
        self.check_ingest(len(laps))
        return laps

    def wrap_layer(self, span: str, targets: list) -> None:
        """Time calls to one entry point, each under its own span and job
        group. ``targets`` are the ``(module, attribute)`` pairs bound to
        it; all get the same wrapper, which only delegates. Calls from other
        threads than the client's pass straight through."""
        inner = getattr(*targets[0])
        client = threading.current_thread()

        def wrapper(*a, **kw):
            if threading.current_thread() is not client:
                return inner(*a, **kw)
            parent = self.spans._stack[-1]
            sid = self.spans.open(span)
            self.group(sid)
            try:
                return inner(*a, **kw)
            finally:
                self.spans.close(sid)
                self.group(parent)

        for mod, attr in targets:
            setattr(mod, attr, wrapper)

    def wrap_ingest_layers(self) -> None:
        """Time the reader and sink entry points that ``cli.run`` calls."""
        from fits2db_spark import cli
        from fits2db_spark.sinks import csv_sink, jdbc
        from fits2db_spark.sources import fits

        self.wrap_layer("fits.read", [(fits, "read_fits")])
        self.wrap_layer("sinks.ddl", [(cli, "emit_ddl")])
        self.wrap_layer("sinks.csv", [(csv_sink, "write_csv")])
        self.wrap_layer("sinks.jdbc", [(jdbc, "write_jdbc")])

    def wrap_table_loads(self) -> None:
        """Time ``tables.load`` wherever the package has bound it: the
        operator modules import the function itself."""
        from fits2db_spark import tables

        targets = [
            (m, "load")
            for name, m in sorted(sys.modules.items())
            if name.startswith("fits2db_spark") and getattr(m, "load", None) is tables.load
        ]
        self.wrap_layer("tables.load", targets)

    # --- checks (untimed) ----------------------------------------------
    def check_queries(self, keep: dict) -> None:
        from perfbench import checks

        for key in self.keys:
            if key not in keep:
                continue  # its op failed and is already counted
            try:
                why = checks.check_result(key, keep[key], self.expected)
            except Exception as exc:
                why = f"{key}: check raised {type(exc).__name__}: {exc}"[:300]
            if why:
                self.failures.append(why)
                self.mark_failed(key)

    def mark_failed(self, key: str) -> None:
        for o in self.ops:
            if o["key"] == key and o["ok"]:
                o["ok"] = False

    def check_build_jobs_repeat(self) -> None:
        """Cold laps must do the same construction work every lap: a lap
        whose build job total differs from the first lap's hit a stale memo
        (or missed one). Totals, not per-key counts, because a shared memo
        build is charged to whichever key of the permuted order needs it
        first."""
        per_lap: dict[int, int] = {}
        for s in self.spans.items:
            if s["name"].startswith("op:") and "build_jobs" in s["attrs"]:
                lap = s["attrs"]["lap"]
                per_lap[lap] = per_lap.get(lap, 0) + s["attrs"]["build_jobs"]
        for lap, total in per_lap.items():
            if total != per_lap[0]:
                self.failures.append(f"lap {lap}: {total} build jobs, lap 0 ran {per_lap[0]}")
                for o in self.ops:
                    if o["lap"] == lap:
                        o["ok"] = False

    def check_ingest(self, nlaps: int) -> None:
        from perfbench import checks

        url = self.jdbc_url.split(";")[0]
        for lap in range(nlaps):
            loaded = [o["key"] for o in self.ops if o["lap"] == lap and o["ok"]]
            want = {k: 0 for k in ("rows", "nobs_nulls", "objid", "nobs", "band", "flags")}
            for key in loaded:
                for k in want:
                    want[k] += self.tile_stats[key][k]
            df = (
                self.spark.read.format("jdbc")
                .option("url", url)
                .option("dbtable", f"cat_lap{lap}")
                .load()
            )
            row = df.selectExpr(
                "count(*) AS rows",
                "count_if(nobs IS NULL) AS nobs_nulls",
                "sum(objid) AS objid",
                "sum(nobs) AS nobs",
                "sum(band) AS band",
                "sum(flags) AS flags",
            ).collect()[0]
            got = {k: int(row[k] or 0) for k in want}
            if got != want:
                self.failures.append(f"derby cat_lap{lap}: {got} != {want}")
                for o in self.ops:
                    if o["lap"] == lap:
                        o["ok"] = False
        for lap, key, d in self.csv_dirs:
            n = checks.csv_rows(d)
            if n != self.tile_stats[key]["rows"]:
                self.failures.append(f"lap {lap} {key}: {n} CSV rows != {self.tile_stats[key]['rows']}")
                for o in self.ops:
                    if o["lap"] == lap and o["key"] == key:
                        o["ok"] = False

    # --- results -------------------------------------------------------
    def end_to_end(self, laps: list[float]) -> dict:
        from perfbench import trace

        op_s = sorted(o["s"] for o in self.ops)
        n = len(op_s)
        tail_i = max(math.ceil(TAIL_PCT / 100 * n) - 1, 0)
        self.tail_beyond = n - tail_i - 1
        lap_s = sum(
            statistics.median(o["s"] for o in self.ops if o["key"] == k and o["lap"] >= WARMUP_LAPS)
            for k in self.keys
        )
        if self.args.workload == "ingest_fits_sql":
            rows = sum(self.tile_stats[k]["rows"] for k in self.keys)
        else:
            rows = sum(self.expected[k]["rows"] for k in self.keys)
        return {
            "setup_s": (self.setup_s, "s"),
            "lap_s": (lap_s, "s"),
            "rows_per_s": (rows / lap_s, "rows/s"),
            # reported by traced runs only: these do not repeat within a 25%
            # bound from run to run (README.md, "Dropped to per-layer")
            "first_lap_s": (laps[0], "s"),
            "op_p50_s": (statistics.median(op_s), "s"),
            "op_tail_s": (op_s[tail_i], "s"),
            "peak_rss_mb": (trace.jvm_peak_rss_mb(self.spark), "MB"),
        }


TRACED_ONLY = ("first_lap_s", "op_p50_s", "op_tail_s", "peak_rss_mb")


def pinned_modules() -> dict[str, str]:
    """Operator module of every pinned key. Every workload reports the
    ``operators.<module>.*`` metrics of all of them."""
    from fits2db_spark.registry import all_queries

    from perfbench import checks

    qs, keys = all_queries(), checks.load_json("keys.json")
    return {
        k: qs[k].__wrapped__.__module__.rsplit(".", 1)[-1]
        for k in keys["HEADLINE"] + keys["ITERATIVE_COLD"]
    }


def per_layer(b: Bench, host: dict, e2e: dict) -> dict:
    """Reduce spans, the event log and the listener's batches to the
    per-layer metrics. Each ``*_s`` layer time is a per-lap sum, taken as the
    median over the same laps as ``lap_s``."""
    from perfbench import trace

    spans = b.spans
    jobs, stages = trace.read_event_log(trace.find_event_log(b.log_dir))
    ingest = b.args.workload == "ingest_fits_sql"

    def owner(group, t) -> int | None:
        if group and group.startswith("pb:"):
            return int(group[3:])
        return spans.innermost(t)

    job_span = {j: owner(info["group"], info["t"]) for j, info in jobs.items()}
    stage_job: dict[int, int] = {}
    for j in sorted(jobs):
        for s in jobs[j]["stages"]:
            stage_job.setdefault(s, j)
    stage_span = {}
    for s, info in stages.items():
        if info["group"] and info["group"].startswith("pb:"):
            stage_span[s] = int(info["group"][3:])
        elif s in stage_job:
            stage_span[s] = job_span[stage_job[s]]

    lap_ids = spans.children(None, "lap")
    steady = lap_ids[WARMUP_LAPS:]
    module_of = pinned_modules()
    mods = sorted(set(module_of.values()))

    def dur(sid):
        s = spans.items[sid]
        return s["t1"] - s["t0"]

    def under(sid, name):
        """Spans named ``name`` below ``sid``."""
        out = []
        for i, s in enumerate(spans.items):
            if s["name"] == name and spans.ancestor(s["parent"], spans.items[sid]["name"]) == sid:
                out.append(i)
        return out

    def in_spans(span_of: dict, targets: set) -> list:
        hits = []
        for x, sid in span_of.items():
            while sid is not None and sid not in targets:
                sid = spans.items[sid]["parent"]
            if sid is not None:
                hits.append(x)
        return hits

    per_lap: list[dict] = []
    for lap in steady:
        m: dict[str, float] = {}
        builds, execs = under(lap, "build"), under(lap, "exec")
        ops = [i for i in spans.children(lap) if spans.items[i]["name"].startswith("op:")]
        exec_spans = set(ops) if ingest else set(execs)
        m["registry.build_s"] = sum(dur(i) for i in builds)
        bjobs = in_spans(job_span, set(builds))
        m["registry.build_jobs"] = len(bjobs)
        m["registry.build_job_s"] = _union_s(jobs, bjobs)
        m["registry.build_driver_s"] = m["registry.build_s"] - m["registry.build_job_s"]
        m["exec.s"] = sum(dur(i) for i in exec_spans)
        ejobs = in_spans(job_span, exec_spans)
        estages = [s for s in in_spans(stage_span, exec_spans) if stages[s]["tasks"] > 0]
        m["exec.jobs"] = len(ejobs)
        m["exec.stages"] = len(estages)
        for out_key, k in (
            ("exec.tasks", "tasks"), ("exec.shuffle_write_bytes", "shuffle_write_bytes"),
            ("exec.shuffle_read_bytes", "shuffle_read_bytes"),
            ("exec.shuffle_records", "shuffle_records"), ("exec.input_bytes", "input_bytes"),
            ("exec.spill_bytes", "spill_bytes"), ("exec.task_run_s", "run_s"),
            ("exec.task_cpu_s", "cpu_s"), ("exec.gc_s", "gc_s"),
            ("exec.python_worker_s", "python_s"),
        ):
            m[out_key] = sum(stages[s][k] for s in estages)
        for mod in mods:
            m[f"operators.{mod}.build_s"] = 0.0
            m[f"operators.{mod}.exec_s"] = 0.0
        for i in ops:
            key = spans.items[i]["attrs"]["key"]
            if key in module_of:
                mod = module_of[key]
                m[f"operators.{mod}.build_s"] += sum(dur(c) for c in spans.children(i, "build"))
                m[f"operators.{mod}.exec_s"] += sum(dur(c) for c in spans.children(i, "exec"))
        batches = b.stream.between(spans.items[lap]["t0"], spans.items[lap]["t1"])
        m["streaming.batches"] = len(batches)
        m["streaming.batch_s"] = sum(x[2] for x in batches)
        final_rows: dict[str, int] = {}
        for _, qid, _, rows in batches:
            final_rows[qid] = rows
        m["streaming.state_rows"] = sum(final_rows.values())
        loads = under(lap, "tables.load")
        m["tables.load_s"] = sum(dur(i) for i in loads)
        m["tables.loads"] = len(loads)
        reads = under(lap, "fits.read")
        m["fits.read_build_s"] = sum(dur(i) for i in reads)
        read_stages = in_spans(stage_span, set(ops)) if ingest else []
        m["fits.decode_s"] = sum(stages[s]["python_s"] for s in read_stages)
        m["fits.rows"] = sum(b.tile_stats[k]["rows"] for k in b.keys) if ingest else 0
        m["fits.bytes"] = b.fits_bytes if ingest else 0
        m["sinks.ddl_s"] = sum(dur(i) for i in under(lap, "sinks.ddl"))
        m["sinks.csv_s"] = sum(dur(i) for i in under(lap, "sinks.csv"))
        m["sinks.jdbc_s"] = sum(dur(i) for i in under(lap, "sinks.jdbc"))
        lap_no = spans.items[lap]["attrs"]["lap"]
        m["sinks.csv_bytes"] = sum(
            _dir_bytes(d) for n, _, d in getattr(b, "csv_dirs", []) if n == lap_no
        )
        m["sinks.jdbc_rows_per_s"] = m["fits.rows"] / m["sinks.jdbc_s"] if m["sinks.jdbc_s"] else 0.0
        m["cli.run_s"] = statistics.median(dur(i) for i in ops) if ingest else 0.0
        polls = [p for p in b.memo_polls if p[0] == lap_no]
        m["memo.cached_rdds"] = max((p[1] - b.base_rdds for p in polls), default=0) if not ingest else 0
        m["memo.storage_mb"] = max((p[2] - b.base_mb for p in polls), default=0.0) if not ingest else 0.0
        per_lap.append(m)

    out = {k: statistics.median(m[k] for m in per_lap) for k in per_lap[0]}
    out["session.get_spark_s"] = b.layer["session.get_spark_s"]
    out["tables.warm_cache_s"] = b.layer["tables.warm_cache_s"]
    out["tables.cached_mb"] = b.layer["tables.cached_mb"]
    out["host.steal_pct"] = host["steal_pct"]
    out["host.loadavg"] = host["loadavg"]
    out["trace.hook_s"] = b.trace_hook_s
    out["trace.lap_s"] = e2e["lap_s"][0]
    for k in TRACED_ONLY:
        out[k] = e2e[k][0]
    return out


def _union_s(jobs: dict, ids: list) -> float:
    """Wall seconds covered by the union of the jobs' [start, end]."""
    iv = sorted((jobs[j]["t"], jobs[j].get("t1", jobs[j]["t"])) for j in ids)
    total, cur0, cur1 = 0.0, None, None
    for a, z in iv:
        if cur1 is None or a > cur1:
            if cur1 is not None:
                total += cur1 - cur0
            cur0, cur1 = a, z
        else:
            cur1 = max(cur1, z)
    if cur1 is not None:
        total += cur1 - cur0
    return total


def _dir_bytes(d: str) -> int:
    return sum(os.path.getsize(os.path.join(d, n)) for n in os.listdir(d))


def unit_of(name: str) -> str:
    if name.endswith("_per_s"):
        return "rows/s"
    if name.endswith("_s") or name == "exec.s":
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("bytes"):
        return "bytes"
    if name.endswith("_pct"):
        return "%"
    if name.endswith("loadavg"):
        return "load"
    return "count"


def shutdown(spark, listener) -> None:
    """Stop the session, then end the JVM by closing its stdin, and wait
    for it. (Shutting the py4j callback server down first can block.)"""
    import logging

    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    try:
        if listener is not None:
            spark.streams.removeListener(listener)
        spark.stop()
    finally:
        # py4j logs every call that finds the JVM gone from here on
        logging.getLogger("py4j").setLevel(logging.CRITICAL)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "fits2db_spark")) or not os.path.isdir(DATA):
        print(f"perfbench: no fits2db_spark source tree or data under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        log_dir = configure_process(work, bool(args.trace))
        from perfbench import trace

        host0 = trace.host_sample()
        b = Bench(args, work, log_dir)
        try:
            b.start_session()
            laps = getattr(b, args.workload)()
            e2e = b.end_to_end(laps)
            host = trace.host_noise(host0, trace.host_sample())
        finally:
            if b.spark is not None:
                shutdown(b.spark, getattr(b, "stream", None))
        ok_ops = sum(o["ok"] for o in b.ops)
        attempted, failed = len(b.ops), len(b.ops) - ok_ops
        print(
            "perfbench: ops " + " ".join(f"{o['lap']}:{o['key']}={o['s']:.3f}" for o in b.ops),
            file=sys.stderr,
        )
        for why in b.failures:
            print(f"perfbench: FAIL {why}", file=sys.stderr)
        print(
            f"perfbench: {args.workload} laps={[round(x, 3) for x in laps]} "
            f"op_tail_s=p{TAIL_PCT} ({b.tail_beyond} of {attempted} ops beyond), failed_ratio="
            f"{failed / attempted:.4f} ({failed}/{attempted}), steal={host['steal_pct']:.2f}% "
            f"loadavg={host['loadavg']:.2f}",
            file=sys.stderr,
        )
        if args.trace:
            metrics = per_layer(b, host, e2e)
            res_dir = os.path.join(HERE, "results")
            os.makedirs(res_dir, exist_ok=True)
            with open(os.path.join(res_dir, f"{args.workload}-seed{args.seed}.json"), "w") as f:
                json.dump({"metrics": metrics, "spans": b.spans.items, "ops": b.ops}, f)
            out = {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()}
        else:
            out = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items() if k not in TRACED_ONLY}
        result = {
            "correct": not b.failures,
            "attempted": attempted,
            "failed": failed,
            "metrics": out,
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

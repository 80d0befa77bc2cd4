"""Customs-pipeline benchmark.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

One process drives ``local[nproc]`` as a closed loop with one client:
each operation starts when the previous one has finished. Inputs come
from ``--seed`` alone; the program sees only the generated files.

Workloads:

* ``nightly_ingest``: an operation is one night's drop of 1-4 zip-of-XML
  declaration files and 1-4 xlsx manifests, read through
  ``read_bid_heads_raw``/``official_history`` and
  ``read_manifests_raw``/``declared_cargo`` and written with
  ``append_parquet``. The work is Python-worker parsing, file-to-task
  parallelism and parquet writes, with almost no shuffle.
* ``kb_incremental``: set-up builds the knowledge base the
  ``batch_train`` way (the registered ``knowledge_extraction`` query,
  ``knowledge_base`` over the stand-ins, written with
  ``overwrite_with_backup``) and the ``vote_counts`` query, whose plan
  writes the session's shared aligned-pairs table. An operation then
  folds one waybill-complete load (``crc32(link_key) % LOADS``) into a
  ``knowledge_batch_writer`` store; after each pass over all loads
  ``knowledge_store_kb`` reads the store back once. JVM shuffle and
  aggregation with no Python in the plan, plus fixed per-fold overhead.

A run sets up ``SETUPS`` times, each time in a fresh session, and
measures a round of units after the set-ups its workload names: a
unit is a night (``nightly_ingest``, a round after every set-up, so
the nights spread over the whole run and a slow spell of the host
lands on a few of them only) or a pass of ``LOADS`` folds and a
read-back (``kb_incremental``, one round after the last set-up). The
number of units is fixed, not as many as fit in the time: ``--seconds``
over the nominal time of one unit on a 4-core host (``unit_s``),
spread over the rounds, rounded, at least one per round. So a slower
host measures the same operations, only for longer.

End-to-end metrics (``--trace 0``), the same names on every workload:

* ``setup_s``: median of the set-ups, each a fresh session plus the
  workload's set-up (warm-up night; stand-ins, the rebuild and the
  session table). The first set-up also starts the JVM.
* ``op_p50_s``: median operation time (night load, fold).
* ``rows_per_s``: median over operations of input rows per second.

The line before the result gives the same figures under per-workload
names (``ingest_load_p50_s``, ``kb_fold_p50_s``, ``kb_rebuild_p50_s``,
...), the median read-back time of the store after a pass
(``kb_readback_p50_s``), tail latencies with their percentile and
sample count, every sample (with the CPU seconds of each operation,
summed over this process, the JVM and its Python workers), the failed
fraction, the effective Spark confs and ``peak_rss_mb``, the peak RSS
of the Spark JVM plus this process. Peak RSS follows how far the
collector lets the heap grow under ``get_spark``'s 8g cap, so it
carries no bound; ``failed_frac`` is 0 on a correct tree, which no
bound can be a share of, and the result line carries it as
``failed``/``attempted``. The read-back time is short enough that its
spread between seeds passed the largest bound the result line allows,
so it too stays out of it.

``--trace 1`` first makes the untraced measurement, then sets a session
up again with a local event log and measures once more with spans, one
job group per operation and statusTracker counts. It prints the
per-layer metrics, each layer's self time and the tracing overhead
(traced minus untraced median operation time), and leaves the spans in
``.perfbench_traces/``.

Output checks run outside every timed span and outside ``setup_s``:
knowledge bases must match the DuckDB ``oracle_sql()`` hash
(``tools/check_oracle.value_hash``), and every ingested night, read
back once at the end of the run, must match the generator's row counts
and checksums.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: set-ups per run; ``setup_s`` is their median
SETUPS = 3
#: scale factor of the generated stand-in tables
SF = 0.01
#: waybill-complete loads per ``kb_incremental`` pass
LOADS = 6
#: nights in the ``nightly_ingest`` pool, used in turn
NIGHTS = 4

CONF_KEYS = (
    "spark.master",
    "spark.sql.shuffle.partitions",
    "spark.default.parallelism",
    "spark.sql.adaptive.enabled",
    "spark.sql.adaptive.coalescePartitions.enabled",
    "spark.sql.autoBroadcastJoinThreshold",
    "spark.sql.files.maxPartitionBytes",
    "spark.driver.memory",
)

#: span-name prefixes whose self time the traced run reports
SELF_LAYERS = (
    "op", "standins", "sources", "sinks", "query", "knowledge", "kbstore", "exec",
)

#: per-layer metric → the end-to-end metric it should move
PER_LAYER = {
    "session.start_s": "setup_s",
    "standins.materialize_s": "setup_s",
    "session_tables.build_s": "setup_s",
    "session_tables.count": "setup_s",
    "sources.build_s": "op_p50_s",
    "sources.op_s": "op_p50_s",
    "sources.rows": "rows_per_s",
    "sources.input_bytes": "rows_per_s",
    "sources.scan_tasks": "op_p50_s",
    "sinks.bytes_written": "op_p50_s",
    "sinks.files_written": "op_p50_s",
    "sinks.bytes_per_row": "op_p50_s",
    "sinks.outside_jobs_s": "op_p50_s",
    "knowledge.build_s": "setup_s",
    "knowledge.plan_s": "setup_s",
    "knowledge.exec_s": "setup_s",
    "query.knowledge_extraction.eager_jobs": "setup_s",
    "query.vote_counts.build_s": "setup_s",
    "query.vote_counts.eager_jobs": "setup_s",
    "kbstore.jobs_per_fold": "op_p50_s",
    "kbstore.outside_jobs_s": "op_p50_s",
    "kbstore.log_files": "kb_readback_p50_s",
    "kbstore.bytes_written": "op_p50_s",
    "kbstore.readback_s": "kb_readback_p50_s",
    "exec.jobs": "op_p50_s",
    "exec.stages": "op_p50_s",
    "exec.tasks": "op_p50_s",
    "exec.failed_tasks": "op_p50_s",
    "exec.empty_task_frac": "op_p50_s",
    "exec.task_run_s": "op_p50_s",
    "exec.gc_s": "op_p50_s",
    "exec.shuffle_read_bytes": "op_p50_s",
    "exec.shuffle_write_bytes": "op_p50_s",
    "exec.spill_bytes": "op_p50_s",
    "exec.core_busy_frac": "rows_per_s",
    "exec.cpu_s": "op_p50_s",
    "cache.tracked_persists": "op_p50_s",
    **{f"self.{layer}_s": "op_p50_s" for layer in SELF_LAYERS},
    "trace.overhead_s": "op_p50_s",
    "trace.overhead_frac": "op_p50_s",
}


def _dir_stats(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``; Hadoop ``.crc`` and marker
    files are not data."""
    size = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            size += os.path.getsize(os.path.join(d, n))
            files += 1
    return size, files


class Samples:
    """Per-operation figures of one measured phase."""

    def __init__(self):
        self.op_s: list[float] = []
        self.rows: list[int] = []
        self.readback_s: list[float] = []
        self.cpu_s: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.tracked: list[int] = []
        self.sink_bytes: list[int] = []
        self.sink_files: list[int] = []
        self.sink_rows: list[int] = []
        self.store_bytes: list[int] = []
        self.store_files: list[int] = []


class Workload:
    name = ""
    #: nominal seconds of one unit on a 4-core host; with ``--seconds``
    #: it fixes how many units a run makes, so every run makes the same
    #: operations and a slower host measures them for longer
    unit_s = 15.0
    #: the set-ups after which units are measured
    measured_rounds: tuple[int, ...] = tuple(range(SETUPS))

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self.gen = os.path.join(work, "gen")
        self.out = os.path.join(work, "out")
        os.makedirs(self.gen)
        os.makedirs(self.out)

    def prepare(self) -> None:
        """Write inputs and compute expected outputs (untimed)."""

    def setup(self, spark, tr, k: int) -> dict[str, float]:
        """Per-session set-up; returns named component seconds."""
        return {}

    def check_setup(self, spark, res: Samples) -> None:
        """Check what set-up wrote (untimed)."""

    def check_end(self, spark, res: Samples) -> None:
        """Check what the measured operations wrote (untimed)."""

    def units(self, seconds: float) -> int:
        """Units per measured round: ``seconds`` of nominal work spread
        over the measured rounds, at least one in each."""
        return max(1, round(seconds / self.unit_s / len(self.measured_rounds)))

    def unit(self, spark, tr, u: int, res: Samples) -> None:
        raise NotImplementedError

    def named(self, p50, tail, rows_per_s, readback, setups) -> dict:
        """The end-to-end figures under this workload's own names."""
        raise NotImplementedError


class NightlyIngest(Workload):
    name = "nightly_ingest"
    unit_s = 2.5

    def prepare(self):
        import numpy as np

        from gen import write_night

        rng = np.random.default_rng(self.seed)
        # every run sees the same nights in the same order, five files
        # each (n+1 zips, the rest xlsx) with sizes drawn once from the
        # BASELINE.md ranges; the seed sets the contents, so runs of
        # different seeds do the same amount of work
        sizes = np.random.default_rng(0)
        self.nights = []
        for n in range(NIGHTS):
            d = os.path.join(self.gen, f"night{n}")
            self.nights.append(
                (d, write_night(d, n, n + 1, NIGHTS - n, rng, sizes=sizes))
            )
        # four small files of each kind start every Python worker slot
        self.warm = os.path.join(self.gen, "warm")
        self.warm_exp = write_night(
            self.warm, 9999, 4, 4, rng, members=(60, 60), rows=(360, 360)
        )
        #: night partition → expected counts and checksums, until check_end
        self.expect: dict[str, dict] = {}
        self.ingested = 0

    def _ingest(self, spark, tr, src, night):
        from sea_express_customs_etl_spark.sinks import append_parquet
        from sea_express_customs_etl_spark.sources import (
            declared_cargo,
            official_history,
            read_bid_heads_raw,
            read_manifests_raw,
        )

        with tr.span("sources.build"):
            off = official_history(read_bid_heads_raw(spark, f"{src}/xml"))
            dec = declared_cargo(read_manifests_raw(spark, f"{src}/xlsx"))
        with tr.span("sinks.append_parquet"):
            append_parquet(off, f"{self.out}/official_history/night={night}")
        with tr.span("sinks.append_parquet"):
            append_parquet(dec, f"{self.out}/declared_cargo/night={night}")

    def setup(self, spark, tr, k):
        t0 = time.perf_counter()
        self._ingest(spark, tr, self.warm, f"w{k}")
        self.expect[f"w{k}"] = self.warm_exp
        return {"warmup_s": time.perf_counter() - t0}

    def check_setup(self, spark, res):
        # the warm-up night is read back with the others in check_end
        res.attempted += 1

    def check_end(self, spark, res):
        """Read every ingested night back in one pass per table and
        compare it with the generator's counts and checksums; a wrong
        night fails its operation."""
        import pyspark.sql.functions as F

        def cents(c):
            return F.round(F.col(c) * 100).cast("long")

        got: dict[str, dict] = {night: {} for night in self.expect}
        for table, seq, desc, amount, key in (
            ("official_history", "item_sequence", "description_official",
             "item_total_amount", "official"),
            ("declared_cargo", "item_no", "description_original",
             "total_amount", "declared"),
        ):
            key_col = F.concat_ws(
                "|", "mawb_no", "hawb_no", seq, desc, cents("qty"), cents(amount)
            )
            for night, n, s in spark.read.parquet(f"{self.out}/{table}").groupBy(
                "night"
            ).agg(F.count(F.lit(1)), F.sum(F.crc32(key_col))).collect():
                if night in got:
                    got[night][f"{key}_rows"], got[night][f"{key}_sum"] = n, s
        for night, exp in self.expect.items():
            if got[night] != exp:
                print(f"[perfbench] night {night}: got {got[night]}, want {exp}",
                      file=sys.stderr)
                res.failed += 1
        self.expect.clear()

    def unit(self, spark, tr, u, res):
        from sea_express_customs_etl_spark.plans.cache import release_tracked

        src, exp = self.nights[u % NIGHTS]
        # unique across measured phases: an append to a used night would
        # double it
        self.ingested += 1
        night = f"n{self.ingested:05d}"
        self.expect[night] = exp
        res.attempted += 1
        with tr.operation(u, "op.nightly_ingest"):
            c0, t0 = tree_cpu_s(), time.perf_counter()
            self._ingest(spark, tr, src, night)
            res.op_s.append(time.perf_counter() - t0)
            res.cpu_s.append(tree_cpu_s() - c0)
        res.tracked.append(release_tracked())
        rows = exp["official_rows"] + exp["declared_rows"]
        res.rows.append(rows)
        size, files = 0, 0
        for table in ("official_history", "declared_cargo"):
            s, f = _dir_stats(f"{self.out}/{table}/night={night}")
            size, files = size + s, files + f
        res.sink_bytes.append(size)
        res.sink_files.append(files)
        res.sink_rows.append(rows)

    def named(self, p50, tail, rows_per_s, readback, setups):
        return {
            "ingest_load_p50_s": p50,
            "ingest_load_tail_s": tail,
            "ingest_rows_per_s": rows_per_s,
        }


def _catalyst_seconds(df) -> float:
    """Plan ``df`` and sum its Catalyst phase times from
    ``queryExecution().tracker()``."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    jvm = df.sparkSession._jvm
    phases = jvm.scala.jdk.javaapi.CollectionConverters.asJava(qe.tracker().phases())
    return sum(phases[k].durationMs() for k in phases.keySet()) / 1000


class KbIncremental(Workload):
    name = "kb_incremental"
    measured_rounds = (SETUPS - 1,)

    def prepare(self):
        import duckdb

        from gen import write_sf_tables
        from sea_express_customs_etl_spark.plans import oracles
        from tools.check_oracle import value_hash

        self.sf = os.path.join(self.gen, "sf")
        os.makedirs(self.sf)
        write_sf_tables(self.sf, SF, self.seed)
        con = duckdb.connect()
        try:
            for t in ("lineitem", "orders", "part"):
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf}/{t}.parquet')"
                )
            self.oracles = {}
            for name, sql in (
                ("knowledge_extraction", oracles.KNOWLEDGE_EXTRACTION_SQL),
                ("vote_counts", oracles.VOTE_COUNTS_SQL),
            ):
                r = con.sql(sql)
                rows = r.fetchall()
                self.oracles[name] = (
                    sorted(r.columns), len(rows), value_hash(r.columns, rows)
                )
        finally:
            con.close()
        self.plan_s: list[float] = []

    def _matches(self, name, cols, rows) -> bool:
        from tools.check_oracle import value_hash

        return (sorted(cols), len(rows), value_hash(cols, rows)) == self.oracles[name]

    def setup(self, spark, tr, k):
        """Materialise the stand-ins, build the knowledge base once the
        ``batch_train`` way (the registered ``knowledge_extraction`` query
        written with ``overwrite_with_backup``), and build the
        ``vote_counts`` query, whose plan writes the session's shared
        aligned-pairs table."""
        import __spark_entry__ as entrymod
        from sea_express_customs_etl_spark.plans.standins import (
            declared_table,
            official_table,
        )
        from sea_express_customs_etl_spark.sinks import overwrite_with_backup

        t0 = time.perf_counter()
        with tr.span("standins.materialize"):
            self.a = declared_table(spark, self.sf)
            self.b = official_table(spark, self.sf)
            self.a.count(), self.b.count()
        t1 = time.perf_counter()
        with tr.span("query.knowledge_extraction"):
            df = entrymod.queries()["knowledge_extraction"](spark, self.sf)
        if tr.enabled:
            with tr.span("knowledge.plan"):
                self.plan_s.append(_catalyst_seconds(df))
        with tr.span("sinks.overwrite_with_backup"):
            overwrite_with_backup(
                df,
                os.path.join(self.out, "kb"),
                backup_root=os.path.join(self.out, "kb_backups"),
                timestamp=f"setup{k}",
            )
        t2 = time.perf_counter()
        with tr.span("query.vote_counts"):
            self.votes = entrymod.queries()["vote_counts"](spark, self.sf)
        return {"standins_s": t1 - t0, "rebuild_s": t2 - t1}

    def check_setup(self, spark, res):
        import pyspark.sql.functions as F

        from sea_express_customs_etl_spark.functions.strings import link_key

        path = os.path.join(self.out, "kb")
        for name, df in (
            ("knowledge_extraction", spark.read.parquet(path)),
            ("vote_counts", self.votes),
        ):
            res.attempted += 1
            if not self._matches(name, df.columns, [tuple(r) for r in df.collect()]):
                print(f"[perfbench] set-up {name}: oracle mismatch", file=sys.stderr)
                res.failed += 1
        size, files = _dir_stats(path)
        res.sink_bytes.append(size)
        res.sink_files.append(files)
        res.sink_rows.append(self.oracles["knowledge_extraction"][1])

        load_of = F.crc32(link_key(F.col("mawb_no"), F.col("hawb_no"))) % LOADS
        self.loads = [
            (self.a.filter(load_of == k), self.b.filter(load_of == k))
            for k in range(LOADS)
        ]
        if not hasattr(self, "load_rows"):  # same inputs in every session
            self.load_rows = [0] * LOADS
            for df in (self.a, self.b):
                for k, n in df.groupBy(load_of).count().collect():
                    self.load_rows[k] += n
        self.app = re.sub(r"\W", "_", spark.sparkContext.applicationId)

    def unit(self, spark, tr, u, res):
        from sea_express_customs_etl_spark.plans.cache import release_tracked
        from sea_express_customs_etl_spark.streaming.knowledge_store import (
            knowledge_batch_writer,
            knowledge_store_kb,
        )

        # a fresh applicationId-derived prefix per pass: the writer skips
        # committed batch ids, so a reused store would fold nothing
        prefix = f"kbstore_{self.app}_p{u}"
        writer = knowledge_batch_writer(prefix)
        for k, (a, b) in enumerate(self.loads):
            res.attempted += 1
            with tr.operation(u * (LOADS + 1) + k, "op.kb_fold"):
                c0, t0 = tree_cpu_s(), time.perf_counter()
                with tr.span("kbstore.fold"):
                    writer(a, b, k)
                res.op_s.append(time.perf_counter() - t0)
                res.cpu_s.append(tree_cpu_s() - c0)
            res.tracked.append(release_tracked())
            res.rows.append(self.load_rows[k])
        with tr.operation(u * (LOADS + 1) + LOADS, "op.kb_readback"):
            t0 = time.perf_counter()
            with tr.span("kbstore.readback"):
                kb = knowledge_store_kb(spark, prefix)
                cols, rows = kb.columns, [tuple(r) for r in kb.collect()]
            res.readback_s.append(time.perf_counter() - t0)
        res.tracked.append(release_tracked())
        if not self._matches("knowledge_extraction", cols, rows):
            # the store is the folds' output: a wrong read-back fails them
            print(f"[perfbench] pass {u}: oracle mismatch", file=sys.stderr)
            res.failed += LOADS
        size = files = 0
        for t in ("votes", "batches"):
            d = os.path.join(self.work, "spark-warehouse", f"{prefix}_{t}".lower())
            s, f = _dir_stats(d)
            size, files = size + s, files + f
        res.store_bytes.append(size)
        res.store_files.append(files)

    def named(self, p50, tail, rows_per_s, readback, setups):
        return {
            "kb_fold_p50_s": p50,
            "kb_fold_tail_s": tail,
            "kb_fold_rows_per_s": rows_per_s,
            "kb_readback_p50_s": readback,
            "kb_rebuild_p50_s": statistics.median(c["rebuild_s"] for c in setups),
            "kb_fold_rows": self.load_rows,
        }


WORKLOADS = {w.name: w for w in (NightlyIngest, KbIncremental)}


def start_session(cpus: int, event_log: str | None = None):
    from sea_express_customs_etl_spark.session import get_spark

    conf = {"spark.ui.showConsoleProgress": "false"}
    if event_log:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_spark(app_name="perfbench", master=f"local[{cpus}]", extra_conf=conf)


def stop_jvm() -> None:
    """Stop the py4j gateway JVM and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway exits on EOF
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants (the
    Spark JVM and its Python workers), reaped children included."""
    parent, ticks = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        parent[int(d)] = int(fields[1])
        ticks[int(d)] = sum(map(int, fields[11:15]))
    me, total = os.getpid(), 0
    for pid, t in ticks.items():
        p = pid
        while p > 1 and p != me:
            p = parent.get(p, 0)
        if p == me:
            total += t
    return total / _TICK


def _peak_rss_mb(spark) -> float:
    def hwm(pid) -> int:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
        return 0

    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    return (hwm("self") + hwm(jvm_pid)) / 1024


def _tail(xs: list[float]) -> dict:
    """The highest percentile with at least ten samples beyond it; none
    exists below eleven samples."""
    n = len(xs)
    if n < 11:
        return {"pct": None, "value": None, "n": n}
    k = n - 10
    return {"pct": round(100 * k / n, 1), "value": sorted(xs)[k - 1], "n": n}


def measure(spark, wl: Workload, units: range, tr, res: Samples) -> None:
    """Closed loop, one client: the given units back to back."""
    for u in units:
        try:
            wl.unit(spark, tr, u, res)
        except Exception:
            # the unit counted the operation as attempted before it raised
            traceback.print_exc(file=sys.stderr)
            res.failed += 1


def _setup(wl, cpus, k, tr_factory, event_log=None):
    """One timed set-up: session start, the workload's set-up and the
    session tables it built (``SESSION_BUILD_SECONDS`` deltas)."""
    import __spark_entry__ as entrymod

    builds0 = dict(entrymod.SESSION_BUILD_SECONDS)
    t0 = time.perf_counter()
    spark = start_session(cpus, event_log)
    t1 = time.perf_counter()
    tr = tr_factory(spark)
    comp = wl.setup(spark, tr, k)
    total = time.perf_counter() - t0
    builds = {
        n: s - builds0.get(n, 0.0)
        for n, s in entrymod.SESSION_BUILD_SECONDS.items()
        if s != builds0.get(n)
    }
    comp.update(
        session_start_s=t1 - t0,
        session_tables_s=sum(builds.values()),
        session_tables_n=len(builds),
        total_s=total,
    )
    return spark, tr, comp


def layer_metrics(spans, jobs, tasks, op_jobs, res, setups, plan_s, cpus) -> dict:
    """Per-layer figures of the traced phase. Figures of calls made in
    the measured operations are per operation; the knowledge rebuild
    runs in set-up, so its figures are per set-up."""
    from spans import add_exec_spans, job_time_within, self_times

    ops = [s for s in spans if s["parent"] is None and s["op"] is not None]
    n_ops = max(len(ops), 1)
    op_wall = sum(s["end"] - s["start"] for s in ops)
    in_ops = [t for t in tasks if t["job"] is not None and jobs[t["job"]]["op"] is not None]
    # input-reading tasks of operations that call into the sources layer
    source_ops = {s["op"] for s in spans if s["name"] == "sources.build"} - {None}
    scans = [
        t for t in in_ops if t["in_bytes"] > 0 and jobs[t["job"]]["op"] in source_ops
    ]
    folds = [o for o in ops if o["name"] == "op.kb_fold"]
    n_folds = max(len(folds), 1)

    def dur(s):
        return s["end"] - s["start"]

    def outside(s):
        return dur(s) - job_time_within(s, jobs)

    def per_call(prefix, fn=dur):
        """Summed ``fn`` over the spans named ``prefix*``: per operation
        when the operations make the call, else per set-up."""
        named = [s for s in spans if s["name"].startswith(prefix)]
        in_ops = [s for s in named if s["op"] is not None]
        return sum(map(fn, in_ops)) / n_ops if in_ops else sum(map(fn, named))

    def per_op(x):
        return x / n_ops

    def med(key):
        return statistics.median(c.get(key, 0.0) for c in setups)

    def mean(xs):
        return statistics.mean(xs) if xs else 0

    def eager_jobs(query):
        return sum(
            1 for j in jobs.values()
            if j["span"] is not None and spans[j["span"]]["name"] == f"query.{query}"
        )
    m = {
        "session.start_s": med("session_start_s"),
        "standins.materialize_s": med("standins_s"),
        "session_tables.build_s": med("session_tables_s"),
        "session_tables.count": med("session_tables_n"),
        "sources.build_s": per_call("sources.build"),
        "sources.op_s": per_op(sum(t["run"] for t in scans)),
        "sources.rows": mean(res.rows) if source_ops else 0,
        "sources.input_bytes": per_op(sum(t["in_bytes"] for t in scans)),
        "sources.scan_tasks": per_op(len(scans)),
        "sinks.bytes_written": mean(res.sink_bytes),
        "sinks.files_written": mean(res.sink_files),
        "sinks.bytes_per_row": sum(res.sink_bytes) / max(sum(res.sink_rows), 1),
        "sinks.outside_jobs_s": per_call("sinks.", outside),
        "knowledge.build_s": per_call("query.knowledge_extraction"),
        "knowledge.plan_s": mean(plan_s),
        "knowledge.exec_s": per_call(
            "sinks.overwrite_with_backup", lambda s: job_time_within(s, jobs)
        ),
        "query.knowledge_extraction.eager_jobs": eager_jobs("knowledge_extraction"),
        "query.vote_counts.build_s": per_call("query.vote_counts"),
        "query.vote_counts.eager_jobs": eager_jobs("vote_counts"),
        "kbstore.jobs_per_fold": sum(op_jobs[o["op"]]["jobs"] for o in folds) / n_folds,
        "kbstore.outside_jobs_s": sum(
            outside(s) for s in spans if s["name"] == "kbstore.fold" and s["op"] is not None
        ) / n_folds,
        "kbstore.log_files": mean(res.store_files),
        "kbstore.bytes_written": sum(res.store_bytes) / n_folds if folds else 0,
        "kbstore.readback_s": mean(res.readback_s) if folds else 0,
        "exec.jobs": per_op(sum(c["jobs"] for c in op_jobs.values())),
        "exec.stages": per_op(sum(c["stages"] for c in op_jobs.values())),
        "exec.tasks": per_op(sum(c["tasks"] for c in op_jobs.values())),
        "exec.failed_tasks": sum(t["failed"] for t in in_ops),
        "exec.empty_task_frac": sum(
            1 for t in in_ops if t["in_records"] == 0 and t["sr_records"] == 0
        ) / max(len(in_ops), 1),
        "exec.task_run_s": per_op(sum(t["run"] for t in in_ops)),
        "exec.gc_s": per_op(sum(t["gc"] for t in in_ops)),
        "exec.shuffle_read_bytes": per_op(sum(t["sr_bytes"] for t in in_ops)),
        "exec.shuffle_write_bytes": per_op(sum(t["sw_bytes"] for t in in_ops)),
        "exec.spill_bytes": per_op(sum(t["spill"] for t in in_ops)),
        "exec.core_busy_frac": sum(t["wall"] for t in in_ops) / max(cpus * op_wall, 1e-9),
        "exec.cpu_s": statistics.median(res.cpu_s),
        "cache.tracked_persists": mean(res.tracked),
    }
    add_exec_spans(spans, jobs)
    selfs = self_times(spans)
    for layer in SELF_LAYERS:
        m[f"self.{layer}_s"] = selfs.get(layer, 0.0)
    return m


def run(args, work: str) -> tuple[dict, dict]:
    from spans import Tracer, read_event_log

    cpus = len(os.sched_getaffinity(0))
    wl = WORKLOADS[args.workload](work, args.seed)
    wl.prepare()
    res, setups, spark = Samples(), [], None
    traced = None
    try:
        per_round, done = wl.units(args.seconds), 0
        for k in range(SETUPS):
            if spark is not None:
                spark.stop()
            spark, tr, comp = _setup(wl, cpus, k, lambda s: Tracer())
            setups.append(comp)
            wl.check_setup(spark, res)
            if k in wl.measured_rounds:
                measure(spark, wl, range(done, done + per_round), tr, res)
                done += per_round
        confs = {k: spark.conf.get(k, None) for k in CONF_KEYS}
        confs["spark.default.parallelism"] = str(spark.sparkContext.defaultParallelism)
        rss = _peak_rss_mb(spark)
        wl.check_end(spark, res)
        if args.trace:
            spark.stop()
            log_dir = os.path.join(work, "eventlog")
            os.makedirs(log_dir)
            tres = Samples()
            spark, tr, _ = _setup(
                wl, cpus, SETUPS, lambda s: Tracer(s.sparkContext), log_dir
            )
            wl.check_setup(spark, tres)
            measure(spark, wl, range(done, 2 * done), tr, tres)
            wl.check_end(spark, tres)
            traced = (tres, tr)
    finally:
        if spark is not None:
            spark.stop()  # also closes the event log

    p50 = statistics.median(res.op_s)
    # a median, like the latencies: one slow first operation after
    # set-up would move a ratio of sums
    rows_per_s = statistics.median(r / t for r, t in zip(res.rows, res.op_s))
    readback = statistics.median(res.readback_s) if res.readback_s else None
    detail = {
        "perfbench": wl.name,
        "seed": args.seed,
        "cpus": cpus,
        "sf": SF,
        "confs": confs,
        "setups": [{k: round(v, 4) for k, v in c.items()} for c in setups],
        "op_samples_s": [round(x, 4) for x in res.op_s],
        "readback_samples_s": [round(x, 4) for x in res.readback_s],
        "cpu_samples_s": [round(x, 2) for x in res.cpu_s],
        "op_rows": res.rows,
        "failed_frac": res.failed / max(res.attempted, 1),
        "peak_rss_mb": rss,
        **wl.named(p50, _tail(res.op_s), rows_per_s, readback, setups),
    }
    metrics = {
        "setup_s": (statistics.median(c["total_s"] for c in setups), "s"),
        "op_p50_s": (p50, "s"),
        "rows_per_s": (rows_per_s, "rows/s"),
    }
    attempted, failed = res.attempted, res.failed
    if traced is not None:
        tres, tr = traced
        jobs, tasks = read_event_log(log_dir)
        m = layer_metrics(
            tr.spans, jobs, tasks, tr.op_jobs, tres, setups, getattr(wl, "plan_s", []), cpus
        )
        m["trace.overhead_s"] = statistics.median(tres.op_s) - p50
        m["trace.overhead_frac"] = m["trace.overhead_s"] / p50
        metrics = {k: (m[k], _unit(k)) for k in PER_LAYER}
        attempted += tres.attempted
        failed += tres.failed
        detail["traced_ops"] = len(tres.op_s)
        detail["layer_targets"] = PER_LAYER
        out = os.path.join(ROOT, ".perfbench_traces")
        os.makedirs(out, exist_ok=True)
        tr.write(os.path.join(out, f"{wl.name}-seed{args.seed}.jsonl"))
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, detail


def _unit(name: str) -> str:
    for suffix, unit in (("_s", "s"), ("_frac", "fraction"), ("_per_row", "bytes/row")):
        if name.endswith(suffix):
            return unit
    return "bytes" if "bytes" in name else "count"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    # fails here, before any output, in a tree without the program
    import __spark_entry__  # noqa: F401

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # the session gets get_spark's own defaults, whatever the caller exported
    for var in (
        "SPARK_GRAFT_CPUS",
        "SPARK_GRAFT_SHUFFLE_PARTITIONS",
        "SPARK_GRAFT_DRIVER_MEM",
        "SPARK_MASTER",
    ):
        os.environ.pop(var, None)
    # everything the run writes stays under the work dir: Python and JVM
    # temp files, Spark local dirs, the warehouse (relative to the cwd)
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp}",
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    )
    import tempfile

    tempfile.tempdir = None
    os.chdir(work)
    try:
        result, detail = run(args, work)
    finally:
        stop_jvm()
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

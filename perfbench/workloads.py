"""The benchmark's workloads, driven through the engine's public API.

Two workloads, each one process, one seed, one SparkSession:

- ``live_tail`` — small writes into history.  An open loop lands one
  file per tick into the candle stream; each file holds the next closed
  minute for every symbol plus late revisions and invalid rows.  At the
  benchmark's size a batch costs mostly its fixed per-batch overhead
  (about 130 Spark jobs for raw and 8 rollup levels).  The operation is
  one file: from its due time until its micro-batch has committed (raw
  and all 8 rollup levels written).  Meanwhile a reader thread refreshes
  a freshness panel on its own open-loop schedule; one of its reads is
  a rollup level, a table the batch republishes, so a read that breaks
  during the non-atomic publish shows.
- ``gap_repair`` — bulk writes scattered over months of history.  The
  operation is one watchdog pass (detect, refill over REST, append,
  upsert all 8 levels, verify).  Rewrite volume dominates; per-batch
  overhead barely matters.  The only workload that runs gaps, refill
  and verify in its timed operation.  Before the pass, with nothing
  being written, one client refreshes the whole dashboard back to back
  against the seeded store, so a layout chosen to speed up writes shows
  as a read cost.

Both report the same end-to-end metrics (``op_p50_s`` is the
workload's operation; ``refresh_p50_s`` its dashboard refreshes) and, in traced runs,
the same per-layer metrics.  The metric-to-layer map is in README.md in
this directory.

A run holds one operation (one file, one pass): each costs 15-25 s on a
4-core host, on top of 25-35 s to start the JVM and build the seeded
store, and every run has to fit a budget of about a minute.  The
dashboard refreshes are cheap, so each run takes several of them and
reports their median.
"""

from __future__ import annotations

import calendar
import os
import shutil
import sys
import threading
import time
from dataclasses import dataclass
from datetime import datetime, timezone
from functools import reduce

import numpy as np
import pandas as pd

import oracle
from gen import MINUTE_NS, Spec, generate, is_valid, write_atomic
from stats import OpenLoop, median, proc_peak_rss_mb, process_start_time, tail
from tracing import SparkCounters, Tracer, scan_files, written_between

EXCHANGE = "EXCH_A"
READ_LIMIT = 500  # top-N of the dashboard's recent-candles panel

# live_tail: one day of history for 20 symbols, all inside one month,
# so every batch rewrites the current month of every level.  At this
# size a batch costs mostly its fixed per-batch overhead (~130 Spark
# jobs); the O(history) scan and rewrite are a small share of it.
LIVE_SPEC = Spec(
    symbols=20,
    history_days=1.0,
    start=datetime(2026, 10, 3, tzinfo=timezone.utc),
    revision_share=0.05,
    invalid_share=0.025,
    hole_share=0.002,
    island_max=10,
)
LIVE_TICK_S = 20.0  # longer than a batch on a 4-core host, so the backlog stays flat
# The live reader's open-loop interval: about twice a refresh during
# ingest, so a slow refresh does not queue the next one.
LIVE_REFRESH_PERIOD_S = 4.0
# gap_repair: 33 days over three calendar months, 1 % of minutes
# punched out in islands of 1-30 minutes.  One symbol: the pass's cost
# is set by how many months it rewrites, not by how many symbols.
GAP_SPEC = Spec(
    symbols=1,
    history_days=33.0,
    start=datetime(2026, 7, 30, tzinfo=timezone.utc),
    revision_share=0.01,
    invalid_share=0.001,
    hole_share=0.01,
)
# Dashboard refreshes before the pass: back to back for --seconds, and
# at least this many, so their median does not rest on the first
# (cold) one.
GAP_REFRESHES = 3
BATCH_TIMEOUT_S = 90.0
RETRYABLE = ("FILE_NOT_EXIST", "FileNotFoundException", "does not exist")


def _ns(dt) -> int:
    """Spark returns naive datetimes in the process time zone (UTC)."""
    return calendar.timegm(dt.timetuple()) * 1_000_000_000 + dt.microsecond * 1000


# ---------------------------------------------------------------------------
# Session and process


class Harness:
    """One benchmark process: session, work directory, op accounting."""

    def __init__(self, root: str, workload: str, seed: int, seconds: float, trace: bool):
        self.t_proc = process_start_time()
        self.root = root
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.tracer = Tracer(trace)
        self.work = os.path.join(root, ".perfbench_out", f"{workload}-{seed}-{os.getpid()}")
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.e2e: dict[str, tuple[float, str]] = {}
        self.layer: dict[str, tuple[float, str]] = {}
        self.detail: dict = {}
        self.spark = None
        self._jvm_pid = None
        self._lock = threading.Lock()

    def note(self, what: str) -> None:
        """A progress line on stderr, stamped with seconds since process start."""
        print(f"[{time.time() - self.t_proc:7.2f} s] {what}", file=sys.stderr, flush=True)

    def count(self, ok: bool, what: str = "", err: str = "") -> None:
        with self._lock:
            self.attempted += 1
            if not ok:
                self.failed += 1
                self.errors.append(f"{what}: {err}"[:500])

    def start_spark(self) -> None:
        """``local[nproc]`` with a heap well below physical RAM, every
        scratch path inside the work directory, console progress off."""
        os.makedirs(self.work, exist_ok=True)
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
        os.environ.update(
            {
                "TZ": "UTC",
                "TMPDIR": tmp,
                "SPARK_LOCAL_DIRS": os.path.join(self.work, "spark-local"),
                "SPARK_GRAFT_DRIVER_MEM": f"{min(1024, ram_mb // 8)}m",
                "PYSPARK_PYTHON": sys.executable,
                "JDK_JAVA_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            }
        )
        time.tzset()
        import tempfile

        tempfile.tempdir = None
        from pyspark import cloudpickle

        import fetch

        cloudpickle.register_pickle_by_value(fetch)
        from trade_data_collection_service_spark.session import get_spark

        nproc = os.cpu_count() or 1
        t = time.time()
        with self.tracer.span("session.start"):
            self.spark = get_spark(
                f"perfbench-{self.workload}",
                master=f"local[{nproc}]",
                shuffle_partitions=nproc,
                extra_conf={
                    "spark.ui.showConsoleProgress": "false",
                    # The status UI's listeners cost CPU on a small host;
                    # only traced runs need its REST API (Spark counters),
                    # so its cost shows as tracing overhead.
                    "spark.ui.enabled": "true" if self.tracer.enabled else "false",
                    "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                    # get_spark's default points derby at /tmp
                    "spark.driver.extraJavaOptions": (
                        f"-Dderby.system.home={os.path.join(self.work, 'derby')}"
                        " -XX:ReservedCodeCacheSize=512m"
                    ),
                    "spark.ui.retainedJobs": "20000",
                    "spark.ui.retainedStages": "20000",
                    "spark.sql.streaming.numRecentProgressUpdates": "1000",
                },
            )
        self.layer["session.start_s"] = (time.time() - t, "s")
        self.note("session started")
        self.spark.sparkContext.setLogLevel("ERROR")
        proc = getattr(self.spark.sparkContext._gateway, "proc", None)
        self._jvm_pid = proc.pid if proc is not None else None
        self.detail["env"] = {
            "nproc": nproc,
            "ram_mb": ram_mb,
            "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
            "spark": self.spark.version,
            "java": self.spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
            "python": sys.version.split()[0],
        }

    def peak_mem_mb(self) -> float:
        mem = proc_peak_rss_mb()
        if self._jvm_pid is not None:
            mem += proc_peak_rss_mb(self._jvm_pid)
        return mem

    def stop_spark(self) -> None:
        if self.spark is None:
            return
        gateway = self.spark.sparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
        self.spark = None

    def cleanup(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)


class TimedWriter:
    """``CandleWriter`` wrapper passed as ``writer=``: times every
    ``write_raw`` / ``read_raw`` and, in traced runs, snapshots the
    store's files before each write so each batch's writes can be
    counted."""

    def __init__(self, inner, store_dir: str, tracer: Tracer):
        self.inner = inner
        self.raw_path = inner.raw_path
        self.store_dir = store_dir
        self.tracer = tracer
        self.writes: list[float] = []
        self.reads: list[float] = []
        self.scans: list[dict] = []

    def write_raw(self, batch) -> None:
        if self.tracer.enabled:
            t = time.time()
            self.scans.append(scan_files(self.store_dir))
            self.tracer.self_s += time.time() - t
        t = time.time()
        with self.tracer.span("sinks.write_raw"):
            self.inner.write_raw(batch)
        self.writes.append(time.time() - t)

    def read_raw(self, spark):
        t = time.time()
        with self.tracer.span("sinks.read_raw"):
            df = self.inner.read_raw(spark)
        self.reads.append(time.time() - t)
        return df


def dir_bytes(path: str) -> int:
    return sum(size for size, _ in scan_files(path).values())


# ---------------------------------------------------------------------------
# Dashboard reads


@dataclass
class ReadExpect:
    """What a read may return, from the generated data alone.

    ``exact`` holds when nothing is being written, so the store is
    known to hold the latest version of every history key but the
    holes: then every answer is fixed.  Otherwise files are landing
    during the read, and a read may return any state between the seed
    and the last file."""

    symbols: list[str]
    popularity: np.ndarray
    closes: dict  # (symbol, start_ns) -> set of valid close versions
    starts: dict  # symbol -> sorted start_ns of every stored history key
    first_start_ns: int  # first history minute (never a hole)
    last_hist_stop_ns: int
    window: tuple[int, int]  # count window inside history, [lo, hi) ns
    window_counts: dict  # symbol -> expected distinct minutes in the window
    exact: bool


def read_expect(ds, frames: list[pd.DataFrame], exact: bool) -> ReadExpect:
    """Expectations over ``frames`` (all rows that may be stored); the
    holes of ``ds`` are missing."""
    rows = pd.concat(frames, ignore_index=True)
    rows = rows[is_valid(rows)]
    closes: dict = {}
    for s, t, c in zip(rows["symbol"].to_numpy(), rows["start"].to_numpy(), rows["close"].to_numpy()):
        closes.setdefault((s, int(t)), set()).add(float(c))
    h = ds.spec.history_minutes
    first = int(ds.truth["start"].min())
    last_stop = first + h * MINUTE_NS
    lo, hi = last_stop - 6 * 60 * MINUTE_NS, last_stop
    holes = ds.hole_keys
    starts, counts = {}, {}
    for s in ds.symbols:
        mine = ds.truth[ds.truth["symbol"] == s]["start"].to_numpy().astype(np.int64)
        gone = holes[holes["symbol"] == s]["start"].to_numpy().astype(np.int64)
        mine = np.setdiff1d(mine, gone)
        starts[s] = np.sort(mine)
        counts[s] = int(((mine >= lo) & (mine < hi)).sum())
    return ReadExpect(ds.symbols, ds.popularity, closes, starts, first, last_stop, (lo, hi), counts, exact)


class Reader:
    """One dashboard client refreshing a fixed set of panels.

    A refresh issues one read per kind in ``kinds``, one after another,
    for a pair of symbols drawn from the seed (Zipf-popular); its
    latency runs from its due time until the last panel returned.  The
    rollup level of ``recent_rollup`` steps through ``LEVEL_CYCLE`` one
    refresh at a time, so every run issues the same mix.
    ``start_open_loop`` refreshes on a fixed schedule from a thread
    until ``stop`` (live_tail); ``run_closed`` / ``run_closed_for``
    refresh back to back (gap_repair).  A read that hits a file removed
    by a concurrent publish is retried (at most twice), its latency
    includes the retries, and ``retried`` counts them.  Every read is
    one operation, checked against the generated data; a refresh with a
    failed read has no latency."""

    KINDS = ("recent_raw", "recent_rollup", "window", "latest", "freshness", "count_window", "earliest")
    # The freshness panel polled during ingest: raw's newest candles and
    # one rollup level, a table each batch republishes.
    LIVE_KINDS = ("freshness", "latest", "recent_rollup")
    LEVEL_CYCLE = (60, 5, 1440, 15, 240, 1, 120, 30)

    def __init__(self, h: Harness, store_dir: str, expect: ReadExpect, seed: int, kinds=KINDS):
        self.h = h
        self.raw_path = os.path.join(store_dir, "candles_raw")
        self.level_paths = {m: os.path.join(store_dir, d) for m, d in oracle.LEVEL_DIRS.items()}
        self.expect = expect
        self.kinds = kinds
        self.rng = np.random.default_rng(seed + 7919)
        self.reads: list[dict] = []
        self.refreshes: list[dict] = []
        self.retried = 0
        self.loop: OpenLoop | None = None
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def start_open_loop(self, t0: float, period: float) -> None:
        self.loop = OpenLoop(t0, period, sleep=self._stop.wait)
        self._thread = threading.Thread(target=self._run_open, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        """End the open loop; a refresh in flight completes first."""
        self._stop.set()
        self._thread.join(timeout=120)
        if self._thread.is_alive():
            raise RuntimeError("dashboard reader did not finish")

    def run_closed(self, n: int) -> None:
        for _ in range(n):
            self._refresh(time.time(), *self._next())

    def run_closed_for(self, seconds: float, at_least: int) -> None:
        t0, n = time.time(), 0
        while n < at_least or time.time() - t0 < seconds:
            self._refresh(time.time(), *self._next())
            n += 1

    def _next(self) -> tuple[str, str, int]:
        """The next refresh's symbols and rollup level; the k-th refresh
        of a seed is always the same."""
        sym, sym2 = self.rng.choice(self.expect.symbols, size=2, p=self.expect.popularity)
        return sym, sym2, self.LEVEL_CYCLE[len(self.refreshes) % len(self.LEVEL_CYCLE)]

    def _run_open(self) -> None:
        k = 0
        while True:
            due = self.loop.wait(k)
            if self._stop.is_set():
                return
            self.loop.mark(due)
            self._refresh(due, *self._next())
            k += 1

    def _refresh(self, due: float, sym: str, sym2: str, level: int) -> None:
        ok = all([self._one(kind, sym, sym2, level) for kind in self.kinds])
        self.refreshes.append({"due": due, "end": time.time(), "ok": ok})

    def _one(self, kind: str, sym: str, sym2: str, level: int) -> bool:
        k = len(self.reads)
        self.h.spark.sparkContext.setJobGroup(f"read-{k}", kind)
        err = ""
        rows = None
        with self.h.tracer.op(f"read-{k}"), self.h.tracer.span(f"queries.{kind}"):
            for attempt in range(3):
                try:
                    rows = self._query(kind, sym, sym2, level)
                    break
                except Exception as e:  # a failed read is counted, not fatal
                    err = f"{type(e).__name__}: {str(e).splitlines()[0] if str(e) else ''}"
                    if attempt < 2 and any(m in str(e) for m in RETRYABLE):
                        self.retried += 1
                        continue
                    break
        ok = rows is not None
        if ok:
            err = self._check(kind, sym, sym2, level, rows)
            ok = not err
        self.h.count(ok, f"read {kind}", err)
        self.reads.append({"k": k, "kind": kind, "rows": len(rows or [])})
        return ok

    def latencies(self) -> list[float]:
        """Latency of every refresh whose reads all succeeded."""
        return [r["end"] - r["due"] for r in self.refreshes if r["ok"]]

    def _query(self, kind, sym, sym2, level):
        from pyspark.sql import functions as F

        from trade_data_collection_service_spark.operators import queries as Q
        from trade_data_collection_service_spark.operators.dedup import dedup_latest
        from trade_data_collection_service_spark.schema import timeframe_label
        from trade_data_collection_service_spark.streaming.pipeline import read_rollup_level

        spark = self.h.spark
        if kind == "recent_rollup":
            label = timeframe_label(level)
            lvl = (
                read_rollup_level(spark, self.level_paths[level])
                .withColumnRenamed("candle_start", "start")
                .withColumn("interval", F.lit(label))
            )
            return Q.recent_candles(lvl, EXCHANGE, sym, label, READ_LIMIT).collect()
        raw = dedup_latest(spark.read.parquet(self.raw_path))
        if kind == "recent_raw":
            return Q.recent_candles(raw, EXCHANGE, sym, "1m", READ_LIMIT).collect()
        if kind == "window":
            return Q.readme_window_query(raw, sorted({sym, sym2}), 6).collect()
        if kind == "latest":
            return Q.latest_per_symbol(raw).collect()
        if kind == "freshness":
            return Q.freshness(raw).collect()
        if kind == "count_window":
            lo, hi = (datetime.fromtimestamp(x / 1e9, timezone.utc).replace(tzinfo=None) for x in self.expect.window)
            return Q.count_distinct_in_window(raw, EXCHANGE, sym, lo, hi).collect()
        return Q.earliest_per_symbol(raw, EXCHANGE, "1m").collect()

    def _check(self, kind, sym, sym2, level, rows) -> str:
        """'' when ``rows`` is a result the generated data admits."""
        x = self.expect
        closes = x.closes

        def known(r, at="start") -> bool:
            return float(r["close"]) in closes.get((r["symbol"], _ns(r[at])), ())

        if kind == "recent_raw":
            starts = [_ns(r["start"]) for r in rows]
            if len(rows) != READ_LIMIT or starts != sorted(set(starts)):
                return f"{len(rows)} rows or unordered"
            if x.exact and starts != x.starts[sym][-READ_LIMIT:].tolist():
                return "not the newest stored minutes"
            return "" if all(known(r) for r in rows) else "unknown candle version"
        if kind == "recent_rollup":
            step = level * MINUTE_NS
            starts = [_ns(r["start"]) for r in rows]
            if not rows or starts != sorted(set(starts)) or any(s % step for s in starts):
                return f"{len(rows)} rows, unordered or off-grid"
            if x.exact:
                want = np.unique(x.starts[sym] // step * step)[-READ_LIMIT:].tolist()
                if starts != want:
                    return "not the newest stored buckets"
            for r in rows:
                s, ct = _ns(r["start"]), _ns(r["close_time"])
                if not (s <= ct < s + step) or not known(r, "close_time"):
                    return "bucket close is not its last candle's close"
                if not (r["low"] <= min(r["open"], r["close"]) <= max(r["open"], r["close"]) <= r["high"]):
                    return "OHLC order broken"
            return ""
        if kind == "window":
            keys = [(r["symbol"], _ns(r["start"])) for r in rows]
            if not rows or keys != sorted(keys) or {k[0] for k in keys} - {sym, sym2}:
                return "empty, unordered or foreign symbol"
            if x.exact:
                lo = x.last_hist_stop_ns - MINUTE_NS - 6 * 60 * MINUTE_NS
                want = [(s, int(t)) for s in sorted({sym, sym2}) for t in x.starts[s] if t >= lo]
                if keys != want:
                    return "window keys differ"
            return "" if all(known(r) for r in rows) else "unknown candle version"
        if kind in ("latest", "freshness"):
            if sorted(r["symbol"] for r in rows) != sorted(x.symbols):
                return "symbol set"
            for r in rows:
                stop = _ns(r["stop"] if kind == "latest" else r["latest_stop"])
                if stop < x.last_hist_stop_ns or (x.exact and stop != x.last_hist_stop_ns):
                    return "stale newest candle"
                if kind == "latest" and not known(r):
                    return "unknown newest candle version"
                if kind == "freshness" and (r["lag_seconds"] < 0 or (x.exact and r["lag_seconds"] != 0)):
                    return f"lag {r['lag_seconds']}"
            return ""
        if kind == "count_window":
            n = rows[0]["n_candles"] if rows else None
            return "" if n == x.window_counts[sym] else f"count {n}, want {x.window_counts[sym]}"
        got = {r["symbol"]: _ns(r["earliest_start"]) for r in rows}
        want = {s: x.first_start_ns for s in x.symbols}
        return "" if got == want else "earliest starts differ"

    def metrics(self, counters: SparkCounters) -> dict:
        """queries.* per-layer metrics from the traced spans and counters."""
        out = {
            f"queries.{kind}_p50_s": (median(self.h.tracer.durations(f"queries.{kind}")), "s")
            for kind in self.KINDS
        }
        groups = {f"read-{d['k']}" for d in self.reads}
        scanned = counters.totals(lambda j: j.get("jobGroup") in groups)["in_rec"]
        returned = sum(d["rows"] for d in self.reads)
        out["queries.rows_scanned_per_row"] = (scanned / max(1, returned), "ratio")
        return out


# ---------------------------------------------------------------------------
# Shared pieces


def data_batches(q) -> list[dict]:
    return sorted(
        (dict(p) for p in q.recentProgress if p["numInputRows"] > 0),
        key=lambda p: p["batchId"],
    )


def wait_batches(q, n: int, timeout: float) -> list[dict]:
    deadline = time.time() + timeout
    while True:
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        got = data_batches(q)
        if len(got) >= n or time.time() > deadline:
            return got
        time.sleep(0.25)


def batch_end(p: dict) -> float:
    """When a micro-batch committed: trigger start + trigger duration."""
    start = datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc)
    return start.timestamp() + p["durationMs"]["triggerExecution"] / 1000.0


def check_store(h: Harness, out: str, want_latest: pd.DataFrame, label: str) -> None:
    """Raw (deduplicated) and every level against the engine-free
    expectation over ``want_latest``; one op."""
    errs = oracle.check_store(out, want_latest)
    h.count(not errs, f"{label} store check", "; ".join(errs))


def rejected_rows(h: Harness, src: str) -> int:
    """validate.rejected_rows: the engine's quarantine over every landed row."""
    from trade_data_collection_service_spark.operators import quarantine
    from trade_data_collection_service_spark.schema import CANDLE_SCHEMA

    return quarantine(h.spark.read.schema(CANDLE_SCHEMA).parquet(src)).count()


def write_truth(ds, truth_dir: str) -> None:
    os.makedirs(truth_dir, exist_ok=True)
    for sym, rows in ds.truth.groupby("symbol", sort=False):
        write_atomic(rows.sort_values("start"), os.path.join(truth_dir, f"{sym}.parquet"), row_group_size=1440)


@dataclass
class PassResult:
    seconds: float
    missing: int
    islands: int
    fetched: int
    unverified: int


def repair_pass(h: Harness, writer: TimedWriter, out: str, truth_dir: str, op_id: str) -> PassResult:
    """One watchdog pass, evaluated step by step so each layer gets its
    own span: freshness, gap list, islands, REST refill, append through
    the sink, upsert of all 8 levels, verify of all 8 levels."""
    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    from fetch import TruthFetcher
    from trade_data_collection_service_spark.operators import dedup_latest, missing_timestamps
    from trade_data_collection_service_spark.operators.watchdog import rest_refill, verify_rollup, watchdog_cycle
    from trade_data_collection_service_spark.streaming.pipeline import (
        read_rollup_level,
        rollup_paths,
        upsert_rollup_levels,
    )

    spark, tr = h.spark, h.tracer
    spark.sparkContext.setJobGroup(op_id, "watchdog pass")
    t0 = time.time()
    with tr.op(op_id), tr.span("watchdog.pass"):
        raw = writer.read_raw(spark)
        report = watchdog_cycle(raw, rest_refill(TruthFetcher(truth_dir)))
        with tr.span("watchdog.freshness"):
            report.freshness.collect()
        with tr.span("gaps.missing"):
            # same plan as the report's gap list, so the cache serves it
            missing = missing_timestamps(dedup_latest(raw)).cache()
            n_missing = missing.count()
        with tr.span("gaps.islands"):
            isl = report.gap_islands.cache()
            n_islands = isl.count()
        with tr.span("rest.fetch"):
            # Checkpointed, not cached: appending to raw re-caches every
            # cached plan over raw, which would re-run the gap scan on
            # the repaired table and find nothing to refill.
            fetched = report.refill.localCheckpoint()
            n_fetched = fetched.count()
        missing.unpersist()
        isl.unpersist()
        batch = dedup_latest(fetched).localCheckpoint()
        writer.write_raw(batch)
        with tr.span("pipeline.upsert"):
            upsert_rollup_levels(spark, writer.read_raw(spark), batch, out)
        with tr.span("watchdog.verify"):
            repaired = dedup_latest(writer.read_raw(spark)).cache()
            checks = [verify_rollup(read_rollup_level(spark, p), repaired, m) for m, p in rollup_paths(out).items()]
            unverified = reduce(DataFrame.unionByName, checks).filter(~F.col("ok")).count()
        repaired.unpersist()
    seconds = time.time() - t0
    spark.sparkContext.setJobGroup("bench", "untimed")
    return PassResult(seconds, n_missing, n_islands, n_fetched, unverified)


def start_fetch_workers(h: Harness, truth_dir: str, symbol: str) -> None:
    """Start the Python workers that the REST refill runs in, with a
    fetch of an empty range: a long-running watchdog starts them once
    per session, not once per pass."""
    from fetch import TruthFetcher
    from trade_data_collection_service_spark.sources.rest import fetch_chunks

    t = datetime(2026, 1, 1)
    plan = h.spark.createDataFrame([(symbol, t, t)], "symbol string, chunk_start timestamp, chunk_end timestamp")
    fetch_chunks(plan, TruthFetcher(truth_dir)).count()


def pass_layer_metrics(h: Harness, results: list[PassResult], holes: int) -> dict:
    tr = h.tracer
    return {
        "gaps.missing_s": (median(tr.durations("gaps.missing")), "s"),
        "gaps.islands_s": (median(tr.durations("gaps.islands")), "s"),
        "gaps.missing_rows": (median(r.missing for r in results), "count"),
        "gaps.islands": (median(r.islands for r in results), "count"),
        "rest.fetch_s": (median(tr.durations("rest.fetch")), "s"),
        "rest.fetched_rows": (median(r.fetched for r in results), "count"),
        "rest.useful_ratio": (median(holes / max(1, r.fetched) for r in results), "ratio"),
        "watchdog.freshness_s": (median(tr.durations("watchdog.freshness")), "s"),
        "watchdog.verify_s": (median(tr.durations("watchdog.verify")), "s"),
    }


def check_pass(h: Harness, r: PassResult, holes: int, islands: int, label: str) -> None:
    errs = []
    if r.missing != holes:
        errs.append(f"{r.missing} missing rows found, {holes} punched")
    if r.islands != islands:
        errs.append(f"{r.islands} islands found, {islands} punched")
    if r.unverified:
        errs.append(f"verify_rollup: {r.unverified} keys not ok")
    h.count(not errs, label, "; ".join(errs))


def counter_metrics(per_op: list[dict]) -> dict:
    """Median per operation of each Spark counter."""

    def med(k):
        return median(c[k] for c in per_op)

    return {
        "spark.jobs": (med("jobs"), "count"),
        "spark.stages": (med("stages"), "count"),
        "spark.tasks": (med("tasks"), "count"),
        "spark.input_bytes": (med("in"), "B"),
        "spark.output_bytes": (med("out"), "B"),
        "spark.shuffle_write_bytes": (med("shw"), "B"),
    }


def storage_metrics(per_op: list[tuple[int, int, int]]) -> dict:
    """per_op: (files written, bytes written, raw bytes appended)."""
    return {
        "storage.files_written": (median(f for f, _, _ in per_op), "count"),
        "storage.write_amp": (median(b / max(1, r) for _, b, r in per_op), "ratio"),
    }


def store_writes(before: dict, after: dict) -> tuple[int, int, int]:
    files, size = written_between(before, after)
    _, raw = written_between(before, after, "candles_raw")
    return files, size, raw


def probe_dedup(h: Harness, raw_path: str) -> None:
    """dedup.raw_s: dedup_latest over the whole raw table, on its own
    (the no-op sink evaluates every row and column)."""
    from trade_data_collection_service_spark.operators import dedup_latest

    times = []
    for _ in range(3):
        t = time.time()
        with h.tracer.span("dedup.raw"):
            dedup_latest(h.spark.read.parquet(raw_path)).write.format("noop").mode("overwrite").save()
        times.append(time.time() - t)
    h.layer["dedup.raw_s"] = (median(times), "s")


def pipeline_metrics(batches: list[dict], writes: list[float]) -> dict:
    def med(*keys):
        return median(sum(p["durationMs"].get(k, 0) for k in keys) / 1000.0 for p in batches)

    return {
        "pipeline.trigger_s": (med("triggerExecution"), "s"),
        "pipeline.add_batch_s": (med("addBatch"), "s"),
        "pipeline.plan_s": (med("queryPlanning"), "s"),
        "pipeline.wal_s": (med("walCommit", "commitOffsets"), "s"),
        "pipeline.upsert_s": (
            median(p["durationMs"]["addBatch"] / 1000.0 - w for p, w in zip(batches, writes)),
            "s",
        ),
    }


def finish_trace(h: Harness, reader: Reader, per_op: list, op_times: list[float]) -> None:
    """Per-layer metrics shared by both workloads' traced runs."""
    t = time.time()
    counters = SparkCounters(h.spark)
    counters.load()
    h.layer.update(counter_metrics([counters.totals(sel) for sel in per_op]))
    h.layer.update(reader.metrics(counters))
    h.tracer.self_s += time.time() - t
    h.layer["reads.retried"] = (reader.retried, "count")
    h.layer["trace.op_p50_s"] = (median(op_times), "s")


# ---------------------------------------------------------------------------
# live_tail


def live_tail(h: Harness) -> None:
    """Why: per-batch fixed overhead dominates small writes into the
    store (at this size the O(history) scan and month rewrite are a
    small share of a batch), and the concurrent reader, which also
    reads a republished rollup level, shows any read that breaks during
    the non-atomic publish.

    Moves ``op_p50_s`` (due -> visible in raw and all 8 levels):
    pipeline.*, sinks.*, spark.jobs/stages (per-batch overhead), spark
    input/output bytes and storage.* (scan and rewrite).  Moves
    ``refresh_p50_s`` (freshness panel during ingest): queries.latest_p50_s,
    queries.freshness_p50_s, queries.recent_rollup_p50_s, dedup.raw_s."""
    from trade_data_collection_service_spark.streaming.pipeline import start_candle_stream
    from trade_data_collection_service_spark.streaming.sinks import ParquetCandleWriter

    tr = h.tracer
    src, out, ckpt = (os.path.join(h.work, d) for d in ("src", "store", "ckpt"))
    os.makedirs(src)
    n_files = OpenLoop(0.0, LIVE_TICK_S).count_before(h.seconds)
    with tr.span("gen"):
        ds = generate(LIVE_SPEC, h.seed, n_files)
        write_atomic(ds.seed_rows, os.path.join(src, "seed.parquet"))
    writer = TimedWriter(ParquetCandleWriter(out), out, tr)
    q = start_candle_stream(h.spark, src, out, ckpt, available_now=False, writer=writer)
    if not wait_batches(q, 1, 300.0):
        raise RuntimeError("seed batch never committed")
    h.e2e["setup_s"] = (time.time() - h.t_proc, "s")
    h.note("seed batch committed")

    expect = read_expect(ds, [ds.seed_rows, *ds.tail], exact=False)
    reader = Reader(h, out, expect, h.seed, Reader.LIVE_KINDS)
    t0 = time.time() + 0.5
    landing = OpenLoop(t0, LIVE_TICK_S)
    # The reader polls for as long as files are landing and committing.
    reader.start_open_loop(t0, LIVE_REFRESH_PERIOD_S)
    for k in range(n_files):
        due = landing.wait(k)
        with tr.op(f"file-{k}"), tr.span("gen.land"):
            write_atomic(ds.tail[k], os.path.join(src, f"tail-{k:05d}.parquet"))
        landing.mark(due)
    batches = wait_batches(q, 1 + n_files, BATCH_TIMEOUT_S)
    reader.stop()
    final_scan = scan_files(out) if tr.enabled else None
    q.stop()
    h.note(f"{len(batches) - 1} of {n_files} files visible")

    # One op per landed file: due -> its micro-batch committed.
    lat = []
    for k in range(n_files):
        if k + 1 >= len(batches):
            h.count(False, f"file {k}", "not visible within timeout")
            continue
        p = batches[k + 1]
        rows = len(ds.tail[k])
        if p["numInputRows"] != rows:
            h.count(False, f"file {k}", f"batch read {p['numInputRows']} rows, file has {rows}")
            continue
        lat.append(batch_end(p) - landing.due(k))
        h.count(True)

    # Final state: raw and all 8 levels hold exactly the latest version
    # of every landed valid candle; the validator rejected exactly the
    # injected rows.
    landed = pd.concat([ds.seed_rows, *ds.tail], ignore_index=True)
    stored = oracle.latest(landed[is_valid(landed)])
    check_store(h, out, stored, "live_tail")
    injected = ds.seed_invalid + sum(ds.tail_invalid)
    rejected = rejected_rows(h, src)
    h.count(rejected == injected, "validate", f"rejected {rejected} of {injected} injected")

    reads = reader.latencies()
    h.e2e["op_p50_s"] = (median(lat), "s")
    h.e2e["refresh_p50_s"] = (median(reads), "s")
    h.e2e["store_bytes_per_candle"] = (dir_bytes(out) / len(stored), "B")
    h.detail.update(
        {
            "op": "ingest_visible",
            "ingest_visible_samples_s": lat,
            "ingest_visible_tail": tail(lat),
            "refresh_samples_s": reads,
            "reads_retried": reader.retried,
            "tick_s": LIVE_TICK_S,
            # each file's due and actual landing time, from the loop start
            "landing_s": [(due - t0, at - t0) for due, at in landing.issued],
        }
    )

    if not tr.enabled:
        return
    tail_batches = batches[1:]
    h.layer.update(pipeline_metrics(tail_batches, writer.writes[1:]))
    h.layer["rollup.build_s"] = (batches[0]["durationMs"]["addBatch"] / 1000.0 - writer.writes[0], "s")
    h.layer["sinks.write_raw_s"] = (median(writer.writes[1:]), "s")
    h.layer["sinks.read_raw_s"] = (median(writer.reads[1:]), "s")
    h.layer["validate.rejected_rows"] = (rejected, "count")
    h.layer["gen.late_max_s"] = (max(landing.late_max(), reader.loop.late_max()), "s")
    h.layer["gen.candles"] = (len(landed), "count")
    t = time.time()
    scans = writer.scans[1:] + [final_scan]
    h.layer.update(storage_metrics([store_writes(a, b) for a, b in zip(scans, scans[1:])]))
    tr.self_s += time.time() - t
    # Untimed, traced runs only: one round of the full dashboard mix
    # with nothing being written, then a watchdog pass over the live
    # store (its history has a few holes), so the query, gap, refill
    # and verify layers are measured on this workload too.
    reader.kinds = Reader.KINDS
    reader.run_closed(1)
    truth_dir = os.path.join(h.work, "truth")
    write_truth(ds, truth_dir)
    sweep = repair_pass(h, writer, out, truth_dir, "sweep")
    check_pass(h, sweep, len(ds.hole_keys), ds.islands, "live_tail sweep")
    h.layer.update(pass_layer_metrics(h, [sweep], len(ds.hole_keys)))
    probe_dedup(h, writer.raw_path)
    run_id = str(q.runId)
    per_batch = [
        lambda j, b=p["batchId"]: run_id in j.get("description", "") and f"batch = {b}" in j.get("description", "")
        for p in tail_batches
    ]
    finish_trace(h, reader, per_batch, lat)


# ---------------------------------------------------------------------------
# gap_repair


def gap_repair(h: Harness) -> None:
    """Why: rewrite cost spread over many touched months.  A fix for
    per-batch overhead should barely move this workload; a fix for
    rewrite volume should.  The only workload that runs gaps, refill
    and verify in its timed operation.

    Moves ``op_p50_s`` (one repair pass): gaps.*, rest.*, watchdog.*,
    pipeline.upsert_s, spark input/output bytes and storage.*.  Moves
    ``refresh_p50_s`` (the dashboard mix on the seeded store):
    queries.*, dedup.raw_s."""
    from trade_data_collection_service_spark.streaming.pipeline import start_candle_stream
    from trade_data_collection_service_spark.streaming.sinks import ParquetCandleWriter

    tr = h.tracer
    src, out, ckpt, truth_dir = (os.path.join(h.work, d) for d in ("src", "store", "ckpt", "truth"))
    os.makedirs(src)
    with tr.span("gen"):
        ds = generate(GAP_SPEC, h.seed, 0)
        write_atomic(ds.seed_rows, os.path.join(src, "seed.parquet"))
        write_truth(ds, truth_dir)
    writer = TimedWriter(ParquetCandleWriter(out), out, tr)
    q = start_candle_stream(h.spark, src, out, ckpt, available_now=True, writer=writer)
    q.awaitTermination(300)
    if q.exception() is not None:
        raise RuntimeError(f"seed stream failed: {q.exception()}")
    seed_batches = data_batches(q)
    start_fetch_workers(h, truth_dir, ds.symbols[0])
    h.e2e["setup_s"] = (time.time() - h.t_proc, "s")
    h.note("seed store built")

    holes = len(ds.hole_keys)
    store_bytes = dir_bytes(out) / max(1, len(ds.truth) - holes)
    # The dashboard mix on the seeded store, with nothing being written.
    reader = Reader(h, out, read_expect(ds, [ds.seed_rows], exact=True), h.seed)
    reader.run_closed_for(h.seconds, GAP_REFRESHES)
    h.note("dashboard refreshed")

    # The watchdog's pass, due once the dashboard is served.
    schedule = OpenLoop(time.time(), 0.0)
    schedule.mark(schedule.wait(0))
    before = scan_files(out) if tr.enabled else None
    r = repair_pass(h, writer, out, truth_dir, "pass-0")
    h.note("pass done")
    if tr.enabled:
        t = time.time()
        pass_writes = store_writes(before, scan_files(out))
        tr.self_s += time.time() - t
    check_pass(h, r, holes, ds.islands, "pass")
    check_store(h, out, ds.truth, "repaired")

    rejected = rejected_rows(h, src)
    h.count(rejected == ds.seed_invalid, "validate", f"rejected {rejected} of {ds.seed_invalid} injected")
    reads = reader.latencies()
    h.e2e["op_p50_s"] = (r.seconds, "s")
    h.e2e["refresh_p50_s"] = (median(reads), "s")
    h.e2e["store_bytes_per_candle"] = (store_bytes, "B")
    h.detail.update({"op": "repair_pass", "repair_pass_s": r.seconds, "refresh_samples_s": reads})

    if not tr.enabled:
        return
    h.layer.update(pipeline_metrics(seed_batches, writer.writes[:1]))
    h.layer["pipeline.upsert_s"] = (median(tr.durations("pipeline.upsert")), "s")
    h.layer["rollup.build_s"] = (seed_batches[0]["durationMs"]["addBatch"] / 1000.0 - writer.writes[0], "s")
    h.layer["sinks.write_raw_s"] = (median(writer.writes[1:]), "s")
    h.layer["sinks.read_raw_s"] = (median(writer.reads[1:]), "s")
    h.layer["validate.rejected_rows"] = (rejected, "count")
    h.layer["gen.late_max_s"] = (schedule.late_max(), "s")
    h.layer["gen.candles"] = (len(ds.seed_rows), "count")
    h.layer.update(storage_metrics([pass_writes]))
    h.layer.update(pass_layer_metrics(h, [r], holes))
    probe_dedup(h, writer.raw_path)
    finish_trace(h, reader, [lambda j: j.get("jobGroup") == "pass-0"], [r.seconds])


WORKLOADS = {"live_tail": live_tail, "gap_repair": gap_repair}

"""Shared pieces of the workloads: the Spark session, feeds, point lookups,
manifest walks, statistics and process-tree accounting."""

from __future__ import annotations

import contextlib
import os
import random
import shutil
import signal
import statistics
import threading
import time

import checks

CORES = 4
N_BUCKETS = 16
# change-feed shape shared by every workload (cdc.gen defaults: 1000
# conversations of up to 32 turns, so the table holds at most 32k keys)
FEED_KNOBS = dict(n_convs=1000, max_turns=32, skew=2.0, delete_ratio=0.05,
                  dup_ratio=0.05, ooo_ratio=0.10)
PROBE_SEED = 1_000_003


def make_work_dir(root: str, name: str) -> str:
    """Create the run's scratch dir inside the checkout and point the
    engine's Python workers at the checkout's etl_spark and every scratch
    file of the JVM and Python into the dir. Call before Spark starts."""
    work = os.path.join(root, ".perfbench_work", f"{name}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["PYTHONPATH"] = root + os.pathsep + os.environ.get("PYTHONPATH", "")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_DRIVER_MEM"] = "3g"
    return work


class Bench:
    """One benchmark run: its work directory, Spark session and recorder."""

    def __init__(self, work: str, seed: int, seconds: float, rec, traced: bool):
        self.work, self.seed, self.seconds = work, seed, seconds
        self.rec, self.traced = rec, traced
        self.spark = None
        self.rss: PeakRss | None = None
        self.notes: dict[str, object] = {}
        self.attempted = 0
        self.failed = 0
        # start of the measured phase and the number of traced reps in it:
        # layer totals cover only that phase, per traced rep
        self.t_measure = 0.0
        self._t_measure_perf = 0.0
        self.per = 1

    def start_measuring(self) -> None:
        self.t_measure = time.time()
        self._t_measure_perf = time.perf_counter()

    def measured_spans(self) -> list:
        return [s for s in self.rec.spans if s.start >= self._t_measure_perf]

    def path(self, *p: str) -> str:
        return os.path.join(self.work, *p)

    # ---------------------------------------------------------- session
    def start_session(self) -> float:
        from etl_spark import session

        conf = {
            "spark.local.dir": self.path("spark-local"),
            "spark.sql.warehouse.dir": self.path("warehouse"),
            # no JVM perf-data file in /tmp; JVM temp files in the work dir
            "spark.driver.extraJavaOptions":
                f"-XX:-UsePerfData -Djava.io.tmpdir={self.path('tmp')}",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.traced:
            os.makedirs(self.path("eventlog"))
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.path("eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.rss = PeakRss()
        t = time.perf_counter()
        self.spark = session.get_spark(cores=CORES, extra_conf=conf)
        return time.perf_counter() - t

    def stop_session(self) -> None:
        """Stop Spark and wait for the JVM (and with it the Python workers)
        to exit. Safe to call twice."""
        from pyspark import SparkContext

        if self.rss is not None:
            self.rss.stop()
        gw = SparkContext._gateway
        spawned = _descendants(os.getpid())
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = None
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
        # the Python workers exit once the JVM has gone; wait for them
        deadline = time.monotonic() + 30
        while any(os.path.exists(f"/proc/{p}") for p in spawned):
            if time.monotonic() > deadline:
                for p in spawned:
                    with contextlib.suppress(OSError):
                        os.kill(p, signal.SIGKILL)
                break
            time.sleep(0.05)

    def event_log(self) -> str:
        d = self.path("eventlog")
        (log,) = os.listdir(d)
        return os.path.join(d, log)

    # ------------------------------------------------------------ feeds
    def write_feed(self, name: str, n_events: int, n_segments: int, seed: int,
                   files_per_segment: int) -> list[str]:
        from etl_spark.cdc.gen import change_feed_df, write_feed

        d = self.path(name)
        t = time.perf_counter()
        try:
            return write_feed(
                change_feed_df(self.spark, n_events=n_events, seed=seed,
                               n_batches=n_segments, **FEED_KNOBS),
                d, n_batches=n_segments, files_per_segment=files_per_segment,
            )
        finally:
            self.notes["input_gen_s"] = self.notes.get("input_gen_s", 0.0) + time.perf_counter() - t

    def pinned_feed(self, key: str, name: str, events: int, segments: int,
                    files: int) -> list[str]:
        """Generate the run's feed and refuse it unless its digest equals the
        pinned one. A seed without a pin is checked through a fixed-seed
        probe feed of the same shape instead, so a changed generator is
        caught whatever the seed."""
        dirs = self.write_feed(name, events, segments, self.seed, files)
        if not checks.check_pin(key, self.seed, dirs):
            probe = self.write_feed("probe", events, segments, PROBE_SEED, files)
            if not checks.check_pin(key, PROBE_SEED, probe):
                raise SystemExit(f"no pinned digest for {key}; run perfbench/pin_feeds.py")
            shutil.rmtree(self.path("probe"))
        return dirs

    def new_table(self, name: str):
        from etl_spark.lake.table import LakeTable
        from etl_spark.schema import TRANSCRIPT_SCHEMA

        p = self.path(name)
        shutil.rmtree(p, ignore_errors=True)
        return LakeTable.create(p, TRANSCRIPT_SCHEMA, n_buckets=N_BUCKETS)

    # ---------------------------------------------------------- lookups
    def lookup_ids(self, n: int) -> list[str]:
        """A fixed mix: every fourth lookup a hot conversation (Zipf head),
        the rest cold ones from the upper half of the id range. Unequal
        shares keep the median inside one group."""
        rnd = random.Random(self.seed)
        out = []
        for i in range(n):
            k = rnd.randrange(10) if i % 4 == 0 else rnd.randrange(500, 1000)
            out.append(f"conv-{k:08d}")
        return out

    def lookup(self, table, conv_id: str) -> tuple[float, set[tuple]]:
        from pyspark.sql import functions as F

        with self.rec.span("bench.lookup", "bench"):
            t = time.perf_counter()
            with self.rec.span("lake.table.point_read", "lake.table"):
                rows = table.point_read(self.spark, conv_id).select(
                    "conv_id", "turn_idx", "role", "text", "tool",
                    F.unix_micros("ts").alias("ts_us"),
                ).collect()
            dt = time.perf_counter() - t
        return dt, {tuple(r) for r in rows}

    def scan(self, table) -> tuple[float, int]:
        with self.rec.span("bench.scan", "bench"):
            t = time.perf_counter()
            with self.rec.span("lake.table.read", "lake.table"):
                n = table.read(self.spark).count()
            return time.perf_counter() - t, n


# ---------------------------------------------------------------- manifests
def first_commit_times(table, since_version: int) -> dict[str, tuple[float, int]]:
    """segment -> (created_unix, version) of the first snapshot whose
    completed-segment map holds it, for segments committed after
    ``since_version``."""
    old = set(table.full_segments(table.manifest(since_version)))
    out: dict[str, tuple[float, int]] = {}
    for v in table.versions():
        if v <= since_version:
            continue
        m = table.manifest(v)
        for seg in table.full_segments(m):
            if seg not in old and seg not in out:
                out[seg] = (m.created_unix, v)
    return out


def snapshot_bytes(table) -> int:
    m = table.manifest()
    return sum(
        os.path.getsize(os.path.join(table.path, fe["path"]))
        for fl in m.files.values() for fe in fl
    )


def bytes_written(table, since_version: int) -> int:
    """Bytes of the data files the snapshots after ``since_version`` added."""
    def paths(v):
        return {fe["path"] for fl in table.manifest(v).files.values() for fe in fl}

    old = paths(since_version)
    new: set[str] = set()
    for v in table.versions():
        if v > since_version:
            new |= paths(v) - old
    return sum(os.path.getsize(os.path.join(table.path, p)) for p in new)


def files_per_bucket_max(table) -> int:
    return max((len(fl) for fl in table.manifest().files.values()), default=0)


def dir_bytes(dirs: list[str]) -> int:
    return sum(os.path.getsize(f) for f in checks.segment_files(dirs))


# --------------------------------------------------------------- statistics
def p50(xs: list[float]) -> float:
    return statistics.median(xs)


def tail(xs: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples above it: the 11th-largest sample."""
    if len(xs) < 11:
        raise ValueError(f"{len(xs)} samples: a tail needs at least 11")
    s = sorted(xs)
    return s[-11], 100.0 * (len(s) - 10) / len(s)


# ------------------------------------------------------------ host metrics
def steal_sample() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo += kids.get(p, [])
    return out


def tree_rss_mb() -> float:
    """Resident memory of this process and its descendants (the Python
    driver, the JVM and the Python workers) as the sum of their proportional
    set sizes: the workers are forks of one daemon, and summing plain RSS
    would count the pages they share once per worker."""
    total_kb = 0
    for pid in [os.getpid(), *_descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


class PeakRss:
    """Samples the process tree's resident memory every ``interval`` seconds
    while running; ``peak_mb`` is the largest sum seen."""

    def __init__(self, interval: float = 0.25):
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, args=(interval,),
                                        name="perfbench-rss", daemon=True)
        self._thread.start()

    def _run(self, interval: float) -> None:
        while not self._stop.wait(interval):
            self.peak_mb = max(self.peak_mb, tree_rss_mb())

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        return max(self.peak_mb, tree_rss_mb())

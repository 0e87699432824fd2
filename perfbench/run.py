"""CDC engine benchmark: end-to-end metrics from an untraced window,
per-layer metrics from the same window run under Spark's event log.

Usage (from the repository root)::

    python3 perfbench/run.py --workload bulk_dup --seed 1 --seconds 10 --trace 0

Load model: one client drives ``local[<cpus>]`` in a closed loop; every call
waits for the one before it, and only public calls are made. An *ingest
tick* is ``CdcEngine.run(max_batches=1)``. A *consumer round* is three calls:
a materialized ``CdcEngine.changelog`` of the batches since the last round,
``IncrementalAggregate.refresh`` of the README rollup, and one aggregate over
the full live view ``CdcEngine.read_pages``. tail_consumers runs a round
after every tick; bulk_dup runs one round per cycle, as a consumer catching
up after a bulk load.

Run shape:

1. set-up (``setup_s``): generate the ledger from ``--seed``, start the
   session, seed the pages table (tail_consumers), build the rollup, and run
   one warm-up tick and consumer round through the same path;
2. the timed window: ``round(seconds / cycle_s)`` whole cycles (at least
   one) of ``ticks_per_cycle`` ticks, so the work in a window is a fixed
   function of workload, seed and seconds.
   On tail_consumers a cycle is one compaction period, so every window sees
   the same read-amplification sawtooth;
3. outside the window, the oracle check of the final state (``oracle.py``).

With ``--trace 1`` the window runs under Spark's event-log listener and its
operators are attributed to layers (``eventlog.py``). Before it, from the
state the window starts from, the window's first batch is timed untraced and
traced (``trace.overhead_ratio``).

Times: every end-to-end time is the call's wall time less the share of CPU
time the hypervisor stole from this guest meanwhile (``/proc/stat`` steal
over busy + steal). On a shared host that share swings from 0 to over 20 %
within minutes; the raw walls are printed beside the metrics.

The last line of stdout is one JSON object; the lines before it list every
metric with its unit, each tail's percentile and sample count, and the
end-to-end metric each layer metric is expected to move. Exit status is 1
when any call fails or the final state differs from the oracle.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback
from dataclasses import dataclass

from eventlog import TAG, Trace, layer_metrics, read_events

ROOT = os.getcwd()
RUNS_DIR = os.path.join(ROOT, ".perfbench_runs")
N_PARTS = 4
WARM_TICKS = 1
DRIVER_MEMORY = "2g"


@dataclass(frozen=True)
class Workload:
    name: str  # why each workload is chosen is recorded in BENCHMARK.json
    tick_events: int  # ledger events per run() batch
    events_per_url: float  # ledger events / distinct urls
    ticks_per_cycle: int
    # consumers (changelog, IVM, live read) after every tick, or once per cycle
    consume_each_tick: bool
    # seconds of --seconds that one cycle stands for: the window is
    # round(seconds / cycle_s) cycles, a fixed amount of work per workload
    cycle_s: float
    seed_events: int = 0  # one large first batch that fills the table
    # changelog subscribers per consumer round (the later ones poll after the
    # rollup and the read): two when the round is the workload's main cost
    changelog_polls: int = 1
    compact_every: int = 32  # EngineConfig.compact_every_batches (engine default)


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "bulk_dup",
            tick_events=30_000, events_per_url=1000,
            ticks_per_cycle=2, consume_each_tick=False, cycle_s=5.0,
        ),
        Workload(
            "tail_consumers",
            tick_events=5_000, events_per_url=10,
            ticks_per_cycle=3, consume_each_tick=True, cycle_s=12.0,
            seed_events=20_000, compact_every=3, changelog_polls=2,
        ),
    )
}

# metric name -> (unit, better, what it measures)
END_TO_END = {
    "setup_s": ("s", "lower", "ledger generation, session start, seeding, warm-up"),
    "events_per_s": ("1/s", "higher", "ledger events applied per second of run() wall"),
    "batch_p50_s": ("s", "lower", "run() latency per tick: ingest freshness"),
    "batch_tail_s": ("s", "lower", "run() tail latency"),
    "changelog_p50_s": ("s", "lower", "changelog of the tick, materialized"),
    "changelog_tail_s": ("s", "lower", "changelog tail latency"),
    "ivm_refresh_p50_s": ("s", "lower", "README rollup refresh"),
    "ivm_refresh_tail_s": ("s", "lower", "rollup refresh tail latency"),
    "read_p50_s": ("s", "lower", "aggregate over the full live view (MoR resolve)"),
    "read_tail_s": ("s", "lower", "live-view read tail latency"),
    "write_bytes_per_event": ("B", "lower", "bytes added under the pages table and mirrors"),
    "peak_rss_mb": ("MB", "lower", "peak resident memory of the driver JVM (RSS) and python workers (PSS)"),
}

# metric name -> (unit, better, the end-to-end metric it should move, on which workload)
PER_LAYER = {
    "session.start_s": ("s", "lower", "setup_s, all"),
    "session.warmup_s": ("s", "lower", "setup_s, all"),
    "gen.ledger_s": ("s", "lower", "setup_s, bulk_dup"),
    "gen.ledger_bytes": ("B", "lower", "setup_s, bulk_dup"),
    "lake.scan_s": ("s/tick", "lower", "events_per_s, bulk_dup"),
    "lake.scan_bytes": ("B/tick", "lower", "events_per_s, bulk_dup"),
    "lake.scan_files_ratio": ("ratio", "lower", "events_per_s, bulk_dup"),
    "dedup.key_shuffle_bytes": ("B/tick", "lower", "events_per_s, bulk_dup"),
    "dedup.fetch_wait_s": ("s/tick", "lower", "events_per_s, bulk_dup"),
    "dedup.agg_build_s": ("s/tick", "lower", "events_per_s, bulk_dup"),
    "dedup.agg_peak_mem_mb": ("MB", "lower", "events_per_s, bulk_dup"),
    "dedup.spill_bytes": ("B/tick", "lower", "events_per_s, bulk_dup"),
    "dedup.winner_ratio": ("ratio", "lower", "events_per_s, bulk_dup"),
    "dedup.broadcast_bytes": ("B/tick", "lower", "batch_p50_s, tail_consumers"),
    "dedup.broadcast_build_s": ("s/tick", "lower", "batch_p50_s, tail_consumers"),
    "extract.python_run_s": ("s/tick", "lower", "batch_p50_s, tail_consumers"),
    "extract.bytes_to_python": ("B/tick", "lower", "batch_p50_s, tail_consumers"),
    "extract.bytes_from_python": ("B/tick", "lower", "batch_p50_s, tail_consumers"),
    "extract.rows": ("rows/tick", "lower", "batch_p50_s, tail_consumers"),
    "extract.python_start_s": ("s/tick", "lower", "batch_p50_s, tail_consumers"),
    "lake.bucket_shuffle_bytes": ("B/tick", "lower", "batch_p50_s, tail_consumers"),
    "lake.write_bytes": ("B/tick", "lower", "batch_p50_s, tail_consumers"),
    "lake.files_written": ("files/tick", "lower", "batch_p50_s, tail_consumers"),
    "lake.task_commit_s": ("s/tick", "lower", "batch_p50_s, tail_consumers"),
    "lake.manifest_bytes_per_commit": ("B", "lower", "batch_p50_s + write_bytes_per_event, tail_consumers"),
    "lake.compact_s": ("s", "lower", "batch_tail_s, tail_consumers"),
    "lake.read_amplification": ("files", "lower", "read_p50_s, tail_consumers"),
    "lake.resolve_shuffle_bytes": ("B/call", "lower", "read_p50_s, tail_consumers"),
    "lake.changelog_files_read": ("files/call", "lower", "changelog_p50_s, tail_consumers"),
    "engine.jobs_per_batch": ("jobs", "lower", "batch_p50_s, tail_consumers"),
    "engine.tasks_per_batch": ("tasks", "lower", "batch_p50_s, tail_consumers"),
    "engine.driver_gap_s": ("s", "lower", "batch_p50_s, tail_consumers"),
    "mirrors.bytes_per_tick": ("B/tick", "lower", "batch_p50_s + write_bytes_per_event, tail_consumers"),
    "ivm.jobs_per_refresh": ("jobs", "lower", "ivm_refresh_p50_s, tail_consumers"),
    "ivm.groups_recomputed": ("groups", "lower", "ivm_refresh_p50_s, tail_consumers"),
    "spark.gc_s": ("s/tick", "lower", "peak_rss_mb, all"),
    "spark.task_failures": ("count", "lower", "failed ratio, all"),
    "spark.stage_retries": ("count", "lower", "failed ratio, all"),
    "trace.overhead_ratio": ("x", "lower", "none: traced / untraced run() wall of one batch"),
}


# ----------------------------------------------------------------- helpers


def tail(xs: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it, as
    ``(value, percentile)``; with ten samples or fewer there is none, and the
    maximum (p100) is reported instead."""
    n = len(xs)
    if n <= 10:
        return max(xs), 100.0
    k = n - 11  # 0-based order statistic with ten samples above it
    # with n - 1 divisions the inclusive cut points are the order statistics
    cuts = statistics.quantiles(xs, n=n - 1, method="inclusive")
    return (cuts[k - 1] if k else min(xs)), 100.0 * k / (n - 1)


def cpu_ticks() -> tuple[int, int]:
    """``(busy, steal)`` clock ticks summed over all CPUs, from /proc/stat.
    Steal is time a vCPU wanted to run but the hypervisor ran another guest."""
    with open("/proc/stat") as fh:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (
            int(x) for x in fh.readline().split()[1:9]
        )
    return user + nice + system + irq + softirq, steal


def unstolen(wall: float, t0: tuple[int, int], t1: tuple[int, int]) -> float:
    """``wall`` without the share of CPU time the hypervisor stole meanwhile:
    on a shared host that share swings from 0 to over 20 % within minutes,
    and every wall time would swing with it."""
    busy, steal = t1[0] - t0[0], t1[1] - t0[1]
    return wall * busy / (busy + steal) if busy + steal > 0 else wall


def dir_bytes(*paths: str) -> int:
    total = 0
    for p in paths:
        for root, _dirs, files in os.walk(p):
            for f in files:
                try:
                    total += os.path.getsize(os.path.join(root, f))
                except FileNotFoundError:
                    pass
    return total


def events_between(old: dict[int, int], new: dict[int, int]) -> int:
    """Ledger events applied between two committed-offset maps: seq is dense
    and part = seq % N_PARTS, so each part's window is counted in closed form."""
    n = 0
    for p, hi in new.items():
        lo = old.get(p, 0)
        n += (hi - p) // N_PARTS - (lo - p) // N_PARTS
    return n


class MemSampler:
    """Peak resident memory of this process's descendants (the driver JVM and
    its python workers), sampled from /proc.

    Python workers count their proportional share (PSS): they are forked from
    one daemon, and summing plain RSS would count the pages they share once
    per worker. The JVM shares only libraries, so it counts its RSS: reading
    its PSS walks the page tables of a multi-GB heap while holding its
    memory-map lock, about 40 ms of kernel time a read on a 4-vCPU host, and
    would perturb the process being measured. A process the JVM spawns to
    run a command (``chmod``, ``rm``) shares the JVM's memory until it execs,
    and /proc then shows it with the JVM's executable and resident size; it
    is not counted."""

    def __init__(self, period_s: float = 0.5):
        self.period_s = period_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @staticmethod
    def _resident(pid: int) -> tuple[bool, int]:
        """``(is the JVM's executable, bytes)`` of one process."""
        if os.readlink(f"/proc/{pid}/exe").endswith("/java"):
            with open(f"/proc/{pid}/status") as fh:
                status = dict(line.split(":", 1) for line in fh)
            return True, int(status["VmRSS"].split()[0]) * 1024
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return False, int(line.split()[1]) * 1024
        return False, 0

    def _descendants_resident(self) -> int:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
        total, todo = 0, [(pid, False) for pid in children.get(os.getpid(), [])]
        while todo:
            pid, under_jvm = todo.pop()
            try:
                is_jvm, resident = self._resident(pid)
            except (OSError, KeyError, IndexError, ValueError):
                # the process exited, or is a zombie without VmRSS
                is_jvm, resident = False, 0
            if not (is_jvm and under_jvm):
                total += resident
            todo.extend((c, under_jvm or is_jvm) for c in children.get(pid, []))
        return total

    def _loop(self) -> None:
        while not self._stop.wait(self.period_s):
            self.peak = max(self.peak, self._descendants_resident())

    def __enter__(self) -> "MemSampler":
        self.peak = self._descendants_resident()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# --------------------------------------------------------------- the bench


class Bench:
    def __init__(self, wl: Workload, seed: int, seconds: int, run_dir: str):
        self.wl = wl
        self.seed = seed
        self.run_dir = run_dir
        self.cycles = max(1, round(seconds / wl.cycle_s))
        self.window_ticks = self.cycles * wl.ticks_per_cycle
        n_ticks = WARM_TICKS + self.window_ticks
        self.n_events = wl.seed_events + n_ticks * wl.tick_events
        self.ledger_path = os.path.join(run_dir, "changes")
        self.pages_path = os.path.join(run_dir, "pages")
        self.agg_path = os.path.join(run_dir, "rollup")
        self.spark = None
        self.sc = None
        self.eng = None
        self.agg = None
        self.attempted = 0
        self.failed = 0
        self.calls: list[dict] = []
        self.phase_s: dict[str, float] = {}

    # state dirs: the pages table, its mirror tables and the rollup table
    def state_dirs(self) -> list[str]:
        return [
            self.pages_path,
            self.pages_path + "_metrics",
            self.pages_path + "_checkpoints",
            self.pages_path + "_schedule",
            self.agg_path,
        ]

    def mirror_dirs(self) -> list[str]:
        return self.state_dirs()[1:4]

    def generate(self):
        from data_warehouse_etl_spark.cdc import LedgerSpec, generate_ledger

        wl = self.wl
        spec = LedgerSpec(
            n_urls=max(1, int(self.n_events / wl.events_per_url)),
            n_events=self.n_events,
            n_parts=N_PARTS,
            seed=self.seed,
            # two ledger files per batch, as 500k-event batches over the
            # default 250k-row files: the stats pruning then has files to skip
            chunk_rows=wl.tick_events // 2,
            # seeded tables evolve inside the seeded span, bulk replays mid-window
            evolve_at_seq=(wl.seed_events // 2) if wl.seed_events else self.n_events // 2,
        )
        self.ledger = generate_ledger(self.ledger_path, spec)

    def start_session(self) -> None:
        from data_warehouse_etl_spark.session import get_spark

        tmp = os.path.join(self.run_dir, "tmp")
        conf = {
            "spark.local.dir": os.path.join(self.run_dir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # the heap starts at its pinned size: peak memory then does not
            # depend on when the collector chose to grow it
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEMORY}"
            ),
            # read by the event-log listener of the traced phase; Spark 4
            # defaults to zstd, and no zstandard module is installed
            "spark.eventLog.compress": "false",
        }
        cpus = len(os.sched_getaffinity(0))
        self.spark = get_spark(app_name="perfbench", master=f"local[{cpus}]", extra_conf=conf)
        self.sc = self.spark.sparkContext

    def attach_event_log(self, ev_dir: str):
        """Start Spark's own event-log listener on the running context.

        Spark only installs it at context start (``spark.eventLog.enabled``),
        and a second context in one pyspark process loses its python
        accumulator server, so the traced phase attaches the listener to the
        warm context instead."""
        os.makedirs(ev_dir)
        jvm, jsc = self.sc._jvm, self.sc._jsc.sc()
        listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            jsc.applicationId(), jvm.scala.Option.apply(None),
            jvm.java.io.File(ev_dir).toURI(), jsc.conf(), self.sc._jsc.hadoopConfiguration(),
        )
        listener.start()
        jsc.addSparkListener(listener)
        return listener

    def detach_event_log(self, listener) -> None:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        jsc.removeSparkListener(listener)
        listener.stop()

    def stop_session(self) -> None:
        """Stop the context, then the gateway JVM, and wait for it to exit."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        self.spark.stop()
        self.spark = self.sc = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = gateway.proc
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()

    def open_engine(self, batch_size: int):
        from data_warehouse_etl_spark.cdc import CdcEngine, EngineConfig, IncrementalAggregate

        self.eng = CdcEngine(
            self.spark,
            EngineConfig(
                ledger_path=self.ledger_path,
                pages_path=self.pages_path,
                batch_size=batch_size,
                num_buckets=16,
                compact_every_batches=self.wl.compact_every,
            ),
        )
        # the README rollup
        self.agg = IncrementalAggregate(
            self.eng,
            self.agg_path,
            group_cols=["language"],
            sum_cols=["fetch_status"],
            min_cols=["fetch_status"],
            max_cols=["warc_ts"],
        )

    # ------------------------------------------------------------ one tick

    def _call(self, phase: str, tick: int, kind: str, fn):
        tag = f"{phase}:{tick}:{kind}"
        self.sc.setLocalProperty(TAG, tag)
        self.attempted += 1
        t0_ms = time.time() * 1000.0
        ticks0 = cpu_ticks()
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception:
            self.failed += 1
            traceback.print_exc()
            raise
        finally:
            self.sc.setLocalProperty(TAG, None)
        raw = time.perf_counter() - t0
        self.calls.append(
            {"phase": phase, "tag": tag, "kind": kind, "raw": raw,
             "wall": unstolen(raw, ticks0, cpu_ticks()),
             "t0_ms": t0_ms, "t1_ms": t0_ms + raw * 1000.0, "out": out}
        )
        return out

    def ingest(self, phase: str, i: int) -> None:
        self._call(phase, i, "run", lambda: self.eng.run(max_batches=1))

    def consume(self, phase: str, i: int, since_version: int) -> None:
        """The downstream consumers of the batches since ``since_version``:
        a changelog subscriber, the rollup refresh, a live-view read, and, as
        the workload says, further subscribers of the same batches. Those
        poll a rollup and a read after the first, so a host-speed swing of a
        few seconds rarely hits all of them."""
        from pyspark.sql import functions as F

        eng, agg = self.eng, self.agg

        def changelog() -> None:
            eng.changelog(since_version).write.format("noop").mode("overwrite").save()

        self._call(phase, i, "changelog", changelog)
        self._call(phase, i, "ivm", agg.refresh)
        amp = eng.read_amplification()
        self._call(
            phase, i, "read",
            lambda: eng.read_pages()
            .groupBy("language")
            .agg(F.count("*"), F.sum(F.length("text")), F.max("warc_ts"))
            .collect(),
        )
        self.calls[-1]["read_amp"] = amp
        # the warm-up needs each consumer path once
        for _ in range(self.wl.changelog_polls - 1 if phase != "warm" else 0):
            self._call(phase, i, "changelog", changelog)

    def ticks(self, phase: str, first: int, n: int) -> None:
        """``n`` ingest ticks, with consumers after each tick or once after
        all of them, as the workload says."""
        v_start = self.eng.pages.manifest.version
        for i in range(first, first + n):
            v0 = self.eng.pages.manifest.version
            self.ingest(phase, i)
            if self.wl.consume_each_tick:
                self.consume(phase, i, v0)
        if not self.wl.consume_each_tick:
            self.consume(phase, first + n - 1, v_start)

    # --------------------------------------------------------------- phases

    def setup(self) -> dict:
        t = {}
        ticks0 = cpu_ticks()
        t0 = time.perf_counter()
        self.generate()
        t["gen.ledger_s"] = time.perf_counter() - t0
        t["gen.ledger_bytes"] = float(dir_bytes(self.ledger_path))
        t1 = time.perf_counter()
        self.start_session()
        t["session.start_s"] = time.perf_counter() - t1
        t2 = time.perf_counter()
        if self.wl.seed_events:
            self.open_engine(self.wl.seed_events)
            self._call("setup", 0, "run", lambda: self.eng.run(max_batches=1))
        self.open_engine(self.wl.tick_events)
        # the rollup's first refresh is a full recompute; later ones are deltas
        self._call("setup", 0, "ivm", self.agg.refresh)
        # one warm-up tick and consumer round through the same path: the
        # first batch of a fresh JVM runs at a fraction of steady-state
        # speed, and the first consumer round runs well below it too
        self.ticks("warm", 0, WARM_TICKS)
        t["session.warmup_s"] = time.perf_counter() - t2
        t["setup_raw_s"] = time.perf_counter() - t0
        t["setup_s"] = unstolen(t["setup_raw_s"], ticks0, cpu_ticks())
        return t

    def trace_overhead(self, snap: str, ev_dir: str) -> float:
        """Traced over untraced wall of the window's first batch, run four
        times from the same state in the order untraced, traced, traced,
        untraced, so the JVM's continued warming cancels out."""
        walls: dict[bool, list[float]] = {False: [], True: []}
        for k, traced in enumerate((False, True, True, False)):
            self.restore(snap)
            listener = self.attach_event_log(f"{ev_dir}-{k}") if traced else None
            try:
                self.ingest("probe", k)
            finally:
                if listener is not None:
                    self.detach_event_log(listener)
            walls[traced].append(self.calls[-1]["wall"])
        return sum(walls[True]) / sum(walls[False])

    def window(self, phase: str) -> dict:
        """Run the timed window; returns the raw samples of this phase."""
        before_offsets = self.eng.committed_offsets()
        before_bytes = dir_bytes(*self.state_dirs()[:4])
        before_meta = dir_bytes(os.path.join(self.pages_path, "metadata"))
        before_mirrors = dir_bytes(*self.mirror_dirs())
        v0 = self.eng.pages.manifest.version
        with MemSampler() as rss:
            for c in range(self.cycles):
                self.ticks(phase, c * self.wl.ticks_per_cycle, self.wl.ticks_per_cycle)
        self.eng.pages = self.eng.pages.refresh()
        events = events_between(before_offsets, self.eng.committed_offsets())
        calls = [c for c in self.calls if c["phase"] == phase]
        return {
            "calls": calls,
            "events": events,
            "bytes": dir_bytes(*self.state_dirs()[:4]) - before_bytes,
            "meta_bytes": dir_bytes(os.path.join(self.pages_path, "metadata")) - before_meta,
            "mirror_bytes": dir_bytes(*self.mirror_dirs()) - before_mirrors,
            "commits": self.eng.pages.manifest.version - v0,
            "peak_rss": rss.peak,
        }

    def snapshot(self, dst: str) -> None:
        for d in self.state_dirs():
            shutil.copytree(d, os.path.join(dst, os.path.basename(d)))

    def restore(self, src: str) -> None:
        for d in self.state_dirs():
            shutil.rmtree(d)
            shutil.copytree(os.path.join(src, os.path.basename(d)), d)
        self.open_engine(self.wl.tick_events)


def end_to_end(setup: dict, w: dict) -> tuple[dict, dict]:
    by_kind = {k: [c["wall"] for c in w["calls"] if c["kind"] == k] for k in
               ("run", "changelog", "ivm", "read")}
    m = {
        "setup_s": setup["setup_s"],
        "events_per_s": w["events"] / sum(by_kind["run"]),
        "write_bytes_per_event": w["bytes"] / max(1, w["events"]),
        "peak_rss_mb": w["peak_rss"] / 2**20,
    }
    raw_run = sum(c["raw"] for c in w["calls"] if c["kind"] == "run")
    detail = {
        "setup_s": f"raw {setup['setup_raw_s']:.2f}",
        "events_per_s": f"raw {w['events'] / raw_run:.1f}",
    }
    for kind, name in (("run", "batch"), ("changelog", "changelog"),
                       ("ivm", "ivm_refresh"), ("read", "read")):
        xs = by_kind[kind]
        m[f"{name}_p50_s"] = statistics.median(xs)
        value, pct = tail(xs)
        m[f"{name}_tail_s"] = value
        detail[f"{name}_tail_s"] = f"p{pct:.0f} of n={len(xs)}"
        detail[f"{name}_p50_s"] = "n=%d: %s; raw %s" % (
            len(xs),
            " ".join(f"{x:.2f}" for x in xs),
            " ".join(f"{c['raw']:.2f}" for c in w["calls"] if c["kind"] == kind),
        )
    return m, detail


def per_layer(bench: Bench, setup: dict, traced: dict, ev_dir: str) -> dict:
    trace = Trace(read_events(ev_dir))
    calls = traced["calls"]
    lm = layer_metrics(
        trace, "traced", {"ledger": bench.ledger_path, "pages": bench.pages_path}, calls
    )
    ticks = bench.window_ticks
    events_per_tick = traced["events"] / ticks
    n_ledger_files = len(bench.ledger.manifest.files)
    m = {k: setup[k] for k in ("session.start_s", "session.warmup_s", "gen.ledger_s",
                               "gen.ledger_bytes")}
    m.update({k: v for k, v in lm.items() if k in PER_LAYER})
    m["lake.scan_files_ratio"] = lm["lake.files_read"] / max(1.0, lm["lake.scans"]) / n_ledger_files
    m["dedup.winner_ratio"] = lm["dedup.winners"] / max(1.0, events_per_tick)
    m["lake.manifest_bytes_per_commit"] = traced["meta_bytes"] / max(1, traced["commits"])
    m["mirrors.bytes_per_tick"] = traced["mirror_bytes"] / ticks
    amps = [c["read_amp"] for c in calls if "read_amp" in c]
    m["lake.read_amplification"] = statistics.fmean(amps)
    m["ivm.groups_recomputed"] = statistics.fmean(
        c["out"].get("groups_recomputed", 0) for c in calls if c["kind"] == "ivm"
    )
    return m


def run(bench: Bench, trace: bool):
    import oracle

    run_dir = bench.run_dir
    clock = time.perf_counter()

    def lap(name: str) -> None:
        nonlocal clock
        now = time.perf_counter()
        bench.phase_s[name] = round(now - clock, 2)
        clock = now

    try:
        setup = bench.setup()
        bench.phase_s.update({k: round(setup[k], 2) for k in
                              ("gen.ledger_s", "session.start_s", "session.warmup_s")})
        lap("setup")
        if trace:
            snap = os.path.join(run_dir, "before-window")
            bench.snapshot(snap)
            overhead = bench.trace_overhead(snap, os.path.join(run_dir, "probe-eventlog"))
            lap("probe")
            # the traced window starts from the state an untraced one starts from
            bench.restore(snap)
            ev_dir = os.path.join(run_dir, "eventlog")
            listener = bench.attach_event_log(ev_dir)
            try:
                w = bench.window("traced")
            finally:
                bench.detach_event_log(listener)
        else:
            w = bench.window("untraced")
        lap("window")
        check = oracle.check(bench.eng, bench.ledger, bench.n_events)
        lap("oracle")
        bench.attempted += 1
        if not check["ok"]:
            bench.failed += 1
        if not trace:
            return (*end_to_end(setup, w), check)
        layers = per_layer(bench, setup, w, ev_dir)
        layers["trace.overhead_ratio"] = overhead
        return layers, {}, check
    finally:
        bench.stop_session()
        lap("stop")


def _check_declared(metrics: dict, trace: bool) -> None:
    """The emitted names must be exactly the ones BENCHMARK.json declares."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        decl = json.load(fh)
    want = {m["name"] for m in decl["per_layer" if trace else "end_to_end"]}
    if set(metrics) != want:
        raise SystemExit(f"metric names differ from BENCHMARK.json: {sorted(set(metrics) ^ want)}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "data_warehouse_etl_spark")):
        print("perfbench: run from the repository root (data_warehouse_etl_spark/ not found)",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # python workers import the engine's UDF module by name
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # the default is 16g, more than a 15 GB host has
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    # the env var overrides spark.local.dir
    os.environ.pop("SPARK_LOCAL_DIRS", None)

    wl = WORKLOADS[args.workload]
    run_dir = os.path.join(RUNS_DIR, f"{wl.name}-s{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    bench = Bench(wl, args.seed, args.seconds, run_dir)
    try:
        metrics, detail, check = run(bench, bool(args.trace))
    except Exception:
        traceback.print_exc()
        print(json.dumps({"correct": False, "attempted": max(1, bench.attempted),
                          "failed": max(1, bench.failed), "metrics": {}}))
        return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(RUNS_DIR)
        except OSError:
            pass
    _check_declared(metrics, bool(args.trace))

    table = PER_LAYER if args.trace else END_TO_END
    print(f"# workload={wl.name} seed={args.seed} cycles={bench.cycles} "
          f"window_ticks={bench.window_ticks} ledger_events={bench.n_events}")
    for name, value in metrics.items():
        unit, _better, note = table[name]
        extra = detail.get(name, "") if not args.trace else f"moves {note}"
        print(f"#   {name:32s} {value:14.6g} {unit:10s} {extra}")
    print(f"#   oracle: {json.dumps(check)}")
    print(f"#   failed_ratio: {bench.failed}/{bench.attempted}")
    print(f"#   phase walls (s): {json.dumps(bench.phase_s)}")
    for phase in ("untraced", "probe", "traced"):
        walls = [f"{c['wall']:.2f}" for c in bench.calls if c["phase"] == phase and c["kind"] == "run"]
        if walls:
            print(f"#   run() walls, {phase}: {' '.join(walls)}")
    correct = bool(check["ok"]) and bench.failed == 0
    print(json.dumps({
        "correct": correct,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {
            k: {"value": v, "unit": table[k][0]} for k, v in metrics.items()
        },
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())

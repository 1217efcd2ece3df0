"""``stream_ingest``: the write path — streaming tier ingest plus retention.

The seeded transcripts are sorted by time and split into parquet files, one
micro-batch each.  A known share of the rows near each file's end is moved
into the next file, late but inside the 10-minute watermark.  A pass drives
the files through ``run_tier_stream`` (AvailableNow, warehouse MERGE per
micro-batch) into a fresh ``Warehouse``, then runs the retention
maintenance: the 1m→1h→1d cascade refresh, partition expiry on the 1m tier,
compaction, and snapshot expiry.
"""

from __future__ import annotations

import glob
import os
import shutil
import statistics
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pyspark.sql.functions as F

from streaming_downsampling_spark.datagen import generate_transcripts
from streaming_downsampling_spark.operators.rollup import cascade, rollup, with_signal
from streaming_downsampling_spark.plans.lineage import LineageLog
from streaming_downsampling_spark.sources.tables import Warehouse
from streaming_downsampling_spark.streaming.jobs import refresh_tier_cascade, run_tier_stream

from .harness import quantile, same_rows
from .layers import per_layer
from .trace import Collector, no_span

SF = 4.0  # ≈80k turns over ~4 days
FILES = 3
LATE_SHARE = 0.02  # of each file's rows, moved to the next file
LATE_WINDOW_US = 8 * 60 * 1_000_000  # moved rows lie within 8 min of the file's end
RETAIN_DAYS = 2  # 1m partitions older than the newest RETAIN_DAYS days expire
T1M, T1H, T1D = "rollup_1m_stream", "rollup_1h", "rollup_1d"
TIERS = (T1M, T1H, T1D)
AGG_COLS = ["key", "window_start", "n_points", "sum_value", "min_value", "max_value"]


def write_stream_files(tbl: pa.Table, src: str, files: int, seed: int) -> int:
    """Split ``tbl`` into ``files`` time-ordered parquet files and move a
    seeded ``LATE_SHARE`` of rows from the last ``LATE_WINDOW_US`` of each
    file into the next one.  Returns the number of rows moved."""
    os.makedirs(src)
    tbl = tbl.take(pc.sort_indices(tbl, sort_keys=[("ts", "ascending")]))
    rng = np.random.default_rng(seed)
    ts = tbl.column("ts").cast(pa.int64()).to_numpy()
    cuts = np.linspace(0, tbl.num_rows, files + 1).astype(int)
    owner = np.repeat(np.arange(files), np.diff(cuts))
    moved = 0
    for i in range(files - 1):
        lo, hi = cuts[i], cuts[i + 1]
        tail = np.flatnonzero(ts[lo:hi] > ts[hi - 1] - LATE_WINDOW_US) + lo
        k = min(len(tail), int(round(LATE_SHARE * (hi - lo))))
        owner[rng.choice(tail, size=k, replace=False)] = i + 1
        moved += k
    for i in range(files):
        pq.write_table(
            tbl.filter(pa.array(owner == i)), os.path.join(src, f"part-{i:04d}.parquet")
        )
    return moved


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def live_bytes(wh: Warehouse, table: str) -> tuple[int, int]:
    """(bytes, dirs) referenced by the table's current snapshot; data dirs
    live at ``<warehouse>/<table>/data/<name>``."""
    cur = wh.current_snapshot(table)
    parts = next(s["parts"] for s in wh.snapshots(table) if s["id"] == cur)
    dirs = {d for ds in parts.values() for d in ds}
    return sum(dir_bytes(os.path.join(wh.root, table, "data", d)) for d in dirs), len(dirs)


class StreamIngest:
    name = "stream_ingest"

    def __init__(self, seed: int, sf: float = SF, files: int = FILES) -> None:
        self.seed = seed
        self.sf = sf
        self.files = files
        self.rows = 0
        self.moved = 0
        self.src = None
        self.reference = None
        self.collector = None
        self.last: dict = {}

    def sizes(self) -> dict:
        return {
            "transcript_sf": self.sf,
            "turns": self.rows,
            "files": self.files,
            "late_rows_moved": self.moved,
        }

    def setup(self, spark, inputs: str) -> None:
        tbl = generate_transcripts(sf=self.sf, seed=self.seed)
        self.rows = tbl.num_rows
        os.makedirs(inputs)
        self.reference = os.path.join(inputs, "reference.parquet")
        pq.write_table(tbl, self.reference)
        self.src = os.path.join(inputs, "src")
        self.moved = write_stream_files(tbl, self.src, self.files, self.seed)
        # first job: the schema-inference read the stream source makes
        spark.read.parquet(self.src).count()

    def horizon(self, wh: Warehouse) -> str:
        keys = wh.partition_keys(T1M)
        return keys[max(0, len(keys) - RETAIN_DAYS)]

    def drive(self, spark, wh: Warehouse, ckpt: str, log: LineageLog) -> dict:
        return run_tier_stream(
            spark, self.src, ckpt, wh, table=T1M, tier="1m",
            max_files_per_trigger=1, lineage=log,
        )

    def maintain(self, spark, wh: Warehouse, log: LineageLog, span) -> dict:
        """The retention maintenance, each step inside ``span(name)``."""
        out = {}
        with span("jobs.cascade"):
            refresh_tier_cascade(spark, wh, T1M, T1H, "1h", lineage=log)
            refresh_tier_cascade(spark, wh, T1H, T1D, "1d", lineage=log)
        with span("tables.expire_partitions"):
            out["horizon"] = self.horizon(wh)
            wh.expire_partitions(T1M, before=out["horizon"])
        with span("tables.compact"):
            wh.compact(T1M, partition_by="p_day")
        out["bytes_written"] = sum(dir_bytes(os.path.join(wh.root, t, "data")) for t in TIERS)
        with span("tables.expire_snapshots"):
            for t in TIERS:
                wh.expire_snapshots(t, keep_last=1)
        return out

    def run_pass(self, spark, scratch: str, checks=None, span=no_span) -> dict:
        wh = Warehouse(spark, os.path.join(scratch, "warehouse"))
        ckpt = os.path.join(scratch, "ckpt")
        log = LineageLog(wh)
        t0 = time.perf_counter()
        with span("jobs.drive"):
            stats = self.drive(spark, wh, ckpt, log)
        t_drive = time.perf_counter() - t0
        if checks is not None:
            r1m = rollup(with_signal(spark.read.parquet(self.reference)), "1m").persist()
            self.check_ingest(spark, checks, wh, ckpt, stats, r1m)
        t1 = time.perf_counter()
        maint = self.maintain(spark, wh, log, span)
        t_maint = time.perf_counter() - t1
        if checks is not None:
            self.check_maintenance(checks, wh, maint["horizon"], r1m)
            r1m.unpersist()
        sinks = [
            (r["ended_at"] - r["started_at"]) * 1e3
            for r in wh.read("lineage")
            .filter((F.col("job_id") == stats["job_id"]) & (F.col("op") == "merge"))
            .select("started_at", "ended_at")
            .collect()
        ]
        live = [live_bytes(wh, t) for t in TIERS]
        self.last = {
            "stats": stats,
            "drive_s": t_drive,
            "maintain_s": t_maint,
            "sink_ms": sinks,
            "bytes_written": maint["bytes_written"],
            "live_bytes": sum(b for b, _ in live),
            "data_dirs": sum(n for _, n in live),
            "snapshots": sum(len(wh.snapshots(t)) for t in TIERS),
            "lineage_rows": wh.read("lineage").count(),
        }
        shutil.rmtree(scratch, ignore_errors=True)
        return {"pass_s": t_drive + t_maint, "main_s": t_drive, "ops_ms": sinks}

    # -- checks -------------------------------------------------------------------
    def check_ingest(self, spark, checks, wh, ckpt, stats, r1m) -> None:
        checks.check(
            "stream_ingest.late_rows_dropped",
            stats["late_rows_dropped"] == 0,
            f"{stats['late_rows_dropped']} rows dropped by the watermark",
        )
        checks.run("stream_ingest.tier_1m", lambda: same_rows(wh.read(T1M), r1m, AGG_COLS))
        checks.run("stream_ingest.replay", lambda: self.check_replay(spark, wh, ckpt))

    def check_maintenance(self, checks, wh, horizon: str, r1m) -> None:
        r1h = cascade(r1m, "1h")
        checks.run("stream_ingest.tier_1h", lambda: same_rows(wh.read(T1H), r1h, AGG_COLS))
        checks.run(
            "stream_ingest.tier_1d",
            lambda: same_rows(wh.read(T1D), cascade(r1h, "1d"), AGG_COLS),
        )
        checks.run("stream_ingest.retention", lambda: check_retention(wh, horizon))

    def check_replay(self, spark, wh: Warehouse, ckpt: str) -> tuple[bool, str]:
        """On a copy of the warehouse and checkpoint, rewind the checkpoint
        to just before the last micro-batch that merged rows was committed
        (as if the job died after its MERGE); the restarted query re-runs
        that batch, and the idempotent MERGE must leave the 1m tier
        unchanged."""
        copy = os.path.join(os.path.dirname(ckpt), "replay")
        shutil.copytree(wh.root, os.path.join(copy, "warehouse"))
        shutil.copytree(ckpt, os.path.join(copy, "ckpt"))
        wh = Warehouse(spark, os.path.join(copy, "warehouse"))
        ckpt = os.path.join(copy, "ckpt")
        before = wh.current_snapshot(T1M)
        last_merge = (
            wh.read("lineage").filter(F.col("op") == "merge").agg(F.max("batch_id")).first()[0]
        )
        if last_merge is None:
            return False, "no micro-batch merged rows"
        rewind_checkpoint(ckpt, last_merge)
        stats = self.drive(spark, wh, ckpt, LineageLog(wh))
        if stats["rows_merged"] < 1:
            return False, "the replay merged no rows"
        return same_rows(wh.read(T1M), wh.read(T1M, snapshot_id=before), AGG_COLS)

    def figures(self, passes) -> dict:
        last = self.last
        sinks = last["sink_ms"]
        return {
            "ingest_turns_per_s": self.rows
            / statistics.median(p["main_s"] for p in passes),
            "commit_p50_ms": quantile([o for p in passes for o in p["ops_ms"]], 0.5),
            "commit_p90_ms": quantile([o for p in passes for o in p["ops_ms"]], 0.9),
            "maintain_s": statistics.median(p["pass_s"] - p["main_s"] for p in passes),
            "stored_bytes_per_turn": last["live_bytes"] / self.rows,
            "write_amp": last["bytes_written"] / last["live_bytes"],
            "micro_batches": float(len(sinks)),
        }

    # -- traced run ------------------------------------------------------------------
    def trace(self, spark, scratch: str, cpus: int, checks) -> dict:
        self.run_pass(spark, os.path.join(scratch, "checked"), checks)
        base_s = self.run_pass(spark, os.path.join(scratch, "untraced"))["pass_s"]
        t0 = time.time()
        values = self.write_path_layers(spark, scratch, None)
        wall = self.collector.spans[-1].end - t0
        values["trace.unattributed_s"] = wall - self.collector.covered_s(t0, t0 + wall)
        values["trace.overhead"] = wall / base_s
        return per_layer(values)

    def write_path_layers(self, spark, scratch: str, checks) -> dict:
        """One traced pass (checked when ``checks`` is given) and the direct
        MERGE replay: the ``jobs``/``tables``/``lineage`` layer metrics."""
        c = self.collector = Collector(spark, self.name)
        self.run_pass(spark, os.path.join(scratch, "pass"), checks, span=c.span)
        last = self.last
        spans = {s.name: s for s in c.spans}
        sinks = last["sink_ms"]
        return {
            "jobs.batches": last["stats"]["batches"],
            "jobs.rows_merged": last["stats"]["rows_merged"],
            "jobs.late_rows_dropped": last["stats"]["late_rows_dropped"],
            "jobs.non_sink_s": last["drive_s"] - sum(sinks) / 1e3,
            "jobs.cascade_s": spans["jobs.cascade"].wall_s,
            "jobs.commit_p50_ms": quantile(sinks, 0.5),
            "jobs.commit_p90_ms": quantile(sinks, 0.9),
            "tables.bytes_written": last["bytes_written"],
            "tables.live_bytes": last["live_bytes"],
            "tables.snapshots": last["snapshots"],
            "tables.data_dirs": last["data_dirs"],
            "tables.compact_s": spans["tables.compact"].wall_s,
            "tables.expire_s": spans["tables.expire_partitions"].wall_s
            + spans["tables.expire_snapshots"].wall_s,
            "tables.write_amp": last["bytes_written"] / last["live_bytes"],
            "tables.stored_bytes_per_turn": last["live_bytes"] / self.rows,
            "lineage.rows": last["lineage_rows"],
            "tables.merge_s": self.merge_replay(spark, os.path.join(scratch, "merge")),
        }

    def merge_replay(self, spark, scratch: str, reps: int = 3) -> float:
        """Median seconds of a direct ``Warehouse.merge_upsert`` of one
        micro-batch-sized frame (the 1m rollup of one source file) into a
        table that already holds it — the replayed-commit path."""
        files = sorted(glob.glob(os.path.join(self.src, "*.parquet")))
        batch = (
            rollup(with_signal(spark.read.parquet(files[len(files) // 2])), "1m")
            .select(AGG_COLS)
            .withColumn("p_day", F.date_format("window_start", "yyyy-MM-dd"))
            .persist()
        )
        batch.count()
        wh = Warehouse(spark, scratch)
        wh.merge_upsert("t", batch, keys=["key", "window_start"], partition_by="p_day")
        times = []
        for _ in range(reps):
            t0 = time.perf_counter()
            wh.merge_upsert("t", batch, keys=["key", "window_start"], partition_by="p_day")
            times.append(time.perf_counter() - t0)
        batch.unpersist()
        shutil.rmtree(scratch, ignore_errors=True)
        return statistics.median(times)


def _log_version(name: str) -> int | None:
    """The batch/version number of a checkpoint log or state file name
    (``3``, ``.3.crc``, ``4.delta``, ``.4.delta.crc``...), else None."""
    head = name.lstrip(".").split(".")[0]
    return int(head) if head.isdigit() else None


def rewind_checkpoint(ckpt: str, batch: int) -> None:
    """Leave ``ckpt`` as a query that died after running micro-batch
    ``batch`` but before committing it: offsets and source logs up to
    ``batch``, commits before it, state versions up to the one it wrote
    (batch n writes state version n + 1)."""
    keep = {"offsets": batch, "commits": batch - 1, os.path.join("sources", "0"): batch}
    dirs = [(os.path.join(ckpt, d), v) for d, v in keep.items()]
    # state/<operator>/<partition>/<version>.delta
    dirs += [(d, batch + 1) for d in glob.glob(os.path.join(ckpt, "state", "*", "[0-9]*"))]
    for d, last in dirs:
        for name in os.listdir(d):
            v = _log_version(name)
            if v is not None and v > last and os.path.isfile(os.path.join(d, name)):
                os.remove(os.path.join(d, name))


def check_retention(wh: Warehouse, horizon: str) -> tuple[bool, str]:
    """No 1m partition (manifest key or data row) older than the horizon."""
    old_keys = [k for k in wh.partition_keys(T1M) if k < horizon]
    oldest = wh.read(T1M).agg(F.min("p_day")).collect()[0][0]
    ok = not old_keys and oldest is not None and oldest >= horizon
    return ok, f"partitions {old_keys} and oldest row day {oldest} vs horizon {horizon}"

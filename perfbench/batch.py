"""``batch_tiers``: the batch pipeline over seeded transcripts.

A pass runs the operator sequence of ``bench.transcript_pipeline``: the 1m
rollup, the 1m→1h→1d cascade, linear gap-fill of the 1h tier, and one shared
``prepare_sorted`` feeding the model downsampler and the Gorilla encoder, all
materialized by one action over the union of one-row branch summaries.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
import pyarrow.parquet as pq
import pyspark.sql.functions as F

from streaming_downsampling_spark.datagen import generate_transcripts
from streaming_downsampling_spark.functions import gorilla as G
from streaming_downsampling_spark.functions.kernels import model_downsample_batch
from streaming_downsampling_spark.operators._groupmap import apply_sorted, prepare_sorted
from streaming_downsampling_spark.operators.compress import (
    CHUNK_SCHEMA,
    decompress_chunks,
    encode_frame_fn,
)
from streaming_downsampling_spark.operators.downsample import MODEL_SCHEMA, model_frame_fn
from streaming_downsampling_spark.operators.gapfill import gapfill
from streaming_downsampling_spark.operators.rollup import cascade, rollup, with_signal

from .harness import log, same_rows
from .layers import per_layer, python_totals
from .stream import SF as STREAM_SF
from .stream import StreamIngest
from .trace import Collector, no_span

# the first TURNS turns of a sf=15 table (≈0.3M turns): a fixed input size,
# since the seeded 1 %×100 skew moves the full table's size by ±10 %
SF = 15.0
TURNS = 200_000


def prepare(df):
    """The pipeline's shared (conv_id, 1-day) shuffle + sort."""
    return prepare_sorted(df, "1 day", "conv_id", "ts", "value", "turn_idx")


def chunks_of(prepared):
    return apply_sorted(prepared, encode_frame_fn(), CHUNK_SCHEMA)


def check_roundtrip(chunks, df) -> tuple[bool, str]:
    """``decompress_chunks`` returns every input point exactly once (the
    decoder also verifies each chunk's checksum)."""
    want = df.select(
        F.col("conv_id").alias("key"), F.unix_micros("ts").alias("ts_us"), "value"
    )
    return same_rows(decompress_chunks(chunks), want, ["key", "ts_us", "value"])


class BatchTiers:
    name = "batch_tiers"

    def __init__(
        self, seed: int, sf: float = SF, turns: int = TURNS, stream_sf: float = STREAM_SF
    ) -> None:
        self.seed = seed
        self.sf = sf
        self.turns = turns
        self.stream_sf = stream_sf
        self.rows = 0
        self.df = None
        self.path = None
        self.collector = None
        self.gorilla_bytes = 0.0

    def sizes(self) -> dict:
        return {"transcript_sf": self.sf, "turns": self.rows}

    def load(self, spark):
        """The cached pipeline input: pruned to the pipeline's columns and
        spread over 2×cores partitions, as ``bench.transcript_pipeline``."""
        cores = spark.sparkContext.defaultParallelism
        df = with_signal(spark.read.parquet(self.path))
        df = df.select("conv_id", "turn_idx", "ts", "value").repartition(2 * cores)
        self.df = df.persist()
        self.rows = self.df.count()

    def setup(self, spark, inputs: str) -> None:
        os.makedirs(inputs)
        self.path = os.path.join(inputs, "transcripts.parquet")
        tbl = generate_transcripts(sf=self.sf, seed=self.seed)
        pq.write_table(tbl.slice(0, self.turns), self.path)
        self.load(spark)

    def branches(self):
        df = self.df
        r1m = rollup(df, "1m")
        r1h = cascade(r1m, "1h")
        r1d = cascade(r1h, "1d")
        prepared = prepare(df).persist()
        parts = [
            r1d.agg(F.sum("n_points").cast("double").alias("v")).select(
                F.lit("tier_points").alias("phase"), "v"
            ),
            gapfill(r1h, "1h", method="linear")
            .agg(F.count(F.lit(1)).cast("double").alias("v"))
            .select(F.lit("gapfill_rows").alias("phase"), "v"),
            apply_sorted(prepared, model_frame_fn(), MODEL_SCHEMA)
            .agg(F.count(F.lit(1)).cast("double").alias("v"))
            .select(F.lit("model_windows").alias("phase"), "v"),
            chunks_of(prepared)
            .agg(F.sum("enc_bytes").cast("double").alias("v"))
            .select(F.lit("gorilla_bytes").alias("phase"), "v"),
        ]
        summary = parts[0]
        for b in parts[1:]:
            summary = summary.unionByName(b)
        return summary, prepared

    def run_pass(self, spark, scratch: str, checks=None) -> dict:
        t0 = time.perf_counter()
        summary, prepared = self.branches()
        got = {r["phase"]: r["v"] for r in summary.collect()}
        wall = time.perf_counter() - t0
        if checks is not None:
            self.check(checks, got, prepared)
        prepared.unpersist()
        self.gorilla_bytes = got["gorilla_bytes"]
        return {"pass_s": wall, "ops_ms": [wall * 1e3]}

    def check(self, checks, got: dict, prepared) -> None:
        checks.check(
            "batch_tiers.tier_points",
            int(got["tier_points"]) == self.rows,
            f"sum of 1d n_points {got['tier_points']} != {self.rows} turns",
        )
        groups = (
            self.df.select("conv_id", F.window("ts", "1 day").start.alias("d"))
            .distinct()
            .count()
        )
        checks.check(
            "batch_tiers.model_windows",
            int(got["model_windows"]) == groups,
            f"{got['model_windows']} model windows for {groups} (conv_id, day) groups",
        )
        checks.run(
            "batch_tiers.gorilla_roundtrip",
            lambda: check_roundtrip(chunks_of(prepared), self.df),
        )

    def figures(self, passes) -> dict:
        med = statistics.median(p["pass_s"] for p in passes)
        return {
            "turns_per_s": self.rows / med,
            "bits_per_point": self.gorilla_bytes * 8 / self.rows,
        }

    # -- traced run -------------------------------------------------------------
    def staged_pass(self, span=no_span) -> tuple[float, float, dict]:
        """The pass's operators as separate actions, each inside
        ``span(layer)``: the traced run's action sequence.  Run untraced,
        it is the denominator of ``trace.overhead`` and the pass that
        ``scaling_eff_1to4`` compares.  Returns (start epoch seconds, wall
        seconds, counts)."""
        df = self.df
        got = {}
        t0 = time.time()
        with span("rollup"):
            r1m = rollup(df, "1m").persist()
            r1m.count()
            r1h = cascade(r1m, "1h").persist()
            r1h.count()
            cascade(r1h, "1d").agg(F.sum("n_points")).collect()
        with span("gapfill"):
            row = gapfill(r1h, "1h", method="linear").agg(
                F.count(F.lit(1)).alias("n"), F.sum(F.col("filled").cast("long")).alias("f")
            ).collect()[0]
            got["rows_out"], got["filled"] = row["n"], row["f"] or 0
        with span("groupmap.prepare"):
            prepared = prepare(df).persist()
            prepared.count()
        with span("downsample"):
            got["windows"] = apply_sorted(prepared, model_frame_fn(), MODEL_SCHEMA).count()
        with span("compress"):
            row = chunks_of(prepared).agg(
                F.count(F.lit(1)).alias("n"), F.sum("enc_bytes").alias("b")
            ).collect()[0]
            got["chunks"], got["enc_bytes"] = row["n"], row["b"]
        wall = time.time() - t0
        for d in (prepared, r1h, r1m):
            d.unpersist()
        return t0, wall, got

    def trace(self, spark, scratch: str, cpus: int, checks) -> dict:
        self.run_pass(spark, scratch, checks)  # the checked warm-up
        self.staged_pass()  # warms up the staged plans
        _, untraced_wall, _ = self.staged_pass()
        log(f"{self.name}: staged baseline {untraced_wall:.3f} s")
        c = self.collector = Collector(spark, self.name)
        t0, traced_wall, got = self.staged_pass(c.span)
        log(f"{self.name}: traced pass {traced_wall:.3f} s")
        spans = {s.name: s for s in c.spans}
        values = {
            "rollup.wall_s": spans["rollup"].wall_s,
            "rollup.cpu_s": spans["rollup"].cpu_s,
            "rollup.shuffle_bytes": spans["rollup"].shuffle_write_bytes,
            "gapfill.wall_s": spans["gapfill"].wall_s,
            "gapfill.rows_out": got["rows_out"],
            "gapfill.fill_ratio": got["filled"] / got["rows_out"],
            "groupmap.prepare_wall_s": spans["groupmap.prepare"].wall_s,
            "groupmap.shuffle_bytes": spans["groupmap.prepare"].shuffle_write_bytes,
            "groupmap.spill_bytes": sum(
                spans[n].spill_bytes for n in ("groupmap.prepare", "downsample", "compress")
            ),
            "groupmap.task_skew": spans["groupmap.prepare"].task_skew,
            **python_totals(c.spans),
            "downsample.wall_s": spans["downsample"].wall_s,
            "downsample.windows": got["windows"],
            "compress.wall_s": spans["compress"].wall_s,
            "compress.chunks": got["chunks"],
            "compress.bits_per_point": got["enc_bytes"] * 8 / self.rows,
            "trace.unattributed_s": traced_wall - c.covered_s(t0, t0 + traced_wall),
            "trace.overhead": traced_wall / untraced_wall,
        }
        values.update(kernel_timings(self.seed))
        # the write path's layers, traced here because stream_ingest is not
        # one of the benchmark's timed workloads (README.md)
        writes = StreamIngest(self.seed, sf=self.stream_sf)
        writes.setup(spark, os.path.join(scratch, "stream-inputs"))
        values.update(writes.write_path_layers(spark, os.path.join(scratch, "stream"), checks))
        c.spans.extend(writes.collector.spans)
        c.incomplete.extend(writes.collector.incomplete)
        log(f"{self.name}: write path traced")
        values["batch_tiers.scaling_eff_1to4"] = self.scaling_efficiency(
            spark, scratch, untraced_wall, cpus
        )
        return per_layer(values)

    def scaling_efficiency(self, spark, scratch: str, t_n: float, cpus: int) -> float:
        """The staged pass at ``local[1]`` against ``local[cpus]``, both
        the second staged pass of their session: ``t1 / (cpus · tN)``, 1.0
        being linear scaling.  The ``local[1]`` session is a new session in
        the same JVM, so its code is already compiled."""
        from .harness import start_spark

        spark.stop()
        one = start_spark(scratch, 1, "perfbench-batch_tiers-local1")
        self.load(one)
        self.staged_pass()  # untimed, as the first staged pass at local[cpus]
        _, t1, _ = self.staged_pass()
        return t1 / (cpus * t_n)


def kernel_timings(seed: int, reps: int = 5) -> dict:
    """Direct in-process calls of the numpy kernels on seeded inputs; each
    figure is the median of ``reps`` calls."""
    rng = np.random.default_rng(seed)
    X = 200.0 + 50.0 * np.sin(np.arange(96) / 7.6) + rng.normal(0, 10, (2000, 96))

    def med(fn) -> float:
        ts = []
        for _ in range(reps):
            t0 = time.perf_counter()
            fn()
            ts.append(time.perf_counter() - t0)
        return statistics.median(ts)

    out = {"kernels.model_us_per_point": med(lambda: model_downsample_batch(X)) / X.size * 1e6}
    lengths = rng.integers(20, 400, 2000)
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    ts = np.cumsum(rng.integers(1, 10_000_000, bounds[-1])).astype(np.int64)
    vals = np.round(rng.normal(200, 40, bounds[-1]))
    ts_blobs = G.encode_timestamps_batched(ts, bounds)
    val_blobs = G.encode_values_batched(vals, bounds)
    n = bounds[-1]
    out["gorilla.encode_ns_per_point"] = med(
        lambda: (G.encode_timestamps_batched(ts, bounds), G.encode_values_batched(vals, bounds))
    ) / n * 1e9
    out["gorilla.decode_ns_per_point"] = med(
        lambda: (G.decode_timestamps_batched(ts_blobs), G.decode_values_batched(val_blobs))
    ) / n * 1e9
    return out

"""The per-layer metric catalogue printed by a traced run (``--trace 1``).

Every traced run prints every name below.  A layer a workload does not
exercise reads 0 there (for example ``jobs.batches`` on ``batch_tiers``):
that is the measured amount of its work, and the flat reading the workload
map in README.md predicts.
"""

from __future__ import annotations

from bench import HEADLINE as HEADLINE_QUERIES  # the frozen harness's 19

PER_LAYER: dict[str, str] = {
    "rollup.wall_s": "s",
    "rollup.cpu_s": "s",
    "rollup.shuffle_bytes": "B",
    "gapfill.wall_s": "s",
    "gapfill.rows_out": "count",
    "gapfill.fill_ratio": "ratio",
    "groupmap.prepare_wall_s": "s",
    "groupmap.shuffle_bytes": "B",
    "groupmap.spill_bytes": "B",
    "groupmap.task_skew": "ratio",
    "groupmap.py_bytes_sent": "B",
    "groupmap.py_bytes_returned": "B",
    "groupmap.py_run_s": "s",
    "groupmap.py_init_s": "s",
    "groupmap.py_start_s": "s",
    "downsample.wall_s": "s",
    "downsample.windows": "count",
    "kernels.model_us_per_point": "us",
    "compress.wall_s": "s",
    "compress.chunks": "count",
    "compress.bits_per_point": "bit",
    "gorilla.encode_ns_per_point": "ns",
    "gorilla.decode_ns_per_point": "ns",
    "jobs.batches": "count",
    "jobs.rows_merged": "count",
    "jobs.late_rows_dropped": "count",
    "jobs.non_sink_s": "s",
    "jobs.cascade_s": "s",
    "jobs.commit_p50_ms": "ms",
    "jobs.commit_p90_ms": "ms",
    "tables.merge_s": "s",
    "tables.bytes_written": "B",
    "tables.live_bytes": "B",
    "tables.snapshots": "count",
    "tables.data_dirs": "count",
    "tables.compact_s": "s",
    "tables.expire_s": "s",
    "tables.write_amp": "ratio",
    "tables.stored_bytes_per_turn": "B",
    "lineage.rows": "count",
    **{
        f"queries.{q}.{m}": u
        for q in HEADLINE_QUERIES
        for m, u in (("wall_s", "s"), ("shuffle_bytes", "B"), ("py_run_s", "s"))
    },
    "queries.cumshare_select.max_task_share": "ratio",
    "trace.unattributed_s": "s",
    "trace.overhead": "ratio",
    "batch_tiers.scaling_eff_1to4": "ratio",
}


def per_layer(values: dict[str, float]) -> dict[str, tuple[float, str]]:
    """Every catalogue metric with its unit; names not measured read 0."""
    unknown = set(values) - set(PER_LAYER)
    if unknown:
        raise KeyError(f"metrics outside the catalogue: {sorted(unknown)}")
    return {k: (float(values.get(k, 0.0)), u) for k, u in PER_LAYER.items()}


def python_totals(spans) -> dict[str, float]:
    """Python-exchange SQL metrics summed over spans, as ``groupmap.*``."""
    out: dict[str, float] = {}
    for s in spans:
        for k, v in s.python.items():
            out[f"groupmap.{k}"] = out.get(f"groupmap.{k}", 0.0) + v
    return out

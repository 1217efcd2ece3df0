"""Engine benchmark: one command, three workloads.

Usage, from the repository root::

    python3 perfbench/run.py --workload batch_tiers --seed 1 --seconds 1 --trace 0

Workloads: ``batch_tiers``, ``stream_ingest``, ``catalog_reads`` (see
``perfbench/README.md``).  ``--trace 0`` prints the end-to-end metrics,
``--trace 1`` the per-layer ones.  Progress and every named figure go to
stderr; the last line of stdout is the result object.  Scratch data lives
under ``.perfbench/`` in the working directory and is deleted at the end;
the ``result-*.json`` / ``trace-*.json`` artifacts stay there.  Exits 1 when
a correctness check fails, 2 when run outside a checkout of the engine.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

WORKLOADS = ("batch_tiers", "stream_ingest", "catalog_reads")


def _workload_cls(name: str):
    if name == "batch_tiers":
        from perfbench.batch import BatchTiers

        return BatchTiers
    if name == "stream_ingest":
        from perfbench.stream import StreamIngest

        return StreamIngest
    from perfbench.catalog import CatalogReads

    return CatalogReads


def _stop_jvm() -> None:
    """Stop any live SparkContext and the gateway JVM, and wait for it."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    missing = [
        p
        for p in ("bench.py", os.path.join("streaming_downsampling_spark", "__init__.py"))
        if not os.path.isfile(os.path.join(root, p))
    ]
    if missing:
        print(
            f"perfbench: {', '.join(missing)} not found; run from the root of "
            "a checkout of the engine",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, root)
    # Python workers import the engine (and pickled kernels) from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    from perfbench import harness

    try:
        result = harness.run(
            _workload_cls(args.workload),
            seed=args.seed,
            seconds=args.seconds,
            trace=bool(args.trace),
            out_dir=os.path.join(root, ".perfbench"),
        )
    finally:
        _stop_jvm()
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())

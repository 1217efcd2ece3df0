"""The benchmark's own tests, at tiny input sizes.

Run from the repository root::

    python -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import functools
import os
import sys

import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
)

from perfbench import harness  # noqa: E402
from perfbench.batch import BatchTiers, check_roundtrip, chunks_of, prepare  # noqa: E402
from perfbench.catalog import (  # noqa: E402
    DATA,
    ORACLE_NAMES,
    CatalogReads,
    expected_results,
    oracle_hashes,
)
from perfbench.layers import PER_LAYER  # noqa: E402
from perfbench.stream import StreamIngest  # noqa: E402


@pytest.fixture
def spark(tmp_path):
    s = harness.start_spark(str(tmp_path), 2, "perfbench-tests")
    yield s
    s.stop()


@pytest.fixture(scope="module")
def tiny_catalog(tmp_path_factory):
    """The first 2000 rows of every catalog table."""
    out = tmp_path_factory.mktemp("catalog")
    for f in os.listdir(DATA):
        pq.write_table(pq.read_table(os.path.join(DATA, f)).slice(0, 2000), out / f)
    return str(out)


def tiny(name: str, catalog_dir: str):
    return {
        "batch_tiers": functools.partial(BatchTiers, sf=0.3, stream_sf=0.5),
        "stream_ingest": functools.partial(StreamIngest, sf=0.5, files=3),
        "catalog_reads": functools.partial(CatalogReads, data_dir=catalog_dir),
    }[name]


@pytest.mark.parametrize("trace", [False, True], ids=["end_to_end", "per_layer"])
@pytest.mark.parametrize("name", ["batch_tiers", "stream_ingest", "catalog_reads"])
def test_every_metric_and_unit_is_emitted(name, trace, tiny_catalog, tmp_path):
    out = harness.run(tiny(name, tiny_catalog), seed=3, seconds=0, trace=trace, out_dir=str(tmp_path))
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    want = PER_LAYER if trace else harness.END_TO_END
    assert {k: m["unit"] for k, m in out["metrics"].items()} == want
    if not trace:
        assert all(m["value"] > 0 for m in out["metrics"].values())
    assert os.path.exists(tmp_path / f"result-{name}-seed3.json")
    # the run's scratch root is gone; only the artifacts stay
    assert not [p for p in os.listdir(tmp_path) if p.startswith("tmp-")]


def _flip_first_value_byte(chunks):
    def flip(batches):
        done = False
        for pdf in batches:
            if not done and len(pdf):
                blob = bytearray(pdf.at[pdf.index[0], "val_blob"])
                blob[len(blob) // 2] ^= 0x01
                pdf.at[pdf.index[0], "val_blob"] = bytes(blob)
                done = True
            yield pdf

    return chunks.coalesce(1).mapInPandas(flip, chunks.schema)


def test_gorilla_byte_flip_fails_the_batch_check(spark, tmp_path):
    wl = BatchTiers(seed=5, sf=0.3)
    wl.setup(spark, str(tmp_path / "inputs"))
    prepared = prepare(wl.df).persist()
    assert check_roundtrip(chunks_of(prepared), wl.df)[0]
    checks = harness.Checks()
    checks.run(
        "roundtrip",
        lambda: check_roundtrip(_flip_first_value_byte(chunks_of(prepared)), wl.df),
    )
    assert checks.failures and checks.failures[0].startswith("roundtrip")


def test_dropped_input_file_fails_the_stream_check(spark, tmp_path):
    wl = StreamIngest(seed=5, sf=0.5, files=3)
    wl.setup(spark, str(tmp_path / "inputs"))
    intact = harness.Checks()
    wl.run_pass(spark, str(tmp_path / "intact"), intact)
    assert intact.attempted == 6 and not intact.failures
    os.remove(os.path.join(wl.src, sorted(os.listdir(wl.src))[1]))
    dropped = harness.Checks()
    wl.run_pass(spark, str(tmp_path / "dropped"), dropped)
    assert any(f.startswith("stream_ingest.tier_1m") for f in dropped.failures)


def test_recorded_oracle_results_match_duckdb():
    assert expected_results(DATA) == oracle_hashes(DATA, ORACLE_NAMES)

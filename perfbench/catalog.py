"""``catalog_reads``: the 19 headline catalog queries of ``bench.py``.

The tables are a byte copy of the engine's read-only sf0.1 test tables,
kept in ``perfbench/data/sf0.1`` so the benchmark reads nothing outside its
checkout.  The queries run in ``bench.HEADLINE`` order, so the seed only
names the artifacts (README.md says why).  Each query is timed as one
write to Spark's noop sink, as ``bench.py`` does.  After the timed sweep
of the checked pass, each query runs once more, is collected to the driver
and hashed, and the hash is compared with that of its DuckDB ``ORACLES``
query on the same files; all of that is untimed.  For the committed tables
the DuckDB results are recorded in ``oracle_hashes.json`` (README.md gives
the measured cost of running DuckDB in every run); refresh the file with
``python3 -m perfbench.catalog``.
"""

from __future__ import annotations

import hashlib
import json
import os
import statistics
import time
from concurrent.futures import ThreadPoolExecutor

import pyarrow.parquet as pq

from bench import HEADLINE
from streaming_downsampling_spark.queries import ORACLES, QUERIES

from .harness import log, quantile
from .layers import per_layer, python_totals
from .trace import Collector, no_span

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data", "sf0.1")
HASHES = os.path.join(HERE, "oracle_hashes.json")
ORACLE_NAMES = [n for n in HEADLINE if n in ORACLES]
CHECK_THREADS = 4


def result_hash(pdf) -> str:
    """``scripts/check_oracles.py``'s order-insensitive value hash."""
    from scripts.check_oracles import normalize, value_hash

    return value_hash(normalize(pdf))


def summarize(pdf) -> dict:
    return {"rows": len(pdf), "columns": sorted(pdf.columns), "hash": result_hash(pdf)}


def oracle_hashes(data_dir: str, names) -> dict[str, dict]:
    """Run each query's DuckDB oracle on ``data_dir``: rows, columns, hash."""
    import duckdb

    con = duckdb.connect()
    con.sql("SET enable_progress_bar = false")
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            con.sql(
                f"CREATE VIEW {f[: -len('.parquet')]} AS "
                f"SELECT * FROM '{os.path.join(data_dir, f)}'"
            )
    out = {name: summarize(con.sql(ORACLES[name]).fetchdf()) for name in names}
    con.close()
    return out


def oracles_digest() -> str:
    """One digest of the headline queries' oracle SQL."""
    return hashlib.md5("\n".join(ORACLES[n] for n in ORACLE_NAMES).encode()).hexdigest()


def expected_results(data_dir: str) -> dict[str, dict]:
    """The oracle result summaries: recorded for the committed tables, run
    on DuckDB for any other directory."""
    if data_dir != DATA:
        return oracle_hashes(data_dir, ORACLE_NAMES)
    with open(HASHES) as f:
        recorded = json.load(f)
    if recorded["oracles_md5"] != oracles_digest():
        raise RuntimeError(
            "ORACLES changed since oracle_hashes.json was recorded; "
            "refresh it with python3 -m perfbench.catalog"
        )
    return recorded["results"]


def check(got, exp: dict | None) -> tuple[bool, str]:
    """A result summary (or the error its query raised) against its oracle's."""
    if isinstance(got, Exception):
        raise got
    if exp is None:  # no oracle in the catalog: rows only
        return got["rows"] > 0, "empty result"
    return got == exp, f"{got} vs oracle {exp}"


class CatalogReads:
    name = "catalog_reads"

    def __init__(self, seed: int, data_dir: str = DATA) -> None:
        self.seed = seed
        self.data_dir = data_dir
        self.rows = 0
        self.collector = None
        self.query_ms: dict[str, float] = {}

    def sizes(self) -> dict:
        return {
            "tables": self.data_dir,
            "table_rows": self.rows,
            "queries": len(HEADLINE),
        }

    def setup(self, spark, inputs: str) -> None:
        """The input is the fixed tables; the set-up's job reads ``events``."""
        self.rows = sum(
            pq.ParquetFile(os.path.join(self.data_dir, f)).metadata.num_rows
            for f in sorted(os.listdir(self.data_dir))
            if f.endswith(".parquet")
        )
        spark.read.parquet(os.path.join(self.data_dir, "events.parquet")).count()

    def run_pass(self, spark, scratch: str, checks=None, span=no_span) -> dict:
        ops = []
        for name in HEADLINE:
            t0 = time.perf_counter()
            with span(f"queries.{name}"):
                QUERIES[name](spark, self.data_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
            ops.append((time.perf_counter() - t0) * 1e3)
        self.query_ms = dict(zip(HEADLINE, ops))
        if checks is not None:
            self.check_all(spark, checks)
        return {"pass_s": sum(ops) / 1e3, "ops_ms": ops}

    def check_all(self, spark, checks) -> None:
        """Every query's collected result against its DuckDB oracle."""
        try:
            expected = expected_results(self.data_dir)
        except RuntimeError as e:
            checks.check("catalog_reads.oracles", False, str(e))
            return

        def collect(name: str):
            try:
                return summarize(QUERIES[name](spark, self.data_dir).toPandas())
            except Exception as e:  # noqa: BLE001 - reported by the query's check
                return e

        # untimed; a single small query leaves most cores idle, so the
        # collects run side by side to keep the run short
        with ThreadPoolExecutor(CHECK_THREADS) as pool:
            got = dict(zip(HEADLINE, pool.map(collect, HEADLINE)))
        for name in HEADLINE:
            checks.run(
                f"catalog_reads.{name}", lambda name=name: check(got[name], expected.get(name))
            )

    def figures(self, passes) -> dict:
        ops = [o for p in passes for o in p["ops_ms"]]
        return {
            "catalog_s": statistics.median(p["pass_s"] for p in passes),
            "query_p50_s": quantile(ops, 0.5) / 1e3,
            "query_p90_s": quantile(ops, 0.9) / 1e3,
            **{f"last_pass.{q}_s": ms / 1e3 for q, ms in self.query_ms.items()},
        }

    def trace(self, spark, scratch: str, cpus: int, checks) -> dict:
        # the checks' collect of every query is the warm-up
        self.check_all(spark, checks)
        base_s = self.run_pass(spark, scratch)["pass_s"]
        log(f"{self.name}: checked warm-up done, untraced baseline {base_s:.3f} s")
        c = self.collector = Collector(spark, self.name)
        t0 = time.time()
        self.run_pass(spark, scratch, span=c.span)
        wall = time.time() - t0
        log(f"{self.name}: traced pass {wall:.3f} s")
        values = {}
        for s in c.spans:
            q = s.name
            values[f"{q}.wall_s"] = s.wall_s
            values[f"{q}.shuffle_bytes"] = s.shuffle_write_bytes
            values[f"{q}.py_run_s"] = s.python.get("py_run_s", 0.0)
        values["queries.cumshare_select.max_task_share"] = c.by_name(
            "queries.cumshare_select"
        )[0].max_task_share
        values.update(python_totals(c.spans))
        values["trace.unattributed_s"] = wall - c.covered_s(t0, t0 + wall)
        values["trace.overhead"] = wall / base_s
        return per_layer(values)


if __name__ == "__main__":
    # Refresh the recorded oracle results: python3 -m perfbench.catalog
    with open(HASHES, "w") as f:
        json.dump(
            {"oracles_md5": oracles_digest(), "results": oracle_hashes(DATA, ORACLE_NAMES)},
            f,
            indent=1,
        )
        f.write("\n")

"""The benchmark's workloads: one closed-loop job each, its expected output
row count, and an exact order-insensitive digest of its output compared with
a DuckDB oracle over the same parquet inputs.

* ``flagship_sink`` — the headline user job: ``bench.flagship_pipeline``
  (the shared ``plans.flagship.flagship_features`` DAG) written as zstd
  parquet. It is the only workload with the as-of, windows, per-token
  explode and sink on its path.
* ``dedup_minhash`` — ``operators.dedup.minhash_lsh_pairs`` with the driver
  query's parameters: signatures, band self-join and Jaccard verify, with no
  as-of, window or sink on the path.
"""

from __future__ import annotations

import glob
import os
import shutil

import duckdb
import pyarrow.parquet as pq

_FLAGSHIP_COLS = (
    "doc_key", "ts_us", "source_key", "session_id", "rolling_docs", "tag_ok",
    "pos", "tok", "lag_1", "lag_2", "lead_1", "lead_2",
)


def _digest(con, relation: str, int_cols, float_cols=()) -> tuple[int, int]:
    """(row count, sum of per-row hashes): equal for equal multisets of rows
    whatever their order or the engine's integer widths."""
    parts = [f"CAST({c} AS BIGINT)" for c in int_cols] + [f"CAST({c} AS FLOAT)" for c in float_cols]
    n, h = con.execute(
        f"SELECT count(*), coalesce(sum(hash({', '.join(parts)})), 0) FROM ({relation})"
    ).fetchone()
    return int(n), int(h)


class FlagshipSink:
    name = "flagship_sink"
    kind = "flagship"
    size = 15_000  # sequences, ~1.4M feature rows per job
    warmup_jobs = 2  # job times flatten from the fourth job on
    # the job is bound by the driver and the JIT (~5 CPU-s per steady job,
    # as much as its tasks): two cores are left to them
    spare_cores = 2

    def __init__(self, inputs: dict, work_dir: str) -> None:
        self.data = inputs["dir"]
        self.out = os.path.join(work_dir, "out", self.name)
        seqs = pq.read_table(os.path.join(self.data, "sequences.parquet"), columns=["n_tok"])
        self.expected_rows = int(seqs.column("n_tok").to_numpy().sum())
        self.work_rows = self.expected_rows  # output feature rows

    def configure(self, spark) -> None:
        # the flagship plan is explicitly partitioned and salted; bench.py
        # runs it with AQE off and so does this benchmark
        spark.conf.set("spark.sql.adaptive.enabled", "false")

    def build(self, spark):
        import bench

        return bench.flagship_pipeline(spark, self.data)

    def run(self, df) -> int:
        shutil.rmtree(self.out, ignore_errors=True)
        df.write.mode("overwrite").parquet(self.out)
        return self.output_rows()

    def output_rows(self) -> int:
        return sum(pq.ParquetFile(p).metadata.num_rows for p in self._files())

    def _files(self) -> list[str]:
        return sorted(glob.glob(os.path.join(self.out, "*.parquet")))

    def oracle_digest(self) -> tuple[int, int]:
        from tests.test_flagship_oracle import _MIRROR

        with duckdb.connect() as con:
            con.execute(f"CREATE VIEW sequences AS FROM '{self.data}/sequences.parquet'")
            con.execute(f"CREATE VIEW labels AS FROM '{self.data}/labels.parquet'")
            return _digest(con, _MIRROR, _FLAGSHIP_COLS, ["score"])

    def output_digest(self) -> tuple[int, int]:
        files = ", ".join(f"'{p}'" for p in self._files())
        rel = f"SELECT *, epoch_us(seq_ts) AS ts_us FROM read_parquet([{files}])"
        with duckdb.connect() as con:
            return _digest(con, rel, _FLAGSHIP_COLS, ["score"])


class DedupMinhash:
    name = "dedup_minhash"
    kind = "dedup"
    size = 10_000  # docs
    warmup_jobs = 6  # ~2 s jobs; JIT CPU per job falls from ~6 s to ~2 s over them
    # the job is bound by its tasks: one core is left to the driver and JIT
    spare_cores = 1

    def __init__(self, inputs: dict, work_dir: str) -> None:
        self.data = inputs["dir"]
        self.work_rows = inputs["rows"]["docs"]  # input docs: the pair count is tiny
        self.expected_rows = None  # set from the oracle
        self.last = None

    def configure(self, spark) -> None:
        pass

    def build(self, spark):
        from marmot_spark.operators.dedup import minhash_lsh_pairs

        docs = spark.read.parquet(f"{self.data}/docs.parquet")
        return minhash_lsh_pairs(
            docs, "doc_id", "tokens",
            k_shingle=3, n_hashes=8, rows_per_band=2, jaccard_threshold_ppm=300_000,
        )

    def run(self, df) -> int:
        self.last = df.toArrow()
        return self.last.num_rows

    def oracle_digest(self) -> tuple[int, int]:
        from __spark_entry__ import DOCS_T, _sql_minhash

        sql = _sql_minhash()
        if DOCS_T not in sql:
            raise RuntimeError("_sql_minhash no longer reads docs_t; rebind the oracle")
        sql = sql.replace(DOCS_T, "docs_t AS (SELECT doc_id, tokens FROM docs)")
        with duckdb.connect() as con:
            con.execute(f"CREATE VIEW docs AS FROM '{self.data}/docs.parquet'")
            n, h = _digest(con, sql, ["id_a", "id_b", "jaccard_ppm"])
        self.expected_rows = n
        return n, h

    def output_digest(self) -> tuple[int, int]:
        with duckdb.connect() as con:
            con.register("pairs", self.last)
            return _digest(con, "SELECT * FROM pairs", ["id_a", "id_b", "jaccard_ppm"])


WORKLOADS = {w.name: w for w in (FlagshipSink, DedupMinhash)}

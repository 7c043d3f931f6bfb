"""Output check of the engine benchmark against the DuckDB oracle.

The engine result of every key is compared with the registered oracle
SQL run live by DuckDB over the single-file base tables, using the
repo's own comparison (`tools/parity.py`: `compare`, `canon_frame`
through `compare`, and `nonscalar_cells`). `compare` reports the first
differing row, so a failure names what is wrong.
"""

from __future__ import annotations

import os
import time


class OracleCheck:
    """Compares engine outputs with oracle results over ``base``."""

    def __init__(self, base: str) -> None:
        import duckdb

        from gen import TABLES

        self.con = duckdb.connect()
        self.con.execute("SET threads TO 4")
        for t in TABLES:
            path = os.path.join(base, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        #: seconds spent checking (oracle query and comparison)
        self.check_s = 0.0

    def check(self, spec, spark_pdf) -> list[str]:
        """Error strings; empty when the engine output of ``spec`` is correct."""
        from tools.parity import compare, nonscalar_cells

        t0 = time.perf_counter()
        try:
            bad = nonscalar_cells(spark_pdf)
            if bad:
                return [f"non-scalar output columns {bad}"]
            if spec.oracle is None:
                return [] if len(spark_pdf) else ["no oracle and no rows"]
            return compare(spec.key, spark_pdf, self.con.execute(spec.oracle).df())
        finally:
            self.check_s += time.perf_counter() - t0

    def close(self) -> None:
        self.con.close()

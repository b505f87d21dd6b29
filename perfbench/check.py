"""Output checks: batch queries against their DuckDB oracle, stream operators
against their batch analog and the generator's distinct count."""

from __future__ import annotations

import math

import duckdb


def canon(rows):
    """Order-insensitive exact form: floats by `hex()`, rows sorted."""
    def cell(v):
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else v.hex()
        return v

    return sorted(tuple(cell(c) for c in r) for r in rows)


class Oracle:
    """DuckDB over the parquet tables in `data_dir`, one view per table."""

    def __init__(self, data_dir: str, tables):
        self.con = duckdb.connect()
        for t in tables:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")

    def expect(self, sql: str) -> tuple[list[str], list]:
        rel = self.con.sql(sql)
        return list(rel.columns), canon(rel.fetchall())

    def close(self) -> None:
        self.con.close()


def batch_mismatch(df, expected: tuple[list[str], list]) -> str | None:
    """Collect `df`; None if its columns and rows equal `expected`, else why."""
    cols, rows = expected
    got_cols = [f.name for f in df.schema.fields]
    if got_cols != cols:
        return f"columns {got_cols} != {cols}"
    got = canon(tuple(r) for r in df.collect())
    if not got:
        return "no rows"
    if got != rows:
        return f"{len(got)} rows differ from the oracle's {len(rows)}"
    return None


def windowed_analog(spark, stream_dir: str):
    """Batch `groupBy(window, event_type)` over the same stream files, in the
    shape `windowed_counts` emits: {(w_start, event_type): (n, sum_value_c)}."""
    from pyspark.sql import functions as F

    ev = (spark.read.parquet(stream_dir)
          .withColumn("ts", F.col("ts").cast("timestamp")))
    value_c = F.round(F.col("value") * 100, 0).cast("long")
    g = (ev.groupBy(F.window("ts", "6 hours"), "event_type")
         .agg(F.count(F.lit(1)).alias("n"), F.sum(value_c).alias("s")))
    return {(r["window"].start, r.event_type): (r.n, r.s) for r in g.collect()}

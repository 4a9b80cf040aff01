"""Local mirror of the driver's oracle comparison: run the Spark query
and the DuckDB oracle SQL on the same parquet tables, compare
row-count + column names + order-insensitive canonical value hash,
and reject any Decimal output value (the reference comparison
canonicalizes a Decimal differently on its two sides, so a DECIMAL
column never matches; cast final columns to DOUBLE on both sides).
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math

import duckdb

from in_stream_processing_course_spark.schemas import TABLE_NAMES


def run_oracle(sql: str, sf_dir: str):
    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'"
        )
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    rows = cur.fetchall()
    con.close()
    return cols, rows


def _canon(v) -> str:
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.12g}"
    if isinstance(v, decimal.Decimal):
        return f"{v:f}"
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


def canonical_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x01".join(_canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def compare_query(spark, query_fn, oracle: str, sf_dir: str) -> None:
    sdf = query_fn(spark, sf_dir)
    srows = [tuple(r) for r in sdf.collect()]
    scols = sdf.columns
    # all rows, not a sample: a Decimal in a late sort position counts
    decs = sorted({c for r in srows for c, v in zip(scols, r)
                   if isinstance(v, decimal.Decimal)})
    assert not decs, f"Decimal output columns {decs}: cast them to DOUBLE"
    ocols, orows = run_oracle(oracle, sf_dir)
    assert sorted(scols) == sorted(ocols), f"columns differ: {scols} vs {ocols}"
    assert len(srows) == len(orows), f"row count {len(srows)} vs {len(orows)}"
    sh = canonical_hash(scols, srows)
    oh = canonical_hash(ocols, orows)
    if sh != oh:
        sset = {tuple(_canon(r[i]) for i in sorted(range(len(scols)), key=lambda i: scols[i])) for r in srows}
        oset = {tuple(_canon(r[i]) for i in sorted(range(len(ocols)), key=lambda i: ocols[i])) for r in orows}
        only_s = list(sset - oset)[:5]
        only_o = list(oset - sset)[:5]
        raise AssertionError(
            f"value hash mismatch\ncols(sorted)={sorted(scols)}\n"
            f"spark-only rows (5): {only_s}\noracle-only rows (5): {only_o}"
        )

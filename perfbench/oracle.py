"""Output checks, run outside the timed region.

CDC workloads: the committed Avro values are decoded with the program's
``avro_to_envelope`` and compared with DuckDB running the registered
``cdc_envelope`` oracle SQL over the generated feed: same row count, and the
same rows once both sides are sorted by ``txn_order``. Every ``txn_order``
must be distinct (exactly-once) and every decoded meta array must match its
position columns.

``query_mix``: each query's collected result is compared with its registered
oracle the way the repository's correctness checker does (column names, row
count, then order-insensitive canonical values).
"""

from __future__ import annotations

import math
import os


def _duckdb(ctx, feed_dir: str):
    import duckdb

    con = duckdb.connect()
    spill = os.path.join(ctx.work, "duckdb_spill")
    con.execute(f"SET temp_directory='{spill}'")
    con.execute("SET memory_limit='1GB'")
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{feed_dir}/*.parquet')"
    )
    return con


def _oracle_sql(name: str) -> str:
    from mysql_streamer_spark.queries import all_specs

    return next(s.oracle for s in all_specs() if s.name == name)


def check_cdc(ctx, out_dir: str, feed_dir: str) -> dict:
    import pyarrow.compute as pc

    from mysql_streamer_spark.connectors.avro_wire import avro_to_envelope
    from mysql_streamer_spark.connectors.manifest_sink import read_all_committed

    wire = read_all_committed(ctx.spark, out_dir)
    bytes_per_msg = wire.selectExpr("avg(length(value))").first()[0]
    got = avro_to_envelope(wire).toArrow()
    con = _duckdb(ctx, feed_dir)
    try:
        want = con.execute(
            "SELECT * EXCLUDE (timestamp), epoch_us(timestamp) AS ts_us FROM ("
            + _oracle_sql("cdc_envelope")
            + ")"
        ).arrow()
    finally:
        con.close()

    cols = sorted(set(got.column_names) - {"meta_ok"})
    checks = {
        "rows": got.num_rows,
        "oracle_rows": want.num_rows,
        "distinct_txn_order": pc.count_distinct(got["txn_order"]).as_py(),
        "meta_ok": pc.all(got["meta_ok"]).as_py() is not False,
        "bytes_per_msg": float(bytes_per_msg or 0.0),
    }
    same_rows = False
    if got.num_rows == want.num_rows and sorted(want.column_names) == cols:
        keys = [("txn_order", "ascending"), ("pk", "ascending")]
        a = got.select(cols).sort_by(keys)
        b = want.select(cols).cast(a.schema).sort_by(keys)
        same_rows = a.equals(b)
    checks["same_rows"] = same_rows
    checks["ok"] = (
        same_rows
        and checks["distinct_txn_order"] == checks["rows"]
        and checks["meta_ok"]
    )
    return checks


def canonical(rows: list[dict], columns: list[str]) -> list[str]:
    """Order-insensitive canonical form of a result: bit-exact floats, and
    int- and float-typed cells kept distinct. The same form as
    ``tools/check_correctness.normalize``, which lives in a script rather
    than an importable module."""
    out = []
    for row in rows:
        vals = []
        for name in sorted(columns):
            v = row[name]
            if hasattr(v, "item"):  # numpy scalar -> python
                v = v.item()
            if isinstance(v, float):
                v = "NaN" if math.isnan(v) else f"f:{v!r}"
            elif isinstance(v, int) and not isinstance(v, bool):
                v = f"i:{v}"
            vals.append(str(v))
        out.append("|".join(vals))
    return sorted(out)


def check_queries(ctx, specs, sf_dir: str, feed_dir: str) -> dict:
    import traceback

    con = _duckdb(ctx, feed_dir)
    mismatched, raised = [], []
    try:
        for spec in specs:
            try:
                got = spec.fn(ctx.spark, sf_dir).toPandas()
            except Exception:  # a raised query is a failed operation
                traceback.print_exc()
                raised.append(spec.name)
                continue
            finally:
                ctx.spark.catalog.clearCache()
            want = con.execute(spec.oracle).df()
            same = (
                sorted(got.columns) == sorted(want.columns)
                and len(got) == len(want)
                and canonical(got.to_dict("records"), list(got.columns))
                == canonical(want.to_dict("records"), list(want.columns))
            )
            if not same:
                mismatched.append(spec.name)
    finally:
        con.close()
    return {
        "queries": len(specs),
        "mismatched": mismatched,
        "raised": raised,
        "ok": not mismatched and not raised,
    }

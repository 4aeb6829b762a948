"""Round-7 regression tests: the three ADVICE fixes (curriculum
keep-rate filter parity, stateful-op dtype normalization, text-command
plan-time validation)."""

from __future__ import annotations

import pytest


# ---- curriculum_sample: unrounded-rate filter parity ------------------------


def test_curriculum_nonrepresentable_rate_matches_oracle(spark):
    """n_bands=3 keep rates (2/3, 1/3) need more than 6 decimal digits;
    the Spark filter must use the exact rate double (like the oracle's
    WHERE), not the 6-digit-rounded keep_rate column."""
    import duckdb

    from topnotch_spark.oracles import curriculum_sample_sql
    from topnotch_spark.operators.curation import curriculum_sample

    rows = [(i, "s" if i % 2 == 0 else "t", float((i * 37) % 100))
            for i in range(600)]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_chars double")
    got = {
        (r["doc_id"], r["band"], r["keep_rate"])
        for r in curriculum_sample(
            df, "doc_id", "n_chars", "source", n_bands=3
        ).collect()
    }

    import pandas as pd

    docs_pdf = pd.DataFrame(rows, columns=["doc_id", "source", "n_chars"])
    con = duckdb.connect()  # keep a live ref: .sql() is lazy
    con.register("documents", docs_pdf)
    want = {
        (doc_id, band, keep_rate)
        for doc_id, _, _, band, keep_rate in con.sql(
            curriculum_sample_sql(n_bands=3)
        ).fetchall()
    }
    assert got == want
    # and the reported keep_rate is still the rounded presentation value
    assert {kr for _, _, kr in got} <= {1.0, 0.666667, 0.333333}


# ---- stateful streaming ops: non-double value dtypes ------------------------


def _replay(spark, tmp_path, rows, schema):
    import os

    from topnotch_spark.streaming import stream_from_parquet

    batches = [rows[: len(rows) // 2], rows[len(rows) // 2:]]
    src = str(tmp_path / "replay")
    os.makedirs(src)
    for i, b in enumerate(batches):
        spark.createDataFrame(b, schema).coalesce(1).write.parquet(
            f"{src}/part{i}"
        )
    return stream_from_parquet(
        spark, f"{src}/part*", schema=schema, max_files_per_trigger=1
    )


def test_ewma_stream_decimal_value_column(spark, tmp_path):
    """A DecimalType value column reaches the pandas state fn as object
    dtype; the per-batch float64 normalization must coerce it so the
    math and the Arrow output both see doubles."""
    import datetime as dt
    from decimal import Decimal

    from topnotch_spark.operators.temporal import ewma_per_key
    from topnotch_spark.streaming import ewma_stream, run_stream_to_table

    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)
    schema = "event_id long, ts timestamp, user_id long, value decimal(10,4)"
    rows = [
        (i, t0 + dt.timedelta(seconds=i), 1, Decimal(f"{10 * (i % 4) + 3}.2500"))
        for i in range(10)
    ]
    stream = _replay(spark, tmp_path, rows, schema)
    got = {
        (r["event_id"], r["ewma"], r["value"])
        for r in run_stream_to_table(
            ewma_stream(stream), output_mode="append", state_partitions=2
        ).collect()
    }
    dbl = spark.createDataFrame(
        [(i, ts, u, float(v)) for i, ts, u, v in rows],
        "event_id long, ts timestamp, user_id long, value double",
    )
    expected = {
        (r["event_id"], r["ewma"], r["value"])
        for r in ewma_per_key(dbl, "user_id", "ts", "value", "event_id").collect()
    }
    assert got == expected


def test_anomaly_stream_float32_value_column(spark, tmp_path):
    """FloatType values must be upcast to float64 before the z-score
    math and the output frame (DoubleType schema)."""
    import datetime as dt

    from topnotch_spark.operators.temporal import rolling_zscore_anomalies
    from topnotch_spark.streaming import anomaly_stream, run_stream_to_table

    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)
    schema = "event_id long, ts timestamp, user_id long, value float"
    # exactly float32-representable values, one wild outlier late enough
    # that min_rows=12 is met and the window max-|z| bound allows a flag
    vals = [1.5, 2.5, 1.75, 2.25] * 4 + [1000.0] + [2.0, 1.5, 2.5]
    rows = [(i, t0 + dt.timedelta(seconds=i), 1, v) for i, v in enumerate(vals)]
    stream = _replay(spark, tmp_path, rows, schema)
    got = {
        (r["event_id"], r["zscore"], r["value"])
        for r in run_stream_to_table(
            anomaly_stream(stream), output_mode="append", state_partitions=2
        ).collect()
    }
    dbl = spark.createDataFrame(
        [(i, ts, u, float(v)) for i, ts, u, v in rows],
        "event_id long, ts timestamp, user_id long, value double",
    )
    expected = {
        (r["event_id"], r["zscore"], r["value"])
        for r in rolling_zscore_anomalies(
            dbl, "user_id", "ts", "value", "event_id"
        ).collect()
    }
    assert got == expected
    assert any(eid == 16 for eid, _, _ in got)  # the outlier is flagged


# ---- text command: plan-time validation --------------------------------------


def test_text_cmd_missing_required_params_fails_at_parse(spark):
    from topnotch_spark.plans.extensions import parse_extension

    def obj(method, **params):
        return {
            "command": "text",
            "input": {"ref": "x", "onDisk": False},
            "outputKey": "out",
            "params": {"method": method, "idColumn": "doc_id", **params},
        }

    with pytest.raises(ValueError, match="calibrateRanks.*orderCol"):
        parse_extension(obj("calibrateRanks", partitionCol="source"))
    with pytest.raises(ValueError, match="calibrateRanks.*partitionCol"):
        parse_extension(obj("calibrateRanks", orderCol="n_chars"))
    with pytest.raises(ValueError, match="oovRate.*partitionCol"):
        parse_extension(obj("oovRate", textColumn="text"))
    # well-formed plans still parse
    cmd = parse_extension(
        obj("calibrateRanks", orderCol="n_chars", partitionCol="source")
    )
    assert cmd.method == "calibrateRanks"
    cmd2 = parse_extension(obj("oovRate", partitionCol="source"))
    assert cmd2.method == "oovRate"

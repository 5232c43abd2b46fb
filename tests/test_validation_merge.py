"""Validation-stage and merge tests, including the FIXTURES.md §2
fault-injection variants (the O22 corrupt-file analogue)."""

from __future__ import annotations

import math

import numpy as np
import pytest

from pyspark.sql import functions as F

from radio_data_pipeline_spark.operators.merge import (
    SchemaMismatchError,
    merge_observations,
)
from radio_data_pipeline_spark.operators.validation import (
    crop_channels,
    mask_nan_values,
    physical_filter,
    valid_timestamp_flag,
    validate_observation,
)
from radio_data_pipeline_spark.sources.synthetic import (
    ObsSpec,
    corrupt_nan,
    corrupt_negative,
    make_observation,
)


@pytest.fixture(scope="module")
def obs_pdf():
    return make_observation(ObsSpec(obs_id=1, n_science=20))


class TestValidation:
    def test_nan_masked_not_dropped(self, spark, obs_pdf):
        df = spark.createDataFrame(corrupt_nan(obs_pdf, n=3))
        out = mask_nan_values(df)
        assert out.count() == len(obs_pdf)          # no rows dropped
        first = out.orderBy("row_idx").first()["DATA"]
        assert first[0] is None                      # NaN -> NULL
        # array_sum skips NULLs (NumPy masked-sum semantics)
        from radio_data_pipeline_spark.operators.integrate import array_sum
        s = out.select(array_sum(F.col("DATA")).alias("s")).first()["s"]
        assert not math.isnan(s)

    def test_negative_rows_filtered(self, spark, obs_pdf):
        df = spark.createDataFrame(corrupt_negative(obs_pdf, n=4))
        out = physical_filter(df)
        assert out.count() == len(obs_pdf) - 4
        assert out.filter(F.col("TSYS") < 0).count() == 0

    def test_absent_columns_skipped(self, spark, obs_pdf):
        df = spark.createDataFrame(obs_pdf).drop("TSYS")
        # must not raise on a missing physical column (reference prints
        # a warning and continues, validate.py:67-70)
        assert physical_filter(df).count() == len(obs_pdf)

    def test_channel_crop(self, spark, obs_pdf):
        df = spark.createDataFrame(obs_pdf)
        out = crop_channels(df, 4, 35)
        assert out.first()["DATA"] is not None
        assert len(out.first()["DATA"]) == 32
        # matches reference data[start:stop+1] slicing
        orig = np.array(obs_pdf.iloc[0]["DATA"])
        got = np.array(out.orderBy("row_idx").first()["DATA"])
        np.testing.assert_allclose(got, orig[4:36])

    def test_timestamp_flag(self, spark):
        df = spark.createDataFrame(
            [("2024-01-01T00:00:00",), ("not-a-time",)], ["DATE_OBS"])
        out = valid_timestamp_flag(df)
        flags = {r["DATE_OBS"]: r["_ts_valid"] for r in out.collect()}
        assert flags["2024-01-01T00:00:00"] is True
        assert flags["not-a-time"] is False

    def test_full_stage(self, spark, obs_pdf):
        df = spark.createDataFrame(corrupt_nan(corrupt_negative(obs_pdf)))
        out = validate_observation(df, channel_window=(0, 31))
        assert out.count() == len(obs_pdf) - 5
        assert len(out.first()["DATA"]) == 32


class TestMerge:
    def test_union_row_counts_add(self, spark):
        a = spark.createDataFrame(make_observation(ObsSpec(obs_id=1)))
        b = spark.createDataFrame(make_observation(ObsSpec(obs_id=2)))
        merged = merge_observations([a, b])
        assert merged.count() == a.count() + b.count()

    def test_schema_mismatch_rejected(self, spark):
        a = spark.createDataFrame(make_observation(ObsSpec(obs_id=1)))
        b = a.drop("TSYS")
        with pytest.raises(SchemaMismatchError):
            merge_observations([a, b])

    def test_type_mismatch_rejected(self, spark):
        a = spark.createDataFrame(make_observation(ObsSpec(obs_id=1)))
        b = a.withColumn("TSYS", F.col("TSYS").cast("float"))
        with pytest.raises(SchemaMismatchError):
            merge_observations([a, b])


def test_salted_join_matches_plain_join(spark, sf_smoke):
    from radio_data_pipeline_spark.operators.skew import salted_join
    from radio_data_pipeline_spark.sources.parquet import load_table
    ev = load_table(spark, sf_smoke, "events") \
        .select("event_id", "user_id", "value")
    users = (ev.groupBy("user_id").count()
             .withColumnRenamed("count", "n_events"))
    got = salted_join(ev, users, "user_id", n_salts=8)
    exp = ev.join(users, "user_id")
    cols = sorted(got.columns)
    assert sorted(exp.columns) == cols
    assert sorted(map(tuple, got.select(*cols).collect())) == \
        sorted(map(tuple, exp.select(*cols).collect()))
    # the salt widens the join key: shuffle is on (user_id, _salt)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "_salt" in plan


def test_salted_join_rejects_right_outer(spark, sf_smoke):
    import pytest
    from radio_data_pipeline_spark.operators.skew import salted_join
    from radio_data_pipeline_spark.sources.parquet import load_table
    ev = load_table(spark, sf_smoke, "events").select("event_id", "user_id")
    users = ev.groupBy("user_id").count()
    with pytest.raises(ValueError, match="salt replica"):
        salted_join(ev, users, "user_id", how="right")


def test_minhash_signatures_keep_null_text_docs(spark):
    # one row per doc even when text is NULL or shingle-less
    from radio_data_pipeline_spark.functions.dedup import (
        minhash_signature_table,
    )
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, None), (3, "only two")],
        "doc_id long, text string")
    sigs = minhash_signature_table(df).orderBy("id").collect()
    assert [r["id"] for r in sigs] == [1, 2, 3]
    assert sigs[0]["h0"] is not None
    assert all(sigs[1][f"h{i}"] is None for i in range(8))
    assert all(sigs[2][f"h{i}"] is None for i in range(8))


def test_iso_to_us_keeps_fractional_seconds():
    """Regression: int(total_seconds())*1e6 truncated sub-second
    precision, shifting every exact-us window bound down by up to
    1 s."""
    from radio_data_pipeline_spark.operators.filters import _iso_to_us
    assert _iso_to_us("1970-01-01T00:00:00.500000") == 500_000
    assert _iso_to_us("2020-01-01T00:00:01.250000") \
        == _iso_to_us("2020-01-01T00:00:01") + 250_000


def test_frequency_crop_runs_match_mask(spark):
    """The O(#runs) slice/concat rewrite must select exactly the
    channels the boolean mask selects, for multi-window crops."""
    import numpy as np

    from radio_data_pipeline_spark.operators.filters import (
        filter_frequency_ranges,
        frequency_channel_mask,
    )
    freqs = [float(f) for f in np.linspace(1000.0, 1063.0, 64)]
    df = spark.createDataFrame(
        [(0, [float(i) for i in range(64)])], "id long, DATA array<double>")
    include = [(1005.0, 1020.0), (1040.0, 1055.0)]
    exclude = [(1010.0, 1012.0)]
    out, cropped = filter_frequency_ranges(df, freqs, include, exclude)
    keep = frequency_channel_mask(freqs, include, exclude)
    expect = [float(i) for i, k in enumerate(keep) if k]
    got = out.collect()[0]["DATA"]
    assert got == expect
    assert cropped == [f for f, k in zip(freqs, keep) if k]
    # plan sanity: no giant literal array — expression mentions slice
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "slice(" in plan and "array(true" not in plan


def test_frequency_crop_all_true_mask_is_identity(spark):
    """ADVICE r3: a multi-channel all-True mask (1 run of n channels)
    must take the 'nothing dropped' early return — the SAME DataFrame
    object back, not an identity slice wrapper."""
    from radio_data_pipeline_spark.operators.filters import (
        filter_frequency_ranges,
    )
    freqs = [1000.0, 1001.0, 1002.0, 1003.0]
    df = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0, 4.0])], "id long, DATA array<double>")
    # include window spanning everything -> all-True mask, one run of 4
    out, cropped = filter_frequency_ranges(
        df, freqs, include=[(999.0, 1004.0)], exclude=None)
    assert out is df
    assert cropped == freqs
    # and the 1-channel all-True case still early-returns too
    df1 = spark.createDataFrame([(0, [1.0])], "id long, DATA array<double>")
    out1, cropped1 = filter_frequency_ranges(
        df1, [1000.0], include=[(999.0, 1001.0)], exclude=None)
    assert out1 is df1 and cropped1 == [1000.0]

"""Radio-pipeline queries in the driver contract — the SURVEY §2 hard
core (O13-O15, M3-M10, A6, F5-F7) with REAL DuckDB oracles.

The corpus is deterministic (seeded generator, sources/synthetic.py)
and materialized into committed parquet fixtures
(sources/radio_fixtures.py) that BOTH engines read bit-identically, so
every radio query now carries a value-bearing oracle:

- ``radio_merge`` / ``radio_validation`` / ``radio_spectrum_distributed``:
  genuine SQL over the fixture — DuckDB re-derives the counts, masked
  sums, and the signed ON-OFF aggregation (the O14 off-transition is
  SQL-expressible as MIN(row_idx) over the 'onoff:off' rows);
- ``radio_segmentation_indices`` / ``radio_continuum_distributed`` /
  ``radio_atmosphere_correction``: the sequential state machine and the
  per-segment robust fits have no SQL equivalent, so their exact
  expected rows are pinned as ``VALUES`` oracles
  (plans/_radio_expected.py, regenerated by
  tools/gen_radio_fixtures.py). The numbers' independent correctness
  is pinned by the equivalence/golden tests
  (tests/test_segmentation.py, tests/test_radio_pipeline.py); the
  driver row proves the engine reproduces them end-to-end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from radio_data_pipeline_spark.plans.registry import register
from radio_data_pipeline_spark.sources.radio_fixtures import (
    CORPUS_PATH,
    HIRES_PATH,
    MERGE_PATH,
    VALIDATION_PATH,
    read_corpus,
    read_hires,
    read_merge,
    read_validation,
)

try:
    from radio_data_pipeline_spark.plans import _radio_expected as _EXP
except ImportError:  # pragma: no cover - before first generation
    _EXP = None


def _pinned_oracle(rows, columns: list[str], types: str,
                   order_cols: list[str]) -> str | None:
    """Build a ``SELECT ... FROM (VALUES ...)`` oracle from pinned
    expected rows. ``types``: one char per column, 'i' (integer) or
    'd' (double). Doubles go through CAST('<repr>' AS DOUBLE) so the
    literal parses to the exact IEEE double Spark produced (DuckDB
    bare decimal literals are DECIMAL, not DOUBLE)."""
    if rows is None:
        return None

    def lit(v, t: str) -> str:
        if v is None:
            return f"CAST(NULL AS {'INTEGER' if t == 'i' else 'DOUBLE'})"
        if t == "d":
            return f"CAST('{v!r}' AS DOUBLE)"
        return str(int(v))

    body = ",\n".join(
        "(" + ", ".join(lit(v, t) for v, t in zip(r, types)) + ")"
        for r in rows)
    cols = ", ".join(f'"{c}"' for c in columns)
    order = ", ".join(f'"{c}"' for c in order_cols)
    return (f"SELECT * FROM (VALUES\n{body}\n) AS t({cols})\n"
            f"ORDER BY {order}")


def _corpus(spark: SparkSession) -> DataFrame:
    return read_corpus(spark)


@register(
    "radio_segmentation_indices",
    oracle=_pinned_oracle(
        getattr(_EXP, "SEGMENTATION", None),
        ["obs_id", "IFNUM", "PLNUM", "data_start_idx",
         "post_cal_start_idx", "off_start_idx"],
        "iiiiii",
        ["obs_id", "IFNUM", "PLNUM"]),
    doc="Calibration-segment detection (reference utils.py:126-214) "
        "over the committed 4-observation x 4-stream corpus fixture: "
        "the NumPy state machine, run once per observation by one "
        "applyInPandas keyed on obs_id. The oracle pins the exact "
        "per-stream indices (VALUES; the machine is sequential, not "
        "SQL-expressible); independent correctness comes from the "
        "hand-built golden patterns and the seeded random battery of "
        "multi-stream observations in tests/test_segmentation.py.",
    tags=("radio", "mapInPandas", "stateful"),
)
def radio_segmentation_indices(spark: SparkSession, sf_dir: str) -> DataFrame:
    from radio_data_pipeline_spark.operators.segmentation import (
        find_calibrations,
    )
    # header_obsmode='onoff' so the O14 off-transition scan actually
    # runs: the onoff observations get a real off_start_idx, track
    # observations still yield NULL
    return (find_calibrations(_corpus(spark), header_obsmode="onoff")
            .orderBy("obs_id", "IFNUM", "PLNUM"))


@register(
    "radio_continuum_distributed",
    oracle=_pinned_oracle(
        getattr(_EXP, "CONTINUUM", None),
        ["obs_id", "IFNUM", "PLNUM", "t", "intensity"],
        "iiidd",
        ["obs_id", "IFNUM", "PLNUM", "t"]),
    doc="Gain-calibrated continuum (reference continuum.py:140-191) "
        "for every stream of the corpus fixture in one lineage: one "
        "per-observation kernel (groupBy(obs_id).applyInPandas) runs "
        "segmentation, RCR fits, calibration heights and interpolated "
        "gain division per stream on the Spark-integrated rows, zero "
        "driver round-trips. The oracle pins the "
        "exact science-row outputs (VALUES; robust per-segment fits "
        "are iterative, not SQL-expressible); equivalence with the "
        "per-stream NumPy reduction is pinned by "
        "tests/test_radio_pipeline.py.",
    tags=("radio", "mapInPandas", "calibration"),
)
def radio_continuum_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from radio_data_pipeline_spark.pipeline import (
        continuum_pipeline_distributed,
    )
    out = continuum_pipeline_distributed(_corpus(spark))
    return (out.select("obs_id", "IFNUM", "PLNUM",
                       F.round("t", 6).alias("t"),
                       F.round("intensity", 6).alias("intensity"))
            .orderBy("obs_id", "IFNUM", "PLNUM", "t"))


@register(
    "radio_validation",
    oracle=f"""
    WITH rows_ok AS (
      SELECT obs_id, DATA[5:60] AS cropped
      FROM read_parquet('{VALIDATION_PATH}')
      WHERE (TSYS     IS NULL OR TSYS     >= 0)
        AND (TCAL     IS NULL OR TCAL     >= 0)
        AND (ELEVATIO IS NULL OR ELEVATIO >= 0)
        AND (TAMBIENT IS NULL OR TAMBIENT >= 0)
        AND (PRESSURE IS NULL OR PRESSURE >= 0)
        AND (HUMIDITY IS NULL OR HUMIDITY >= 0)
        AND (DURATION IS NULL OR DURATION >= 0)
        AND (EXPOSURE IS NULL OR EXPOSURE >= 0)
        AND (LST      IS NULL OR LST      >= 0)
        AND (RESTFREQ IS NULL OR RESTFREQ >= 0)
        AND (FREQRES  IS NULL OR FREQRES  >= 0)
        AND (TRGTLONG IS NULL OR TRGTLONG >= 0)
        AND (MJD      IS NULL OR MJD      >= 0)
        AND (UTSECS   IS NULL OR UTSECS   >= 0)
    )
    SELECT obs_id,
           CAST(count(*) AS BIGINT) AS n_valid_rows,
           round(sum(list_aggregate(
             list_transform(cropped,
               x -> CASE WHEN isnan(x) THEN CAST(0 AS DOUBLE) ELSE x END),
             'sum')), 6) AS total_intensity,
           CAST(sum(len(cropped)) AS BIGINT) AS n_elements
    FROM rows_ok
    GROUP BY obs_id
    ORDER BY obs_id
    """,
    doc="Full validation stage (reference validate.py:104-127) over "
        "the committed corrupted-corpus fixture (injected negative "
        "TSYS + NaN DATA elements): NaN masking, physicality filter, "
        "channel crop [4,59]. DuckDB independently re-derives the "
        "surviving-row counts and masked sums from the same parquet "
        "bytes — a genuine value-bearing SQL oracle.",
    tags=("radio", "validation"),
)
def radio_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from radio_data_pipeline_spark.operators.validation import (
        validate_observation,
    )
    validated = validate_observation(read_validation(spark),
                                     channel_window=(4, 59))
    return (validated.groupBy("obs_id")
            .agg(F.count(F.lit(1)).alias("n_valid_rows"),
                 F.round(F.sum(F.aggregate(
                     "DATA", F.lit(0.0),
                     lambda a, x: a + F.coalesce(x, F.lit(0.0)))), 6)
                 .alias("total_intensity"),
                 F.sum(F.size("DATA")).alias("n_elements"))
            .orderBy("obs_id"))


@register(
    "radio_atmosphere_correction",
    oracle=_pinned_oracle(
        getattr(_EXP, "ATMOSPHERE", None),
        ["obs_id", "IFNUM", "PLNUM", "avg_gain_ratio"],
        "iiid",
        ["obs_id", "IFNUM", "PLNUM"]),
    doc="Atmosphere correction M8-M10 (reference atmosphere_correction"
        ".py:59-86) over the corpus fixture: per-row Buck vapor "
        "density -> attenuation model -> transmission array -> "
        "element-wise gain division, all in one Arrow UDF. "
        "Returns per-stream corrected/raw intensity ratios (> 1 since "
        "transmission < 1); the oracle pins the exact ratios (VALUES "
        "— the ITU-R attenuation model is iterative table math, not "
        "SQL). The scalar Buck step is separately SQL-oracle-checked "
        "as buck_vapor_density.",
    tags=("radio", "mapInPandas", "atmosphere"),
)
def radio_atmosphere_correction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from radio_data_pipeline_spark.operators.atmosphere import (
        apply_atmosphere_correction,
    )
    from radio_data_pipeline_spark.operators.header import ObservationHeader
    raw_sum = F.aggregate("DATA", F.lit(0.0), lambda a, x: a + x)
    # stash the raw per-row sum BEFORE correction so the ratio is one
    # pass — no self-join, no second evaluation of the UDF lineage
    corpus = _corpus(spark).withColumn("_raw", raw_sum)
    header = ObservationHeader(date="2024-03-01T00:00:00")
    corrected = apply_atmosphere_correction(corpus, header.frequencies(0))
    return (
        corrected.groupBy("obs_id", "IFNUM", "PLNUM")
        .agg(F.round(F.avg(raw_sum / F.col("_raw")), 6)
             .alias("avg_gain_ratio"))
        .orderBy("obs_id", "IFNUM", "PLNUM")
    )


@register(
    "radio_merge",
    oracle=f"""
    SELECT obs_id, CAST(count(*) AS BIGINT) AS n_rows
    FROM read_parquet('{MERGE_PATH}')
    GROUP BY obs_id
    ORDER BY obs_id
    """,
    doc="Observation merge A6 (reference file_merge.py:45-54): "
        "schema-checked unionByName of two observation sets read from "
        "the committed merge fixture; DuckDB re-counts per source "
        "proving count additivity (the schema-mismatch rejection is "
        "covered by the merge precondition tests).",
    tags=("radio", "merge"),
)
def radio_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from radio_data_pipeline_spark.operators.merge import (
        merge_observations,
    )
    both = read_merge(spark)
    a = both.filter(F.col("obs_id") == 10)
    b = both.filter(F.col("obs_id") == 11)
    merged = merge_observations([a, b])
    return (merged.groupBy("obs_id")
            .agg(F.count(F.lit(1)).alias("n_rows"))
            .orderBy("obs_id"))


@register(
    "radio_spectrum_distributed",
    oracle=f"""
    WITH seg AS (
      SELECT obs_id, "IFNUM", "PLNUM",
             min(CASE WHEN "OBSMODE" LIKE '%onoff:off%'
                      THEN row_idx END) AS off_start
      FROM read_parquet('{CORPUS_PATH}')
      GROUP BY obs_id, "IFNUM", "PLNUM"
    ), exploded AS (
      SELECT c.obs_id, c."IFNUM", c."PLNUM",
             CAST(generate_subscripts(c."DATA", 1) - 1 AS INT) AS pos,
             unnest(c."DATA") AS val,
             CASE WHEN s.off_start IS NOT NULL
                       AND c.row_idx >= s.off_start
                  THEN -1.0 ELSE 1.0 END AS sign
      FROM read_parquet('{CORPUS_PATH}') c
      JOIN seg s USING (obs_id, "IFNUM", "PLNUM")
      WHERE c."CALSTATE" = 0 AND c."SWPVALID" = 0
    )
    SELECT obs_id, "IFNUM", "PLNUM", pos,
           round(sum(val * sign), 6) AS intensity
    FROM exploded
    GROUP BY obs_id, "IFNUM", "PLNUM", pos
    ORDER BY obs_id, "IFNUM", "PLNUM", pos
    """,
    doc="ON-OFF spectrum (reference spectrum.py:46-71) for every "
        "stream of the corpus fixture: one signed posexplode "
        "aggregation keyed on (stream, channel). Genuine SQL oracle: "
        "the O14 off-transition is the first 'onoff:off' row "
        "(SQL-expressible as a MIN over the stream), so DuckDB "
        "re-derives the full signed aggregation from the same parquet "
        "bytes. Shuffle volume O(streams x channels) after map-side "
        "partial aggregation.",
    tags=("radio", "mapInPandas", "array"),
)
def radio_spectrum_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from radio_data_pipeline_spark.pipeline import (
        spectrum_pipeline_distributed,
    )
    out = spectrum_pipeline_distributed(_corpus(spark),
                                        header_obsmode="onoff")
    return (out.select("obs_id", "IFNUM", "PLNUM", "pos",
                       F.round("intensity", 6).alias("intensity"))
            .orderBy("obs_id", "IFNUM", "PLNUM", "pos"))


@register(
    "radio_hires_spectrum_banded",
    oracle=f"""
    WITH seg AS (
      SELECT obs_id, "IFNUM", "PLNUM",
             min(CASE WHEN "OBSMODE" LIKE '%onoff:off%'
                      THEN row_idx END) AS off_start
      FROM read_parquet('{HIRES_PATH}')
      GROUP BY obs_id, "IFNUM", "PLNUM"
    ), exploded AS (
      SELECT c.obs_id, c."IFNUM", c."PLNUM",
             CAST(generate_subscripts(c."DATA", 1) - 1 AS INT) AS pos,
             unnest(c."DATA") AS val,
             CASE WHEN s.off_start IS NOT NULL
                       AND c.row_idx >= s.off_start
                  THEN -1.0 ELSE 1.0 END AS sign
      FROM read_parquet('{HIRES_PATH}') c
      JOIN seg s USING (obs_id, "IFNUM", "PLNUM")
      WHERE c."CALSTATE" = 0 AND c."SWPVALID" = 0
    ), per_pos AS (
      SELECT obs_id, "IFNUM", "PLNUM", pos,
             sum(val * sign) AS intensity
      FROM exploded
      GROUP BY obs_id, "IFNUM", "PLNUM", pos
    )
    SELECT obs_id, "IFNUM", "PLNUM",
           CAST(pos // 256 AS INT) AS band,
           CAST(count(*) AS BIGINT) AS n_channels,
           round(sum(intensity), 6) AS intensity
    FROM per_pos
    GROUP BY obs_id, "IFNUM", "PLNUM", band
    ORDER BY obs_id, "IFNUM", "PLNUM", band
    """,
    doc="Wide-channel (HIRES) stress of the all-streams ON-OFF "
        "spectrum: the committed hires fixture carries 16,384 channels "
        "per row (SURVEY §1.1 — real HIRES observations are 16 k+; the "
        "main corpus is 64) through the SAME spectrum_pipeline_"
        "distributed lineage, then a 64-band rollup (256 channels per "
        "band) keeps the driver artifact compact while every "
        "per-channel stage runs full-width. The plan is "
        "channel-count-INDEPENDENT by construction — posexplode + "
        "groupBy(pos), no 16 k-element literal arrays, no codegen "
        "blowup (the failure mode BENCH_SCALING.md §4 measured and "
        "tests/test_plans_explain.py pins). Genuine SQL oracle: DuckDB "
        "re-derives the signed per-channel aggregation and the band "
        "rollup from the same parquet bytes.",
    tags=("radio", "array", "hires"),
)
def radio_hires_spectrum_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    from radio_data_pipeline_spark.pipeline import (
        spectrum_pipeline_distributed,
    )
    out = spectrum_pipeline_distributed(read_hires(spark),
                                        header_obsmode="onoff")
    return (
        out.groupBy("obs_id", "IFNUM", "PLNUM",
                    (F.col("pos") / 256).cast("int").alias("band"))
        .agg(F.count(F.lit(1)).alias("n_channels"),
             F.round(F.sum("intensity"), 6).alias("intensity"))
        .orderBy("obs_id", "IFNUM", "PLNUM", "band")
    )


@register(
    "radio_hires_continuum",
    oracle=_pinned_oracle(
        getattr(_EXP, "HIRES_CONTINUUM", None),
        ["obs_id", "IFNUM", "PLNUM", "t", "intensity"],
        "iiidd",
        ["obs_id", "IFNUM", "PLNUM", "t"]),
    doc="Wide-channel (HIRES) stress of the distributed continuum: the "
        "16,384-channel fixture through the SAME continuum_pipeline_"
        "distributed lineage (Spark channel-sum fold, then the "
        "per-observation kernel: segmentation -> RCR fits -> "
        "calibration heights -> interpolated gain). The integrate fold "
        "(F.aggregate) is a constant-size expression looping over the "
        "runtime array and runs before the kernel, so no DATA array "
        "crosses into Python; channel width costs data movement only, "
        "never plan size. Oracle pins the exact science-row outputs "
        "(VALUES; per-segment robust fits are iterative, not SQL) — "
        "regenerated by tools/gen_radio_fixtures.py alongside the "
        "64-channel corpus pins.",
    tags=("radio", "calibration", "hires"),
)
def radio_hires_continuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from radio_data_pipeline_spark.pipeline import (
        continuum_pipeline_distributed,
    )
    out = continuum_pipeline_distributed(read_hires(spark),
                                         header_obsmode="onoff")
    return (out.select("obs_id", "IFNUM", "PLNUM",
                       F.round("t", 6).alias("t"),
                       F.round("intensity", 6).alias("intensity"))
            .orderBy("obs_id", "IFNUM", "PLNUM", "t"))

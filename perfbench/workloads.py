"""The benchmark's workloads. Each one writes its inputs at set-up,
runs one op at a time in a closed loop with a single client, and
checks every op's products against the NumPy reduction in inputs.py.

An op has three forms:
- ``run_op``: the reduction as a user writes it (timed, untraced);
- ``trace_pipeline``: the same calls with spans around the pipeline
  call and the collection of its products;
- ``trace_layers``: the same reduction taken apart by layer, each
  layer's public function called on an input materialized with
  ``localCheckpoint(eager=True)`` so its span holds only its own work.
Layers an op does not use are timed under a separate ``probe`` root
span, so every layer has a span on every workload.
"""

from __future__ import annotations

import json
import os
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from radio_data_pipeline_spark.operators.atmosphere import (
    apply_atmosphere_correction,
)
from radio_data_pipeline_spark.operators.calibration import (
    apply_gain_calibration,
    apply_gain_calibration_distributed,
    calibration_height,
    calibration_heights_df,
    rcr_fit_segments,
)
from radio_data_pipeline_spark.operators.filters import select_stream
from radio_data_pipeline_spark.operators.header import ObservationHeader
from radio_data_pipeline_spark.operators.integrate import (
    array_sum,
    integrate_continuum,
    integrate_spectrum,
    on_off_spectrum,
)
from radio_data_pipeline_spark.operators.segmentation import (
    find_calibrations,
    find_calibrations_compiled,
    find_calibrations_hybrid,
    label_segments,
)
from radio_data_pipeline_spark.operators.validation import (
    validate_observation,
)
from radio_data_pipeline_spark.pipeline import (
    continuum_pipeline_distributed,
    reduce_sdfits,
    spectrum_pipeline_distributed,
)
from radio_data_pipeline_spark.sources.fits import (
    read_sdfits,
    read_sdfits_headers,
)

from perfbench import inputs

STREAM_COLS = ["obs_id", "IFNUM", "PLNUM"]
CAL_ROWS = F.col("segment").isin("pre_cal", "post_cal") & (F.col("SWPVALID") == 0)
SPECTRUM_ROWS = (F.col("CALSTATE") == 0) & (F.col("SWPVALID") == 0)
CONT_RTOL = 1e-7     # robust fits: same kernel, rows in another order
SPEC_RTOL = 1e-9     # plain sums in another order
ATOL = 1e-9


@dataclass
class Size:
    n_obs: int = 0          # corpus observations (one file each)
    n_broken: int = 0       # corpus files with the END card dropped
    n_files: int = 0        # HIRES files
    n_channels: int = 64
    warmup_ops: int = 1


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def _frames_equal(got: pd.DataFrame, ref: pd.DataFrame, keys: list[str],
                  values: list[str], rtol: float) -> bool:
    if len(got) != len(ref):
        return False
    got = got.sort_values(keys).reset_index(drop=True)
    if not (got[keys].to_numpy() == ref[keys].to_numpy()).all():
        return False
    return all(np.allclose(got[v].to_numpy(dtype=float),
                           ref[v].to_numpy(dtype=float),
                           rtol=rtol, atol=ATOL) for v in values)


def _sign_data(labeled):
    """DATA negated on rows labeled 'off' (the ON-OFF subtraction as
    an element-wise sign, so a plain spectrum sum gives ON - OFF)."""
    sign = F.when(F.col("onoff") == "off", F.lit(-1.0)).otherwise(F.lit(1.0))
    return labeled.withColumn("DATA", F.transform("DATA", lambda x: x * sign))


class Workload:
    name = ""
    obs_per_op = 1

    def __init__(self, spark, work_dir: str, seed: int, size: Size):
        self.spark = spark
        self.dir = os.path.join(work_dir, self.name)
        self.seed = seed
        self.size = size

    def setup(self) -> None:
        raise NotImplementedError

    def warm_up(self) -> None:
        """Untimed, checked ops that compile the plans' generated code,
        start the Python workers and let the JVM compile the hot paths,
        so timed ops run at steady state. They run two at a time: one
        op leaves cores idle, and the JIT counts calls, not time."""
        with ThreadPoolExecutor(2) as pool:
            outs = list(pool.map(self.run_op, range(self.size.warmup_ops)))
        if not all(self.check(o) for o in outs):
            raise RuntimeError(f"{self.name}: warm-up op is wrong")

    def run_op(self, i: int):
        raise NotImplementedError

    def check(self, products) -> bool:
        raise NotImplementedError

    def trace_pipeline(self, tracer, i: int):
        raise NotImplementedError

    def trace_layers(self, tracer, i: int):
        raise NotImplementedError


class Corpus(Workload):
    """A directory of observation files reduced in one op:
    read_sdfits -> validate_observation -> continuum_pipeline_
    distributed + spectrum_pipeline_distributed, both collected."""
    faulty = False

    def setup(self) -> None:
        s, t_gen = self.size, time.perf_counter()
        self.obs = inputs.write_corpus(self.dir, self.seed, s.n_obs,
                                       self.faulty, s.n_broken)
        self.obs_per_op = len(self.obs)
        self.window = (0, s.n_channels - 1)
        self.mode = "permissive" if self.faulty else "failfast"
        names = {os.path.basename(o.path): o for o in self.obs}
        # obs_id -> file, as the reader assigns it
        ids = self._scan(self.dir).select("path", "obs_id").distinct() \
            .collect()
        self.file_of = {r["obs_id"]: os.path.basename(r["path"]) for r in ids}
        if sorted(self.file_of.values()) != sorted(names):
            raise RuntimeError(f"{self.name}: scan does not list the corpus")
        cont, spec = [], []
        for name, o in names.items():
            for (ifnum, plnum), (t, y) in o.continuum.items():
                cont.append(pd.DataFrame({"file": name, "IFNUM": ifnum,
                                          "PLNUM": plnum, "t": t,
                                          "intensity": y}))
            for (ifnum, plnum), y in o.spectrum.items():
                spec.append(pd.DataFrame({"file": name, "IFNUM": ifnum,
                                          "PLNUM": plnum,
                                          "pos": np.arange(len(y)),
                                          "intensity": y}))
        self.ref_cont = pd.concat(cont).sort_values(
            ["file", "IFNUM", "PLNUM", "t"]).reset_index(drop=True)
        self.ref_spec = pd.concat(spec).sort_values(
            ["file", "IFNUM", "PLNUM", "pos"]).reset_index(drop=True)
        t0 = time.perf_counter()
        self.warm_up()
        log(f"{self.name}: inputs {t0 - t_gen:.2f} s, warm-up "
            f"{time.perf_counter() - t0:.2f} s")

    def _scan(self, path: str):
        raw = read_sdfits(self.spark, path, mode=self.mode)
        if self.faulty:
            raw = raw.filter(F.col("corrupt_error").isNull())
        return raw

    def _reduce(self, path: str):
        validated = validate_observation(self._scan(path),
                                         channel_window=self.window)
        return (continuum_pipeline_distributed(validated,
                                               header_obsmode="onoff"),
                spectrum_pipeline_distributed(validated,
                                              header_obsmode="onoff"))

    def run_op(self, i: int):
        cont, spec = self._reduce(self.dir)
        return cont.toPandas(), spec.toPandas()

    def check(self, products) -> bool:
        cont, spec = products
        cont = cont.assign(file=cont["obs_id"].map(self.file_of))
        spec = spec.assign(file=spec["obs_id"].map(self.file_of))
        return (_frames_equal(cont, self.ref_cont,
                              ["file", "IFNUM", "PLNUM", "t"],
                              ["intensity"], CONT_RTOL)
                and _frames_equal(spec, self.ref_spec,
                                  ["file", "IFNUM", "PLNUM", "pos"],
                                  ["intensity"], SPEC_RTOL))

    def trace_pipeline(self, tracer, i: int):
        with tracer.span("op", i):
            with tracer.span("pipeline.reduce_call", i):
                cont, spec = self._reduce(self.dir)
            with tracer.span("pipeline.collect", i):
                return cont.toPandas(), spec.toPandas()

    def trace_layers(self, tracer, i: int):
        sp, span = self.spark, tracer.span
        with span("op", i):
            with span("fits.scan", i):
                raw = read_sdfits(sp, self.dir, mode=self.mode) \
                    .localCheckpoint(eager=True)
            good = raw.filter(F.col("corrupt_error").isNull())
            with span("validation", i):
                val = validate_observation(good, channel_window=self.window) \
                    .localCheckpoint(eager=True)
            with span("segmentation", i):
                idx = find_calibrations_hybrid(val, header_obsmode="onoff") \
                    .localCheckpoint(eager=True)
                labeled = label_segments(val, idx).localCheckpoint(eager=True)
            with span("integrate.continuum", i):
                cal_cont = integrate_continuum(
                    labeled.filter(CAL_ROWS),
                    keep_cols=[*STREAM_COLS, "segment", "CALSTATE"]) \
                    .localCheckpoint(eager=True)
                science = integrate_continuum(
                    labeled.filter(F.col("segment") == "science"),
                    keep_cols=STREAM_COLS).localCheckpoint(eager=True)
            with span("calibration.fit", i):
                fits = rcr_fit_segments(cal_cont).localCheckpoint(eager=True)
            with span("calibration.gain", i):
                cont = apply_gain_calibration_distributed(
                    science, calibration_heights_df(fits)) \
                    .localCheckpoint(eager=True)
            with span("integrate.spectrum", i):
                spec = integrate_spectrum(
                    _sign_data(labeled.filter(SPECTRUM_ROWS)),
                    group_cols=STREAM_COLS).localCheckpoint(eager=True)
            with span("collect", i):
                products = cont.toPandas(), spec.toPandas()
        with span("probe", i):
            with span("fits.header", i):
                read_sdfits_headers(
                    sp, os.path.join(self.dir, "obs*.fits")).collect()
            with span("atmosphere", i):
                atm = apply_atmosphere_correction(
                    val, inputs.frequency_axis(self.obs[0])) \
                    .localCheckpoint(eager=True)
        compiled = find_calibrations_compiled(val, header_obsmode="onoff") \
            .localCheckpoint(eager=True)
        files = os.listdir(self.dir)
        rows_out = good.count()
        for name, value in {
            "fits.files": len(files),
            "fits.bytes": sum(os.path.getsize(os.path.join(self.dir, f))
                              for f in files),
            "fits.rows_out": rows_out,
            "fits.quarantined_files": raw.filter("row_idx = -1").count(),
            "validation.rows_in": rows_out,
            "validation.rows_out": val.count(),
            "segmentation.streams": compiled.count(),
            "segmentation.python_streams":
                compiled.filter(~F.col("_eligible")).count(),
            "calibration.segments_fit":
                fits.filter(F.col("intercept").isNotNull()).count(),
            "integrate.spectrum_rows": len(products[1]),
            "atmosphere.channel_values":
                atm.select(F.sum(F.size("DATA"))).first()[0],
        }.items():
            tracer.add(i, name, value)
        return products


class CorpusClean(Corpus):
    name = "corpus_clean"


class CorpusFaulty(Corpus):
    name = "corpus_faulty"
    faulty = True


class Hires(Workload):
    """Single-observation HIRES files, each reduced on its own with
    reduce_sdfits as the reference main.py does: collect continuum and
    spectrum, and the atmosphere correction of the validated rows on
    the header's frequency axis. One op reduces every file of the set
    one after the other (one file at full size, so an op is the
    latency of one file)."""
    name = "sdfits_hires"

    def setup(self) -> None:
        s, t_gen = self.size, time.perf_counter()
        self.files = inputs.write_hires(self.dir, self.seed, s.n_files,
                                        s.n_channels)
        self.obs_per_op = len(self.files)
        t0 = time.perf_counter()
        self.warm_up()
        log(f"{self.name}: inputs {t0 - t_gen:.2f} s, warm-up "
            f"{time.perf_counter() - t0:.2f} s")

    def _collect(self, o, prod):
        cont = prod["continuum"].toPandas()
        spec = prod["spectrum"].toPandas()
        atm = apply_atmosphere_correction(
            prod["validated"], spec["frequency"].tolist())
        sums = atm.select("IFNUM", "PLNUM", "row_idx",
                          array_sum(F.col("DATA")).alias("sum")).toPandas()
        return o, cont, spec, sums

    def _reduce_file(self, o):
        return self._collect(o, reduce_sdfits(self.spark, o.path))

    def run_op(self, i: int):
        return [self._reduce_file(o) for o in self.files]

    def check(self, products) -> bool:
        return len(products) == len(self.files) \
            and all(self._check_file(p) for p in products)

    def _check_file(self, products) -> bool:
        o, cont, spec, sums = products
        t, y = o.continuum[(0, 0)]
        ref_spec = o.spectrum[(0, 0)]
        ref_cont = pd.DataFrame({"t": t, "intensity": y})
        ref_spec = pd.DataFrame({"pos": np.arange(len(ref_spec)),
                                 "frequency": inputs.frequency_axis(o),
                                 "intensity": ref_spec})
        keys = ["IFNUM", "PLNUM", "row_idx"]
        return (_frames_equal(cont, ref_cont, ["t"], ["intensity"],
                              CONT_RTOL)
                and _frames_equal(spec, ref_spec, ["pos"],
                                  ["frequency", "intensity"], SPEC_RTOL)
                and _frames_equal(sums, o.atmosphere.sort_values(keys)
                                  .reset_index(drop=True), keys, ["sum"],
                                  SPEC_RTOL))

    def trace_pipeline(self, tracer, i: int):
        out = []
        with tracer.span("op", i):
            for o in self.files:
                with tracer.span("pipeline.reduce_call", i):
                    prod = reduce_sdfits(self.spark, o.path)
                with tracer.span("pipeline.collect", i):
                    out.append(self._collect(o, prod))
        return out

    def trace_layers(self, tracer, i: int):
        with tracer.span("op", i):
            return [self._trace_file(tracer, i, o) for o in self.files]

    def _trace_file(self, tracer, i: int, o):
        sp, span = self.spark, tracer.span
        with span("fits.header", i):
            row = read_sdfits_headers(sp, o.path).collect()[0]
            header = ObservationHeader.from_fits(
                json.loads(row["header_json"]),
                json.loads(row["history_json"]))
        with span("fits.scan", i):
            raw = read_sdfits(sp, o.path).localCheckpoint(eager=True)
        with span("validation", i):
            val = validate_observation(
                raw, channel_window=header.channel_window) \
                .localCheckpoint(eager=True)
        stream = select_stream(val, 0, 0)
        with span("segmentation", i):
            cc = val.agg(F.countDistinct("IFNUM")
                         * F.countDistinct("PLNUM")).first()[0]
            idx = find_calibrations(stream, channel_count=cc,
                                    header_obsmode=header.obsmode)
            labeled = label_segments(stream, idx) \
                .localCheckpoint(eager=True)
        with span("integrate.continuum", i):
            cal_cont = integrate_continuum(
                labeled.filter(CAL_ROWS), epoch_ts=header.date,
                keep_cols=[*STREAM_COLS, "segment", "CALSTATE"]) \
                .localCheckpoint(eager=True)
            science = integrate_continuum(
                labeled.filter(F.col("segment") == "science"),
                epoch_ts=header.date, keep_cols=["obs_id"]) \
                .localCheckpoint(eager=True)
        with span("calibration.fit", i):
            fits = rcr_fit_segments(cal_cont).toPandas()
        with span("calibration.gain", i):
            cont = apply_gain_calibration(
                science,
                calibration_height(fits[fits["segment"] == "pre_cal"]),
                calibration_height(fits[fits["segment"] == "post_cal"])) \
                .localCheckpoint(eager=True)
        with span("integrate.spectrum", i):
            rows = stream.filter(SPECTRUM_ROWS)
            spec = (on_off_spectrum(rows, ~F.col("OBSMODE")
                                    .contains("onoff:off"))
                    if header.obsmode == "onoff"
                    else integrate_spectrum(rows)) \
                .localCheckpoint(eager=True)
        freqs = header.frequencies(0)
        with span("atmosphere", i):
            atm = apply_atmosphere_correction(val, freqs) \
                .localCheckpoint(eager=True)
        with span("collect", i):
            cont_pdf = cont.toPandas()
            spec_pdf = spec.toPandas()
            spec_pdf["frequency"] = np.asarray(freqs)[spec_pdf["pos"]]
            sums = atm.select("IFNUM", "PLNUM", "row_idx",
                              array_sum(F.col("DATA")).alias("sum")) \
                .toPandas()
        n_rows, streams = raw.count(), idx.count()
        for name, value in {
            "fits.files": 1,
            "fits.bytes": os.path.getsize(o.path),
            "fits.rows_out": n_rows,
            "fits.quarantined_files": 0,
            "validation.rows_in": n_rows,
            "validation.rows_out": val.count(),
            "segmentation.streams": streams,
            "segmentation.python_streams": streams,
            "calibration.segments_fit": int(fits["intercept"].notna().sum()),
            "integrate.spectrum_rows": len(spec_pdf),
            "atmosphere.channel_values":
                atm.select(F.sum(F.size("DATA"))).first()[0],
        }.items():
            tracer.add(i, name, value)
        return o, cont_pdf, spec_pdf, sums


WORKLOADS = {w.name: w for w in (CorpusClean, CorpusFaulty, Hires)}

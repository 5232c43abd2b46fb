"""O13/O14 state-machine tests: the pure-Python kernel against
hand-built patterns (golden semantics from utils.py:126-214), and the
Spark applyInPandas wrapper against the synthetic observation
fixtures."""

from __future__ import annotations

import numpy as np
import pytest

import pandas as pd

from radio_data_pipeline_spark.operators.segmentation import (
    find_calibration_indices,
    find_calibrations,
    find_calibrations_compiled,
    find_calibrations_hybrid,
)
from radio_data_pipeline_spark.sources.synthetic import (
    ObsSpec,
    make_observation,
)


def _stream_df(spark, cal, swp, modes=None, obs_id=1):
    n = len(cal)
    pdf = pd.DataFrame({
        "obs_id": [obs_id] * n, "IFNUM": [0] * n, "PLNUM": [0] * n,
        "row_idx": list(range(n)), "CALSTATE": list(cal),
        "SWPVALID": list(swp),
        "OBSMODE": modes if modes is not None else [""] * n,
    })
    return spark.createDataFrame(pdf)


def _run(cal, swp, modes=None, header="track", cc=1):
    return find_calibration_indices(
        np.array(cal), np.array(swp),
        modes if modes is not None else [""] * len(cal), header, cc)


class TestKernel:
    def test_standard_pattern(self):
        #        pre-on       pre-off      science                post-off     post-on
        cal = [1, 1, 1, 1] + [0, 0, 0, 0] + [0] * 8 + [0, 0] + [1, 1]
        swp = [0, 0, 0, 0] + [0, 0, 0, 0] + [1] * 8 + [0, 0] + [0, 0]
        ds, pc, off = _run(cal, swp)
        assert ds == 8                   # first CALSTATE=0 & SWPVALID=1
        assert pc == 16                  # start of trailing SWPVALID=0 run
        assert off is None

    def test_blip_does_not_end_science(self):
        # a single invalid row inside science (after >3 valid rows so
        # the discard counter does not fire) must NOT set post-cal
        cal = [1, 1] + [0, 0] + [0] * 4 + [0] + [0] * 3 + [0, 0] + [1]
        swp = [0, 0] + [0, 0] + [1] * 4 + [0] + [1] * 3 + [0, 0] + [0]
        ds, pc, off = _run(cal, swp)
        assert ds == 4
        assert pc == 12                  # the >=2-run, not the blip at 8

    def test_no_pre_cal_fallback(self):
        # no diode spike at all -> science starts at 0 (utils.py:180-182)
        cal = [0] * 10 + [0, 0]
        swp = [1] * 10 + [0, 0]
        ds, pc, off = _run(cal, swp)
        assert ds == 0
        assert pc == 10

    def test_no_post_cal_defaults_to_last(self):
        cal = [1, 1] + [0, 0] + [0] * 6
        swp = [0, 0] + [0, 0] + [1] * 6
        ds, pc, off = _run(cal, swp)
        assert ds == 4
        assert pc == len(cal) - 1        # utils.py:200-201 default

    def test_false_start_discarded(self):
        # <= 3*channel_count valid rows then sweep drop: segment
        # discarded, real segment found later (utils.py:166-173)
        cal = [1, 1] + [0, 0] + [0, 0] + [0] + [0] * 8 + [0, 0] + [1]
        swp = [0, 0] + [0, 0] + [1, 1] + [0] + [1] * 8 + [0, 0] + [0]
        ds, pc, off = _run(cal, swp, cc=1)
        assert ds == 7                   # re-detected after the false start
        assert pc == 15

    def test_data_start_at_zero_is_kept(self):
        # documented divergence from the reference's falsy-index check
        # (utils.py:171 `and data_start_ind`): a legitimate data start
        # at index 0 with a later short sweep-drop is still discarded
        # by the counter in the reference ONLY when the index is
        # nonzero; we apply the discard uniformly (explicit None
        # check). Here: cal spike at row 0? No — cal_started requires
        # CALSTATE=1 first, so index 0 can only be a data start via
        # the fallback path, which never discards.
        cal = [0] * 6 + [0, 0]
        swp = [1] * 6 + [0, 0]
        ds, pc, off = _run(cal, swp)
        assert ds == 0
        assert pc == 6

    def test_onoff_transition(self):
        cal = [1] + [0] + [0] * 6
        swp = [0] + [0] + [1] * 6
        modes = ["onoff:on"] * 5 + ["onoff:off"] * 3
        ds, pc, off = _run(cal, swp, modes, header="onoff")
        assert off == 5

    def test_break_at_next_cal_spike(self):
        # rows after the next cal spike must not affect post-cal
        cal = [1, 1] + [0, 0] + [0] * 6 + [0, 0] + [1, 1] + [0] * 5
        swp = [0, 0] + [0, 0] + [1] * 6 + [0, 0] + [0, 0] + [1] * 5
        ds, pc, off = _run(cal, swp)
        assert ds == 4
        assert pc == 10


class TestCompiled:
    """find_calibrations_compiled: the machine's indices on every
    stream, and `_eligible` false exactly where the scan restarted after
    a false start or fell back to the no-spike rescan."""

    def _compiled_row(self, spark, cal, swp, modes=None, header="track",
                      cc=1):
        df = _stream_df(spark, cal, swp, modes)
        rows = find_calibrations_compiled(
            df, channel_count=cc, header_obsmode=header).collect()
        assert len(rows) == 1
        return rows[0]

    def test_standard_pattern_matches_kernel(self, spark):
        cal = [1, 1, 1, 1] + [0, 0, 0, 0] + [0] * 8 + [0, 0] + [1, 1]
        swp = [0, 0, 0, 0] + [0, 0, 0, 0] + [1] * 8 + [0, 0] + [0, 0]
        r = self._compiled_row(spark, cal, swp)
        assert r._eligible
        assert (r.data_start_idx, r.post_cal_start_idx) == (8, 16)

    def test_blip_pattern_matches_kernel(self, spark):
        cal = [1, 1] + [0, 0] + [0] * 4 + [0] + [0] * 3 + [0, 0] + [1]
        swp = [0, 0] + [0, 0] + [1] * 4 + [0] + [1] * 3 + [0, 0] + [0]
        r = self._compiled_row(spark, cal, swp)
        assert r._eligible
        assert (r.data_start_idx, r.post_cal_start_idx) == (4, 12)

    def test_no_post_cal_defaults_to_last(self, spark):
        cal = [1, 1] + [0, 0] + [0] * 6
        swp = [0, 0] + [0, 0] + [1] * 6
        r = self._compiled_row(spark, cal, swp)
        assert r._eligible
        assert (r.data_start_idx, r.post_cal_start_idx) == (4, len(cal) - 1)

    def test_break_at_next_cal_spike(self, spark):
        cal = [1, 1] + [0, 0] + [0] * 6 + [0, 0] + [1, 1] + [0] * 5
        swp = [0, 0] + [0, 0] + [1] * 6 + [0, 0] + [0, 0] + [1] * 5
        r = self._compiled_row(spark, cal, swp)
        assert r._eligible
        assert (r.data_start_idx, r.post_cal_start_idx) == (4, 10)

    def test_onoff_transition(self, spark):
        cal = [1] + [0] + [0] * 6
        swp = [0] + [0] + [1] * 6
        modes = ["onoff:on"] * 5 + ["onoff:off"] * 3
        r = self._compiled_row(spark, cal, swp, modes, header="onoff")
        assert r.off_start_idx == 5

    def test_false_start_is_ineligible(self, spark):
        # the discard counter CAN fire here -> the compiled path must
        # declare itself ineligible, not guess
        cal = [1, 1] + [0, 0] + [0, 0] + [0] + [0] * 8 + [0, 0] + [1]
        swp = [0, 0] + [0, 0] + [1, 1] + [0] + [1] * 8 + [0, 0] + [0]
        r = self._compiled_row(spark, cal, swp, cc=1)
        assert not r._eligible

    def test_no_spike_fallback_is_ineligible(self, spark):
        cal = [0] * 10 + [0, 0]
        swp = [1] * 10 + [0, 0]
        r = self._compiled_row(spark, cal, swp)
        assert not r._eligible

    def test_hybrid_equals_python_machine_randomized(self, spark):
        # randomized battery across every regime (clean, false-start,
        # no-spike) — hybrid must equal the Python machine exactly on
        # every stream, and compiled's _eligible must flag exactly the
        # streams whose scan accepted the first post-spike science row
        # (no false-start restart, no rescan fallback). Observations
        # 24+ carry 2-4 streams, some with a missing (IFNUM, PLNUM)
        # combination, so channel_count=None must be each
        # observation's distinct-IFNUM x distinct-PLNUM product.
        rng = np.random.default_rng(7)

        def random_stream():
            segs = []
            # random segment soup biased to produce all regimes
            if rng.random() < 0.8:
                segs += [(1, 0)] * int(rng.integers(1, 4))   # pre-cal on
                segs += [(0, 0)] * int(rng.integers(1, 3))   # pre-cal off
            for _ in range(int(rng.integers(1, 4))):
                segs += [(0, 1)] * int(rng.integers(1, 8))   # science
                if rng.random() < 0.6:
                    segs += [(0, 0)] * int(rng.integers(1, 3))  # drop
            if rng.random() < 0.6:
                segs += [(1, 0)] * int(rng.integers(1, 3))   # post spike
            return [c for c, _ in segs], [s for _, s in segs]

        def first_science_accepted(cal, swp, ds):
            started = False
            for i, (c, s) in enumerate(zip(cal, swp)):
                started = started or c == 1
                if started and c == 0 and s == 1:
                    return ds == i
            return False

        combos = [(0, 0), (0, 1), (1, 0), (1, 1)]
        stream_sets = [[(0, 0)]] * 24 + [combos[:3], [(0, 0), (1, 1)]]
        layout = np.random.default_rng(11)
        for _ in range(22):
            picks = layout.choice(4, size=int(layout.integers(2, 5)),
                                  replace=False)
            stream_sets.append([combos[k] for k in sorted(picks)])
        frames = []
        expected = {}
        expected_eligible = {}
        for obs, streams in enumerate(stream_sets):
            cc = (len({i for i, _ in streams})
                  * len({p for _, p in streams}))
            for ifnum, plnum in streams:
                cal, swp = random_stream()
                modes = [""] * len(cal)
                ds, pc, off = find_calibration_indices(
                    np.array(cal), np.array(swp), modes, "track", cc)
                key = (obs, ifnum, plnum)
                expected[key] = (ds, pc, off)
                expected_eligible[key] = first_science_accepted(cal, swp, ds)
                frames.append(pd.DataFrame({
                    "obs_id": obs, "IFNUM": ifnum, "PLNUM": plnum,
                    "row_idx": range(len(cal)), "CALSTATE": cal,
                    "SWPVALID": swp, "OBSMODE": modes,
                }))
        assert 0 < sum(expected_eligible.values()) < len(expected_eligible)
        df = spark.createDataFrame(pd.concat(frames, ignore_index=True))
        got = {(r.obs_id, r.IFNUM, r.PLNUM):
               (r.data_start_idx, r.post_cal_start_idx, r.off_start_idx)
               for r in find_calibrations_hybrid(df).collect()}
        assert got == expected
        eligible = {(r.obs_id, r.IFNUM, r.PLNUM): r._eligible
                    for r in find_calibrations_compiled(df).collect()}
        assert eligible == expected_eligible

    def test_adapters_start_no_spark_job(self, spark):
        # a reduction call builds a plan; only an action runs a job
        # (no hidden checkpoint or count on the call itself)
        df = _stream_df(spark, [1, 0, 0, 0], [0, 0, 1, 1])
        sc = spark.sparkContext
        group = "segmentation-laziness-guard"
        sc.setJobGroup(group, group)
        try:
            find_calibrations_hybrid(df)
            find_calibrations_compiled(df)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == 0


class TestSparkWrapper:
    @pytest.fixture(scope="class")
    def obs_df(self, spark):
        pdf = make_observation(ObsSpec(obs_id=1, n_science=40))
        return spark.createDataFrame(pdf)

    def test_indices_match_kernel(self, spark, obs_df):
        result = find_calibrations(obs_df, channel_count=1).collect()
        assert len(result) == 1
        row = result[0]
        pdf = make_observation(ObsSpec(obs_id=1, n_science=40))
        ds, pc, off = find_calibration_indices(
            pdf["CALSTATE"].to_numpy(), pdf["SWPVALID"].to_numpy(),
            pdf["OBSMODE"].tolist(), "track", 1)
        assert row.data_start_idx == ds
        assert row.post_cal_start_idx == pc

    def test_multi_stream(self, spark):
        from radio_data_pipeline_spark.sources.synthetic import (
            make_observation_set,
        )
        pdf = make_observation_set([ObsSpec(obs_id=i) for i in (1, 2)])
        df = spark.createDataFrame(pdf)
        result = find_calibrations(df).collect()
        # 2 obs x 2 IFNUM x 2 PLNUM
        assert len(result) == 8
        for row in result:
            assert row.data_start_idx == 16    # 8 diode-on + 8 diode-off
            assert row.post_cal_start_idx > row.data_start_idx

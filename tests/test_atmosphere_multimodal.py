"""Atmosphere-correction (M8-M10) and multimodal-plumbing tests."""

from __future__ import annotations

import math

import numpy as np
import pytest

from pyspark.sql import functions as F

from radio_data_pipeline_spark.operators.atmosphere import (
    apply_atmosphere_correction,
    buck_vapor_density_expr,
)
from radio_data_pipeline_spark.sources.synthetic import (
    ObsSpec,
    make_header,
    make_observation,
)


class TestAtmosphere:
    def test_buck_golden_value(self, spark):
        # independent NumPy evaluation of the reference's Buck-1981
        # equation (atmosphere_correction.py:34)
        t_c, rh = 15.0, 40.0
        e_s = (1.0007 + 3.46e-6) * 6.1121 * math.exp(
            17.502 * t_c / (t_c + 240.97))
        expected = 216.7 * (rh / 100.0 * e_s) / (t_c + 273.15)
        df = spark.createDataFrame([(t_c, rh)], ["t", "h"])
        got = df.select(
            buck_vapor_density_expr(F.col("t"), F.col("h")).alias("rho")
        ).first()["rho"]
        assert got == pytest.approx(expected, rel=1e-12)
        # sanity: ~4.9 g/m^3 at 15 C / 40%
        assert 4.0 < got < 6.0

    def test_correction_raises_intensity(self, spark):
        spec = ObsSpec(obs_id=1, n_science=10)
        header = make_header(spec)
        df = spark.createDataFrame(make_observation(spec))
        freqs = header.frequencies(0)
        out = apply_atmosphere_correction(df, freqs)
        a = (df.orderBy("row_idx")
             .select(F.aggregate("DATA", F.lit(0.0), lambda s, x: s + x)
                     .alias("s")).first()["s"])
        b = (out.orderBy("row_idx")
             .select(F.aggregate("DATA", F.lit(0.0), lambda s, x: s + x)
                     .alias("s")).first()["s"])
        # transmission < 1 -> corrected intensity strictly larger
        assert b > a
        # but the (fallback) atmosphere is nearly transparent at L-band
        assert b < a * 1.1

    def test_p676_golden_values(self):
        # Golden values of the published Rec. ITU-R P.676 simplified
        # algorithm at its reference conditions (1013 hPa, 15 degC,
        # rho = 7.5 g/m^3) — the textbook curve points: dry air
        # ~0.0104 dB/km and water vapour ~0.101 dB/km at 20 GHz.
        import numpy as np

        from radio_data_pipeline_spark.operators.atmosphere import (
            p676_equivalent_heights,
            p676_gamma_oxygen,
            p676_gamma_water,
        )
        go20 = float(p676_gamma_oxygen(20.0, 1013.0, 288.15))
        assert go20 == pytest.approx(0.0103664, abs=2e-6)
        gw20 = float(p676_gamma_water(20.0, 7.5, 288.15))
        assert gw20 == pytest.approx(0.1008323, abs=2e-6)
        # L-band (the SDFITS regime): nearly transparent
        assert float(p676_gamma_oxygen(1.4, 1013.0, 288.15)) == \
            pytest.approx(0.0054750, abs=2e-6)
        assert float(p676_gamma_water(1.4, 7.5, 288.15)) == \
            pytest.approx(0.000109244, abs=2e-8)
        # water-vapour equivalent height peaks at the 22.235 GHz line
        _, hw = p676_equivalent_heights(np.array([1.4, 22.2, 40.0]))
        assert hw[1] == pytest.approx(2.56035, abs=1e-4)
        assert hw[1] > hw[0] and hw[1] > hw[2]
        # the 22 GHz water line is a local max of gamma_w
        gw = p676_gamma_water(np.array([18.0, 22.2, 26.0]), 7.5, 288.15)
        assert gw[1] > gw[0] and gw[1] > gw[2]

    def test_p676_ambient_scaling(self):
        from radio_data_pipeline_spark.operators.atmosphere import (
            p676_gamma_oxygen,
            p676_gamma_water,
        )
        base = float(p676_gamma_oxygen(20.0, 1013.0, 288.15))
        # quadratic pressure dependence
        half_p = float(p676_gamma_oxygen(20.0, 1013.0 / 2, 288.15))
        assert half_p == pytest.approx(base / 4.0, rel=1e-12)
        # -1.0 %/degC (oxygen) and -0.6 %/degC (water) corrections
        warm_o = float(p676_gamma_oxygen(20.0, 1013.0, 298.15))
        assert warm_o == pytest.approx(base * 0.90, rel=1e-12)
        warm_w = float(p676_gamma_water(20.0, 7.5, 298.15))
        assert warm_w == pytest.approx(
            float(p676_gamma_water(20.0, 7.5, 288.15)) * 0.94, rel=1e-12)

    def test_p676_oxygen_band_continuity(self):
        # the 57-63 GHz interpolation must join both branch endpoints
        import numpy as np

        from radio_data_pipeline_spark.operators.atmosphere import (
            p676_gamma_oxygen,
        )
        g = p676_gamma_oxygen(np.array([56.999, 57.0, 60.0, 63.0, 63.001]),
                              1013.0, 288.15)
        assert g[1] == pytest.approx(g[0], rel=1e-3)
        assert g[3] == pytest.approx(g[4], rel=1e-3)
        # the oxygen complex dominates: tens of dB/km
        assert 5.0 < g[2] < 20.0

    def test_transmission_shape(self, spark):
        # DATA of ones corrected is 1 / transmission, one value per
        # channel of the frequency axis
        df = spark.createDataFrame(
            [([1.0] * 3, 45.0, 15.0, 1000.0, 40.0),
             ([1.0] * 3, 10.0, 15.0, 1000.0, 40.0)],
            "DATA array<double>, ELEVATIO double, TAMBIENT double, "
            "PRESSURE double, HUMIDITY double")
        rows = apply_atmosphere_correction(
            df, [1400.0, 22200.0, 60000.0]).collect()
        trans = [[1.0 / v for v in r["DATA"]] for r in rows]
        for t in trans:
            assert len(t) == 3
            for v in t:
                assert 0.0 < v <= 1.0
        # lower elevation -> longer slant path -> lower transmission
        assert all(lo < hi for lo, hi in zip(trans[1], trans[0]))

    def test_transmission_matches_per_row_scalar_kernel(self, spark):
        # each row's correction equals the scalar P.676 call with that
        # row's weather and Buck density, whatever else shares its
        # Arrow batch; 2 deg is below the 5 deg cosecant clamp
        from radio_data_pipeline_spark.operators.atmosphere import (
            p676_slant_attenuation,
        )
        weather = [(45.0, 15.0, 1000.0, 40.0), (2.0, 25.0, 950.0, 80.0),
                   (5.0, 25.0, 950.0, 80.0), (70.0, 0.5, 1020.0, 10.0),
                   (12.5, 30.0, 880.0, 60.0)]
        freqs = [1.4, 22.2, 60.0, 118.0, 183.0]
        df = spark.createDataFrame(
            [(i, [1.0] * len(freqs), *w) for i, w in enumerate(weather)],
            "i int, DATA array<double>, ELEVATIO double, TAMBIENT double, "
            "PRESSURE double, HUMIDITY double")
        got = {r["i"]: r["DATA"] for r in apply_atmosphere_correction(
            df, [f * 1000.0 for f in freqs]).collect()}
        for i, (elev, t_c, p, h) in enumerate(weather):
            e_s = (1.0007 + 3.46e-6) * 6.1121 * math.exp(
                17.502 * t_c / (t_c + 240.97))
            rho = 216.7 * ((h / 100.0) * e_s) / (t_c + 273.15)
            att = p676_slant_attenuation(np.asarray(freqs), elev, rho, p,
                                         t_c + 273.15)
            np.testing.assert_allclose(got[i], 1.0 / 10.0 ** (-att / 10.0),
                                       rtol=1e-12)
        np.testing.assert_allclose(got[1], got[2], rtol=1e-12)

    def test_correction_keeps_nulls_lengths_and_slices(self, spark):
        # element j of a row is divided by channel j's transmission; the
        # result is max(len(row), channels) long, as zip_with gives; a
        # NULL row, a NULL element and NULL weather give NULL, NaN stays
        # NaN; a sliced batch (non-zero Arrow offset) and a frame
        # filtered after its scan give the same rows
        import pyarrow as pa

        from radio_data_pipeline_spark.operators.atmosphere import (
            correct_data_arrow,
            transmission,
        )
        freqs_mhz = [1400.0, 22200.0, 60000.0]
        data = [[1.0, 2.0, 3.0], [1.0, None, 3.0], None, [4.0],
                [1.0, 2.0, 3.0, 4.0, 5.0], [1.0, 2.0, 3.0],
                [1.0, float("nan"), 3.0], []]
        weather = [(45.0, 15.0, 1000.0, 40.0)] * 5 \
            + [(None, 15.0, 1000.0, 40.0), (30.0, 20.0, 990.0, 60.0),
               (45.0, 15.0, 1000.0, 40.0)]
        freqs_ghz = np.asarray(freqs_mhz) / 1000.0

        expected = []
        for row, w in zip(data, weather):
            if row is None:
                expected.append(None)
                continue
            t = transmission(freqs_ghz, *(np.nan if x is None else x
                                          for x in w))
            expected.append([
                None if j >= len(row) or j >= len(t) or row[j] is None
                or np.isnan(t[j]) else row[j] / t[j]
                for j in range(max(len(row), len(t)))])

        def norm(rows):
            return [None if r is None else
                    ["nan" if v is not None and v != v else v for v in r]
                    for r in rows]

        arr = pa.array(data, pa.list_(pa.float64()))
        cols = [pa.array(c, pa.float64()) for c in zip(*weather)]
        got = correct_data_arrow(arr, *cols, freqs_ghz).to_pylist()
        assert norm(got) == norm(expected)
        sliced = correct_data_arrow(arr.slice(3, 4),
                                    *(c.slice(3, 4) for c in cols),
                                    freqs_ghz).to_pylist()
        assert norm(sliced) == norm(expected[3:7])

        df = spark.createDataFrame(
            [(i, d, *w) for i, (d, w) in enumerate(zip(data, weather))],
            "i int, DATA array<double>, ELEVATIO double, TAMBIENT double, "
            "PRESSURE double, HUMIDITY double")
        out = apply_atmosphere_correction(df.filter("i % 2 = 1"), freqs_mhz)
        got = [r["DATA"] for r in out.orderBy("i").collect()]
        assert norm(got) == norm(expected[1::2])


class TestRealCodecs:
    def test_wav_roundtrip_vs_stdlib(self):
        # independent implementation check: encode with the stdlib
        # `wave` module, decode with our chunk-walking parser
        import io
        import wave as wave_mod

        import numpy as np

        from radio_data_pipeline_spark.functions.multimodal import (
            decode_wav,
            encode_wav_pcm16,
        )
        rng = np.random.default_rng(42)
        samples = rng.integers(-32768, 32767, size=1234, dtype=np.int16)

        buf = io.BytesIO()
        with wave_mod.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(2)
            w.setframerate(8000)
            w.writeframes(samples.tobytes())
        sr, decoded = decode_wav(buf.getvalue())
        assert sr == 8000
        assert np.array_equal(decoded, samples)

        # and the reverse: our encoder read back by the stdlib reader
        with wave_mod.open(io.BytesIO(encode_wav_pcm16(samples, 44100)),
                           "rb") as r:
            assert r.getframerate() == 44100
            assert r.getnchannels() == 1
            assert r.getsampwidth() == 2
            back = np.frombuffer(r.readframes(r.getnframes()), dtype="<i2")
        assert np.array_equal(back, samples)

    def test_wav_rejects_unsupported(self):
        import struct

        import numpy as np
        import pytest as _pytest

        from radio_data_pipeline_spark.functions.multimodal import (
            decode_wav,
            encode_wav_pcm16,
        )
        with _pytest.raises(ValueError):
            decode_wav(b"RIFFxxxxJUNK")
        with _pytest.raises(ValueError):
            decode_wav(b"not audio at all")
        # stereo header must raise NotImplementedError, not mis-decode
        good = bytearray(encode_wav_pcm16(np.zeros(4, dtype=np.int16), 8000))
        fmt_off = good.index(b"fmt ") + 8
        good[fmt_off + 2:fmt_off + 4] = struct.pack("<H", 2)  # channels=2
        with _pytest.raises(NotImplementedError):
            decode_wav(bytes(good))

    def test_ppm_roundtrip_and_comments(self):
        import numpy as np
        import pytest as _pytest

        from radio_data_pipeline_spark.functions.multimodal import (
            decode_ppm,
            encode_ppm,
        )
        img = (np.arange(5 * 4 * 3) * 7 % 256).astype(np.uint8) \
            .reshape(4, 5, 3)
        assert np.array_equal(decode_ppm(encode_ppm(img)), img)
        # header comments and arbitrary whitespace are part of the spec
        raw = b"P6 # a comment\n# another\n  5\t4\n255\n" + img.tobytes()
        assert np.array_equal(decode_ppm(raw), img)
        with _pytest.raises(ValueError):
            decode_ppm(b"P5\n1 1\n255\n\x00")  # P5 = grayscale pgm
        with _pytest.raises(ValueError):
            decode_ppm(encode_ppm(img)[:-4])  # truncated raster
        with _pytest.raises(NotImplementedError):
            decode_ppm(b"P6\n1 1\n65535\n\x00\x00\x00\x00\x00\x00")

    def test_wav_roundtrip_property(self):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        import numpy as np

        from radio_data_pipeline_spark.functions.multimodal import (
            decode_wav,
            encode_wav_pcm16,
        )

        @settings(max_examples=50, deadline=None)
        @given(st.lists(st.integers(-32768, 32767), min_size=0,
                        max_size=500),
               st.sampled_from([8000, 16000, 44100]))
        def roundtrip(samples, sr):
            arr = np.asarray(samples, dtype=np.int16)
            got_sr, got = decode_wav(encode_wav_pcm16(arr, sr))
            assert got_sr == sr
            assert np.array_equal(got, arr)

        roundtrip()

    def test_ppm_roundtrip_property(self):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        import numpy as np

        from radio_data_pipeline_spark.functions.multimodal import (
            decode_ppm,
            encode_ppm,
        )

        @settings(max_examples=50, deadline=None)
        @given(st.integers(1, 12), st.integers(1, 12),
               st.integers(0, 2**32 - 1))
        def roundtrip(w, h, seed):
            rng = np.random.default_rng(seed)
            img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
            assert np.array_equal(decode_ppm(encode_ppm(img)), img)

        roundtrip()

    def test_wav_query_matches_oracle(self, spark, sf_dir):
        import sys

        sys.path.insert(0, "tests")
        from oracle_harness import compare, duck_connection

        from radio_data_pipeline_spark.plans.registry import all_specs
        specs = all_specs()
        con = duck_connection(sf_dir)
        for name in ("multimodal_wav_rms", "multimodal_ppm_features"):
            r = compare(specs[name].fn(spark, sf_dir), con,
                        specs[name].oracle)
            assert r["values_match"], (name, r)


class TestMultimodal:
    def test_image_features(self, spark):
        from radio_data_pipeline_spark.functions.multimodal import (
            image_features,
            make_fake_media,
        )
        media = make_fake_media(spark, n_images=4, n_audio=2)
        feats = image_features(media, pool=4).collect()
        assert len(feats) == 4
        for r in feats:
            assert r["feature_dim"] == 16
            assert all(0.0 <= v <= 1.0 for v in r["feature"])
        # determinism: same bytes -> same features
        feats2 = image_features(media, pool=4).collect()
        assert sorted(r["feature"] for r in feats) == \
               sorted(r["feature"] for r in feats2)

    def test_audio_frames(self, spark):
        from radio_data_pipeline_spark.functions.multimodal import (
            audio_frame_stats,
            make_fake_media,
        )
        media = make_fake_media(spark, n_images=1, n_audio=3)
        frames = audio_frame_stats(media, frame_ms=250).collect()
        # 1.0 s at 8 kHz -> 4 frames of 250 ms per clip
        assert len(frames) == 3 * 4
        assert all(f["rms"] >= 0 for f in frames)

    def test_real_decode_is_stubbed(self, spark):
        from radio_data_pipeline_spark.functions.multimodal import (
            MEDIA_SCHEMA,
            image_features,
        )
        media = spark.createDataFrame(
            [(0, "image", b"\x89PNG...", "image/png", 8, 8, None, None)],
            MEDIA_SCHEMA)
        with pytest.raises(Exception):  # NotImplementedError via Py4J
            image_features(media).collect()


def test_video_frame_features(spark):
    from radio_data_pipeline_spark.functions.multimodal import (
        make_fake_media,
        video_frame_features,
    )
    media = make_fake_media(spark)
    frames = video_frame_features(media, every_nth=5, fps=24.0,
                                  pool=4).toPandas()
    # 2 videos x 2.0s x 24fps = 48 frames -> every 5th = 10 samples each
    assert len(frames) == 20
    assert set(frames["media_id"]) == {2000, 2001}
    assert frames["frame_idx"].tolist()[:3] == [0, 5, 10]
    assert all(len(f) == 16 for f in frames["feature"])
    # deterministic: same input -> same features
    again = video_frame_features(media, every_nth=5, fps=24.0,
                                 pool=4).toPandas()
    assert frames["feature"].map(tuple).tolist() == \
        again["feature"].map(tuple).tolist()


def test_image_pool_larger_than_frame(spark):
    # pooling clamps to the frame size instead of crashing the reshape
    from radio_data_pipeline_spark.functions.multimodal import (
        image_features,
        make_fake_media,
    )
    media = make_fake_media(spark, n_images=2, n_audio=0, n_video=0)
    out = image_features(media, pool=64).toPandas()  # pool > 24px height
    assert len(out) == 2
    # clamped grid: min(64,24) x min(64,32) = 24*32 features
    assert all(d == 24 * 32 for d in out["feature_dim"])


# ---- BMP codec ----------------------------------------------------------

def test_bmp_round_trip_including_padded_rows():
    import numpy as np
    from radio_data_pipeline_spark.functions.multimodal import (
        decode_bmp,
        encode_bmp,
    )
    rng = np.random.default_rng(7)
    # odd widths exercise the 4-byte row padding
    for h, w in [(16, 16), (5, 3), (1, 7), (9, 2)]:
        img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        assert np.array_equal(decode_bmp(encode_bmp(img)), img), (h, w)


def test_bmp_rejects_malformed_and_unsupported():
    import struct

    import numpy as np
    import pytest as _pytest
    from radio_data_pipeline_spark.functions.multimodal import (
        decode_bmp,
        encode_bmp,
    )
    good = encode_bmp(np.zeros((4, 4, 3), dtype=np.uint8))
    with _pytest.raises(ValueError):
        decode_bmp(b"XX" + good[2:])          # bad magic
    with _pytest.raises(ValueError):
        decode_bmp(good[:40])                 # truncated header
    with _pytest.raises(ValueError):
        decode_bmp(good[:-8])                 # truncated pixel array
    mangled = bytearray(good)
    struct.pack_into("<H", mangled, 28, 8)    # bpp=8 (palettized)
    with _pytest.raises(NotImplementedError):
        decode_bmp(bytes(mangled))
    mangled = bytearray(good)
    struct.pack_into("<i", mangled, 18, -4)   # width <= 0
    with _pytest.raises(ValueError):
        decode_bmp(bytes(mangled))
    mangled = bytearray(good)
    struct.pack_into("<i", mangled, 22, 0)    # height == 0
    with _pytest.raises(ValueError):
        decode_bmp(bytes(mangled))
    mangled = bytearray(good)
    struct.pack_into("<I", mangled, 10, 20)   # offset inside header
    with _pytest.raises(ValueError):
        decode_bmp(bytes(mangled))


def test_pgm_roundtrip_and_comments():
    import numpy as np
    from radio_data_pipeline_spark.functions.multimodal import (
        decode_pgm,
        encode_pgm,
    )
    rng = np.random.default_rng(5)
    img = rng.integers(0, 256, (24, 32), dtype=np.uint8)
    assert np.array_equal(decode_pgm(encode_pgm(img)), img)
    # header comments are part of the public grammar
    with_comment = b"P5\n# a comment\n32 24\n255\n" + img.tobytes()
    assert np.array_equal(decode_pgm(with_comment), img)
    import pytest as _pytest
    with _pytest.raises(ValueError):
        decode_pgm(b"P5\n32 24\n255\n" + img.tobytes()[:-10])
    with _pytest.raises(NotImplementedError):
        decode_pgm(b"P5\n2 2\n65535\n" + bytes(8))


def test_wav8_roundtrip_vs_stdlib():
    # independent implementation check: the stdlib wave module writes
    # the same 8-bit container our decoder must parse
    import io
    import wave

    import numpy as np
    from radio_data_pipeline_spark.functions.multimodal import (
        decode_wav,
        encode_wav_pcm8,
    )
    rng = np.random.default_rng(6)
    samples = rng.integers(0, 256, 500, dtype=np.uint8)
    sr, got = decode_wav(encode_wav_pcm8(samples, 4000))
    assert sr == 4000
    assert np.array_equal(got, (samples.astype(np.int16) - 128) << 8)

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(1)
        w.setframerate(4000)
        w.writeframes(samples.tobytes())
    sr2, got2 = decode_wav(buf.getvalue())
    assert sr2 == 4000 and np.array_equal(got2, got)


def test_y4m_roundtrip_and_unsupported_colorspace():
    import numpy as np
    import pytest as _pytest
    from radio_data_pipeline_spark.functions.multimodal import (
        decode_y4m,
        encode_y4m,
    )
    rng = np.random.default_rng(7)
    frames = rng.integers(0, 256, (5, 12, 16), dtype=np.uint8)
    fps, got = decode_y4m(encode_y4m(frames, 24, 1))
    assert fps == 24.0
    assert np.array_equal(got, frames)
    # chroma-subsampled streams need a real video stack -> honest raise
    c420 = encode_y4m(frames).replace(b"Cmono", b"C420")
    with _pytest.raises(NotImplementedError):
        decode_y4m(c420)
    with _pytest.raises(ValueError):
        decode_y4m(b"NOTAY4M\n")
    truncated = encode_y4m(frames)[:-10]
    with _pytest.raises(ValueError):
        decode_y4m(truncated)


def test_null_media_metadata_uses_defaults(spark):
    """NULL sample_rate/duration_s (legal per MEDIA_SCHEMA) must fall
    back to the documented defaults instead of int(NaN) killing the
    Arrow kernel task — regression for the _dim/_secs guards."""
    from radio_data_pipeline_spark.functions.multimodal import (
        MEDIA_SCHEMA,
        audio_frame_stats,
        video_frame_features,
    )
    audio = spark.createDataFrame(
        [(1, "audio", b"FAKEAUD1x", "audio/fake", None, None, None, None)],
        MEDIA_SCHEMA)
    frames = audio_frame_stats(audio, frame_ms=250).collect()
    assert len(frames) == 4  # 1.0 s default at 8 kHz default / 250 ms

    video = spark.createDataFrame(
        [(2, "video", b"FAKEVID0x", "video/fake", None, None, None, None)],
        MEDIA_SCHEMA)
    vf = video_frame_features(video, every_nth=5, fps=10.0).collect()
    assert len(vf) == 2  # 1.0 s default * 10 fps -> frames 0 and 5


def test_bmp_dispatch_in_image_features(spark):
    """image_features must route 'BM' bytes through the module's own
    BMP codec instead of raising the PPM/PGM-only error."""
    import numpy as np
    from radio_data_pipeline_spark.functions.multimodal import (
        MEDIA_SCHEMA,
        encode_bmp,
        image_features,
    )
    rgb = np.arange(4 * 4 * 3, dtype=np.uint8).reshape(4, 4, 3)
    media = spark.createDataFrame(
        [(3, "image", bytes(encode_bmp(rgb)), "image/bmp", 4, 4,
          None, None)],
        MEDIA_SCHEMA)
    feats = image_features(media, pool=2).collect()
    assert len(feats) == 1 and feats[0]["feature_dim"] == 4
    assert all(0.0 <= v <= 1.0 for v in feats[0]["feature"])


def test_low_maxval_netpbm_refused(spark):
    """maxval < 255 would silently mis-scale through the fixed /255
    normalization — the codec must refuse it loudly."""
    import pytest as _pytest
    from radio_data_pipeline_spark.functions.multimodal import decode_ppm
    bad = b"P6\n2 2\n15\n" + bytes(12)
    with _pytest.raises(NotImplementedError, match="maxval"):
        decode_ppm(bad)


def test_media_decoders_fail_cleanly_on_arbitrary_corruption():
    """Byte-mutation fuzz of every pure-numpy media codec: for ANY
    corruption the decoder must return a valid result or raise
    ValueError / NotImplementedError — the two types the decode
    kernels' documented contract covers. A raw struct.error /
    IndexError / ZeroDivisionError escaping a decoder would kill the
    whole mapInPandas task instead of the one bad blob."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from radio_data_pipeline_spark.functions.multimodal import (
        decode_bmp,
        decode_pgm,
        decode_ppm,
        decode_wav,
        decode_y4m,
        encode_bmp,
        encode_pgm,
        encode_ppm,
        encode_wav_pcm16,
        encode_y4m,
    )

    rng = np.random.default_rng(3)
    img = rng.integers(0, 255, (8, 6, 3), dtype=np.uint8)
    gray = rng.integers(0, 255, (8, 6), dtype=np.uint8)
    frames = rng.integers(0, 255, (3, 4, 4), dtype=np.uint8)
    corpora = [
        (decode_wav, encode_wav_pcm16(
            rng.standard_normal(64).astype(np.float64), 8000)),
        (decode_ppm, encode_ppm(img)),
        (decode_pgm, encode_pgm(gray)),
        (decode_bmp, encode_bmp(img)),
        (decode_y4m, encode_y4m(frames)),
    ]

    @settings(max_examples=400, deadline=None)
    @given(data=st.data())
    def run(data):
        decoder, base = data.draw(st.sampled_from(corpora))
        buf = bytearray(base)
        kind = data.draw(st.sampled_from(["truncate", "flip", "grow"]))
        if kind == "truncate":
            buf = buf[:data.draw(st.integers(0, len(buf)))]
        elif kind == "flip":
            for _ in range(data.draw(st.integers(1, 12))):
                i = data.draw(st.integers(0, max(0, len(buf) - 1)))
                if buf:
                    buf[i] ^= 1 << data.draw(st.integers(0, 7))
        else:
            buf += bytes(data.draw(st.binary(min_size=1, max_size=256)))
        try:
            decoder(bytes(buf))
        except (ValueError, NotImplementedError):
            pass  # the documented rejection contract

    run()

"""WAV codec + audio_stats: byte-exact PCM roundtrip, hostile-header
rejection BEFORE allocation, generator determinism, and the driver
query vs its inline-VALUES oracle."""

import struct
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import numpy as np
import pytest

from geojson_vt_rs_spark.sources.audio import (
    SAMPLE_RATE,
    decode_audio,
    decode_wav,
    encode_wav,
    make_samples,
)


def test_wav_roundtrip_exact():
    for i, n in [(0, 1), (3, 800), (7, 1199)]:
        s = make_samples(i, n)
        rate, out = decode_wav(encode_wav(s))
        assert rate == SAMPLE_RATE
        assert np.array_equal(out, s)
        assert out.dtype == np.int16
    # rawa path
    s = make_samples(5, 321)
    assert np.array_equal(decode_audio(s.tobytes(), "rawa", 321), s)


def test_wav_hostile_headers():
    good = encode_wav(make_samples(1, 100))
    for bad in [
        b"",                                   # empty
        good[:43],                             # truncated header
        b"RIFX" + good[4:],                    # bad magic
        good[:36] + b"datA" + good[40:],       # missing data tag
        # data chunk claims 4 GB from a 100-sample payload: must raise
        # ValueError BEFORE any allocation, never MemoryError
        good[:40] + struct.pack("<I", 0xFFFFFFF0) + good[44:],
        # odd data length
        good[:40] + struct.pack("<I", 33) + good[44:],
    ]:
        with pytest.raises(ValueError):
            decode_wav(bad)
    # stereo/24-bit/float formats rejected
    stereo = bytearray(good)
    stereo[22] = 2
    with pytest.raises(ValueError):
        decode_wav(bytes(stereo))
    with pytest.raises(ValueError):
        decode_audio(good[:50], "rawa", 100)   # wrong raw length
    with pytest.raises(ValueError):
        decode_audio(good, "mp3", 100)


def test_generator_deterministic():
    a = make_samples(9, 500)
    b = make_samples(9, 500)
    assert np.array_equal(a, b)
    assert not np.array_equal(a, make_samples(10, 500))
    assert a.min() >= -32768 and a.max() <= 32767
    # signal actually oscillates (zero crossings exist)
    nn = a >= 0
    assert np.count_nonzero(nn[1:] != nn[:-1]) > 10


def test_audio_stats_oracle(spark):
    import __spark_entry__ as em

    sdf = em.queries()["audio_stats"](spark, "/root/testdata/sf0.001")
    cols = sorted(sdf.columns)
    got = sorted(map(tuple, sdf.select(*cols).collect()))
    con = duckdb.connect()
    odf = con.execute(em.oracle_sql()["audio_stats"]).df()
    want = sorted(map(tuple, odf[cols].itertuples(index=False, name=None)))
    assert got == want
    assert {r[cols.index("fmt")] for r in got} == {"rawa", "wav"}

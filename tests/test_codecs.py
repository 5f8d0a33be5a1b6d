"""Codec + geotag invariants from BASELINE.json input_hint: lossless
round-trips byte-exact, lossy1 round-trips at PSNR >= 40 dB, phash
deterministic, geotag formula identical across numpy/Spark/DuckDB."""

import duckdb
import numpy as np
import pandas as pd
import pytest

from osmnightwatch_spark.functions import codecs as K


@pytest.fixture(scope="module")
def img():
    rng = np.random.default_rng(7)
    return rng.integers(0, 256, (48, 32, 3)).astype(np.uint8)


def test_lossless_roundtrip(img):
    for fmt in ("raw", "ppm"):
        buf = K.encode(img, fmt)
        out = K.decode(buf, fmt, 32, 48)
        np.testing.assert_array_equal(out, img)


def test_lossy1_psnr(img):
    buf = K.encode(img, "lossy1")
    out = K.decode(buf, "lossy1", 32, 48)
    assert K.psnr(img, out) >= 40.0


def test_lossy1_psnr_structured():
    # structured (non-noise) content compresses better; still >= 40
    y, x = np.mgrid[0:64, 0:64]
    img = np.stack([(x * 3) % 256, (y * 5) % 256, ((x + y) * 2) % 256], axis=2).astype(np.uint8)
    out = K.decode(K.encode(img, "lossy1"), "lossy1", 64, 64)
    assert K.psnr(img, out) >= 40.0


def test_non_multiple_of_8_dims():
    rng = np.random.default_rng(8)
    img = rng.integers(0, 256, (17, 23, 3)).astype(np.uint8)
    out = K.decode(K.encode(img, "lossy1"), "lossy1", 23, 17)
    assert out.shape == (17, 23, 3)
    assert K.psnr(img, out) >= 40.0


def test_unknown_fmt_raises(img):
    with pytest.raises(NotImplementedError):
        K.encode(img, "jpeg")
    with pytest.raises(NotImplementedError):
        K.decode(b"", "png", 1, 1)


def test_phash_deterministic_and_robust(img):
    h1 = K.phash64(img)
    assert h1 == K.phash64(img.copy())
    # lossy round-trip keeps the perceptual hash close (<= 4 bit flips)
    out = K.decode(K.encode(img, "lossy1"), "lossy1", 32, 48)
    flips = bin(np.int64(h1).view(np.uint64)
               ^ np.int64(K.phash64(out)).view(np.uint64)).count("1")
    assert flips <= 4


def test_geotag_three_way_parity(spark):
    rng = np.random.default_rng(9)
    ph = rng.integers(-(2**63), 2**63 - 1, 500, dtype=np.int64)
    elon, elat = K.lonlat_from_phash(ph)
    assert (elon >= -180).all() and (elon < 180).all()
    assert (elat >= -85).all() and (elat < 85).all()
    # DuckDB
    con = duckdb.connect()
    con.register("t", pd.DataFrame({"p": ph}))
    lo, la = K.LONLAT_SQL
    got = con.execute(
        f"SELECT {lo.format(p='p')} AS lon, {la.format(p='p')} AS lat FROM t"
    ).fetchdf()
    np.testing.assert_array_equal(got.lon.to_numpy(), elon)
    np.testing.assert_array_equal(got.lat.to_numpy(), elat)
    # Spark native
    from osmnightwatch_spark.sources.images import with_geo

    df = spark.createDataFrame(pd.DataFrame({"phash": ph}))
    sp = with_geo(df).toPandas().sort_values("phash")
    ref = pd.DataFrame({"phash": ph, "lon": elon, "lat": elat}).sort_values("phash")
    np.testing.assert_array_equal(sp.lon.to_numpy(), ref.lon.to_numpy())
    np.testing.assert_array_equal(sp.lat.to_numpy(), ref.lat.to_numpy())

"""Legacy (Ord) gpubox decode (S1e) — validated against the reference's
own pyuvdata golden CSV and unit-level PFB-order/sky-order checks."""

from __future__ import annotations

import pytest

ORD = "/root/reference/tests/data/1196175296_mwa_ord"

pytestmark = pytest.mark.needs_reference(ORD)


def test_pfb_position_order():
    from birli_spark.sources.legacy_gpubox import pfb_position
    # the classic legacy PFB lane order within a 64-input bank:
    # inputs 0,16,32,48 land in lanes 0..3, then 1,17,33,49, ...
    order = sorted(range(64), key=pfb_position)
    assert order[:8] == [0, 16, 32, 48, 1, 17, 33, 49]
    # banks are independent
    assert pfb_position(64) == 64
    assert sorted(pfb_position(i) for i in range(256)) == list(range(256))


def test_sky_channel_order_spectral_flip():
    from birli_spark.sources.legacy_gpubox import sky_channel_order
    # <=128 ascend; >128 descend (MWA flip); this obs: 157,158 -> [1, 0]
    assert sky_channel_order([157, 158]) == [1, 0]
    assert sky_channel_order([100, 101]) == [0, 1]
    # >128: higher receiver number = lower sky frequency
    assert sky_channel_order([100, 150, 140]) == [0, 1, 2]


def test_full_golden_csv_match(spark):
    """Every (baseline, pol, chan) value in the reference's golden CSV
    matches our decode bit-exactly (4000 cells)."""
    import csv

    from pyspark.sql import functions as F

    from birli_spark.sources import legacy_gpubox as lg
    vis = lg.read_legacy_gpubox(
        spark, f"{ORD}/1196175296_*gpubox*.fits",
        f"{ORD}/1196175296.metafits")
    pdf = (vis.filter(F.col("unix_ms") == 1512140080000)
           .withColumn("baseline", F.expr("(ant1+1)*256 + (ant2+1)"))
           .toPandas())
    by_key = {}
    for _, r in pdf.iterrows():
        for pol in ("xx", "xy", "yx", "yy"):
            by_key[(int(r.baseline), pol, int(r.chan))] = complex(
                r[f"{pol}_re"], r[f"{pol}_im"])
    rows = list(csv.reader(open(f"{ORD}/pyuvdata_1196175296.none.csv")))
    n = 0
    for r in rows[1:]:
        for chan in range(4):
            want = complex(r[7 + chan].strip("()"))
            assert by_key[(int(r[1]), r[5], chan)] == want
            n += 1
    assert n == 4000


def test_conjugation_rule_autos(spark):
    """Input autos read back conjugated (the empirical rule the golden
    CSV pins down: plain iff (s1,c1) < (s2,c2) strictly)."""
    from birli_spark.sources import legacy_gpubox as lg
    from birli_spark.sources import metafits as mf
    p, td = mf.read_metafits(f"{ORD}/1196175296.metafits")
    amap = lg.input_map(td)
    a1s, a2s, slots, signs = lg.slot_tables(amap)
    import numpy as np
    autos = np.flatnonzero(a1s == a2s)
    # xx/yy of every antenna auto uses the same input twice -> conj
    assert (signs[autos, 0] == -1.0).all()
    assert (signs[autos, 3] == -1.0).all()


def test_uvfits_structure_matches_reference_dump(tmp_path):
    """Our random-groups writer emits the same structural constants the
    reference's Cotter-written uvfits for this obs shows
    (1196175296.uvfits.txt): BITPIX -32, NAXIS 6 with axes
    (0, 3 complex, 4 pol, n_chan, 1, 1), PCOUNT 5 with params
    UU/VV/WW/BASELINE/DATE, GCOUNT = timesteps x baselines = 33024."""
    import numpy as np

    from birli_spark.sinks import uvfits
    n_chan, n_groups = 4, 4 * 8256
    data = np.zeros((n_chan, 4, 3))

    def groups():
        for g in range(n_groups):
            yield (0.0, 0.0, 0.0, 257 + g % 8256, 2458089.6213, data)

    path = str(tmp_path / "real_structure.uvfits")
    uvfits.write_uvfits(path, groups(), n_chan, n_groups)
    header, params, _ = uvfits.read_uvfits(path)
    # constants from the reference dump
    assert header["BITPIX"] == -32
    assert header["NAXIS"] == 6 and header["NAXIS1"] == 0
    assert header["NAXIS2"] == 3 and header["NAXIS3"] == 4
    assert header["NAXIS4"] == n_chan
    assert header["GROUPS"] is True
    assert header["PCOUNT"] == 5 and header["GCOUNT"] == 33024
    assert [header[f"PTYPE{i}"] for i in range(1, 6)] == [
        "UU", "VV", "WW", "BASELINE", "DATE"]
    assert params.shape == (33024, 5)

"""Deterministic synthetic visibility tables derived from the TPC-H-ish
driver parquet (TESTDATA.md), mirroring the reference's coordinate-encoded
fixture design (reference tests/data/README.md: cell values are closed-form
functions of their own coordinates, so lineage is checkable).

Every column is **integer arithmetic on key columns** followed by an exact
power-of-two-free division — bit-identical between Spark and DuckDB — so the
same SQL text serves as both the Spark derivation (via ``spark.sql`` /
``F.expr``) and the DuckDB oracle CTE.

Shape (scaled-up analogue of the reference's 1297526432_mwax fixture:
2cc × 2fc × 4ts × 3bl): NUM_ANTS=4 antennas → 16 (ant1, ant2) pairs incl.
autos, NUM_CC=3 coarse channels × NUM_FC=8 fine channels, 16 timesteps.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

NUM_ANTS = 4
NUM_CC = 3
NUM_FC = 8          # fine channels per coarse channel
NUM_T = 16
INT_TIME_S = 2.0
FINE_CHAN_WIDTH_HZ = 40_000.0
BASE_FREQ_HZ = 140_000_000.0
GPS_START = 1_254_670_392.0   # obsid of the reference's golden fixture
# Cotter-compatible weight factor w0 = (fine_chan_width/10kHz)*(int_time/1s)
# (reference src/flags.rs:564-575): 40kHz/10kHz * 2s = 8.0
WEIGHT_FACTOR = 8.0

#: column -> SQL fragment over `lineitem`, valid in Spark SQL and DuckDB.
VIS_FRAGMENTS: dict[str, str] = {
    "t": f"CAST((l_orderkey + l_linenumber) % {NUM_T} AS INT)",
    "ant1": f"CAST(l_suppkey % {NUM_ANTS} AS INT)",
    "ant2": f"CAST(l_partkey % {NUM_ANTS} AS INT)",
    "bl": f"CAST((l_suppkey % {NUM_ANTS}) * {NUM_ANTS} + (l_partkey % {NUM_ANTS}) AS INT)",
    "cc": f"CAST(l_orderkey % {NUM_CC} AS INT)",
    "fc": f"CAST(l_partkey % {NUM_FC} AS INT)",
    "chan": f"CAST((l_orderkey % {NUM_CC}) * {NUM_FC} + (l_partkey % {NUM_FC}) AS INT)",
    "freq_hz": (
        f"CAST({BASE_FREQ_HZ:.1f} + ((l_orderkey % {NUM_CC}) * {NUM_FC} "
        f"+ (l_partkey % {NUM_FC})) * {FINE_CHAN_WIDTH_HZ:.1f} AS DOUBLE)"
    ),
    # centroid epoch = start + t*int_time + int_time/2 (src/corrections.rs:239-242)
    "ts_gps": (
        f"CAST({GPS_START:.1f} + ((l_orderkey + l_linenumber) % {NUM_T}) * {INT_TIME_S} "
        f"+ {INT_TIME_S / 2} AS DOUBLE)"
    ),
    "weight": f"CAST({WEIGHT_FACTOR} AS DOUBLE)",
    # ~4% pre-existing flags to exercise occupancy / averaging fallback paths
    "flag": "((l_orderkey + l_partkey + l_suppkey) % 23 = 0)",
}

# 8 pol-value columns: distinct integer mixes of the keys, range [-10, 10].
for _p, _pol in enumerate(("xx", "xy", "yx", "yy")):
    for _c, _part in enumerate(("re", "im")):
        _k = _p * 2 + _c
        VIS_FRAGMENTS[f"{_pol}_{_part}"] = (
            f"CAST((l_orderkey * {7 + _k} + l_partkey * {3 + 2 * _k} "
            f"+ l_suppkey * {1 + _k} + l_linenumber) % 2001 - 1000 AS DOUBLE) / 100"
        )

VIS_COLUMNS = tuple(VIS_FRAGMENTS)


def vis_select_list() -> str:
    return ",\n  ".join(f"{frag} AS {name}" for name, frag in VIS_FRAGMENTS.items())


def vis_sql(lineitem: str = "lineitem") -> str:
    """The full derivation as one SELECT (shared Spark/DuckDB text)."""
    return f"SELECT\n  {vis_select_list()}\nFROM {lineitem}"


#: antennas dimension (≈128 rows in a real obs; 4 here) — electrical cable
#: lengths per pol (src/corrections.rs:118-127), flagged status
#: (src/flags.rs:121-126). VALUES form is valid in both dialects.
ANTENNAS_SQL = (
    "SELECT CAST(ant AS INT) AS ant,"
    " CAST(90.0 + 11.0 * ant AS DOUBLE) AS elec_length_x_m,"
    " CAST(90.0 + 11.0 * ant + 0.25 AS DOUBLE) AS elec_length_y_m,"
    " CAST(ant * 10.0 AS DOUBLE) AS east_m,"
    " CAST(ant * 20.0 AS DOUBLE) AS north_m,"
    " CAST(377.0 AS DOUBLE) AS height_m,"
    " (ant = 3) AS flagged"
    " FROM (VALUES (0), (1), (2), (3)) AS a(ant)"
)

#: digital gains per (ant, coarse chan), /64-normalised like the metafits
#: values the reference reads (src/corrections.rs:356-365).
DIGITAL_GAINS_SQL = (
    "SELECT CAST(ant AS INT) AS ant, CAST(cc AS INT) AS cc,"
    " CAST(64 + ant * 2 + cc AS DOUBLE) / 64 AS gain_x,"
    " CAST(64 + ant * 2 + cc + 1 AS DOUBLE) / 64 AS gain_y"
    " FROM (VALUES (0), (1), (2), (3)) AS a(ant)"
    " CROSS JOIN (VALUES (0), (1), (2)) AS c(cc)"
)

#: PFB passband gains per ultrafine channel (reference
#: src/passband_gains.rs): 16 ultrafine per coarse → scrunch ratio 2 onto
#: NUM_FC=8 fine channels.
NUM_UFC = 16

#: per-(t, ant) partial UVWs — stands in for the erfa/precession table the
#: driver would precompute (src/corrections.rs:652-676); closed-form values
#: exercise the join + phasor arithmetic (FIXTURES.md §7).
PART_UVW_SQL = (
    "SELECT CAST(t AS INT) AS t, CAST(ant AS INT) AS ant,"
    " CAST(t * 3 + ant * 17 AS DOUBLE) / 10 AS u,"
    " CAST(t * 5 + ant * 13 AS DOUBLE) / 10 AS v,"
    " CAST(t * 7 + ant * 11 AS DOUBLE) / 1000 AS w"
    " FROM (VALUES " + ", ".join(f"({t})" for t in range(NUM_T)) + ") AS ts(t)"
    " CROSS JOIN (VALUES (0), (1), (2), (3)) AS a(ant)"
)

#: DI calibration solutions, single timeblock (src/io/aocal.rs:16-27):
#: NUM_CHAN_SOL=12 solution channels over 24 vis channels → ratio 2
#: upsampling (src/calibration.rs:76-82). Diagonal-dominant Jones.
NUM_CHAN_SOL = 12
CALSOLS_SQL = (
    "SELECT CAST(ant AS INT) AS ant, CAST(chan AS INT) AS chan,"
    " CAST(100 + ant * 10 + chan AS DOUBLE) / 100 AS j00_re,"
    " CAST(ant + chan AS DOUBLE) / 100 AS j00_im,"
    " CAST(ant * 2 + chan AS DOUBLE) / 1000 AS j01_re,"
    " CAST(ant + chan * 2 AS DOUBLE) / 1000 AS j01_im,"
    " CAST(ant * 3 + chan AS DOUBLE) / 1000 AS j10_re,"
    " CAST(ant + chan * 3 AS DOUBLE) / 1000 AS j10_im,"
    " CAST(100 + ant * 5 + chan * 2 AS DOUBLE) / 100 AS j11_re,"
    " CAST(ant * 2 + chan AS DOUBLE) / 100 AS j11_im"
    " FROM (VALUES (0), (1), (2), (3)) AS a(ant)"
    " CROSS JOIN (VALUES " + ", ".join(f"({c})" for c in range(NUM_CHAN_SOL)) + ") AS c(chan)"
)

#: timestep dimension (S3): index + centroid GPS epoch
#: (src/corrections.rs:239-242).
TIMESTEPS_SQL = (
    "SELECT CAST(t AS INT) AS t,"
    f" CAST({GPS_START:.1f} + t * {INT_TIME_S} + {INT_TIME_S / 2} AS DOUBLE) AS ts_gps"
    " FROM (VALUES " + ", ".join(f"({t})" for t in range(NUM_T)) + ") AS ts(t)"
)

DIM_SQL = {
    "antennas": ANTENNAS_SQL,
    "timesteps": TIMESTEPS_SQL,
    "digital_gains": DIGITAL_GAINS_SQL,
    "part_uvw": PART_UVW_SQL,
    "calsols": CALSOLS_SQL,
}


def load_vis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derive the long-format vis fact table from lineitem parquet.

    At 100 TB the fact table would be real parquet partitioned by (cc, t);
    the derivation here is a zero-shuffle projection, so plan shape is the
    same: scan → project.

    Local-mode fixup: the driver testdata is a single parquet row group, so
    the scan yields fewer splits than cores; round-robin repartition to the
    default parallelism once, up front. On a real dataset the scan produces
    thousands of row-group splits and this branch never triggers.
    """
    from birli_spark.sources.corpus import _fan_out
    lineitem = _fan_out(spark,
                        spark.read.parquet(f"{sf_dir}/lineitem.parquet"))
    lineitem.createOrReplaceTempView("lineitem")
    return spark.sql(vis_sql("lineitem"))


def load_dim(spark: SparkSession, name: str) -> DataFrame:
    return spark.sql(DIM_SQL[name])


def materialize_vis_partitioned(spark: SparkSession, sf_dir: str,
                                out_dir: str) -> str:
    """Write the derived vis fact as REAL parquet PARTITIONED BY cc —
    the 100 TB layout :func:`load_vis`'s docstring claims ("the fact
    table would be real parquet partitioned by (cc, t)"): coarse-chan
    predicates then prune whole directories at plan time
    (PartitionFilters in the scan node) instead of reading and
    filtering. tests/test_partitioned_layout.py asserts the pruning on
    the physical plan; the p1b query keeps the layout oracle-gated."""
    load_vis(spark, sf_dir).write.mode("overwrite") \
        .partitionBy("cc").parquet(out_dir)
    return out_dir


#: Van Vleck sample scale for the synthetic obs: fine_chan_width_hz *
#: int_time_ms / 500 * bscale(=0.5 legacy default) — reference
#: get_vv_sample_scale, src/van_vleck.rs:318-329. 40kHz * 2000ms/500 = 160k.
VV_SAMPLE_SCALE = FINE_CHAN_WIDTH_HZ * (INT_TIME_S * 1000.0) / 500.0


def load_vis_legacy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The `vis_legacy` fixture variant (FIXTURES.md §1): autos carry
    sighat-encoded powers (xx_re = sighat^2 * scale, sighat in the
    published fixture range [1.3, 1.95); reference σ vectors
    src/van_vleck.rs:400-443), crosses carry small khat-encoded values —
    the valid input domain of the Van Vleck correction."""
    from pyspark.sql import functions as F

    vis = load_vis(spark, sf_dir)
    k = "(t * 31 + chan * 7 + ant1 * 3 + ant2)"
    sighat2 = f"POW(1.3 + CAST({k} % 650 AS DOUBLE) / 1000, 2)"
    khat = f"(CAST({k} % 200 - 100 AS DOUBLE) / 2000)"
    is_auto = "ant1 = ant2"
    exprs = {}
    for col in ("xx_re", "yy_re"):
        exprs[col] = (
            f"CASE WHEN {is_auto} THEN {sighat2} * {VV_SAMPLE_SCALE!r}"
            f" ELSE {khat} * {VV_SAMPLE_SCALE!r} END"
        )
    for col in ("xx_im", "yy_im", "xy_re", "xy_im", "yx_re", "yx_im"):
        exprs[col] = f"{khat} * {VV_SAMPLE_SCALE!r}"
    return vis.select(
        *[F.expr(exprs[c]).alias(c) if c in exprs else F.col(c) for c in vis.columns]
    )

"""The MinHash band hash recipe cannot drift.

``lsh.band_rows`` builds its band array as one Spark SQL string.  The
Column-built expression it replaced is kept here as the reference: the
clip pipeline's combined bands, the domain bands and the chunk path's
struct ids must all give the same (id, band_id, band_hash) rows, so
checkpointed buckets, streaming band tables and the staged oracle
relations stay comparable across the two."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from kmcp_spark.config import LSHConfig
from kmcp_spark.operators.lsh import (
    _AUDIO_BAND_BASE,
    _TEXT_BAND_BASE,
    band_buckets,
    band_rows,
)

BANDS, ROWS = 32, 4
DOMAIN_BANDS = 4


def _reference_band_rows(src, bands, rows_per_band, id_col, sig_col="minhash", band_offset=0):
    band_structs = F.array(
        *[
            F.struct(
                F.lit(band_offset + b).alias("band_id"),
                F.xxhash64(
                    F.lit(band_offset + b),
                    F.slice(F.col(sig_col), b * rows_per_band + 1, rows_per_band),
                ).alias("band_hash"),
            )
            for b in range(bands)
        ]
    )
    return (
        src.filter(F.col(sig_col).isNotNull())
        .select(id_col, F.explode(band_structs).alias("band"))
        .select(id_col, F.col("band.band_id").alias("band_id"), F.col("band.band_hash").alias("band_hash"))
    )


@pytest.fixture(scope="module")
def sketches(spark):
    """Signatures over the whole int64 range, with null domain
    signatures (empty shingle sets) on some rows."""
    rng = np.random.default_rng(7)
    info = np.iinfo(np.int64)

    def sig(n):
        return [int(x) for x in rng.integers(info.min, info.max, n, dtype=np.int64, endpoint=True)]

    rows = [
        (
            f"c{i:03d}",
            i % 3,
            sig(BANDS * ROWS),
            None if i % 5 == 0 else sig(DOMAIN_BANDS * ROWS),
            None if i % 7 == 0 else sig(DOMAIN_BANDS * ROWS),
        )
        for i in range(40)
    ]
    return spark.createDataFrame(
        rows,
        "clip_id string, chunk_idx int, minhash array<bigint>, "
        "minhash_text array<bigint>, minhash_audio array<bigint>",
    )


def _assert_same_rows(got, want):
    assert got.schema == want.schema
    key = [F.col(c) for c in got.columns]
    assert got.orderBy(*key).collect() == want.orderBy(*key).collect()


def test_combined_bands_match_reference(sketches):
    _assert_same_rows(
        band_buckets(sketches, LSHConfig(bands=BANDS, rows_per_band=ROWS)),
        _reference_band_rows(sketches, BANDS, ROWS, "clip_id"),
    )


def test_domain_bands_match_reference(sketches):
    want = (
        _reference_band_rows(sketches, BANDS, ROWS, "clip_id")
        .union(_reference_band_rows(sketches, DOMAIN_BANDS, ROWS, "clip_id",
                                    "minhash_text", _TEXT_BAND_BASE))
        .union(_reference_band_rows(sketches, DOMAIN_BANDS, ROWS, "clip_id",
                                    "minhash_audio", _AUDIO_BAND_BASE))
    )
    got = band_buckets(
        sketches, LSHConfig(bands=BANDS, rows_per_band=ROWS, domain_bands=DOMAIN_BANDS)
    )
    assert got.filter(F.col("band_id") >= _AUDIO_BAND_BASE).count() > 0
    _assert_same_rows(got, want)


def test_chunk_struct_id_bands_match_reference(sketches):
    chunks = sketches.select(F.struct("clip_id", "chunk_idx").alias("chunk"), "minhash")
    _assert_same_rows(
        band_rows(chunks, BANDS, ROWS, "chunk"),
        _reference_band_rows(chunks, BANDS, ROWS, "chunk"),
    )

"""Image column operators: opaque ``binary`` payloads processed with
Arrow-batched ``mapInPandas``.

Image decode is REAL for PNG/BMP/PPM and baseline-sequential JPEG
(pure numpy/stdlib codecs, ``functions/image.py`` + ``functions/
jpeg.py``) feeding dHash fingerprinting + near-dup pairing.  The
non-baseline JPEG modes (progressive, arithmetic, 12-bit) and unknown
containers land as ``decode_ok=False`` rather than crashing.  Audio
payloads go through ``functions/audio.py::decode_work_pcm`` instead.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame

from kmcp_spark.runtime import drop_zip_finders

IMAGE_DHASH_SCHEMA = "item_id string, dhash bigint, width int, height int, decode_ok boolean"


def image_dhash(items: DataFrame, id_col: str = "item_id", bytes_col: str = "bytes") -> DataFrame:
    """Per-image 64-bit dHash (decode → luma → 9x8 area-resize →
    adjacent-column compare, ``functions/image.py:dhash64``) — the image
    analog of the SimHash fingerprint: near-dup pairing reuses the SAME
    pigeonhole band machinery (``operators/dedup.simhash_pairs_from_sigs``).
    Arrow-batched; one decode per image, no per-row Python UDF."""
    from kmcp_spark.functions.image import dhash64_batch

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_finders()
        for pdf in batches:
            hashes, ws, hs, ok = dhash64_batch(pdf[bytes_col].tolist())
            yield pd.DataFrame(
                {
                    "item_id": pdf[id_col].to_numpy(),
                    "dhash": hashes,
                    "width": ws,
                    "height": hs,
                    "decode_ok": ok,
                }
            )

    return items.select(id_col, bytes_col).mapInPandas(run, schema=IMAGE_DHASH_SCHEMA)


def image_dup_pairs(items: DataFrame, max_hamming: int = 8, n_bands: int = 9) -> DataFrame:
    """Image near-dup pairs: dHash fingerprints paired with the exact
    pigeonhole-banding + hamming filter (Manku WWW 2007) shared with the
    text SimHash path.  Lossless re-encodes land at hamming 0; mild
    photometric edits within a few bits; unrelated images ~32."""
    from pyspark.sql import functions as F

    from kmcp_spark.operators.dedup import simhash_pairs_from_sigs

    sigs = (
        image_dhash(items)
        .filter(F.col("decode_ok"))
        .select(F.col("item_id").alias("doc_id"), F.col("dhash").alias("simhash"))
    )
    return simhash_pairs_from_sigs(sigs, max_hamming=max_hamming, n_bands=n_bands)

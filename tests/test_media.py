import numpy as np

from kmcp_spark.operators.media import image_dhash


def test_image_dhash_real_decode(spark):
    import pandas as pd

    from kmcp_spark.functions.image import encode_bmp, encode_png, encode_ppm

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, (32, 48, 3), dtype=np.uint8)
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "item_id": ["png", "bmp", "ppm", "jpeg", "junk"],
                "bytes": [
                    encode_png(img), encode_bmp(img), encode_ppm(img),
                    b"\xff\xd8\xff\xe0 fake jpeg", b"not an image",
                ],
            }
        )
    )
    out = image_dhash(df).toPandas().set_index("item_id")
    assert list(out.columns) == ["dhash", "width", "height", "decode_ok"]
    for fmt in ("png", "bmp", "ppm"):
        assert out.loc[fmt, "decode_ok"]
        assert out.loc[fmt, "width"] == 48 and out.loc[fmt, "height"] == 32
    # lossless containers -> identical pixels -> identical dHash
    assert out.loc["png", "dhash"] == out.loc["bmp", "dhash"] == out.loc["ppm", "dhash"]
    # a malformed JPEG and junk bytes both flow through gated off
    for bad in ("jpeg", "junk"):
        assert not out.loc[bad, "decode_ok"]
        assert out.loc[bad, "width"] == -1 and out.loc[bad, "height"] == -1


def test_image_dup_pairs_recovers_planted_clusters(spark):
    """End-to-end image near-dup: decode -> dHash -> pigeonhole banding
    -> hamming filter recovers exactly the planted clusters (re-encode,
    brightness, noise, rescale members), with the I5 near-miss controls
    and independent images pairing with nothing."""
    import collections

    from kmcp_spark.corpus import make_image_rows
    from kmcp_spark.operators.media import image_dup_pairs

    pdf = make_image_rows(np.arange(120))
    items = spark.createDataFrame(pdf.drop(columns=["cluster_id", "transform"]))
    got = {(r.a, r.b) for r in image_dup_pairs(items, max_hamming=8).collect()}

    by_cluster = collections.defaultdict(list)
    for r in pdf.itertuples():
        by_cluster[r.cluster_id].append(r.item_id)
    expected = {
        (a, b)
        for ids in by_cluster.values()
        for i, a in enumerate(sorted(ids))
        for b in sorted(ids)[i + 1 :]
    }
    assert got == expected and len(expected) > 0

"""CLI parity test: drive compute -> index -> search -> profile (the
kmcp subcommand chain) plus merge, over a corpus with planted dups, and
check the chain finds exactly the planted clusters."""

import os

import numpy as np
from pyspark.sql import functions as F

from kmcp_spark.cli import main
from kmcp_spark.corpus import CLIPS_SCHEMA, make_rows


def _write_clips(spark, path, ids):
    pdf = make_rows(np.array(ids), min_dur_s=0.5, max_dur_s=0.8)
    truth = pdf[["clip_id", "cluster_id"]]
    spark.createDataFrame(
        pdf.drop(columns=["cluster_id", "transform"]), schema=CLIPS_SCHEMA
    ).coalesce(1).write.mode("overwrite").parquet(path)
    return truth


def test_cli_chain(spark, tmp_out):
    clips = os.path.join(tmp_out, "clips")
    sk = os.path.join(tmp_out, "sk")
    idx = os.path.join(tmp_out, "idx")
    hits = os.path.join(tmp_out, "hits")
    prof = os.path.join(tmp_out, "prof")
    # blocks 0+2 active: cluster {40..43} + {0,1}, controls + independents
    truth = _write_clips(spark, clips, list(range(0, 60)))

    r = main(["compute", "--input", clips, "--out-dir", sk, "--cores", "8"])
    assert r["rows"] == 60

    r = main(["index", "--sketches", sk, "--out-dir", idx, "--cores", "8"])
    assert r["rows"] > 0

    r = main([
        "search", "--query", clips, "--index", idx, "--sketches", sk,
        "--out-dir", hits, "--cores", "8",
    ])
    assert r["rows"] > 0
    member = "clip_0000000041"
    assert member in {x.query_id for x in spark.read.parquet(hits).collect()}

    # F4 gate on queries: a 30 ms query is not searched, even when its
    # bytes are a planted member's
    short_q = os.path.join(tmp_out, "short_q")
    short_hits = os.path.join(tmp_out, "short_hits")
    (
        spark.read.parquet(clips)
        .filter(F.col("clip_id").isin(member, "clip_0000000042"))
        .withColumn("dur_ms", F.when(F.col("clip_id") == member, 30).otherwise(F.col("dur_ms")))
        .write.parquet(short_q)
    )
    main(["search", "--query", short_q, "--index", idx, "--sketches", sk,
          "--out-dir", short_hits, "--cores", "8"])
    got_q = {x.query_id for x in spark.read.parquet(short_hits).collect()}
    assert got_q == {"clip_0000000042"}

    r = main([
        "profile", "--matches", hits, "--sketches", sk,
        "--out-dir", prof, "--cores", "8",
    ])
    clusters = spark.read.parquet(os.path.join(prof, "clusters"))
    got = {
        tuple(sorted(x.clip_id for x in g))
        for g in [
            list(rows)
            for _, rows in __import__("itertools").groupby(
                sorted(clusters.filter("cluster_size > 1").collect(),
                       key=lambda x: x.cluster_id),
                key=lambda x: x.cluster_id,
            )
        ]
    }
    want = {
        tuple(sorted(g["clip_id"]))
        for _, g in truth.groupby("cluster_id")
        if len(g) > 1
    }
    assert got == want, f"CLI chain clusters {got} != planted {want}"
    for rep in r["reports"]:  # report names; files land under prof/reports/
        assert os.path.exists(os.path.join(prof, "reports", rep))


def test_cli_merge(spark, tmp_out):
    clips_a = os.path.join(tmp_out, "ca")
    clips_b = os.path.join(tmp_out, "cb")
    _write_clips(spark, clips_a, range(20, 30))
    _write_clips(spark, clips_b, range(25, 35))  # 5-clip overlap
    sa, sb, merged = (os.path.join(tmp_out, d) for d in ("sa", "sb", "merged"))
    main(["compute", "--input", clips_a, "--out-dir", sa, "--cores", "8"])
    main(["compute", "--input", clips_b, "--out-dir", sb, "--cores", "8"])
    r = main(["merge", "--inputs", sa, sb, "--out-dir", merged, "--cores", "8"])
    assert r["rows"] == 15  # union of 10 + 10 with 5 dups


def test_cli_utils(spark, tmp_out):
    clips = os.path.join(tmp_out, "clips")
    sk = os.path.join(tmp_out, "sk")
    idx = os.path.join(tmp_out, "idx")
    dens = os.path.join(tmp_out, "dens")
    _write_clips(spark, clips, list(range(0, 20)))
    main(["compute", "--input", clips, "--out-dir", sk, "--cores", "8"])
    main(["index", "--sketches", sk, "--out-dir", idx, "--cores", "8"])

    r = main(["utils-index-density", "--index", idx, "--out-dir", dens, "--cores", "8"])
    assert r["rows"] > 0
    hist = spark.read.parquet(dens).toPandas()
    assert (hist["bucket_size"] >= 1).all() and (hist["n_buckets"] >= 1).all()

    r = main(["utils-index-info", "--index", idx, "--cores", "8"])
    assert r["n_clips"] == 20 and r["n_bands"] == 32
    assert r["band_rows"] == 20 * 32 and r["n_buckets"] <= r["band_rows"]

    r = main(["utils-sketch-info", "--sketches", sk, "--cores", "8"])
    assert r["n_clips"] == 20 and r["n_decode_failed"] == 0
    assert 0 < r["min_sketch_size"] <= r["mean_sketch_size"] <= r["max_sketch_size"]

    r = main(["utils-query-fpr", "--n", "32", "--t", "2", "--f", "0.05"])
    assert 0 < r["query_fpr"] < 1 and r["chernoff_bound"] >= r["query_fpr"] * 0.01

    r = main(["utils-cov2simi", "--qcov", "1.0"])
    assert 98.0 <= r["similarity_pct"] <= 100.0


def test_cli_profile_modes(spark, tmp_out):
    """kmcp -m presets: stricter modes keep a subset of looser modes'
    multi-member cluster memberships (monotone precision)."""
    clips = os.path.join(tmp_out, "clips")
    sk = os.path.join(tmp_out, "sk")
    idx = os.path.join(tmp_out, "idx")
    hits = os.path.join(tmp_out, "hits")
    _write_clips(spark, clips, list(range(0, 60)))
    main(["compute", "--input", clips, "--out-dir", sk, "--cores", "8"])
    main(["index", "--sketches", sk, "--out-dir", idx, "--cores", "8"])
    main(["search", "--query", clips, "--index", idx, "--sketches", sk,
          "--out-dir", hits, "--cores", "8"])

    def members(mode):
        out = os.path.join(tmp_out, f"prof_m{mode}")
        r = main(["profile", "--matches", hits, "--sketches", sk,
                  "--out-dir", out, "--cores", "8", "--mode", str(mode)])
        assert r["mode"] == mode
        cl = spark.read.parquet(os.path.join(out, "clusters")).toPandas()
        return {(row.clip_id, row.cluster_id)
                for row in cl.itertuples() if row.cluster_size > 1}

    m0, m5 = members(0), members(5)
    assert m5 <= m0  # strictest preset never adds memberships
    from kmcp_spark.config import PROFILE_MODES, profile_mode
    assert profile_mode(3).min_qcov == 0.75  # reference defaults (profile.go:3174+)
    qc = [PROFILE_MODES[m].min_qcov for m in range(6)]
    assert qc == sorted(qc)
    import pytest
    with pytest.raises(ValueError):
        profile_mode(6)


def test_cli_filter(spark, tmp_out):
    clips = os.path.join(tmp_out, "clips")
    sk = os.path.join(tmp_out, "sk")
    idx = os.path.join(tmp_out, "idx")
    hits = os.path.join(tmp_out, "hits")
    filt = os.path.join(tmp_out, "filt")
    _write_clips(spark, clips, list(range(0, 60)))
    main(["compute", "--input", clips, "--out-dir", sk, "--cores", "8"])
    main(["index", "--sketches", sk, "--out-dir", idx, "--cores", "8"])
    r = main(["search", "--query", clips, "--index", idx, "--sketches", sk,
              "--out-dir", hits, "--cores", "8"])
    n_hits = r["rows"]

    r = main(["filter", "--matches", hits, "--min-query-cov", "0.55",
              "--top", "3", "--keep-main", "--out-dir", filt, "--cores", "8"])
    assert 0 < r["rows"] <= n_hits
    out = spark.read.parquet(filt).toPandas()
    assert (out["containment"] >= 0.55).all()
    assert out.groupby("query_id").size().max() <= 3


def test_cli_discordance(spark, tmp_out):
    """`discordance` classifies a verified-pairs table and reports
    class counts (operator semantics pinned in test_discordance.py)."""
    import pandas as pd

    pairs = os.path.join(tmp_out, "pairs")
    out = os.path.join(tmp_out, "disc")
    pdf = pd.DataFrame(
        {
            "a": ["p1", "p2", "p3"],
            "b": ["q1", "q2", "q3"],
            "text_jaccard": [0.02, 1.0, 0.95],
            "audio_jaccard": [1.0, 0.01, 0.97],
            "min_n_text": [40, 40, 40],
            "min_n_audio": [60, 60, 60],
        }
    )
    spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite").parquet(pairs)
    r = main(["discordance", "--matches", pairs, "--out-dir", out, "--cores", "8"])
    assert r["class_counts"] == {"label_noise": 1, "rerecording": 1, "concordant": 1}
    r = main(["discordance", "--matches", pairs, "--out-dir", out,
              "--only-discordant", "--cores", "8"])
    assert r["rows"] == 2 and "concordant" not in r["class_counts"]


def test_cli_quality(spark, tmp_out):
    """`quality` writes per-clip gate verdicts and reports pass counts
    (operator semantics pinned in test_quality.py)."""
    import numpy as np

    from kmcp_spark.functions.audio import encode_wav

    SR = 16000
    t = np.arange(int(SR * 0.8)) / SR
    loud = (0.5 * np.sin(2 * np.pi * 440 * t)).astype(np.float32)
    quiet = (0.005 * loud).astype(np.float32)
    txt = "a perfectly ordinary transcript of ten words right here"
    clips = os.path.join(tmp_out, "clips")
    out = os.path.join(tmp_out, "quality")
    spark.createDataFrame(
        [
            ("c1", encode_wav(loud, SR), SR, 800, "wav", txt),
            ("c2", encode_wav(quiet, SR), SR, 800, "wav", txt),
            ("c3", b"\xff\xfb\x90\x00x", SR, 800, "mp3", txt),
        ],
        "clip_id string, bytes binary, sr_hz int, dur_ms int, codec string, transcript string",
    ).coalesce(1).write.mode("overwrite").parquet(clips)
    r = main(["quality", "--input", clips, "--out-dir", out,
              "--max-cps-centi", "100000", "--cores", "8"])
    assert r["rows"] == 3
    assert r["gate_pass_counts"]["pass_decode"] == 2
    assert r["gate_pass_counts"]["pass_loudness"] == 1
    assert r["gate_pass_counts"]["pass_all"] == 1
    r = main(["quality", "--input", clips, "--out-dir", out,
              "--max-cps-centi", "100000", "--only-failing", "--cores", "8"])
    assert r["rows"] == 2


def test_cli_profile_drop_class(spark, tmp_out):
    """--drop-class rerecording keeps each T7 re-record its own cluster
    through the full compute -> index -> search -> profile chain."""
    clips = os.path.join(tmp_out, "clips")
    sk = os.path.join(tmp_out, "sk")
    idx = os.path.join(tmp_out, "idx")
    hits = os.path.join(tmp_out, "hits")
    pdf = make_rows(np.arange(60), min_dur_s=0.5, max_dur_s=0.8,
                    t7_rerecord=True, t8_mislabel=True)
    spark.createDataFrame(
        pdf.drop(columns=["cluster_id", "transform"]), schema=CLIPS_SCHEMA
    ).coalesce(1).write.mode("overwrite").parquet(clips)
    t7 = set(pdf[pdf["transform"] == "T7"].clip_id)
    assert t7, "fixture must plant a T7 member"

    main(["compute", "--input", clips, "--out-dir", sk, "--cores", "8"])
    main(["index", "--sketches", sk, "--out-dir", idx, "--cores", "8"])
    main(["search", "--query", clips, "--index", idx, "--sketches", sk,
          "--out-dir", hits, "--cores", "8"])

    for extra, want_single in ((["--drop-class", "rerecording"], True), ([], False)):
        prof = os.path.join(tmp_out, "prof" + str(want_single))
        main(["profile", "--matches", hits, "--sketches", sk,
              "--out-dir", prof, "--cores", "8", *extra])
        cl = {r.clip_id: (r.cluster_id, r.cluster_size)
              for r in spark.read.parquet(os.path.join(prof, "clusters")).collect()}
        for cid in t7:
            is_single = cl[cid][1] == 1
            assert is_single == want_single, (extra, cid, cl[cid])


def test_cli_version_no_spark():
    """`version` (kmcp/cmd/version.go analog) must answer without a
    Spark session."""
    from kmcp_spark.cli import main

    out = main(["version"])
    assert out["cmd"] == "version" and out["kmcp_spark"] and out["pyspark"]

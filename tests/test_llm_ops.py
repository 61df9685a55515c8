"""Behavioral tests for the LLM-data operators: planted near-duplicates
must be found (recall), ANN quality vs brute force, multimodal plumbing
shapes. (Value-level parity with DuckDB is covered by the registry
oracle tests in test_entry_contract.py.)
"""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tests.conftest import SF_SMOKE
from query_processing_over_streaming_data_using_flink_spark.operators import dedup as dd
from query_processing_over_streaming_data_using_flink_spark.operators import multimodal as mm
from query_processing_over_streaming_data_using_flink_spark.operators import similarity as sim
from query_processing_over_streaming_data_using_flink_spark.operators import text as tx
from query_processing_over_streaming_data_using_flink_spark.sources.catalog import load_table


@pytest.fixture(scope="module")
def planted_docs(spark):
    """20 docs: 0-9 unique, 10/11 exact dups of 0, 12 near-dup of 1
    (one word changed), 13 unrelated."""
    base = [
        " ".join(f"w{i}t{j}" for j in range(30)) for i in range(10)
    ]
    rows = [(i, base[i], "en", "src", len(base[i])) for i in range(10)]
    rows.append((10, base[0], "en", "src", len(base[0])))
    rows.append((11, base[0], "en", "src", len(base[0])))
    near = base[1].replace("w1t15", "CHANGED")
    rows.append((12, near, "en", "src", len(near)))
    rows.append((13, " ".join(f"zz{j}" for j in range(30)), "en", "src", 0))
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )


def test_exact_dedup_planted(planted_docs):
    out = {r["doc_id"]: r for r in dd.exact_dedup(planted_docs).collect()}
    assert out[10]["canonical_id"] == 0 and not out[10]["is_canonical"]
    assert out[11]["canonical_id"] == 0 and out[0]["is_canonical"]
    assert out[0]["group_size"] == 3
    assert out[12]["is_canonical"]  # near-dup is not an exact dup


def test_minhash_lsh_recall(planted_docs):
    pairs = {(r["doc_a"], r["doc_b"]) for r in dd.minhash_lsh_pairs(planted_docs, 0.5).collect()}
    assert (0, 10) in pairs and (0, 11) in pairs and (10, 11) in pairs
    assert (1, 12) in pairs, "near-dup (1 word of 30 changed) must be caught"
    for p in pairs:
        assert 13 not in p, "unrelated doc must not pair"


def test_cross_snapshot_minhash_recall(spark, planted_docs):
    """Incremental-crawl near-dedup: the history is docs 0-9; the new
    batch contains an exact re-crawl of 0, a near-dup of 1 (one word of
    30 changed — invisible to exact fingerprints), and a genuinely new
    doc. The first two must be flagged non-novel, the new doc novel."""
    history = planted_docs.filter(F.col("doc_id") <= 9).select("doc_id", "text")
    base1 = planted_docs.filter(F.col("doc_id") == 1).first()["text"]
    batch = spark.createDataFrame(
        [
            (100, planted_docs.filter(F.col("doc_id") == 0).first()["text"]),
            (101, base1.replace("w1t15", "EDITED")),
            (102, " ".join(f"fresh{j}" for j in range(30))),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in dd.cross_snapshot_minhash(history, batch, 0.5).collect()}
    assert not out[100]["is_novel"] and out[100]["max_jaccard"] == 1.0
    assert not out[101]["is_novel"], "near-dup re-crawl must be caught"
    assert out[101]["n_near_dups"] >= 1
    assert out[102]["is_novel"] and out[102]["n_near_dups"] == 0
    assert out[102]["max_jaccard"] is None


def test_image_phash_scaled_shifted_recall(spark):
    """Perceptual image dedup: a 2× nearest-neighbor upscale and a
    +20-brightness shift of the same base image must hash to (near-)
    identical dHashes and be paired; an unrelated image must not."""
    import numpy as np

    from query_processing_over_streaming_data_using_flink_spark.operators import media_codec as mc
    from query_processing_over_streaming_data_using_flink_spark.operators import multimodal as mm

    # Mid-range gradient (values 40..199) so the brightness shift never
    # wraps mod 256 and comparison signs are provably unchanged.
    y, x = np.mgrid[0:12, 0:16]
    base = (40 + ((x * 13 + y * 29) % 160))[..., None].repeat(3, axis=2).astype("uint8")
    scaled = mc.resize_nearest(base, 32, 24)
    shifted = np.clip(base.astype("int64") + 20, 0, 255).astype("uint8")
    unrelated = mc.synth_image_pixels_mixed(5)
    rows = [
        (0, bytearray(mc.encode_ppm(base)), mm.PPM_TYPE),
        (1, bytearray(mc.encode_ppm(scaled)), mm.PPM_TYPE),
        (2, bytearray(mc.encode_ppm(shifted)), mm.PPM_TYPE),
        (3, bytearray(mc.encode_ppm(unrelated)), mm.PPM_TYPE),
    ]
    media = spark.createDataFrame(
        rows, "doc_id long, content binary, media_type string"
    )
    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in dd.hamming_band_pairs(mm.image_dhash(media), "dh", 3).collect()
    }
    assert pairs[(0, 1)] == 0, "2x scaled copy must hash identically"
    assert pairs[(0, 2)] == 0, "non-wrapping brightness shift must hash identically"
    assert (1, 2) in pairs
    for p in pairs:
        assert 3 not in p, "unrelated image must not pair"


def test_bmp_codec_roundtrip_and_cross_format_dedup(spark):
    """The BMP codec round-trips bit-exactly (including non-multiple-
    of-4 row widths that force padding, and the top-down negative-
    height variant), and a re-upload of the SAME picture in a
    DIFFERENT container (PPM vs BMP) pairs under perceptual dedup —
    exact byte fingerprints can never see cross-format dups."""
    import numpy as np

    from query_processing_over_streaming_data_using_flink_spark.operators import dedup as dd
    from query_processing_over_streaming_data_using_flink_spark.operators import media_codec as mc
    from query_processing_over_streaming_data_using_flink_spark.operators import multimodal as mm

    for w, h in ((16, 12), (5, 7), (1, 1)):  # 5*3=15 → 1 pad byte/row
        px = ((np.arange(w * h * 3) * 37 + 11) % 256).astype("uint8").reshape(h, w, 3)
        assert np.array_equal(mc.decode_bmp(mc.encode_bmp(px)), px), (w, h)
    # Top-down rows (negative height) — some writers emit this.
    px = ((np.arange(4 * 3 * 3) * 7) % 256).astype("uint8").reshape(3, 4, 3)
    blob = bytearray(mc.encode_bmp(px))
    import struct as st

    st.pack_into("<i", blob, 22, -3)  # flip height sign
    body = np.frombuffer(bytes(blob[54:]), dtype=np.uint8).reshape(3, 12)
    flipped = bytes(blob[:54]) + body[::-1].tobytes()
    assert np.array_equal(mc.decode_bmp(flipped), px)

    y, x = np.mgrid[0:12, 0:16]
    base = (40 + ((x * 13 + y * 29) % 160))[..., None].repeat(3, axis=2).astype("uint8")
    unrelated = mc.synth_image_pixels_mixed(5)
    media = spark.createDataFrame(
        [
            (0, bytearray(mc.encode_ppm(base)), mm.PPM_TYPE),
            (1, bytearray(mc.encode_bmp(base)), mm.BMP_TYPE),
            (3, bytearray(mc.encode_bmp(unrelated)), mm.BMP_TYPE),
        ],
        "doc_id long, content binary, media_type string",
    )
    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in dd.hamming_band_pairs(mm.image_dhash(media), "dh", 3).collect()
    }
    assert pairs[(0, 1)] == 0, "same picture, different container must pair"
    for p in pairs:
        assert 3 not in p, "unrelated image must not pair"


def test_au_codec_roundtrip_and_cross_format_dedup(spark):
    """The Sun AU codec round-trips bit-exactly (including a data
    offset padded past 24 by an annotation), and one clip re-uploaded
    as WAV and AU pairs under the perceptual audio fingerprint."""
    import numpy as np

    from query_processing_over_streaming_data_using_flink_spark.operators import dedup as dd
    from query_processing_over_streaming_data_using_flink_spark.operators import media_codec as mc
    from query_processing_over_streaming_data_using_flink_spark.operators import multimodal as mm

    samples, rate = mc.synth_audio_samples_mixed(2)
    blob = mc.encode_au_pcm16(samples, rate)
    back, brate = mc.decode_au_pcm16(blob)
    assert brate == rate and np.array_equal(back, samples)
    # Annotation-padded offset (header says data starts at 32).
    import struct as st

    padded = (
        st.pack(">4sIIIII", b".snd", 32, samples.size * 2, 3, rate, 1)
        + b"note\x00\x00\x00\x00"
        + samples.astype(">i2").tobytes()
    )
    back2, _ = mc.decode_au_pcm16(padded)
    assert np.array_equal(back2, samples)

    unrelated, urate = mc.synth_audio_samples_mixed(20)
    media = spark.createDataFrame(
        [
            (0, bytearray(mc.encode_wav_pcm16(samples, rate)), mm.WAV_TYPE),
            (1, bytearray(mc.encode_au_pcm16(samples, rate)), mm.AU_TYPE),
            (3, bytearray(mc.encode_au_pcm16(unrelated, urate)), mm.AU_TYPE),
        ],
        "doc_id long, content binary, media_type string",
    )
    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in dd.hamming_band_pairs(mm.audio_ahash(media), "ah", 3).collect()
    }
    assert pairs[(0, 1)] == 0, "same clip, different container must pair"
    for p in pairs:
        assert 3 not in p, "unrelated clip must not pair"


def test_round6_ops_degenerate_inputs(spark):
    """Degenerate-input behavior of the round-6 operators is defined,
    not accidental: a constant Z-order dimension quantizes to rank 0
    (no division blow-up), a single-document corpus has zero
    boilerplate and passes through md5-identical, and an empty allowed
    set yields an empty filtered search instead of an error."""
    import hashlib

    from pyspark.sql import functions as F

    from query_processing_over_streaming_data_using_flink_spark.operators import layout
    from query_processing_over_streaming_data_using_flink_spark.operators import similarity as sim
    from query_processing_over_streaming_data_using_flink_spark.operators.text import boilerplate_strip

    # Constant dimension: span == 0 → every rank 0, keys defined.
    df = spark.createDataFrame([(i, 7) for i in range(10)], "x long, u long")
    b = df.agg(
        F.min("x").alias("xmin"), F.max("x").alias("xmax"),
        F.min("u").alias("umin"), F.max("u").alias("umax"),
    )
    k = df.crossJoin(F.broadcast(b)).select(
        layout.zorder_key(
            layout.quantize_dim(F.col("x"), F.col("xmin"), F.col("xmax")),
            layout.quantize_dim(F.col("u"), F.col("umin"), F.col("umax")),
        ).alias("z")
    )
    zs = [r["z"] for r in k.collect()]
    assert len(zs) == 10 and all(z is not None and z >= 0 for z in zs)

    # Single doc: nothing cross-document, passthrough md5-identical.
    text = " ".join(f"w{j}" for j in range(10))
    one = spark.createDataFrame([(1, text)], "doc_id long, text string")
    row = boilerplate_strip(one, 4, 3).collect()[0]
    assert row["n_boilerplate"] == 0
    assert row["cleaned_md5"] == hashlib.md5(text.encode()).hexdigest()

    # Empty allowed set: empty result, not an error.
    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    empty = emb.filter(F.lit(False)).select(F.col("vec_id").alias("id"))
    assert sim.knn_ivf(emb, queries, k=5, allowed=empty).count() == 0


def test_knn_ivf_filtered_respects_predicate(spark):
    """Filtered vector search: every neighbor honors the predicate
    under normal probing, and with nprobe == cells (scan everything)
    the filtered IVF search is EXACTLY brute force over the allowed
    subset — the filter changes the candidate set, never the scoring."""
    from query_processing_over_streaming_data_using_flink_spark.operators import similarity as sim

    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    allowed = emb.filter(F.col("vec_id") % 2 == 0).select(
        F.col("vec_id").alias("id")
    )

    res = sim.knn_ivf(emb, queries, k=5, allowed=allowed)
    assert res.count() > 0
    assert res.filter(F.col("n_id") % 2 != 0).count() == 0

    full = sim.knn_ivf(
        emb, queries, k=5, cells=sim.IVF_CELLS, nprobe=sim.IVF_CELLS, allowed=allowed
    )
    exact = sim.knn_bruteforce(
        emb.filter(F.col("vec_id") % 2 == 0), queries, k=5
    )
    assert sorted(map(tuple, full.collect())) == sorted(map(tuple, exact.collect()))


def test_boilerplate_strip_planted_banner(spark):
    """Four docs share a verbatim 8-token banner (two 4-token
    segments) before unique tails; one doc is all-unique. The banner
    segments strip from every carrier (cleaned text == the tail, md5-
    verified); the unique doc passes through byte-identical."""
    import hashlib

    from query_processing_over_streaming_data_using_flink_spark.operators.text import boilerplate_strip

    banner = "accept all cookies to continue reading this site"
    tails = {
        i: " ".join(f"doc{i}w{j}" for j in range(8)) for i in range(4)
    }
    rows = [(i, f"{banner} {tails[i]}") for i in range(4)]
    unique_text = " ".join(f"only{j}" for j in range(16))
    rows.append((9, unique_text))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    out = {r["doc_id"]: r for r in boilerplate_strip(docs, 4, 3).collect()}
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()
    for i in range(4):
        assert out[i]["n_chunks"] == 4 and out[i]["n_boilerplate"] == 2
        assert out[i]["cleaned_md5"] == md5(tails[i]), i
    assert out[9]["n_boilerplate"] == 0
    assert out[9]["cleaned_md5"] == md5(unique_text)


def test_pq_adc_recall_floor(spark):
    """PQ8×8 ADC search must keep mean recall@5 ≥ 0.4 vs exact inner
    product on the (hardest-case: random) smoke embeddings — a floor
    that catches codebook/encoding regressions; the registered
    certification records the exact number (0.58 at r6)."""
    from query_processing_over_streaming_data_using_flink_spark.plans.suite_llm_data import (
        ann_recall_pq_vs_exact,
    )

    rows = ann_recall_pq_vs_exact(spark, SF_SMOKE).collect()
    mean = [r["recall_at_5"] for r in rows if r["q_id"] == -1][0]
    assert mean >= 0.4, mean
    per_q = [r["recall_at_5"] for r in rows if r["q_id"] >= 0]
    assert len(per_q) == 20 and all(0.0 <= r <= 1.0 for r in per_q)


def test_recall_certification_releases_what_it_persists(spark):
    """A recall certification persists both top-5 sides to overlap
    them; once its result is pinned it must release them, or a
    long-lived session (the registry sweep) keeps every cert's frames
    cached. A rebuilt frame with the same plan finds a live cache
    entry through the cache manager, so its storage level shows it."""
    from pyspark import StorageLevel

    from query_processing_over_streaming_data_using_flink_spark.plans.suite_llm_data import (
        _queries_df,
        ann_recall_ivf_vs_exact,
    )

    rows = ann_recall_ivf_vs_exact(spark, SF_SMOKE).collect()
    assert len(rows) == 21
    e = load_table(spark, SF_SMOKE, "embeddings")
    q = _queries_df(spark, SF_SMOKE)
    exact = sim.knn_bruteforce(e, q, k=5).select("q_id", "n_id")
    approx = sim.knn_ivf(e, q, k=5).select("q_id", "n_id")
    assert exact.storageLevel == StorageLevel.NONE
    assert approx.storageLevel == StorageLevel.NONE


def test_audio_ahash_volume_scaled_recall(spark):
    """Perceptual audio dedup: a volume-doubled and a volume-halved*
    copy of the same signal must pair with the original; an unrelated
    signal must not. (*halving uses exact even samples so truncation
    can't flip energy comparisons.)"""
    import numpy as np

    from query_processing_over_streaming_data_using_flink_spark.operators import media_codec as mc
    from query_processing_over_streaming_data_using_flink_spark.operators import multimodal as mm

    base, rate = mc.synth_audio_samples_mixed(7)
    base = (base.astype("int32") * 2).astype("int16")  # all-even samples
    rows = [
        (0, bytearray(mc.encode_wav_pcm16(base, rate)), mm.WAV_TYPE),
        (1, bytearray(mc.encode_wav_pcm16((base * 2).astype("int16"), rate)), mm.WAV_TYPE),
        (2, bytearray(mc.encode_wav_pcm16((base // 2).astype("int16"), rate)), mm.WAV_TYPE),
        (3, bytearray(mc.encode_wav_pcm16(mc.synth_audio_samples_mixed(55)[0], rate)), mm.WAV_TYPE),
    ]
    media = spark.createDataFrame(rows, "doc_id long, content binary, media_type string")
    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in dd.hamming_band_pairs(mm.audio_ahash(media), "ah", 3).collect()
    }
    assert pairs[(0, 1)] == 0, "volume-doubled copy must fingerprint identically"
    assert pairs[(0, 2)] == 0, "volume-halved copy must fingerprint identically"
    for p in pairs:
        assert 3 not in p, "unrelated signal must not pair"


def test_ngram_jaccard_planted(planted_docs):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dd.ngram_jaccard_pairs(planted_docs, 0.5).collect()
    }
    assert pairs[(0, 10)] == 1.0
    assert 0.7 < pairs[(1, 12)] < 1.0


def test_simhash_planted(planted_docs):
    pairs = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in dd.simhash_pairs(planted_docs, 2).collect()}
    assert pairs[(0, 10)] == 0
    assert pairs[(10, 11)] == 0


def test_dedup_clusters_planted(spark, planted_docs):
    """Connected components: {0,10,11} and {1,12} must cluster; chain
    transitivity (10-11 via 0) must hold even if the direct pair is
    absent from the edge list."""
    pairs = dd.ngram_jaccard_pairs(planted_docs, 0.5)
    out = {r["doc_id"]: (r["cluster_id"], r["cluster_size"]) for r in
           dd.dedup_clusters(planted_docs, pairs).collect()}
    assert out[0] == (0, 3) and out[10] == (0, 3) and out[11] == (0, 3)
    assert out[1] == (1, 2) and out[12] == (1, 2)
    assert out[13] == (13, 1)  # unrelated: singleton cluster
    assert out[5] == (5, 1)


def test_ann_lsh_recall_vs_bruteforce(spark):
    e = load_table(spark, SF_SMOKE, "embeddings")
    q = e.filter(F.col("vec_id") < 20)
    bf = {(r["q_id"], r["n_id"]) for r in sim.knn_bruteforce(e, q, k=5).collect()}
    lsh = {(r["q_id"], r["n_id"]) for r in sim.knn_lsh(e, q, k=5).collect()}
    assert len(bf) == 100
    # Bucketed ANN trades recall for candidate-set size; sanity floor.
    assert len(lsh & bf) / len(bf) > 0.15
    # Within-bucket results must be a subset of what brute force would
    # rank for those (q, n) pairs only if cosine agrees — spot check one.
    assert all(r["rank"] <= 5 for r in sim.knn_lsh(e, q, k=5).collect())


def test_cosine_dup_pairs_planted(spark):
    """The 32-bit sign bucket must still catch genuinely near-identical
    vectors: a positively-scaled copy keeps every sign bit (same bucket)
    and cosine 1.0; an unrelated random vector must not pair. (The sf
    fixture data is random noise, so the registered query legitimately
    returns 0 rows — recall is asserted here, on planted dups.)"""
    base = (
        load_table(spark, SF_SMOKE, "embeddings")
        .filter(F.col("vec_id") < 10)
        .select("vec_id", "embedding")
    )
    scaled = base.select(
        (F.col("vec_id") + 10_000).alias("vec_id"),
        F.transform(F.col("embedding"), lambda x: x * F.lit(1.001)).alias("embedding"),
    )
    e = base.unionByName(scaled)
    pairs = {
        (r["id_a"], r["id_b"]): r["sim"]
        for r in sim.cosine_dup_pairs(e, threshold=0.95).collect()
    }
    for i in range(10):
        assert (i, i + 10_000) in pairs, f"scaled copy of {i} must be found"
        assert pairs[(i, i + 10_000)] == 1.0
    assert len(pairs) == 10, "random base vectors must not pair with each other"


def test_embedding_self_similarity(spark):
    e = load_table(spark, SF_SMOKE, "embeddings").limit(5)
    paired = e.select(
        sim.cosine(
            F.col("embedding").cast("array<double>"), F.col("embedding").cast("array<double>")
        ).alias("c")
    )
    for r in paired.collect():
        assert abs(r["c"] - 1.0) < 1e-12


def test_multimodal_plumbing(spark):
    docs = load_table(spark, SF_SMOKE, "documents").limit(50)
    media = mm.attach_binary_content(docs)
    meta = mm.decode_image_meta(media)
    rows = meta.collect()
    assert len(rows) == 50
    for r in rows:
        assert isinstance(r["content"], (bytes, bytearray))
        assert 64 <= r["width"] < 64 + 1920 and 64 <= r["height"] < 64 + 1080
        assert r["n_bytes"] == len(r["content"])

    frames = mm.sample_frames(media, every_n_bytes=64)
    f = frames.filter(F.col("doc_id") == rows[0]["doc_id"]).orderBy("frame_no").collect()
    assert f[0]["offset"] == 0
    assert all(len(x["frame"]) <= 64 for x in f)
    reassembled = b"".join(x["frame"] for x in f)
    assert reassembled == bytes(rows[0]["content"])


def test_multimodal_real_decode_boundary(spark):
    """real_decode=True decodes the formats the built-in codecs cover;
    a media type that genuinely needs an external codec (an opaque
    octet-stream here, JPEG in real life) must still raise — the honest
    boundary, now behind real PPM/WAV decoders instead of a blanket
    stub."""
    docs = load_table(spark, SF_SMOKE, "documents").limit(1)
    media = mm.attach_binary_content(docs)
    with pytest.raises(Exception) as exc_info:
        mm.decode_image_meta(media, real_decode=True).collect()
    assert "NotImplementedError" in str(exc_info.value) or "no built-in codec" in str(exc_info.value)


def test_media_codec_wav_cross_checks_stdlib():
    """Our pure-numpy WAV reader must decode bytes written by the
    stdlib `wave` module (an independent encoder), and the stdlib must
    read ours — interchange, not a private format. No Spark needed."""
    import io
    import wave as stdwave

    import numpy as np

    from query_processing_over_streaming_data_using_flink_spark.operators import media_codec as mc

    samples, rate = mc.synth_audio_samples(123)

    # stdlib-written bytes -> our reader
    buf = io.BytesIO()
    with stdwave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(samples.tobytes())
    got, got_rate = mc.decode_wav_pcm16(buf.getvalue())
    assert got_rate == rate
    assert np.array_equal(got, samples)

    # our bytes -> stdlib reader
    ours = mc.encode_wav_pcm16(samples, rate)
    with stdwave.open(io.BytesIO(ours), "rb") as r:
        assert r.getnchannels() == 1 and r.getsampwidth() == 2
        assert r.getframerate() == rate
        assert np.array_equal(
            np.frombuffer(r.readframes(r.getnframes()), dtype="<i2"), samples
        )


def test_media_codec_ppm_comments_and_resize():
    """The PPM reader must handle the spec's comment lines (real files
    have them) and round-trip pixels exactly; nearest-neighbor resize
    halves dimensions with exact index arithmetic."""
    import numpy as np

    from query_processing_over_streaming_data_using_flink_spark.operators import media_codec as mc

    px = mc.synth_image_pixels(42)
    data = mc.encode_ppm(px)
    assert np.array_equal(mc.decode_ppm(data), px)

    # Inject a netpbm comment between header tokens.
    h, w = px.shape[0], px.shape[1]
    commented = (
        f"P6\n# written by some tool\n{w} {h}\n# maxval next\n255\n".encode()
        + px.tobytes()
    )
    assert np.array_equal(mc.decode_ppm(commented), px)

    small = mc.resize_nearest(px, w // 2, h // 2)
    assert small.shape == (h // 2, w // 2, 3)
    # Nearest-neighbor: every output pixel is an exact input pixel.
    assert np.array_equal(small[0, 0], px[0, 0])


def test_media_codec_roundtrip_property():
    """Property: ANY rgb array / int16 signal round-trips bit-exactly
    through the codecs (not just the synthesized patterns)."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from query_processing_over_streaming_data_using_flink_spark.operators import media_codec as mc

    @settings(max_examples=50, deadline=None)
    @given(st.integers(1, 40), st.integers(1, 40), st.integers(0, 2**32 - 1))
    def check_ppm(w, h, seed):
        rng = np.random.RandomState(seed)
        px = rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)
        assert np.array_equal(mc.decode_ppm(mc.encode_ppm(px)), px)

    @settings(max_examples=50, deadline=None)
    @given(st.integers(0, 2000), st.integers(1, 96000), st.integers(0, 2**32 - 1))
    def check_wav(n, rate, seed):
        rng = np.random.RandomState(seed)
        samples = rng.randint(-32768, 32768, size=n).astype(np.int16)
        got, got_rate = mc.decode_wav_pcm16(mc.encode_wav_pcm16(samples, rate))
        assert got_rate == rate and np.array_equal(got, samples)

    check_ppm()
    check_wav()


def test_multimodal_resize_roundtrip(spark):
    """resize_image re-encodes real PPM bytes: decoded output has the
    target dimensions; audio rows pass through byte-identical."""
    from query_processing_over_streaming_data_using_flink_spark.operators import media_codec as mc

    docs = load_table(spark, SF_SMOKE, "documents").filter(F.col("doc_id") < 10)
    media = mm.synthesize_media(docs)
    before = {r["doc_id"]: bytes(r["content"]) for r in media.collect()}
    resized = mm.resize_image(media, 4, 3)
    for r in resized.collect():
        if r["media_type"] == mm.PPM_TYPE:
            px = mc.decode_ppm(bytes(r["content"]))
            assert px.shape == (3, 4, 3)
        else:
            assert bytes(r["content"]) == before[r["doc_id"]]


def test_text_quality_bounds(spark):
    docs = load_table(spark, SF_SMOKE, "documents")
    stats = docs.select(
        tx.token_count(F.col("text")).alias("n"),
        tx.quality_score(F.col("text")).alias("q"),
        tx.punct_ratio(F.col("text")).alias("p"),
    )
    agg = stats.agg(
        F.min("q"), F.max("q"), F.min("p"), F.max("p"), F.min("n")
    ).collect()[0]
    assert 0.0 <= agg[0] <= agg[1] <= 1.0
    assert agg[2] == 0.0  # synthetic corpus has no punctuation
    assert agg[4] >= 10


def test_lang_id_deterministic(spark):
    docs = load_table(spark, SF_SMOKE, "documents")
    out1 = sorted([tuple(r) for r in docs.select("doc_id", tx.lang_id(F.col("text"))).collect()])
    out2 = sorted([tuple(r) for r in docs.select("doc_id", tx.lang_id(F.col("text"))).collect()])
    assert out1 == out2
    en = spark.createDataFrame(
        [(1, "the cat sat of the mat and went to a house")], "doc_id long, text string"
    )
    assert en.select(tx.lang_id(F.col("text"))).collect()[0][0] == "en"
    de = spark.createDataFrame(
        [(2, "der hund und die katze sind ein team")], "doc_id long, text string"
    )
    assert de.select(tx.lang_id(F.col("text"))).collect()[0][0] == "de"


def test_decontaminate_planted(planted_docs):
    """Eval set = {0}: its exact dups 10/11 must be flagged with full
    shingle overlap; unrelated doc 13 must not appear."""
    out = {r["doc_id"]: r for r in dd.decontaminate(planted_docs, F.col("doc_id") == 0).collect()}
    assert 10 in out and 11 in out
    assert out[10]["n_shared_shingles"] == 28  # 30 tokens -> 28 3-grams
    assert out[10]["n_eval_docs"] == 1
    assert 13 not in out
    assert 0 not in out, "eval docs themselves are not reported"


def test_stratified_sample_deterministic(planted_docs):
    rates = {"en": 500}
    a = sorted(r["doc_id"] for r in tx.stratified_sample(planted_docs, rates).collect())
    b = sorted(
        r["doc_id"]
        for r in tx.stratified_sample(planted_docs.repartition(7), rates).collect()
    )
    assert a == b, "sample must be independent of partitioning"
    zero = tx.stratified_sample(planted_docs, {"en": 0}).count()
    full = tx.stratified_sample(planted_docs, {"en": 1000}).count()
    assert zero == 0 and full == planted_docs.count()


def test_ann_ivf_recall_vs_bruteforce(spark):
    """IVF-flat probing 4/16 cells must recover a meaningful share of
    the true top-5 (weakly clustered fixture data), and every reported
    neighbor's similarity must be exact (it is scored, not estimated)."""
    e = load_table(spark, SF_SMOKE, "embeddings")
    q = e.filter(F.col("vec_id") < 20)
    truth = {
        (r["q_id"], r["n_id"]) for r in sim.knn_bruteforce(e, q, k=5).collect()
    }
    got_rows = sim.knn_ivf(e, q, k=5).collect()
    got = {(r["q_id"], r["n_id"]) for r in got_rows}
    recall = len(got & truth) / len(truth)
    assert recall >= 0.25, f"recall {recall}"
    exact = {
        (r["q_id"], r["n_id"]): r["sim"] for r in sim.knn_bruteforce(e, q, k=500).collect()
    }
    for r in got_rows:
        assert abs(exact[(r["q_id"], r["n_id"])] - r["sim"]) < 1e-9


def test_redact_pii_planted(spark):
    df = spark.createDataFrame(
        [(1, "mail bob.smith+x@corp.example.org or call +1 (555) 123-4567 today"),
         (2, "no pii here at all")],
        "doc_id long, text string",
    )
    n_email, n_phone = tx.pii_counts(F.col("text"))
    out = {r["doc_id"]: r for r in df.select(
        "doc_id", n_email.alias("e"), n_phone.alias("p"),
        tx.redact_pii(F.col("text")).alias("red")).collect()}
    assert out[1]["e"] == 1 and out[1]["p"] == 1
    assert out[1]["red"] == "mail <EMAIL> or call <PHONE> today"
    assert out[2]["e"] == 0 and out[2]["p"] == 0 and out[2]["red"] == "no pii here at all"


def test_pack_sequences_invariants(spark):
    """Offsets restart at each budget boundary; a document's sequence
    id is its start offset / budget; layout is doc_id-ordered."""
    docs = load_table(spark, SF_SMOKE, "documents")
    out = tx.pack_sequences(docs, budget_tokens=256).collect()
    by_lang = {}
    for r in sorted(out, key=lambda r: (r["lang"], r["doc_id"])):
        cum = by_lang.get(r["lang"], 0)
        assert r["seq_id"] == cum // 256
        assert r["seq_offset"] == cum % 256
        by_lang[r["lang"]] = cum + r["n_tokens"]


def test_keep_best_dedup_prefers_quality(spark, planted_docs):
    """Canonical selection by quality: in a cluster where a LATER doc is
    longest, keep_best must pick it (not the min id), tying on min id."""
    # doc 1 and its near-dup 12: make 12 longer than 1.
    docs = planted_docs.withColumn(
        "n_chars",
        F.when(F.col("doc_id") == 12, F.lit(10_000)).otherwise(F.col("n_chars")),
    )
    clusters = dd.dedup_clusters(docs, dd.ngram_jaccard_pairs(docs, threshold=0.35))
    out = {r["doc_id"]: r for r in dd.keep_best_dedup(docs, clusters).collect()}
    # cluster of {1, 12}: 12 is longer -> kept; 1 dropped.
    assert out[12]["keep"] and out[12]["keep_id"] == 12
    assert not out[1]["keep"] and out[1]["keep_id"] == 12
    # cluster of {0, 10, 11}: equal length -> tie-break min doc_id.
    assert out[0]["keep"] and out[10]["keep_id"] == 0 and not out[11]["keep"]
    # singletons keep themselves.
    assert out[13]["keep"]


def test_bpe_regex_token_count_exact(spark):
    """The regex pre-tokenizer piece count is exact on known strings
    (every char in exactly one piece; contractions split off)."""
    rows = [
        (1, "it's a test"),     # [it]['s][ a][ test] = 4
        (2, "abc123 x-y"),      # [abc][123][ x][-][y] = 5
        (3, "  hello  "),       # [  hello (space-prefix run? ' hello')]...
    ]
    df = spark.createDataFrame(rows, "id long, t string")
    got = {
        r["id"]: r["n"]
        for r in df.select("id", tx.token_count_bpe_regex(F.col("t")).alias("n")).collect()
    }
    assert got[1] == 4
    assert got[2] == 5
    # "  hello  ": [' '](ws run of 1? — " ?[A-Za-z]+" grabs ' hello' after
    # one leading space consumed by \s+... leading '  ' -> first alternative
    # match is ws run ' ' then ' hello' then trailing '  ' ws run = 3
    assert got[3] == 3


def test_latest_per_key_compaction(spark):
    from query_processing_over_streaming_data_using_flink_spark.operators.relational import (
        latest_per_key,
    )

    rows = [
        (1, "2024-01-01 10:00:00", 100),
        (2, "2024-01-01 11:00:00", 100),  # later ts wins
        (3, "2024-01-01 11:00:00", 100),  # tied ts -> higher event_id wins
        (4, "2024-01-01 09:00:00", 200),
    ]
    df = spark.createDataFrame(rows, "event_id long, ts string, user_id long").withColumn(
        "ts", F.col("ts").cast("timestamp_ntz")
    )
    got = {
        r["user_id"]: r["event_id"]
        for r in latest_per_key(df, ["user_id"], [F.desc("ts"), F.desc("event_id")]).collect()
    }
    assert got == {100: 3, 200: 4}


def test_q3_sql_stream_equals_batch(spark):
    """The identical Q3 SQL text drained under streaming evaluation
    (complete mode, file-stream lineitem) == its batch evaluation — and
    the aggregate's state stays bounded by Q3's GROUP COUNT (one row
    per qualifying order), not by streamed lineitem volume (the
    complete-mode state bound documented on q3_sql_stream)."""
    from pyspark.sql import functions as F

    from query_processing_over_streaming_data_using_flink_spark.plans.tpch import (
        Q3_CUTOFF,
        q3_shipping_priority,
        q3_sql_stream,
    )
    from query_processing_over_streaming_data_using_flink_spark.sources.catalog import load_table

    metrics: list = []
    got = sorted(tuple(r) for r in q3_sql_stream(spark, SF_SMOKE, metrics).collect())
    want = sorted(tuple(r) for r in q3_shipping_priority(spark, SF_SMOKE).collect())
    assert got == want

    assert metrics, "stream reported no state operators"
    state_rows = max(m["numRowsTotal"] for m in metrics)
    n_qualifying_orders = (
        load_table(spark, SF_SMOKE, "orders")
        .filter(F.col("o_orderdate") < F.lit(Q3_CUTOFF).cast("timestamp_ntz"))
        .count()
    )
    n_lineitem = load_table(spark, SF_SMOKE, "lineitem").count()
    assert 0 < state_rows <= n_qualifying_orders, (state_rows, n_qualifying_orders)
    assert state_rows < n_lineitem, "state must not scale with the stream"


def test_chunking_covers_document(spark):
    """Every character of every doc appears in at least one chunk;
    consecutive chunks overlap by exactly size-stride chars (except a
    short final chunk); reassembling chunk[0..] at stride offsets
    reproduces the document."""
    from query_processing_over_streaming_data_using_flink_spark.plans.suite_llm_data import (
        chunk_documents_overlap,
    )

    docs = {r["doc_id"]: r["text"] for r in load_table(spark, SF_SMOKE, "documents").limit(50).collect()}
    chunks = chunk_documents_overlap(spark, SF_SMOKE)
    by_doc = {}
    for r in chunks.filter(F.col("doc_id").isin(list(docs))).collect():
        by_doc.setdefault(r["doc_id"], []).append((r["chunk_id"], r["chunk_start"], r["chunk_text"]))
    for doc_id, text in docs.items():
        cs = sorted(by_doc[doc_id])
        # coverage: last chunk reaches the end of the document
        last_id, last_start, last_text = cs[-1]
        assert last_start + len(last_text) == len(text)
        for cid, start, ctext in cs:
            assert text[start:start + len(ctext)] == ctext
            assert len(ctext) == 200 or (cid == last_id)


def test_mixture_token_budget_invariants(spark):
    """The mixture audit must respect its own arithmetic: rates in
    (0, 1], kept <= available per source, total kept tokens within the
    half-corpus budget plus one expected-draw slack per source, and
    fully-kept sources (rate 1.0) keep every doc."""
    from query_processing_over_streaming_data_using_flink_spark.plans.suite_llm_data import (
        mixture_token_budget,
    )

    rows = mixture_token_budget(spark, SF_SMOKE).collect()
    assert rows, "expected at least one source"
    total = sum(r.est_tokens for r in rows)
    budget = total // 2
    kept_total = sum(r.kept_tokens for r in rows)
    for r in rows:
        assert 0 < r.keep_rate <= 1.0
        assert r.kept_docs <= r.n_docs
        assert r.kept_tokens <= r.est_tokens
        if r.keep_rate == 1.0:
            assert r.kept_docs == r.n_docs
            assert r.kept_tokens == r.est_tokens
    # Bernoulli draws land near rate*tokens; allow generous slack of the
    # largest per-doc contribution times sqrt-ish noise: 25% per source.
    assert kept_total <= budget + sum(int(0.25 * r.est_tokens) for r in rows)


def test_embedding_covariance_matches_numpy(spark):
    """The distributed map-side-partial covariance must equal a plain
    NumPy covariance of the SAME quantized components, for every (i,j)
    cell — proving the partial-gram accumulation and the de-quantized
    formula are exact."""
    import numpy as np

    from query_processing_over_streaming_data_using_flink_spark.operators import linalg as la

    emb = load_table(spark, SF_SMOKE, "embeddings")
    rows = la.covariance_long(emb).collect()
    X = np.stack([r.embedding for r in emb.select("embedding").collect()]).astype("float64")
    Q = np.floor(X * la.Q_COMP)
    n = Q.shape[0]
    expect = (Q.T @ Q) / n - np.outer(Q.sum(axis=0) / n, Q.sum(axis=0) / n)
    expect /= float(la.Q_COMP * la.Q_COMP)
    got = {(r.i, r.j): r.cov for r in rows}
    assert len(got) == X.shape[1] ** 2
    for (i, j), c in got.items():
        assert abs(c - expect[i, j]) < 1e-5, (i, j, c, expect[i, j])


def test_gram_rejects_cross_partition_width_mismatch(spark):
    """Partitions that are internally consistent but disagree on the
    embedding width must fail loudly (the per-partition np.stack guard
    only catches ragged vectors WITHIN a partition)."""
    import pytest

    from query_processing_over_streaming_data_using_flink_spark.operators import linalg as la

    # Width keyed on the partition id: each of the 2 range partitions is
    # internally consistent, so the per-partition np.stack succeeds and
    # only the cross-partition aggregate guard can catch it. (A union of
    # literal sides won't do — ConvertToLocalRelation folds it into one
    # partition.)
    mixed = spark.range(0, 16, 1, 2).selectExpr(
        "case when spark_partition_id() = 0 "
        "then array(cast(id as float), 1.0f) "
        "else array(cast(id as float), 1.0f, 2.0f) end as embedding"
    )
    assert mixed.rdd.getNumPartitions() == 2
    with pytest.raises(Exception, match="disagree on embedding width"):
        la.gram_long(mixed).collect()


def test_power_iteration_rejects_all_zero_gram(spark):
    """A degenerate all-zero corpus must raise (matching the DuckDB
    oracle's division error), not silently emit NULL eigenvector rows
    via non-ANSI x DIV 0."""
    import pytest

    from query_processing_over_streaming_data_using_flink_spark.operators import linalg as la

    zeros = spark.range(0, 16).selectExpr("array(0.0f, 0.0f, 0.0f) as embedding")
    with pytest.raises(Exception, match="all-zero matrix"):
        la.power_iteration_top_eig(la.gram_long(zeros), iters=2, squarings=1).collect()


def test_power_iteration_finds_top_eigvec(spark):
    """After 8 integer-exact rounds the iterate must align with NumPy's
    top eigenvector of the same n-normalized quantized gram matrix
    (|cosine| > 0.99), and the rayleigh diagnostic must approximate the
    top eigenvalue."""
    import numpy as np

    from query_processing_over_streaming_data_using_flink_spark.operators import linalg as la

    emb = load_table(spark, SF_SMOKE, "embeddings")
    out = la.power_iteration_top_eig(la.gram_long(emb), iters=8).collect()
    X = np.stack([r.embedding for r in emb.select("embedding").collect()]).astype("float64")
    Q = np.floor(X * la.Q_COMP).astype("int64")
    Gn = (Q.T @ Q) // Q.shape[0]
    w, V = np.linalg.eigh(Gn.astype("float64"))
    top = V[:, np.argmax(w)]
    v = np.array([r.component for r in sorted(out, key=lambda r: r.dim)])
    cos = abs(v @ top) / (np.linalg.norm(v) * np.linalg.norm(top))
    assert cos > 0.99, cos
    rays = [r.rayleigh for r in out if r.rayleigh is not None and abs(r.component) > 0.2]
    lam = max(w)
    assert rays, "expected rayleigh values on large components"
    for r in rays:
        assert abs(r - lam) / lam < 0.1, (r, lam)


def test_mixture_temperature_upsamples_small_sources(spark):
    """alpha=0.5 temperature must give SMALL sources a keep-rate at
    least as high as proportionally larger ones (the point of
    temperature sampling), with the same budget/consistency invariants
    as the equal-split mixture."""
    from query_processing_over_streaming_data_using_flink_spark.plans.suite_llm_data import (
        mixture_temperature_sampling,
    )

    rows = mixture_temperature_sampling(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert 0 < r.keep_rate <= 1.0
        assert r.kept_docs <= r.n_docs
        assert r.kept_tokens <= r.est_tokens
    by_tokens = sorted(rows, key=lambda r: r.est_tokens)
    # Monotone up to quantization: the weight is floor(sqrt(tokens)),
    # so a smaller source's rate can undershoot by at most ~one weight
    # unit (relative 1/sqrt(tokens)).
    for small, big in zip(by_tokens, by_tokens[1:]):
        slack = 1.0 / max(1.0, float(small.est_tokens) ** 0.5)
        assert small.keep_rate >= big.keep_rate * (1 - slack) - 1e-9, (small, big)
    # And the extremes are genuinely reordered vs proportional: the
    # smallest source's rate beats the largest source's by the
    # sqrt-compression factor (when neither is capped at 1.0).
    lo, hi = by_tokens[0], by_tokens[-1]
    if lo.keep_rate < 1.0 and hi.keep_rate < 1.0:
        assert lo.keep_rate > hi.keep_rate


def test_exact_substring_spans_planted(spark):
    """The VERDICT-r6 acceptance case: one shared 60-token span across
    otherwise-distinct docs pairs them at the default K=50 (with the
    exact maximal span reported); a 40-token shared span does not.
    Also: a doc repeating another's full text twice yields two spans
    (two diagonals), and offsets are exact."""
    span60 = [f"s{j}" for j in range(60)]
    span40 = [f"f{j}" for j in range(40)]

    def doc(prefix, n, middle, suffix_prefix, m):
        return " ".join(
            [f"{prefix}{i}" for i in range(n)] + middle + [f"{suffix_prefix}{i}" for i in range(m)]
        )

    rows = [
        # docs 0/1 share the 60-token span at different offsets
        (0, doc("a", 10, span60, "b", 5)),
        (1, doc("c", 25, span60, "d", 15)),
        # docs 2/3 share only 40 tokens — below threshold
        (2, doc("e", 10, span40, "g", 10)),
        (3, doc("h", 5, span40, "i", 20)),
        # doc 4 contains the 60-token span TWICE (separated by noise)
        (4, " ".join(span60 + ["x0", "x1", "x2"] + span60)),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = dd.exact_substring_spans(docs, span_tokens=50).collect()
    by_pair = {}
    for r in out:
        by_pair.setdefault((r["doc_a"], r["doc_b"]), []).append(r)

    assert (2, 3) not in by_pair, "40-token overlap must NOT pair at K=50"
    # 0-1: one maximal span, exact offsets (1-based), exact length 60
    assert [(r["a_start"], r["b_start"], r["span_len"]) for r in by_pair[(0, 1)]] == [
        (11, 26, 60)
    ]
    # 0-4: the span occurs twice in doc 4 → two diagonals, two spans
    got = sorted((r["a_start"], r["b_start"], r["span_len"]) for r in by_pair[(0, 4)])
    assert got == [(11, 1, 60), (11, 64, 60)]


def test_bpe_known_strings_pinned(spark):
    """True-BPE counting pinned to hand-derived token sequences under
    DEFAULT_MERGES, plus path equality: the mapInPandas production
    tokenizer and the Catalyst replace-chain rendering must agree
    exactly (the causal-ordering equivalence `operators/bpe.py`
    documents)."""
    import re
    from query_processing_over_streaming_data_using_flink_spark.operators import bpe as bp

    bp.validate_merges(bp.DEFAULT_MERGES)
    ranks = {m: i for i, m in enumerate(bp.DEFAULT_MERGES)}
    pat = re.compile(bp.BPE_PRETOKEN_RE)

    # hand-derived: "the" → [the]; " the" → [' ', 'the']; " resting" →
    # [' ', 're', 'st', 'ing']; "don't" → [d, on] + ['t]
    assert bp.bpe_piece("the", ranks) == ["the"]
    assert bp.bpe_piece(" the", ranks) == [" ", "the"]
    assert bp.bpe_piece(" resting", ranks) == [" ", "re", "st", "ing"]
    assert bp.bpe_count_text("the theatre is resting", ranks, pat) == 11
    assert bp.bpe_count_text("don't", ranks, pat) == 4  # [d,on] ['t→',t]
    assert bp.bpe_count_text("", ranks, pat) == 0

    rows = [
        (0, "the theatre is resting"),
        (1, "don't stop believing 123!!"),
        (2, ""),
        (3, "tables are the worst\nand the best"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    py = {r["doc_id"]: r["n_tokens_bpe"] for r in bp.bpe_token_counts(docs).collect()}
    ex = {
        r["doc_id"]: r["n"]
        for r in docs.select("doc_id", bp.bpe_count_expr(F.col("text")).alias("n")).collect()
    }
    assert py == ex
    assert py[0] == 11 and py[2] == 0


def test_dedup_clusters_adversarial_chain(spark):
    """The r6 verdict's adversarial case: a 200-node path graph (pairs
    forming one long chain) — plain min-label propagation needs
    diameter rounds; the hardened pointer-jumping loop must converge
    well under the cap with the whole chain labeled 0, and the lineage
    checkpointing keeps plan depth bounded."""
    n = 200
    docs = spark.range(n).select(F.col("id").alias("doc_id"))
    pairs = spark.range(n - 1).select(
        F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b")
    )
    out = dd.dedup_clusters(docs, pairs, max_rounds=12).collect()
    assert len(out) == n
    assert all(r["cluster_id"] == 0 and r["cluster_size"] == n for r in out)


def test_dedup_clusters_nonconvergence_raises(spark):
    """max_rounds turns pathological non-convergence into a loud error."""
    n = 64
    docs = spark.range(n).select(F.col("id").alias("doc_id"))
    pairs = spark.range(n - 1).select(
        F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b")
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dd.dedup_clusters(docs, pairs, max_rounds=1)


def test_exact_substring_rewrite_keeps_first_occurrence(spark):
    """Rewrite semantics: the lower doc_id keeps its copy of a shared
    span; the higher doc_id has exactly the covered positions
    stripped, md5-verified against the hand-built expected text."""
    import hashlib

    span = [f"s{j}" for j in range(60)]
    a_text = " ".join([f"a{i}" for i in range(10)] + span + ["a_tail"])
    b_pre = [f"b{i}" for i in range(5)]
    b_post = ["b_tail0", "b_tail1"]
    b_text = " ".join(b_pre + span + b_post)
    docs = spark.createDataFrame(
        [(0, a_text), (1, b_text)], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in dd.exact_substring_rewrite(docs, span_tokens=50).collect()}
    # doc 0 (first occurrence): untouched
    assert out[0]["n_dup_tokens"] == 0
    assert out[0]["cleaned_md5"] == hashlib.md5(a_text.encode()).hexdigest()
    # doc 1: the 60 span tokens stripped, surroundings survive in order
    assert out[1]["n_tokens"] == 5 + 60 + 2
    assert out[1]["n_dup_tokens"] == 60
    expect = " ".join(b_pre + b_post)
    assert out[1]["cleaned_md5"] == hashlib.md5(expect.encode()).hexdigest()


def test_cross_snapshot_substring_planted(spark):
    """A new-batch doc sharing a 60-token span with history is flagged
    with the exact span length and source count; a 40-token overlap
    and a fully-novel doc stay novel at K=50."""
    span = [f"s{j}" for j in range(60)]
    short = [f"f{j}" for j in range(40)]
    history = spark.createDataFrame(
        [
            (0, " ".join([f"h{i}" for i in range(8)] + span)),
            (1, " ".join(span + [f"g{i}" for i in range(5)])),
            (2, " ".join(short)),
        ],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (100, " ".join([f"x{i}" for i in range(12)] + span + ["tail"])),
            (101, " ".join(short + [f"y{i}" for i in range(30)])),
            (102, " ".join(f"z{i}" for i in range(70))),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in dd.cross_snapshot_substring(history, batch, 50).collect()}
    assert out[100]["n_dup_sources"] == 2 and out[100]["max_span_len"] == 60
    assert not out[100]["is_novel"]
    assert out[101]["is_novel"] and out[101]["n_spans"] == 0
    assert out[102]["is_novel"]


def test_pq_sample_trained_books_hold_recall(spark):
    """The OPERATIONS.md 10^9-vector rule, evidenced: PQ codebooks
    trained on a deterministic 50% hash-sample of the corpus (then
    encoding ALL vectors) must hold ADC recall@5 within 0.1 of the
    full-corpus-trained books — codebooks are distribution statistics,
    so a sample suffices; and the sample itself is replayable."""
    from pyspark.sql.window import Window

    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = sim.knn_bruteforce_dot(emb, queries, k=5).select("q_id", "n_id")
    truth = {(r["q_id"], r["n_id"]) for r in exact.collect()}

    def adc_recall(books):
        codes = sim.pq_encode(emb, books)
        lut = sim._pq_subvectors(queries, sim.PQ_M).join(F.broadcast(books), "s").select(
            F.col("id").alias("q_id"), "s", "code",
            sim.dot(F.col("sub"), F.col("cvec")).alias("part"),
        )
        scored = (
            codes.join(F.broadcast(lut), ["s", "code"])
            .filter(F.col("q_id") != F.col("id"))
            .groupBy("q_id", F.col("id").alias("n_id"))
            .agg(F.sum("part").alias("score"))
        )
        w = Window.partitionBy("q_id").orderBy(F.desc("score"), F.asc("n_id"))
        got = {
            (r["q_id"], r["n_id"])
            for r in scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 5).select("q_id", "n_id").collect()
        }
        return len(got & truth) / len(truth)

    sample = sim.training_sample(emb, rate_ppm=500_000)
    n_all, n_sample = emb.count(), sample.count()
    assert 0.35 * n_all < n_sample < 0.65 * n_all
    # replayable: the same draw twice is the same sample
    assert sim.training_sample(emb, rate_ppm=500_000).count() == n_sample

    full = adc_recall(sim.pq_codebooks(emb).persist())
    sampled = adc_recall(sim.pq_codebooks(sample).persist())
    assert sampled >= full - 0.1, (full, sampled)


def test_validate_merges_rejects_duplicate_producers():
    """The code-review counterexample: a table where 'bab' is the
    output of TWO merges passes causal ordering but breaks the
    rank-order-pass ≡ greedy-BPE equivalence (on 'babcb' greedy gives
    1 token, the replace chain 2) — validate_merges must reject it."""
    from query_processing_over_streaming_data_using_flink_spark.operators import bpe as bp

    bad = (("b", "a"), ("c", "b"), ("a", "b"), ("b", "ab"), ("bab", "cb"), ("ba", "b"))
    with pytest.raises(ValueError, match="duplicate producers|already produced"):
        bp.validate_merges(bad)


def test_bpe_null_text_stays_null(spark):
    """NULL text must stay NULL through the Python tokenizer (the SQL
    oracle's regexp/replace chain over NULL yields NULL) — not the
    literal string 'None' and its fabricated token mass."""
    from query_processing_over_streaming_data_using_flink_spark.operators import bpe as bp

    docs = spark.createDataFrame(
        [(0, "the end"), (1, None)], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in bp.bpe_token_counts(docs).collect()}
    assert out[0]["n_tokens_bpe"] == 4  # [the] + [' ', 'en', 'd']
    assert out[1]["n_tokens_bpe"] is None and out[1]["n_pieces"] is None


def test_streaming_span_dedup_short_docs_get_verdicts(spark, tmp_path):
    """Docs shorter than span_tokens have no shingles but must still
    appear in the verdict frame (admitted as their own sentinel-key
    owners) — a doc silently missing from the admit/drop log is a
    data-loss bug."""
    from query_processing_over_streaming_data_using_flink_spark.streaming.dedup import (
        IncrementalNearDedup,
    )

    docs = spark.createDataFrame(
        [
            (0, " ".join(f"a{i}" for i in range(60))),
            (1, "tiny doc"),
            (2, "another short one"),
        ],
        "doc_id long, text string",
    )
    h = IncrementalNearDedup(
        spark,
        str(tmp_path / "state"),
        band_fn=lambda b: dd.span_band_key_rows(b, span_tokens=50),
    )
    v = {r["doc_id"]: r["dup_of"] for r in h.process_batch(docs, 0).collect()}
    assert set(v) == {0, 1, 2}, "every doc gets a verdict, short ones included"
    assert v[1] is None and v[2] is None


def test_rerank_improves_ivfpq_recall_and_curve_endpoint(spark):
    """Two recall invariants pinned at smoke scale: (a) IVFPQ+R beats
    plain IVF-PQ recall@5 (re-ranking removes the code-quantization
    loss; nprobe 8 vs 4 widens cell containment), and (b) probing all
    16 cells makes IVF exact — recall exactly 1.0, the curve's
    self-certifying endpoint."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact_dot = sim.knn_bruteforce_dot(emb, queries, k=5).select("q_id", "n_id")
    truth_dot = {(r["q_id"], r["n_id"]) for r in exact_dot.collect()}

    def recall(df, truth):
        got = {(r["q_id"], r["n_id"]) for r in df.select("q_id", "n_id").collect()}
        return len(got & truth) / len(truth)

    plain = recall(sim.knn_ivfpq(emb, queries, k=5), truth_dot)
    reranked = recall(sim.knn_ivfpq_rerank(emb, queries, k=5), truth_dot)
    assert reranked > plain, (plain, reranked)

    exact_cos = sim.knn_bruteforce(emb, queries, k=5).select("q_id", "n_id")
    truth_cos = {(r["q_id"], r["n_id"]) for r in exact_cos.collect()}
    full_probe = recall(
        sim.knn_ivf(emb, queries, k=5, nprobe=sim.IVF_CELLS), truth_cos
    )
    assert full_probe == 1.0, full_probe


def test_bpe_train_planted(spark):
    """BPE training on a planted corpus: the most frequent adjacent
    pair is learned first, later rounds consume earlier outputs
    (causal ordering by construction), and the learned table feeds
    straight into the tokenizer (validate_merges accepts it; counts
    drop vs. the untrained char baseline)."""
    from query_processing_over_streaming_data_using_flink_spark.operators import bpe as bp

    # 'ab' appears 3x per doc in 4 docs => pair (a,b) dominates.
    docs = spark.createDataFrame(
        [(i, "abz abz abz qq") for i in range(4)], "doc_id long, text string"
    )
    merges = bp.bpe_train(docs, num_merges=3)
    assert merges[0] == ("a", "b")
    bp.validate_merges(tuple(merges))
    counts = {
        r["doc_id"]: r["n_tokens_bpe"]
        for r in bp.bpe_token_counts(docs, tuple(merges)).collect()
    }
    baseline = {
        r["doc_id"]: r["n_tokens_bpe"]
        for r in bp.bpe_token_counts(docs, ()).collect()
    }
    assert all(counts[d] < baseline[d] for d in counts)


def test_sq8_recall_beats_pq_floor(spark):
    """SQ8 at 4× compression must hold mean recall@5 ≥ 0.85 vs exact
    inner product on the random smoke embeddings — far above PQ's 32×
    floor (the registered certification records 0.97 at sf0.01)."""
    from query_processing_over_streaming_data_using_flink_spark.plans.suite_llm_data import (
        ann_recall_sq8_vs_exact,
    )

    rows = ann_recall_sq8_vs_exact(spark, SF_SMOKE).collect()
    mean = [r["recall_at_5"] for r in rows if r["q_id"] == -1][0]
    assert mean >= 0.85, mean


def test_sq8_encode_reconstruction_error_bounded(spark):
    """Every reconstructed coordinate lo + code·(hi-lo)/255 must sit
    within one quantization step of the original (the SQ8 error
    envelope), and codes must stay in [0, 255]."""
    from pyspark.sql import functions as F

    from query_processing_over_streaming_data_using_flink_spark.operators import similarity as sim
    from query_processing_over_streaming_data_using_flink_spark.sources.catalog import load_table

    e = load_table(spark, SF_SMOKE, "embeddings")
    bounds = sim.sq8_bounds(e)
    codes = sim.sq8_encode(e, bounds)
    comp = e.select(
        "vec_id", F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "x")
    )
    recon = (
        codes.select("vec_id", F.posexplode("codes").alias("dim", "code"))
        .join(bounds, "dim")
        .join(comp, ["vec_id", "dim"])
        .withColumn(
            "xhat",
            F.col("lo") + F.col("code") * (F.col("hi") - F.col("lo")) / 255.0,
        )
        .withColumn("step", (F.col("hi") - F.col("lo")) / 255.0)
    )
    bad = recon.filter(
        (F.col("code") < 0)
        | (F.col("code") > 255)
        | (F.abs(F.col("x") - F.col("xhat")) > F.col("step") * 1.0000001)
    )
    assert bad.count() == 0


def test_semantic_dup_pairs_flags_planted_scaled_copies(spark):
    """SemDeDup blocking: a scaled copy (cosine 1.0) must land in the
    same trained IVF cell as its original and be flagged at the
    production 0.95 threshold; unrelated vectors must not pair."""
    import random

    from query_processing_over_streaming_data_using_flink_spark.operators import similarity as sim

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(16)], 0) for i in range(40)
    ]
    # planted: 100 is exactly 2x vector 5 (cosine 1.0)
    rows.append((100, [2.0 * x for x in rows[5][1]], 0))
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    pairs = {
        (r["id_a"], r["id_b"])
        for r in sim.semantic_dup_pairs(e, threshold=0.95).collect()
    }
    assert (5, 100) in pairs
    assert all(a == 5 and b == 100 for a, b in pairs), pairs


def test_sample_cluster_balanced_caps_big_clusters_keeps_small(spark, tmp_path):
    """Cluster-balanced sampling semantics on the real smoke fixture:
    every cell keeps min(cell_size, CBAL_PER_CELL) vectors (exact
    counts — a rank cap, not probabilistic thinning), sample_rank is
    dense 1..kept within each cell, and the selection is identical
    under a different partitioning (the draw is layout-independent)."""
    from query_processing_over_streaming_data_using_flink_spark.plans.suite_llm_data import (
        CBAL_PER_CELL,
        sample_cluster_balanced,
    )

    out = sample_cluster_balanced(spark, SF_SMOKE)
    rows = out.collect()
    by_cell = {}
    for r in rows:
        by_cell.setdefault(r["cell"], []).append(r)
    assert by_cell, "no cells sampled"
    for cell, cell_rows in by_cell.items():
        size = cell_rows[0]["cell_size"]
        kept = len(cell_rows)
        assert kept == min(size, CBAL_PER_CELL), (cell, size, kept)
        assert sorted(r["sample_rank"] for r in cell_rows) == list(
            range(1, kept + 1)
        )
    # layout independence: rewrite the embeddings at a different
    # partitioning and re-run — the sample must be identical.
    alt_dir = str(tmp_path / "alt_sf")
    os.makedirs(alt_dir)
    for t in ("embeddings",):
        spark.read.parquet(os.path.join(SF_SMOKE, f"{t}.parquet")).repartition(
            7
        ).write.parquet(os.path.join(alt_dir, f"{t}.parquet"))
    alt = {
        (r["vec_id"], r["cell"], r["sample_rank"])
        for r in sample_cluster_balanced(spark, alt_dir).collect()
    }
    assert alt == {(r["vec_id"], r["cell"], r["sample_rank"]) for r in rows}


def test_embedding_outliers_flags_planted_corruption(spark, tmp_path):
    """A vector pointing AWAY from its label's cluster must flag as an
    outlier; the in-cluster vectors must not."""
    import os
    import random

    from query_processing_over_streaming_data_using_flink_spark.plans.suite_llm_data import embedding_outliers

    rng = random.Random(3)
    rows = []
    for i in range(30):
        # label-0 cluster: basis direction +e0 with small noise
        rows.append((i, [1.0] + [rng.uniform(-0.1, 0.1) for _ in range(7)], 0))
    rows.append((100, [-1.0] + [0.0] * 7, 0))  # corrupted: flipped
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    d = str(tmp_path / "sf")
    e.write.parquet(os.path.join(d, "embeddings.parquet"))
    out = {r["vec_id"]: r for r in embedding_outliers(spark, d).collect()}
    assert out[100]["is_outlier"]
    flagged = [k for k, r in out.items() if r["is_outlier"]]
    assert flagged == [100], flagged


def test_mmr_breaks_up_redundant_top_k(spark):
    """Planted pool: the query's nearest cluster is 4 near-identical
    vectors plus distinct directions further out. Plain top-5 returns
    the redundant cluster; MMR must interleave the distinct directions
    after taking one cluster representative."""
    from query_processing_over_streaming_data_using_flink_spark.operators import similarity as sim

    def v(*xs):
        return [float(x) for x in xs] + [0.0] * (8 - len(xs))

    # query at e0; a 4-copy redundant cluster at ~(0.85, 0.527, 0)
    # (relevance 0.85, mutual cosine ~1); two distinct directions at
    # relevance 0.8 but only ~0.68 cosine to the cluster and ~0.28 to
    # each other — the MMR penalty must promote them over cluster
    # copies 2-4.
    rows = [
        (0, v(1, 0, 0), 0),
        (1, v(0.85, 0.527, 0), 0),
        (2, v(0.85, 0.527, 0.001), 0),
        (3, v(0.85, 0.527, 0.002), 0),
        (4, v(0.85, 0.527, 0.003), 0),
        (5, v(0.8, 0, 0.6), 0),
        (6, v(0.8, 0, -0.6), 0),
    ]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    q = e.filter(F.col("vec_id") == 0)
    plain = {
        r["n_id"]
        for r in sim.knn_bruteforce(e, q, k=5).collect()
    }
    mmr = {
        r["sel_round"]: r["n_id"]
        for r in sim.mmr_select(e, q, k_pool=6, k_select=4, lam=0.5).collect()
    }
    # plain top-5 is saturated by the cluster (all four copies rank
    # above the second distinct direction)
    assert {1, 2, 3, 4} <= plain
    # MMR: first pick is the best cluster member, then the two
    # distinct directions enter before the cluster's 3rd copy
    picks = [mmr[r] for r in sorted(mmr)]
    assert picks[0] in {1, 2, 3, 4}
    assert {5, 6} <= set(picks[:3]), picks


# ---------------------------------------------------------------------------
# export_shard_manifest / tokenizer_fertility_report (round 10)
# ---------------------------------------------------------------------------


def _write_docs(spark, rows, d):
    os.makedirs(d, exist_ok=True)
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    return d


def test_shard_manifest_covers_corpus_and_is_layout_independent(spark, tmp_path):
    """Every document lands in exactly one shard (the per-shard doc
    counts sum to the corpus size), and the manifest is bit-identical
    when the input parquet is rewritten at a different partitioning —
    the export is a pure function of the data, not of task layout."""
    from query_processing_over_streaming_data_using_flink_spark.plans.suite_llm_data import (
        N_SHARDS,
        export_shard_manifest,
    )

    man = export_shard_manifest(spark, SF_SMOKE).collect()
    n_docs = load_table(spark, SF_SMOKE, "documents").count()
    assert sum(r["n_docs"] for r in man) == n_docs
    assert len(man) <= N_SHARDS and len({r["shard_id"] for r in man}) == len(man)

    alt = str(tmp_path / "alt_sf")
    os.makedirs(alt)
    spark.read.parquet(os.path.join(SF_SMOKE, "documents.parquet")).repartition(
        7
    ).write.parquet(os.path.join(alt, "documents.parquet"))
    assert sorted(map(tuple, export_shard_manifest(spark, alt).collect())) == sorted(
        map(tuple, man)
    )


def test_shard_manifest_fingerprint_semantics(spark, tmp_path):
    """content_fp hears WHAT is in the corpus; order_fp also hears
    WHERE it sits. Relabeling doc_ids (same text multiset) must keep
    the global content fingerprint (sum over shards mod p) and the
    total char mass, while moving docs between shards; editing one
    character of one doc must change its shard's content_fp."""
    from query_processing_over_streaming_data_using_flink_spark.plans.suite_llm_data import (
        _FP_MOD,
        export_shard_manifest,
    )

    texts = [" ".join(f"tok{i}x{j}" for j in range(12)) for i in range(40)]
    rows = [(i, texts[i], "en", "s", len(texts[i])) for i in range(40)]
    a = _write_docs(spark, rows, str(tmp_path / "a"))
    man_a = export_shard_manifest(spark, a).collect()

    # doc_id relabel: i -> i + 1000 (different shard draws, same texts)
    rows_b = [(i + 1000, t, lg, s, n) for (i, t, lg, s, n) in rows]
    b = _write_docs(spark, rows_b, str(tmp_path / "b"))
    man_b = export_shard_manifest(spark, b).collect()
    gfp = lambda man: sum(r["content_fp"] for r in man) % _FP_MOD
    assert gfp(man_a) == gfp(man_b)
    assert sum(r["total_chars"] for r in man_a) == sum(
        r["total_chars"] for r in man_b
    )
    assert {r["shard_id"]: r["n_docs"] for r in man_a} != {
        r["shard_id"]: r["n_docs"] for r in man_b
    }

    # single-character edit: only that doc's shard changes, and only
    # its fingerprints (doc counts stay put)
    rows_c = list(rows)
    rows_c[7] = (7, texts[7] + "!", "en", "s", len(texts[7]) + 1)
    c = _write_docs(spark, rows_c, str(tmp_path / "c"))
    man_c = {r["shard_id"]: r for r in export_shard_manifest(spark, c).collect()}
    man_a_by = {r["shard_id"]: r for r in man_a}
    diff = [
        s
        for s in man_a_by
        if man_a_by[s]["content_fp"] != man_c[s]["content_fp"]
    ]
    assert len(diff) == 1
    assert {s: man_c[s]["n_docs"] for s in man_c} == {
        s: man_a_by[s]["n_docs"] for s in man_a_by
    }


def test_tokenizer_fertility_report_hand_counted(spark, tmp_path):
    """Per-language totals pinned against hand-run BPE on a 4-doc
    corpus, including the empty-text group: zero tokens must yield
    NULL ratios (nullif guard), never a crash or inf."""
    from query_processing_over_streaming_data_using_flink_spark.operators import bpe as bp
    from query_processing_over_streaming_data_using_flink_spark.plans.suite_llm_data import (
        tokenizer_fertility_report,
    )
    import re as _re

    rows = [
        (0, "the cat sat on the mat", "en", "s", 22),
        (1, "stream the stream", "en", "s", 17),
        (2, "das ist ein test", "de", "s", 16),
        (3, "", "xx", "s", 0),
    ]
    d = _write_docs(spark, rows, str(tmp_path / "f"))
    got = {r["lang"]: r for r in tokenizer_fertility_report(spark, d).collect()}

    pat = _re.compile(bp.BPE_PRETOKEN_RE)
    ranks = {m: i for i, m in enumerate(bp.DEFAULT_MERGES)}
    for lang, docs in (("en", [rows[0], rows[1]]), ("de", [rows[2]])):
        chars = sum(len(t) for (_, t, *_r) in docs)
        pieces = sum(len(pat.findall(t)) for (_, t, *_r) in docs)
        toks = sum(bp.bpe_count_text(t, ranks, pat) for (_, t, *_r) in docs)
        r = got[lang]
        assert (r["n_docs"], r["total_chars"], r["total_pieces"]) == (
            len(docs),
            chars,
            pieces,
        )
        assert r["total_tokens_bpe"] == toks
        assert r["chars_per_token"] == round(chars / toks, 6)
    r = got["xx"]
    assert r["total_tokens_bpe"] == 0 and r["total_pieces"] == 0
    assert r["chars_per_token"] is None and r["bpe_expansion"] is None


def test_split_leakage_safe_keeps_clusters_together(spark, tmp_path):
    """The near-dup cluster of planted copies must land entirely in ONE
    split (the doc-level draw would scatter it with high probability
    across many cluster sizes); singletons keep a working 3-way split;
    assignment is deterministic across reruns."""
    from query_processing_over_streaming_data_using_flink_spark.plans.suite_llm_data import (
        split_leakage_safe,
    )

    base = [" ".join(f"w{i}t{j}" for j in range(30)) for i in range(40)]
    rows = [(i, base[i], "en", "src", len(base[i])) for i in range(40)]
    # 6 exact copies of doc 0 at scattered ids -> one 7-member cluster
    for k, nid in enumerate((100, 211, 322, 433, 544, 655)):
        rows.append((nid, base[0], "en", "src", len(base[0])))
    d = str(tmp_path / "split_sf")
    os.makedirs(d)
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(os.path.join(d, "documents.parquet"))

    out = split_leakage_safe(spark, d).collect()
    by_doc = {r["doc_id"]: r for r in out}
    assert len(by_doc) == 46
    fam = [by_doc[i] for i in (0, 100, 211, 322, 433, 544, 655)]
    assert {r["cluster_id"] for r in fam} == {0}
    assert all(r["cluster_size"] == 7 for r in fam)
    assert len({r["split"] for r in fam}) == 1, "cluster straddles the split"
    # singletons: every other doc is its own cluster
    for i in range(1, 40):
        assert by_doc[i]["cluster_id"] == i and by_doc[i]["cluster_size"] == 1
    again = {(r["doc_id"], r["split"]) for r in split_leakage_safe(spark, d).collect()}
    assert again == {(r["doc_id"], r["split"]) for r in out}


def test_shard_manifest_order_fp_hears_reordering(spark, tmp_path):
    """Swapping the TEXTS of two doc_ids that share a shard keeps the
    shard's content multiset (content_fp equal) but moves which hash
    sits at which position — order_fp must change. This is the
    writer-silently-reordered-rows case the manifest exists to catch."""
    import hashlib

    from query_processing_over_streaming_data_using_flink_spark.plans.suite_llm_data import (
        N_SHARDS,
        export_shard_manifest,
    )

    def shard_of(i):
        h = hashlib.md5(f"shard:{i}".encode()).hexdigest()[:15]
        return int(h, 16) % N_SHARDS

    a = 0
    b = next(i for i in range(1, 1000) if shard_of(i) == shard_of(a))
    t1 = "alpha beta gamma delta epsilon"
    t2 = "zeta eta theta iota kappa"
    base = [(a, t1, "en", "s", len(t1)), (b, t2, "en", "s", len(t2))]
    swap = [(a, t2, "en", "s", len(t2)), (b, t1, "en", "s", len(t1))]
    d1 = _write_docs(spark, base, str(tmp_path / "o1"))
    d2 = _write_docs(spark, swap, str(tmp_path / "o2"))
    m1 = export_shard_manifest(spark, d1).collect()
    m2 = export_shard_manifest(spark, d2).collect()
    assert len(m1) == len(m2) == 1
    assert m1[0]["content_fp"] == m2[0]["content_fp"]
    assert m1[0]["order_fp"] != m2[0]["order_fp"], (
        "order_fp blind to a same-shard reordering"
    )


def test_unimax_epochs_waterfill_properties(spark):
    """mixture_unimax_epochs must be an exact-integer water-fill: the
    budget is conserved to the TOKEN, no source exceeds its epoch cap,
    saturated sources form the small-cap prefix (every unsaturated
    allocation >= every saturated cap), and the unsaturated shares are
    uniform to within the 1-token DIV remainder."""
    from query_processing_over_streaming_data_using_flink_spark.plans.suite_llm_data import (
        UNIMAX_BUDGET_DEN,
        UNIMAX_BUDGET_NUM,
        UNIMAX_MAX_EPOCHS,
        mixture_unimax_epochs,
    )

    rows = mixture_unimax_epochs(spark, SF_SMOKE).collect()
    assert len(rows) == 20
    total_tokens = sum(r["n_tokens"] for r in rows)
    budget = (total_tokens * UNIMAX_BUDGET_NUM) // UNIMAX_BUDGET_DEN
    caps = {r["source"]: r["n_tokens"] * UNIMAX_MAX_EPOCHS for r in rows}
    assert all(r["cap"] == caps[r["source"]] for r in rows)
    # (a) exact budget conservation
    assert sum(r["alloc_tokens"] for r in rows) == min(budget, sum(caps.values()))
    # (b) cap respected; saturated <=> alloc == cap
    for r in rows:
        assert 0 <= r["alloc_tokens"] <= r["cap"]
        assert r["saturated"] == (r["alloc_tokens"] == r["cap"])
    sat = [r for r in rows if r["saturated"]]
    unsat = [r for r in rows if not r["saturated"]]
    # the chosen budget must exercise the pivot at this fixture
    assert sat and unsat, "budget constant degenerate at this scale"
    # (c) water level: nobody unsaturated gets less than a saturated cap
    assert min(r["alloc_tokens"] for r in unsat) >= max(r["cap"] for r in sat)
    # (d) uniform fill up to the DIV remainder
    us = sorted(r["alloc_tokens"] for r in unsat)
    assert us[-1] - us[0] <= 1
    # epochs cap in permille
    assert all(r["epochs_permille"] <= 1000 * UNIMAX_MAX_EPOCHS for r in rows)


def test_unigram_entropy_drops_repetitive_docs(spark, tmp_path):
    """A planted one-token-repeated doc must gate out (normalized
    entropy 0 < the 80% floor); an all-distinct doc of the same length
    realizes the ln(n) maximum and keeps; a half-repeated doc sits in
    between, and the reported entropy matches the hand formula."""
    import math

    from query_processing_over_streaming_data_using_flink_spark.plans.suite_quality import text_unigram_entropy

    rows = [
        (1, " ".join(["spam"] * 40), "en", "src", 0),           # H = 0
        (2, " ".join(f"w{j}" for j in range(40)), "en", "src", 0),  # H = ln 40
        # 20 distinct + one token 20x: H = ln40 - (20*ln20)/40
        (3, " ".join(f"u{j}" for j in range(20)) + " " + " ".join(["dup"] * 20),
         "en", "src", 0),
    ]
    d = str(tmp_path / "ent_sf")
    os.makedirs(d)
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(os.path.join(d, "documents.parquet"))
    out = {r["doc_id"]: r for r in text_unigram_entropy(spark, d).collect()}
    assert out[1]["entropy"] == 0.0 and not out[1]["keep"]
    assert abs(out[2]["entropy"] - math.log(40)) < 1e-5 and out[2]["keep"]
    want3 = math.log(40) - (20 * math.log(20)) / 40
    assert abs(out[3]["entropy"] - want3) < 1e-5
    # normalized: want3/ln(40) = 0.594 < 0.8 -> dropped
    assert not out[3]["keep"]
    assert out[3]["n_distinct"] == 21 and out[3]["n_hapax"] == 20


def test_decontaminate_eval_substring_flags_shared_runs(spark, tmp_path):
    """A train doc sharing a planted 25-token run with an eval-slice
    doc (doc_id % 7 == 0) is flagged with max_span_len == 25; an
    unrelated train doc comes back clean; the eval doc itself is not a
    row (the report is per TRAIN doc)."""
    from query_processing_over_streaming_data_using_flink_spark.plans.suite_llm_data import (
        decontaminate_eval_substring,
    )

    run = " ".join(f"leak{j}" for j in range(25))
    pre = " ".join(f"a{j}" for j in range(10))
    post = " ".join(f"b{j}" for j in range(10))
    rows = [
        (7, f"{pre} {run}", "en", "src", 0),            # eval (7 % 7 == 0)
        (1, f"{run} {post}", "en", "src", 0),           # train, contaminated
        (2, " ".join(f"c{j}" for j in range(40)), "en", "src", 0),  # train, clean
    ]
    d = str(tmp_path / "des_sf")
    os.makedirs(d)
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(os.path.join(d, "documents.parquet"))
    out = {r["doc_id"]: r for r in decontaminate_eval_substring(spark, d).collect()}
    assert set(out) == {1, 2}
    assert out[1]["n_eval_sources"] == 1 and out[1]["max_span_len"] == 25
    assert not out[1]["is_clean"]
    assert out[2]["is_clean"] and out[2]["max_span_len"] == 0


def test_tokenizer_compression_consistent_with_trained_counts(spark):
    """The per-source rollup must account for exactly the corpus the
    trained per-doc counter sees: Σ total_tokens_bpe over sources ==
    Σ n_tokens_bpe over docs, and chars_per_token replays from the
    masses."""
    from query_processing_over_streaming_data_using_flink_spark.plans.suite_llm_data import (
        text_token_count_trained,
        tokenizer_compression_by_source,
    )

    per_src = tokenizer_compression_by_source(spark, SF_SMOKE).collect()
    per_doc = text_token_count_trained(spark, SF_SMOKE).agg(
        F.sum("n_tokens_bpe").alias("s")
    ).collect()[0]["s"]
    assert sum(r["total_tokens_bpe"] for r in per_src) == per_doc
    docs = load_table(spark, SF_SMOKE, "documents")
    assert sum(r["n_docs"] for r in per_src) == docs.count()
    for r in per_src:
        assert r["chars_per_token"] == round(
            r["total_chars"] / r["total_tokens_bpe"], 6
        )


def test_planted_cosine_pairs_all_found(spark):
    """Every planted near-duplicate must surface as its original's
    pair: the positive per-dimension scaling preserves the LSH sign
    signature (same bucket) and keeps cosine >= ~0.996, so all
    PLANT_N pairs appear with sim above the production 0.95 threshold
    and ids (i, i + PLANT_OFFSET)."""
    from query_processing_over_streaming_data_using_flink_spark.plans.suite_llm_data import (
        PLANT_N,
        PLANT_OFFSET,
        dedup_embedding_cosine_planted,
    )

    rows = dedup_embedding_cosine_planted(spark, SF_SMOKE).collect()
    planted = {
        (r["id_a"], r["id_b"]): r["sim"]
        for r in rows
        if r["id_b"] >= PLANT_OFFSET and r["id_a"] == r["id_b"] - PLANT_OFFSET
    }
    assert set(planted) == {(i, i + PLANT_OFFSET) for i in range(PLANT_N)}
    assert all(0.95 <= s <= 1.0 for s in planted.values())


def test_leakage_split_clusters_cross_lang_families(spark, tmp_path):
    """The r12 LSH pair generator is corpus-global: a template family
    whose copies carry DIFFERENT lang tags still lands on ONE side of
    the split — the lang-blocked all-pairs generator could never see
    that pair, which was a real leakage hole (same template, two
    language labels)."""
    from query_processing_over_streaming_data_using_flink_spark.plans.suite_llm_data import (
        split_leakage_safe,
    )

    text = " ".join(f"tmpl{j}" for j in range(30))
    rows = [
        (1, text, "en", "src", 0),
        (2, text, "de", "src", 0),  # same template, different lang tag
        (3, " ".join(f"other{j}" for j in range(30)), "en", "src", 0),
    ]
    d = str(tmp_path / "xlang_sf")
    os.makedirs(d)
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(os.path.join(d, "documents.parquet"))
    out = {r["doc_id"]: r for r in split_leakage_safe(spark, d).collect()}
    assert out[1]["cluster_id"] == out[2]["cluster_id"] == 1
    assert out[1]["cluster_size"] == 2
    assert out[1]["split"] == out[2]["split"], "cross-lang family straddles"
    assert out[3]["cluster_size"] == 1


def test_decontaminate_eval_substring_rewrite_burns_leaked_span(spark, tmp_path):
    """Span-burn semantics: a train doc quoting a planted 25-token run
    from an eval-slice doc keeps its surroundings with exactly the run
    stripped (md5-verified against the hand-built expected text); an
    unrelated train doc is untouched; eval docs emit no row."""
    import hashlib

    from query_processing_over_streaming_data_using_flink_spark.plans.suite_llm_data import (
        decontaminate_eval_substring_rewrite,
    )

    run = " ".join(f"leak{j}" for j in range(25))
    pre = " ".join(f"a{j}" for j in range(10))
    post = " ".join(f"b{j}" for j in range(10))
    clean = " ".join(f"c{j}" for j in range(40))
    rows = [
        (7, f"{pre} {run}", "en", "src", 0),   # eval (7 % 7 == 0)
        (1, f"{run} {post}", "en", "src", 0),  # train, contaminated
        (2, clean, "en", "src", 0),            # train, clean
    ]
    d = str(tmp_path / "burn_sf")
    os.makedirs(d)
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(os.path.join(d, "documents.parquet"))
    out = {
        r["doc_id"]: r
        for r in decontaminate_eval_substring_rewrite(spark, d).collect()
    }
    assert set(out) == {1, 2}, "one row per TRAIN doc only"
    assert out[1]["n_tokens"] == 35
    assert out[1]["n_burned_tokens"] == 25
    assert out[1]["burn_ratio"] == round(25 / 35, 6)
    assert out[1]["cleaned_md5"] == hashlib.md5(post.encode()).hexdigest()
    assert out[2]["n_burned_tokens"] == 0
    assert out[2]["cleaned_md5"] == hashlib.md5(clean.encode()).hexdigest()


def test_dedup_lsh_recall_cert_planted(spark, tmp_path):
    """The recall certification on a planted corpus: one exact
    near-dup pair (same lang, Jaccard well above 0.35) must be
    recalled by the LSH bands — n_exact_pairs == n_recalled == 1,
    recall == 1.0, nothing missed."""
    from query_processing_over_streaming_data_using_flink_spark.plans.suite_llm_data import (
        dedup_lsh_recall_vs_exact,
    )

    base = "the cat sat on the mat and looked at the dog in the warm sun today"
    rows = [
        (1, base, "en", "src", 0),
        (2, base + " extra tail", "en", "src", 0),  # near-dup of 1
        (3, "a completely different document about query plans", "en", "src", 0),
    ]
    d = str(tmp_path / "recall_sf")
    os.makedirs(d)
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(os.path.join(d, "documents.parquet"))
    row = dedup_lsh_recall_vs_exact(spark, d).collect()
    assert len(row) == 1
    r = row[0]
    assert r["n_exact_pairs"] == 1 and r["n_recalled"] == 1
    assert r["recall"] == 1.0
    assert r["max_missed_jaccard"] is None
    assert r["n_lsh_pairs"] >= 1


def test_dedup_rate_by_source_attributes_drops(spark, tmp_path):
    """Per-source telemetry: a near-dup cluster spanning two sources
    charges the would-drop to the NON-canonical member's source; the
    canonical's source keeps it; singletons are their own canonicals."""
    from query_processing_over_streaming_data_using_flink_spark.plans.suite_llm_data import (
        dedup_rate_by_source,
    )

    base = "the cat sat on the mat and looked at the dog in the warm sun today"
    rows = [
        (1, base, "en", "srcA", 0),                 # canonical (min id)
        (2, base + " extra tail", "en", "srcB", 0), # near-dup, dropped
        (3, "a completely different document about query plans", "en", "srcB", 0),
    ]
    d = str(tmp_path / "rate_sf")
    os.makedirs(d)
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(os.path.join(d, "documents.parquet"))
    out = {r["source"]: r for r in dedup_rate_by_source(spark, d).collect()}
    a, b = out["srcA"], out["srcB"]
    assert a["n_docs"] == 1 and a["n_in_dup_clusters"] == 1
    assert a["dup_doc_ratio"] == 1.0
    assert a["n_canonicals"] == 1 and a["n_would_drop"] == 0
    assert b["n_docs"] == 2 and b["n_in_dup_clusters"] == 1
    assert b["dup_doc_ratio"] == 0.5
    assert b["n_canonicals"] == 1 and b["n_would_drop"] == 1


def test_decontaminate_eval_semantic_catches_paraphrase_token_gates_miss(
    spark, tmp_path
):
    """The round-14 modality-closure proof: a planted PARAPHRASE leak —
    a training doc sharing NO token 13-gram and NO >=20-token span with
    the eval item (completely disjoint wording) but carrying a
    near-identical embedding (same meaning) — is invisible to the
    token-based gates (`decontaminate_eval_ngram13` says clean,
    `decontaminate_eval_substring` says clean) and flagged by the
    embedding-space pass (`decontaminate_eval_semantic`), which is the
    entire reason that pass exists."""
    from query_processing_over_streaming_data_using_flink_spark.plans.suite_llm_data import (
        SEM_PLANT_OFFSET,
        decontaminate_eval_ngram13,
        decontaminate_eval_semantic,
        decontaminate_eval_substring,
    )

    eval_text = (
        "the quick brown fox jumps over the lazy dog near the river bank "
        "at noon while several birds watch quietly from tall oak branches"
    )
    # Same meaning, zero shared tokens beyond nothing — no 13-gram, no
    # 20-token span can collide.
    para_text = (
        "a speedy russet vulpine leaps across one sleepy canine beside "
        "that stream edge around midday as sparrows observe silently "
        "atop high poplar limbs nearby"
    )
    other_text = (
        "totally unrelated prose about query planning shuffle exchanges "
        "broadcast joins and adaptive execution inside a distributed "
        "analytics engine running on many executor threads"
    )
    rows = [
        (0, eval_text, "en", "srcX", len(eval_text)),  # eval: 0 % 7 == 0
        (1, para_text, "en", "srcX", len(para_text)),  # train paraphrase leak
        (2, other_text, "en", "srcX", len(other_text)),  # clean train doc
    ]
    d = str(tmp_path / "corpus")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(os.path.join(d, "documents.parquet"))
    v0 = [((-1.0) ** i) * (0.5 + i / 100.0) for i in range(64)]
    v1 = [1.1 * x for x in v0]  # same direction: cosine 1.0, same sign bits
    # Flip the sign of every odd dimension: different LSH signature AND
    # near-orthogonal, so doc 2 can never be a candidate.
    v2 = [x if i % 2 == 0 else -x for i, x in enumerate(v0)]
    spark.createDataFrame(
        [(0, v0, 0), (1, v1, 0), (2, v2, 0)],
        "vec_id long, embedding array<double>, label int",
    ).write.parquet(os.path.join(d, "embeddings.parquet"))

    sem = {r["doc_id"]: r for r in decontaminate_eval_semantic(spark, d).collect()}
    # Flagged: the paraphrase (doc 1) and the query's own in-fixture
    # plant of eval vec 0 (vec_id 0 < 140, % 7 == 0). Nothing else.
    assert set(sem) == {1, SEM_PLANT_OFFSET}
    assert sem[1]["n_eval_matches"] == 1
    assert sem[1]["max_cosine"] >= 0.95

    ng = {r["doc_id"]: r for r in decontaminate_eval_ngram13(spark, d).collect()}
    assert not ng[1]["contaminated"]  # 13-gram gate provably misses it
    sub = {
        r["doc_id"]: r for r in decontaminate_eval_substring(spark, d).collect()
    }
    assert 1 not in sub or sub[1]["is_clean"]  # span gate misses it too

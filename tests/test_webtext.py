"""Training-data operator tests: dedup, simsearch, textstats, multimodal."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ot_spark.webtext import dedup, multimodal, simsearch, textstats


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    rows = [
        (0, base),
        (1, base),                                    # exact dup of 0
        (2, base.replace("today", "tomorrow")),       # near dup of 0
        (3, "completely different content about spark partitions and shuffles"),
        (4, "der schnelle braune fuchs springt und das ist ein test mit der zeit"),
        (5, base + " extra tail words appended here"),  # near dup
        (6, ""),                                      # empty
        (7, "le chat est dans la maison et le chien est dans le jardin"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_near_dup_pairs(spark, docs):
    sigs = dedup.with_minhash(docs, k=16)
    cands = dedup.minhash_candidate_pairs(sigs, bands=8)  # 2 rows/band: sensitive
    verified = dedup.jaccard_pairs(docs, cands, threshold=0.5)
    pairs = {(r.a, r.b) for r in verified.collect()}
    assert (0, 1) in pairs  # identical
    assert (0, 2) in pairs or (1, 2) in pairs  # near dup
    assert all({a, b} != {3, 4} for a, b in pairs)


def test_minhash_dedup_representatives(spark, docs):
    out = dedup.minhash_dedup(docs, k=16, bands=8, threshold=0.5)
    reps = {r.doc_id: r.rep for r in out.collect()}
    assert reps[1] == 0
    assert reps[3] == 3
    assert len(reps) == 8  # no rows lost


def test_simhash_hamming(spark, docs):
    sh = dedup.with_simhash(docs)
    pairs = dedup.simhash_near_pairs(sh, max_hamming=12, n_bits=64, max_bucket=200)
    got = {(r.a, r.b) for r in pairs.collect()}
    assert (0, 1) in got  # identical text -> hamming 0
    row = {r.doc_id: r.simhash for r in sh.collect()}
    assert row[0] == row[1]
    assert row[0] != row[3]


def test_jaccard_values_sane(spark, docs):
    sigs = dedup.with_minhash(docs, k=16)
    cands = dedup.minhash_candidate_pairs(sigs, bands=8)
    ver = dedup.jaccard_pairs(docs, cands, threshold=0.0)
    for r in ver.collect():
        assert 0.0 <= r.jaccard <= 1.0
        if (r.a, r.b) == (0, 1):
            assert r.jaccard == 1.0


# --------------------------------------------------------------- simsearch

@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_brute_force_topk_self_is_best(spark, emb):
    qrow = emb.where("vec_id = 0").first()
    out = simsearch.brute_force_topk(emb, list(qrow.embedding), k=5).collect()
    assert out[0].vec_id == 0
    assert out[0].score == pytest.approx(1.0, abs=1e-4)
    scores = [r.score for r in out]
    assert scores == sorted(scores, reverse=True)


def test_lsh_topk_recall(spark, emb):
    # synthetic embeddings are near-random (top cosine ~0.34), so use few
    # planes + wide multiprobe: p(neighbor within hamming<=2 of 4 bits) ~0.84
    dim = len(emb.first().embedding)
    planes = simsearch.hyperplanes(dim, n_planes=4)
    qrow = emb.where("vec_id = 3").first()
    exact = [r.vec_id for r in simsearch.brute_force_topk(emb, list(qrow.embedding), 5).collect()]
    approx = [
        r.vec_id
        for r in simsearch.lsh_topk(emb, list(qrow.embedding), planes, k=5, multiprobe=2).collect()
    ]
    assert approx[0] == 3  # self always in own bucket
    assert len(set(exact) & set(approx)) >= 2
    # approx candidates score no higher than exact (subset property)
    assert set(approx) <= set(
        r.vec_id for r in simsearch.brute_force_topk(emb, list(qrow.embedding), 500).collect()
    )


# --------------------------------------------------------------- textstats

def test_langid(spark, docs):
    out = {r.doc_id: r.lang_pred for r in textstats.with_langid(docs).collect()}
    assert out[0] == "en"
    assert out[4] == "de"
    assert out[7] == "fr"
    assert out[6] == "und"


def test_quality_features(spark, docs):
    out = {r.doc_id: r for r in textstats.with_quality(docs).collect()}
    assert out[6].n_tokens == 0 and out[6].quality_score < 0.3
    assert out[0].quality_score > out[6].quality_score
    assert 0.0 <= out[0].alpha_ratio <= 1.0


def test_fingerprint_stability(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    df = spark.createDataFrame(
        [(0, base), (1, base + " tail change only"), (2, "unrelated words here entirely")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.fingerprint_min for r in textstats.with_fingerprint(df).collect()}
    # winnowing property: min window hash survives a tail edit
    assert out[0] == out[1]
    assert out[0] != out[2]


# -------------------------------------------------------------- multimodal

def test_image_features(spark):
    rows = [
        (0, multimodal.make_fake_image_portable(32, 16, seed=1)),
        (1, multimodal.make_fake_image_portable(8, 8, seed=2)),
        (2, b"\xff\xd8\xff\xe0 not a real jpeg"),  # real-codec stub -> None
        (3, None),
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    feats = {r.media_id: r.img_features for r in multimodal.with_image_features(df).collect()}
    assert feats[0].width == 32 and feats[0].height == 16
    assert 0 <= feats[0].mean_px <= 255
    assert abs(sum(feats[0].hist8) - 1.0) < 1e-9
    assert feats[2] is None and feats[3] is None


def test_video_frame_sampling(spark):
    df = spark.createDataFrame(
        [(0, multimodal.make_fake_video_portable(16, seed=3))],
        "media_id long, payload binary",
    )
    out = multimodal.sample_video_frames(df, every_k=4).first()
    assert len(out.frame_means) == 4


def test_audio_features(spark):
    rows = [
        (0, multimodal.make_fake_audio_portable(16000, 16000 * 2, seed=5)),  # 2s clip
        (1, b"RIFF not a real wav"),  # real-codec stub -> None
        (2, None),
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    feats = {
        r.media_id: r.aud_features
        for r in multimodal.with_audio_features(df).collect()
    }
    assert feats[0].sample_rate == 16000
    assert feats[0].n_samples == 32000
    assert abs(feats[0].duration_sec - 2.0) < 1e-9
    assert 0 < feats[0].rms < 2048
    assert 0 < feats[0].zero_cross_rate < 1
    assert feats[1] is None and feats[2] is None

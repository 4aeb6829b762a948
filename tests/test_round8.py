"""Round-8 additions: the BM25 viral-term valve (max_token_df) semantics
and plan exposure, and the fused single-pass referential-integrity shape."""

from __future__ import annotations

import json

import pytest

SF = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# BM25 max_token_df valve
# ---------------------------------------------------------------------------

def test_bm25_max_token_df_drops_stopword_term(spark):
    """A stopword in the query ('the', present in EVERY doc) normally
    drags the corpus-sized postings list through the join; with the
    valve below its document frequency the term is dropped BEFORE the
    postings join, so the scores equal the same query without the
    stopword — and the rare term's scoring is untouched."""
    from topnotch_spark.operators.dedup import dedup_scope
    from topnotch_spark.operators.retrieval import bm25_topk

    docs = spark.createDataFrame(
        [(i, f"the filler{i} " + ("apple" if i < 3 else "pear"))
         for i in range(10)],
        "doc_id long, text string",
    )
    with dedup_scope():
        capped = {
            (r["doc_id"]): r["score"]
            for r in bm25_topk(
                spark, docs, [(1, "the apple")], k=10, max_token_df=5
            ).collect()
        }
        rare_only = {
            (r["doc_id"]): r["score"]
            for r in bm25_topk(spark, docs, [(1, "apple")], k=10).collect()
        }
        uncapped = {
            (r["doc_id"]): r["score"]
            for r in bm25_topk(
                spark, docs, [(1, "the apple")], k=10
            ).collect()
        }
    # valve active: 'the' (df=10 > 5) contributes nothing
    assert capped == rare_only
    # only the 3 apple docs survive (the stopword postings never join)
    assert set(capped) == {0, 1, 2}
    # without the valve the stopword DOES score — all 10 docs match
    assert set(uncapped) == set(range(10))


def test_retrieve_plan_accepts_max_token_df(spark, tmp_path):
    from topnotch_spark.engine import TnEngine
    from topnotch_spark.plans.extensions import parse_extension

    obj = {
        "command": "retrieve",
        "input": {"ref": f"{SF}/documents.parquet", "onDisk": True},
        "outputKey": "hits",
        "params": {"queries": [[1, "spark window agg"]], "k": 5,
                   "maxTokenDf": 400},
    }
    cmd = parse_extension(obj)
    assert cmd.options == {"k": 5, "max_token_df": 400}

    plan = tmp_path / "retrieve_valve.json"
    plan.write_text(json.dumps({"commands": [obj]}))
    engine = TnEngine(spark)
    assert engine.run(str(plan)) == 0
    hits = engine.registry["hits"]
    assert set(hits.columns) == {"query_id", "doc_id", "score", "rank"}
    assert hits.count() <= 5


# ---------------------------------------------------------------------------
# Perceptual image hashing (aHash/dHash) + banded near-dup
# ---------------------------------------------------------------------------

def _img(pixels):
    from topnotch_spark.operators.multimodal import encode_tnimg

    return encode_tnimg(8, 8, bytes(pixels))


def test_ahash_matches_hand_computation(spark):
    """8x8 image, grid 8 (identity sample): bit_k = 64*px_k > sum(px) —
    checked against a plain-Python computation."""
    from topnotch_spark.operators.multimodal import perceptual_hash

    px = [(i * 37) % 256 for i in range(64)]
    df = spark.createDataFrame([(1, _img(px))], "media_id long, content binary")
    got = perceptual_hash(df, hash_type="ahash").collect()[0]["phash"]
    total = sum(px)
    want = "".join("1" if 64 * p > total else "0" for p in px)
    assert got == want


def test_dhash_matches_hand_computation(spark):
    """dhash samples an 8x9 grid from a 9-wide image (identity columns)
    and compares horizontal neighbors."""
    from topnotch_spark.operators.multimodal import encode_tnimg, perceptual_hash

    px = [(r * 31 + c * 17) % 256 for r in range(8) for c in range(9)]
    blob = encode_tnimg(9, 8, bytes(px))
    df = spark.createDataFrame([(1, blob)], "media_id long, content binary")
    got = perceptual_hash(df, hash_type="dhash").collect()[0]["phash"]
    want = "".join(
        "1" if px[r * 9 + c] > px[r * 9 + c + 1] else "0"
        for r in range(8)
        for c in range(8)
    )
    assert got == want


def test_ahash_is_resize_invariant(spark):
    """The same pattern at 8x8 and scaled 2x to 16x16 hashes identically
    (nearest-neighbor grid sampling picks the same logical pixels)."""
    import numpy as np

    from topnotch_spark.operators.multimodal import encode_tnimg, perceptual_hash

    small = np.array(
        [[224 if (r + c) % 2 else 32 for c in range(8)] for r in range(8)],
        dtype=np.uint8,
    )
    big = np.kron(small, np.ones((2, 2), dtype=np.uint8))
    df = spark.createDataFrame(
        [
            (1, encode_tnimg(8, 8, small.tobytes())),
            (2, encode_tnimg(16, 16, big.tobytes())),
        ],
        "media_id long, content binary",
    )
    hashes = {r["media_id"]: r["phash"] for r in perceptual_hash(df).collect()}
    assert hashes[1] == hashes[2]


def test_phash_near_dups_banding_and_verify(spark):
    """One flipped pixel => hamming 1 pair found; a different pattern is
    banded away (or verified out); invalid args raise."""
    from topnotch_spark.operators.dedup import dedup_scope
    from topnotch_spark.operators.multimodal import perceptual_hash, phash_near_dups

    base = [224 if i % 7 == 0 else 32 for i in range(64)]
    near = list(base)
    near[5] = 255 - near[5]
    other = [224 if i % 3 == 0 else 32 for i in range(64)]
    df = spark.createDataFrame(
        [(1, _img(base)), (2, _img(near)), (3, _img(other))],
        "media_id long, content binary",
    )
    with dedup_scope():
        pairs = {
            (r["id_1"], r["id_2"]): r["hamming"]
            for r in phash_near_dups(df).collect()
        }
    assert pairs == {(1, 2): 1}
    with pytest.raises(ValueError, match="hash_type"):
        perceptual_hash(df, hash_type="bogus")
    with pytest.raises(ValueError, match="band_bits"):
        phash_near_dups(df, band_bits=7)
    # non-image blobs fail loudly inside the decode stage
    from topnotch_spark.operators.multimodal import encode_tnaud

    aud = spark.createDataFrame(
        [(1, encode_tnaud(8000, b"\x01\x02"))], "media_id long, content binary"
    )
    with pytest.raises(Exception, match="image blobs"):
        perceptual_hash(aud).collect()


def test_dedup_plan_phash_method(spark, tmp_path):
    import numpy as np  # noqa: F401

    from topnotch_spark.engine import TnEngine

    base = [224 if i % 7 == 0 else 32 for i in range(64)]
    near = list(base)
    near[9] = 255 - near[9]
    src = tmp_path / "imgs.parquet"
    spark.createDataFrame(
        [(1, _img(base)), (2, _img(near))], "media_id long, content binary"
    ).write.parquet(str(src))
    plan = {
        "commands": [
            {
                "command": "dedup",
                "input": {"ref": str(src), "onDisk": True},
                "outputKey": "nearImgs",
                "params": {
                    "method": "phash",
                    "idColumn": "media_id",
                    "binColumn": "content",
                    "hashType": "ahash",
                    "maxHamming": 3,
                },
            }
        ]
    }
    path = tmp_path / "phash_plan.json"
    path.write_text(json.dumps(plan))
    engine = TnEngine(spark)
    assert engine.run(str(path)) == 0
    out = engine.registry["nearImgs"].collect()
    assert [(r["id_1"], r["id_2"], r["hamming"]) for r in out] == [(1, 2, 1)]


# ---------------------------------------------------------------------------
# Audio energy-envelope fingerprint + banded near-dup
# ---------------------------------------------------------------------------

def _clip(samples):
    from topnotch_spark.operators.multimodal import encode_tnaud

    return encode_tnaud(16000, bytes(s & 0xFF for s in samples))


def test_audio_fingerprint_matches_hand_computation(spark):
    """64 samples, 32 frames of 2: bit_k = 32*e_k > sum(e) over exact
    integer squares — checked against plain Python (incl. a negative
    sample, which int8 decode must square correctly)."""
    from topnotch_spark.operators.multimodal import audio_fingerprint

    samples = [((i * 13) % 100) - 50 for i in range(64)]
    df = spark.createDataFrame(
        [(1, _clip(samples))], "media_id long, content binary"
    )
    got = audio_fingerprint(df).collect()[0]["afp"]
    e = [
        samples[2 * k] ** 2 + samples[2 * k + 1] ** 2 for k in range(32)
    ]
    total = sum(e)
    want = "".join("1" if 32 * ek > total else "0" for ek in e)
    assert got == want


def test_audio_near_dups_finds_renoised_clip(spark):
    """A clip with one sample inverted matches its original within the
    Hamming bound; an unrelated envelope does not."""
    from topnotch_spark.operators.dedup import dedup_scope
    from topnotch_spark.operators.multimodal import (
        audio_fingerprint,
        audio_near_dups,
    )

    base = [100 if (i // 2) % 5 == 0 else 10 for i in range(64)]
    near = list(base)
    near[13] = 110 - near[13]  # one quiet sample goes loud
    other = [100 if (i // 2) % 2 == 0 else 10 for i in range(64)]
    df = spark.createDataFrame(
        [(1, _clip(base)), (2, _clip(near)), (3, _clip(other))],
        "media_id long, content binary",
    )
    with dedup_scope():
        pairs = {
            (r["id_1"], r["id_2"]): r["hamming"]
            for r in audio_near_dups(df).collect()
        }
    assert pairs == {(1, 2): 1}
    with pytest.raises(ValueError, match="band_bits"):
        audio_near_dups(df, band_bits=7)
    # image blobs fail loudly in the decode stage
    img = spark.createDataFrame(
        [(1, _img([0] * 64))], "media_id long, content binary"
    )
    with pytest.raises(Exception, match="audio blobs"):
        audio_fingerprint(img).collect()


def test_dedup_plan_audio_method(spark, tmp_path):
    from topnotch_spark.engine import TnEngine

    base = [100 if (i // 2) % 5 == 0 else 10 for i in range(64)]
    near = list(base)
    near[7] = 110 - near[7]
    src = tmp_path / "clips.parquet"
    spark.createDataFrame(
        [(1, _clip(base)), (2, _clip(near))], "media_id long, content binary"
    ).write.parquet(str(src))
    plan = {
        "commands": [
            {
                "command": "dedup",
                "input": {"ref": str(src), "onDisk": True},
                "outputKey": "nearClips",
                "params": {
                    "method": "audio",
                    "idColumn": "media_id",
                    "binColumn": "content",
                    "nFrames": 32,
                },
            }
        ]
    }
    path = tmp_path / "audio_plan.json"
    path.write_text(json.dumps(plan))
    engine = TnEngine(spark)
    assert engine.run(str(path)) == 0
    out = engine.registry["nearClips"].collect()
    assert [(r["id_1"], r["id_2"], r["hamming"]) for r in out] == [(1, 2, 1)]


# ---------------------------------------------------------------------------
# Video keyframe-signature near-dup
# ---------------------------------------------------------------------------

def _vid(frame_pixel_lists):
    from topnotch_spark.operators.multimodal import encode_tnvid

    return encode_tnvid(8, 8, [bytes(p) for p in frame_pixel_lists])


def test_video_frame_hashes_per_frame_and_sampling(spark):
    """Each sampled frame gets the same ahash perceptual_hash would give
    it standalone; every_n sampling controls the row count and the
    n_hashed denominator."""
    from topnotch_spark.operators.multimodal import video_frame_hashes

    f0 = [224 if i % 2 == 0 else 32 for i in range(64)]
    f1 = [224 if i % 3 == 0 else 32 for i in range(64)]
    f2 = [224 if i % 5 == 0 else 32 for i in range(64)]
    df = spark.createDataFrame(
        [(1, _vid([f0, f1, f2]))], "media_id long, content binary"
    )
    rows = {r["frame_idx"]: r for r in video_frame_hashes(df).collect()}
    assert sorted(rows) == [0, 1, 2]
    for idx, px in ((0, f0), (1, f1), (2, f2)):
        total = sum(px)
        want = "".join("1" if 64 * p > total else "0" for p in px)
        assert rows[idx]["phash"] == want
        assert rows[idx]["n_hashed"] == 3
    sampled = video_frame_hashes(df, every_n=2).collect()
    assert sorted(r["frame_idx"] for r in sampled) == [0, 2]
    assert all(r["n_hashed"] == 2 for r in sampled)


def test_video_near_dups_match_fraction(spark):
    """Two videos sharing 2 of 3 frame signatures match at 2/3; a video
    with all-different frames never pairs."""
    from topnotch_spark.operators.dedup import dedup_scope
    from topnotch_spark.operators.multimodal import video_near_dups

    f0 = [224 if i % 2 == 0 else 32 for i in range(64)]
    f1 = [224 if i % 3 == 0 else 32 for i in range(64)]
    f2 = [224 if i % 5 == 0 else 32 for i in range(64)]
    f2_corrupt = list(f2)
    f2_corrupt[7] = 255 - f2_corrupt[7]  # flips that frame's ahash bit
    other = [[224 if i % 7 == 0 else 32 for i in range(64)]] * 3
    df = spark.createDataFrame(
        [
            (1, _vid([f0, f1, f2])),
            (2, _vid([f0, f1, f2_corrupt])),
            (3, _vid(other)),
        ],
        "media_id long, content binary",
    )
    with dedup_scope():
        out = video_near_dups(df, min_match_frac=0.5).collect()
    assert [(r["id_1"], r["id_2"], r["n_matched"]) for r in out] == [(1, 2, 2)]
    assert out[0]["match_frac"] == pytest.approx(round(2 / 3, 6))
    with dedup_scope():
        assert video_near_dups(df, min_match_frac=0.7).count() == 0


def test_dedup_plan_video_method(spark, tmp_path):
    from topnotch_spark.engine import TnEngine

    f0 = [224 if i % 2 == 0 else 32 for i in range(64)]
    f1 = [224 if i % 3 == 0 else 32 for i in range(64)]
    alt = list(f1)
    alt[11] = 255 - alt[11]
    src = tmp_path / "vids.parquet"
    spark.createDataFrame(
        [(1, _vid([f0, f1])), (2, _vid([f0, alt]))],
        "media_id long, content binary",
    ).write.parquet(str(src))
    plan = {
        "commands": [
            {
                "command": "dedup",
                "input": {"ref": str(src), "onDisk": True},
                "outputKey": "nearVids",
                "params": {
                    "method": "video",
                    "idColumn": "media_id",
                    "binColumn": "content",
                    "minMatchFrac": 0.5,
                },
            }
        ]
    }
    path = tmp_path / "video_plan.json"
    path.write_text(json.dumps(plan))
    engine = TnEngine(spark)
    assert engine.run(str(path)) == 0
    out = engine.registry["nearVids"].collect()
    assert [(r["id_1"], r["id_2"], r["n_matched"]) for r in out] == [(1, 2, 1)]


# ---------------------------------------------------------------------------
# Reciprocal Rank Fusion
# ---------------------------------------------------------------------------

def test_rrf_fuse_matches_hand_computation(spark):
    """Two runs, overlapping docs: fused score = sum of nano-rounded
    1/(60+rank) contributions; a doc found by both runs outranks a
    better-single-run doc; ties break on doc_id."""
    from topnotch_spark.operators.retrieval import rrf_fuse

    run1 = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (1, 12, 3)],
        "query_id long, doc_id long, rank int",
    )
    run2 = spark.createDataFrame(
        [(1, 11, 1), (1, 13, 2)], "query_id long, doc_id long, rank int"
    )
    out = {r["doc_id"]: r for r in rrf_fuse([run1, run2]).collect()}

    def contrib(rank):
        return round(1_000_000_000.0 / (60 + rank))

    want = {
        10: contrib(1),
        11: contrib(2) + contrib(1),
        12: contrib(3),
        13: contrib(2),
    }
    for d, micro in want.items():
        assert out[d]["rrf_score"] == pytest.approx(
            round(micro / 1_000_000_000.0, 6)
        ), d
    assert out[11]["rank"] == 1 and out[11]["n_runs"] == 2
    assert out[10]["rank"] == 2  # single-run rank-1 loses to the 2-run doc
    with pytest.raises(ValueError, match="non-empty"):
        rrf_fuse([])


def test_fuse_plan_command(spark, tmp_path):
    from topnotch_spark.engine import TnEngine
    from topnotch_spark.plans.extensions import parse_extension

    with pytest.raises(ValueError, match="at least 2"):
        parse_extension(
            {"command": "fuse", "runs": [{"ref": "a", "onDisk": False}],
             "outputKey": "o", "params": {}}
        )
    r1 = tmp_path / "run1.parquet"
    r2 = tmp_path / "run2.parquet"
    spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2)], "query_id long, doc_id long, rank int"
    ).write.parquet(str(r1))
    spark.createDataFrame(
        [(1, 11, 1)], "query_id long, doc_id long, rank int"
    ).write.parquet(str(r2))
    plan = {
        "commands": [
            {
                "command": "fuse",
                "runs": [
                    {"ref": str(r1), "onDisk": True},
                    {"ref": str(r2), "onDisk": True},
                ],
                "outputKey": "fused",
                "params": {"topk": 5},
            }
        ]
    }
    path = tmp_path / "fuse_plan.json"
    path.write_text(json.dumps(plan))
    engine = TnEngine(spark)
    assert engine.run(str(path)) == 0
    rows = {r["doc_id"]: r for r in engine.registry["fused"].collect()}
    assert rows[11]["rank"] == 1 and rows[11]["n_runs"] == 2
    assert rows[10]["rank"] == 2


# ---------------------------------------------------------------------------
# Plan-parse-time method validation (uniform ValueError, never KeyError)
# ---------------------------------------------------------------------------

def test_method_param_validated_at_parse_time():
    from topnotch_spark.plans.extensions import parse_extension

    inp = {"ref": "x", "onDisk": False}

    def dedup_obj(params):
        return {"command": "dedup", "input": inp, "outputKey": "o",
                "params": {"idColumn": "id", **params}}

    with pytest.raises(ValueError, match="dedup: params.method is required"):
        parse_extension(dedup_obj({}))
    with pytest.raises(ValueError, match="dedup: unknown method 'minhashx'"):
        parse_extension(dedup_obj({"method": "minhashx"}))
    with pytest.raises(ValueError, match="text: params.method is required"):
        parse_extension({"command": "text", "input": inp, "outputKey": "o",
                           "params": {"idColumn": "id"}})
    with pytest.raises(ValueError, match="similarity: unknown method"):
        parse_extension(
            {"command": "similarity", "corpus": inp, "queries": inp,
             "outputKey": "o", "params": {"method": "ivfx"}}
        )
    with pytest.raises(ValueError, match="bloom: params.method is required"):
        parse_extension(
            {"command": "bloom", "input": inp, "outputKey": "o",
             "params": {"keyColumn": "k"}}
        )
    # well-formed commands still parse
    assert parse_extension(dedup_obj({"method": "phash"})).method == "phash"


# ---------------------------------------------------------------------------
# Fused referential integrity (one pass per side)
# ---------------------------------------------------------------------------

def test_referential_integrity_counts_on_empty_child(spark):
    from topnotch_spark.operators.integrity import referential_integrity

    child = spark.createDataFrame([], "fk long")
    parent = spark.createDataFrame([(1,)], "pk long")
    row = referential_integrity(child, parent, ["fk"], ["pk"], "r").collect()[0]
    assert (row["n_child"], row["n_null_fk"], row["n_orphans"]) == (0, 0, 0)
    assert row["orphan_frac"] is None


def test_referential_integrity_duplicate_parent_keys_no_fanout(spark):
    """The parent side is deduped before the join — duplicate PKs must
    not multiply child rows (n_child stays exact)."""
    from topnotch_spark.operators.integrity import referential_integrity

    child = spark.createDataFrame([(1,), (1,), (2,), (None,)], "fk long")
    parent = spark.createDataFrame([(1,), (1,), (1,)], "pk long")
    row = referential_integrity(child, parent, ["fk"], ["pk"], "r").collect()[0]
    assert row["n_child"] == 4
    assert row["n_null_fk"] == 1
    assert row["n_orphans"] == 1  # fk=2
    assert row["orphan_frac"] == pytest.approx(0.25)


# ---------------------------------------------------------------------------
# Count-Min sketch
# ---------------------------------------------------------------------------

def test_cms_never_underestimates_and_merges(spark):
    """Estimates >= true counts always; at generous width they are
    exact; merging two halves equals building over the whole."""
    from topnotch_spark.operators.sketch import cms_build, cms_merge, cms_query
    from pyspark.sql import functions as F

    rows = [(i, f"k{i % 7}") for i in range(140)]  # k0..k6, 20 each
    df = spark.createDataFrame(rows, "rid long, key string")
    cms = cms_build(df, "key", width=4096, depth=4)
    keys = spark.createDataFrame(
        [(f"k{j}",) for j in range(7)] + [("absent",)], "key string"
    )
    est = {
        r["key"]: r["est_count"]
        for r in cms_query(keys, "key", "key", cms, width=4096, depth=4).collect()
    }
    assert all(est[f"k{j}"] == 20 for j in range(7))
    assert est["absent"] == 0
    # mergeability: build halves, sum cells, same estimates
    h1 = cms_build(df.filter("rid < 70"), "key", width=4096, depth=4)
    h2 = cms_build(df.filter("rid >= 70"), "key", width=4096, depth=4)
    merged = cms_merge([h1, h2])
    est2 = {
        r["key"]: r["est_count"]
        for r in cms_query(
            keys, "key", "key", merged, width=4096, depth=4
        ).collect()
    }
    assert est2 == est
    # tiny width forces collisions: still never underestimates
    small = cms_build(df, "key", width=4, depth=2)
    est3 = {
        r["key"]: r["est_count"]
        for r in cms_query(keys, "key", "key", small, width=4, depth=2).collect()
    }
    assert all(est3[f"k{j}"] >= 20 for j in range(7))
    with pytest.raises(ValueError, match="non-empty"):
        from topnotch_spark.operators.sketch import cms_merge as cm

        cm([])


def test_cms_plan_command(spark, tmp_path):
    from topnotch_spark.engine import TnEngine
    from topnotch_spark.plans.extensions import parse_extension

    with pytest.raises(ValueError, match="cms: unknown method"):
        parse_extension(
            {"command": "cms", "input": {"ref": "x", "onDisk": False},
             "outputKey": "o", "params": {"method": "probe", "keyColumn": "k"}}
        )
    src = tmp_path / "keys.parquet"
    spark.createDataFrame(
        [(i, f"k{i % 3}") for i in range(30)], "id long, k string"
    ).write.parquet(str(src))
    plan = {
        "commands": [
            {
                "command": "cms",
                "input": {"ref": str(src), "onDisk": True},
                "outputKey": "cells",
                "params": {"method": "build", "keyColumn": "k",
                           "width": 512, "depth": 3},
            },
            {
                "command": "cms",
                "input": {"ref": str(src), "onDisk": True},
                "sketch": {"ref": "cells", "onDisk": False},
                "outputKey": "ests",
                "params": {"method": "query", "keyColumn": "k",
                           "idColumn": "id", "width": 512, "depth": 3},
            },
        ]
    }
    path = tmp_path / "cms_plan.json"
    path.write_text(json.dumps(plan))
    engine = TnEngine(spark)
    assert engine.run(str(path)) == 0
    ests = engine.registry["ests"].collect()
    assert len(ests) == 30
    assert all(r["est_count"] == 10 for r in ests)

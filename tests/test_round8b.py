"""Round-8 (second batch) additions: n-gram novelty scoring, corpus
diversity indices, label-noise kNN agreement, contrastive hard-negative
mining, and the KMV quantile sketch."""

from __future__ import annotations

import json

import pytest

SF = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# n-gram novelty
# ---------------------------------------------------------------------------

def test_ngram_novelty_hand_computed(spark):
    """doc 1 'a b c' and doc 2 'a b x' share the bigram 'a b'; each
    keeps one private bigram -> rate 0.5.  doc 4 is all-novel -> 1.0.
    doc 3 has one token -> no shingles -> no row."""
    from topnotch_spark.operators.dedup import dedup_scope
    from topnotch_spark.operators.textqc import ngram_novelty

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a b x"), (3, "zz"), (4, "p q r")],
        "doc_id long, text string",
    )
    with dedup_scope():
        rows = {
            r["doc_id"]: r
            for r in ngram_novelty(docs, "doc_id", "text", shingle_n=2).collect()
        }
    assert set(rows) == {1, 2, 4}
    assert rows[1]["n_shingles"] == 2 and rows[1]["n_novel"] == 1
    assert rows[1]["novelty_rate"] == 0.5
    assert rows[2]["novelty_rate"] == 0.5
    assert rows[4]["n_shingles"] == 2 and rows[4]["novelty_rate"] == 1.0


def test_ngram_novelty_counts_distinct_shingles_once(spark):
    """Within-doc repeats of a shingle collapse (distinct semantics,
    shared with the dedup family): 'a b a b' has ONE distinct bigram
    'a b' plus 'b a'."""
    from topnotch_spark.operators.dedup import dedup_scope
    from topnotch_spark.operators.textqc import ngram_novelty

    docs = spark.createDataFrame(
        [(1, "a b a b")], "doc_id long, text string"
    )
    with dedup_scope():
        row = ngram_novelty(docs, "doc_id", "text", shingle_n=2).collect()[0]
    assert row["n_shingles"] == 2  # {'a b', 'b a'}
    assert row["novelty_rate"] == 1.0


# ---------------------------------------------------------------------------
# Corpus diversity indices
# ---------------------------------------------------------------------------

def test_corpus_diversity_hand_computed(spark):
    """A: 1/1 split -> H=1 bit, simpson=.5, gini=0 (balanced).
    B: monoculture -> all zeros. C: 1/3 split -> H=.811278,
    simpson=.375, gini=((2-3)*1+(4-3)*3)/(2*4)=.25."""
    from topnotch_spark.operators.curation import corpus_diversity

    rows = [("A", "x"), ("A", "y"),
            ("B", "x"), ("B", "x"), ("B", "x"), ("B", "x"),
            ("C", "x"), ("C", "y"), ("C", "y"), ("C", "y")]
    df = spark.createDataFrame(rows, "grp string, cat string")
    out = {r["grp"]: r for r in corpus_diversity(df, "grp", "cat").collect()}
    a, b, c = out["A"], out["B"], out["C"]
    assert (a["n_rows"], a["n_cats"]) == (2, 2)
    assert a["shannon_bits"] == 1.0 and a["simpson"] == 0.5 and a["gini"] == 0.0
    assert (b["n_rows"], b["n_cats"]) == (4, 1)
    assert b["shannon_bits"] == 0.0 and b["simpson"] == 0.0 and b["gini"] == 0.0
    assert c["shannon_bits"] == pytest.approx(0.811278, abs=1e-6)
    assert c["simpson"] == 0.375 and c["gini"] == 0.25


def test_corpus_stats_plan_diversity_method(spark, tmp_path):
    from topnotch_spark.engine import TnEngine

    plan = {
        "commands": [
            {
                "command": "corpusStats",
                "input": {"ref": f"{SF}/documents.parquet", "onDisk": True},
                "outputKey": "div",
                "params": {"method": "diversity", "groupColumn": "source",
                           "catColumn": "lang"},
            }
        ]
    }
    path = tmp_path / "diversity_plan.json"
    path.write_text(json.dumps(plan))
    engine = TnEngine(spark)
    assert engine.run(str(path)) == 0
    out = engine.registry["div"]
    assert set(out.columns) == {
        "source", "n_rows", "n_cats", "shannon_bits", "simpson", "gini"
    }
    assert out.count() > 0


# ---------------------------------------------------------------------------
# Label-noise kNN agreement
# ---------------------------------------------------------------------------

def test_label_knn_agreement_hand_computed(spark):
    """Six copies of the SAME direction share every SRP bucket and have
    cos_sim exactly 1.0, so rank ties break on neighbor id: each point's
    k=3 neighbors are the 3 lowest OTHER ids. Labels 0,0,0,1,1,1 ->
    id 0 agrees with {1:0, 2:0, 3:1} = 2/3; id 5 agrees with
    {0,1,2} = 0/3 -> suspect."""
    from topnotch_spark.operators.similarity import label_knn_agreement

    df = spark.createDataFrame(
        [(i, [1.0, 0.0], i // 3) for i in range(6)],
        "vec_id long, embedding array<float>, label int",
    )
    out = {
        r["vec_id"]: r
        for r in label_knn_agreement(
            df, k=3, n_planes=4, dim=2, min_agree=0.5
        ).collect()
    }
    assert set(out) == set(range(6))
    assert out[0]["n_neighbors"] == 3 and out[0]["n_agree"] == 2
    assert out[0]["agree_frac"] == pytest.approx(2 / 3, abs=1e-6)
    assert not out[0]["suspect"]
    assert out[5]["n_agree"] == 0 and out[5]["suspect"]
    # id 3 (label 1) sees neighbors 0,1,2 (all label 0) -> suspect too
    assert out[3]["suspect"]


def test_similarity_plan_label_agreement(spark, tmp_path):
    from topnotch_spark.engine import TnEngine
    from topnotch_spark.plans.extensions import parse_extension

    obj = {
        "command": "similarity",
        "corpus": {"ref": f"{SF}/embeddings.parquet", "onDisk": True},
        "outputKey": "noise",
        "params": {"method": "labelAgreement", "k": 5, "nPlanes": 8,
                   "dim": 64, "labelColumn": "label", "minAgree": 0.5},
    }
    # self-join shaped: no 'queries' input needed
    cmd = parse_extension(obj)
    assert "queries" not in cmd.slots

    # but the search methods still demand one, at parse time
    with pytest.raises(ValueError, match="requires a 'queries'"):
        parse_extension({**obj, "params": {"method": "ann"}})

    plan = tmp_path / "label_noise.json"
    plan.write_text(json.dumps({"commands": [obj]}))
    engine = TnEngine(spark)
    assert engine.run(str(plan)) == 0
    out = engine.registry["noise"]
    assert set(out.columns) == {
        "vec_id", "label", "n_neighbors", "n_agree", "agree_frac", "suspect"
    }
    assert out.count() > 0


# ---------------------------------------------------------------------------
# Contrastive pair mining
# ---------------------------------------------------------------------------

def test_contrastive_pairs_hand_computed(spark):
    """Anchor 0 (label A, [1,0]): positives by cosine are id1 [1,.1]
    then id2 [0,1]; hardest negative is id3 [1,.05] (label B, nearly
    parallel), easy negative id4 [-1,0] ranks after it."""
    from topnotch_spark.operators.similarity import contrastive_pairs

    df = spark.createDataFrame(
        [(0, [1.0, 0.0], "A"), (1, [1.0, 0.1], "A"), (2, [0.0, 1.0], "A"),
         (3, [1.0, 0.05], "B"), (4, [-1.0, 0.0], "B")],
        "vec_id long, embedding array<float>, label string",
    )
    out = contrastive_pairs(
        df, df.filter("vec_id = 0"), k=2
    ).collect()
    by = {(r["kind"], r["rank"]): r for r in out}
    assert by[("pos", 1)]["neighbor_id"] == 1
    assert by[("pos", 2)]["neighbor_id"] == 2
    assert by[("neg", 1)]["neighbor_id"] == 3
    assert by[("neg", 2)]["neighbor_id"] == 4
    assert by[("neg", 1)]["cos_sim"] > 0.99
    assert all(r["query_label"] == "A" for r in out)


def test_similarity_plan_contrastive_method(spark, tmp_path):
    from topnotch_spark.engine import TnEngine

    plan = {
        "commands": [
            {
                "command": "similarity",
                "corpus": {"ref": f"{SF}/embeddings.parquet", "onDisk": True},
                "queries": {"ref": f"{SF}/embeddings.parquet",
                            "onDisk": True},
                "outputKey": "mined",
                "params": {"method": "contrastive", "k": 3,
                           "labelColumn": "label"},
            }
        ]
    }
    path = tmp_path / "contrastive_plan.json"
    path.write_text(json.dumps(plan))
    engine = TnEngine(spark)
    assert engine.run(str(path)) == 0
    out = engine.registry["mined"]
    assert set(out.columns) == {
        "query_id", "query_label", "neighbor_id", "neighbor_label",
        "kind", "cos_sim", "rank",
    }
    assert out.filter("kind = 'neg'").count() > 0


# ---------------------------------------------------------------------------
# KMV quantile sketch
# ---------------------------------------------------------------------------

def test_kmv_merge_equals_whole_exactly(spark):
    """Bottom-k-by-hash is an exact mergeable order statistic: the
    merge of two half-corpus sketches IS the whole-corpus sketch,
    bit-for-bit (unlike the HLL's approximate union)."""
    from topnotch_spark.operators.sketch import kmv_build, kmv_merge

    df = spark.createDataFrame(
        [(i, float(i)) for i in range(1000)], "id long, value double"
    )
    whole = kmv_build(df, "id", "value", k=64)
    merged = kmv_merge(
        [
            kmv_build(df.filter("id < 500"), "id", "value", k=64),
            kmv_build(df.filter("id >= 500"), "id", "value", k=64),
        ],
        k=64,
    )
    assert sorted(map(tuple, whole.collect())) == sorted(
        map(tuple, merged.collect())
    )


def test_kmv_accuracy_within_bound_on_uniform(spark):
    """On 1..2000 uniform values the k=256 sample's median estimate
    must sit within the 3/sqrt(k) rank envelope (and the frame says
    so itself via within_bound)."""
    from topnotch_spark.operators.dedup import dedup_scope
    from topnotch_spark.operators.sketch import kmv_accuracy

    df = spark.createDataFrame(
        [(i, float(i)) for i in range(1, 2001)], "id long, value double"
    )
    with dedup_scope():
        rows = {
            r["q"]: r
            for r in kmv_accuracy(
                df, "id", "value", qs=(0.5, 0.9), k=256
            ).collect()
        }
    assert rows[0.5]["n_total"] == 2000 and rows[0.5]["n_sample"] == 256
    for r in rows.values():
        assert r["within_bound"]
        assert abs(r["est_rank"] / 2000 - r["q"]) <= 3 / 256 ** 0.5


def test_quantile_sketch_plan_command(spark, tmp_path):
    from topnotch_spark.engine import TnEngine
    from topnotch_spark.plans.extensions import parse_extension

    with pytest.raises(ValueError, match='requires a "parts"'):
        parse_extension(
            {"command": "quantileSketch", "outputKey": "m",
             "params": {"method": "merge"}}
        )
    with pytest.raises(ValueError, match='requires an "input"'):
        parse_extension(
            {"command": "quantileSketch", "outputKey": "b",
             "params": {"method": "build"}}
        )

    plan = {
        "commands": [
            {
                "command": "quantileSketch",
                "input": {"ref": f"{SF}/orders.parquet", "onDisk": True},
                "outputKey": "sk",
                "params": {"method": "build", "idColumn": "o_orderkey",
                           "valueColumn": "o_totalprice", "k": 32},
            },
            {
                "command": "quantileSketch",
                "input": {"ref": f"{SF}/orders.parquet", "onDisk": True},
                "outputKey": "verdict",
                "params": {"method": "accuracy", "idColumn": "o_orderkey",
                           "valueColumn": "o_totalprice", "k": 64,
                           "qs": [0.5, 0.9]},
            },
        ]
    }
    path = tmp_path / "kmv_plan.json"
    path.write_text(json.dumps(plan))
    engine = TnEngine(spark)
    assert engine.run(str(path)) == 0
    assert engine.registry["sk"].count() == 32
    verdict = engine.registry["verdict"]
    assert set(verdict.columns) == {
        "q", "n_total", "n_sample", "est", "est_rank", "target_rank",
        "rank_err", "within_bound",
    }
    assert verdict.count() == 2


# ---------------------------------------------------------------------------
# Streaming heavy hitters (top-k types per window)
# ---------------------------------------------------------------------------

def test_topk_types_per_window_hand_computed(spark):
    """Hour 0 counts: click=3, error=2, view=1 -> top-2 is
    [click, error]; tie in hour 1 (click=1, view=1) breaks
    alphabetically."""
    import datetime as dt

    from topnotch_spark.streaming.ops import (
        topk_types_per_window,
        windowed_event_metrics,
    )

    t0 = dt.datetime(2024, 1, 1, 0, 0)

    def ev(minute, typ):
        return (t0 + dt.timedelta(minutes=minute), typ, 1.0)

    df = spark.createDataFrame(
        [ev(1, "click"), ev(2, "click"), ev(3, "click"),
         ev(4, "error"), ev(5, "error"), ev(6, "view"),
         ev(61, "view"), ev(62, "click")],
        "ts timestamp, event_type string, value double",
    )
    agg = windowed_event_metrics(df, window_duration="1 hour")
    out = topk_types_per_window(agg, k=2).collect()
    hours = {}
    for r in out:
        hours.setdefault(r["window_start"], []).append(
            (r["rank"], r["event_type"], r["n_events"])
        )
    h0 = sorted(hours[t0])
    assert h0 == [(1, "click", 3), (2, "error", 2)]
    h1 = sorted(hours[t0 + dt.timedelta(hours=1)])
    assert h1 == [(1, "click", 1), (2, "view", 1)]


def test_streaming_topk_types_equals_batch(spark):
    """The streamed twin (stateful windowed count + rank on the result
    table) returns exactly the batch computation at sf0.001."""
    from topnotch_spark.catalog import load, streaming_topk_types

    streamed = {
        (r["window_start"], r["event_type"]): (r["rank"], r["n_events"])
        for r in streaming_topk_types(spark, SF).collect()
    }
    from topnotch_spark.streaming.ops import (
        topk_types_per_window,
        windowed_event_metrics,
    )

    ev = load(spark, SF, "events")
    batch = {
        (r["window_start"], r["event_type"]): (r["rank"], r["n_events"])
        for r in topk_types_per_window(
            windowed_event_metrics(ev, window_duration="1 hour"), k=3
        ).collect()
    }
    assert streamed == batch


# ---------------------------------------------------------------------------
# BPE first-merge counting
# ---------------------------------------------------------------------------

def test_bpe_top_merges_hand_computed(spark):
    """Corpus 'aaa ab' + 'ab': vocab = {aaa:1, ab:2}. Pairs: 'aa'
    appears twice WITHIN 'aaa' (overlapping positions) -> 2;
    'ab' -> 2 (word freq). Tie breaks alphabetically: ab before aa?
    No — 'aa' < 'ab', so rank 1 = aa."""
    from topnotch_spark.operators.textqc import bpe_top_merges

    df = spark.createDataFrame(
        [(1, "aaa ab"), (2, "ab")], "doc_id long, text string"
    )
    out = bpe_top_merges(df, "doc_id", "text", k=10).collect()
    by_pair = {r["pair"]: (r["n_occurrences"], r["rank"]) for r in out}
    assert by_pair == {"aa": (2, 1), "ab": (2, 2)}


def test_bpe_top_merges_ignores_single_char_words(spark):
    from topnotch_spark.operators.textqc import bpe_top_merges

    df = spark.createDataFrame(
        [(1, "a b c xy")], "doc_id long, text string"
    )
    out = bpe_top_merges(df, "doc_id", "text", k=10).collect()
    assert [(r["pair"], r["n_occurrences"]) for r in out] == [("xy", 1)]


def test_text_plan_bpe_merges_method(spark, tmp_path):
    from topnotch_spark.engine import TnEngine

    plan = {
        "commands": [
            {
                "command": "text",
                "input": {"ref": f"{SF}/documents.parquet", "onDisk": True},
                "outputKey": "merges",
                "params": {"method": "bpeMerges", "idColumn": "doc_id",
                           "textColumn": "text", "k": 20},
            }
        ]
    }
    path = tmp_path / "bpe_plan.json"
    path.write_text(json.dumps(plan))
    engine = TnEngine(spark)
    assert engine.run(str(path)) == 0
    out = engine.registry["merges"]
    assert set(out.columns) == {"pair", "n_occurrences", "rank"}
    assert out.count() == 20


# ---------------------------------------------------------------------------
# Cluster-safe split (leakage prevented by construction)
# ---------------------------------------------------------------------------

def test_cluster_safe_split_keeps_near_dups_together(spark):
    """Two near-identical docs (one token changed out of 12) MUST land
    in the same split; the leakage property holds for every detected
    pair by construction (shared group_key)."""
    from topnotch_spark.operators.curation import cluster_safe_split
    from topnotch_spark.operators.dedup import dedup_scope

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda"
    docs = spark.createDataFrame(
        [(1, base + " mu"), (2, base + " nu"),
         (3, "completely different text about other things entirely here"),
         (4, "fourth unrelated document with its own words and phrasing")],
        "doc_id long, text string",
    )
    with dedup_scope():
        out = {
            r["doc_id"]: r
            for r in cluster_safe_split(
                docs, "doc_id", "text", {"train": 0.5, "val": 0.5},
                num_hashes=16, bands=8, threshold=0.5, shingle_n=3,
            ).collect()
        }
    assert len(out) == 4
    # docs 1 and 2 are near-dups -> same group_key (component min = 1)
    assert out[1]["group_key"] == out[2]["group_key"] == 1
    assert out[1]["split"] == out[2]["split"]
    # singletons key by their own id
    assert out[3]["group_key"] == 3 and out[4]["group_key"] == 4


def test_split_plan_cluster_safe_form(spark, tmp_path):
    from topnotch_spark.engine import TnEngine
    from topnotch_spark.plans.extensions import parse_extension

    with pytest.raises(ValueError, match='requires "textColumn"'):
        parse_extension(
            {"command": "split",
             "input": {"ref": "x", "onDisk": False}, "outputKey": "s",
             "params": {"idColumn": "doc_id", "clusterSafe": True,
                        "fractions": {"train": 0.9, "val": 0.1}}}
        )

    plan = {
        "commands": [
            {
                "command": "split",
                "input": {"ref": f"{SF}/documents.parquet", "onDisk": True},
                "outputKey": "splits",
                "params": {"idColumn": "doc_id", "textColumn": "text",
                           "clusterSafe": True,
                           "fractions": {"train": 0.9, "val": 0.1},
                           "shingleN": 5},
            }
        ]
    }
    path = tmp_path / "cluster_safe_plan.json"
    path.write_text(json.dumps(plan))
    engine = TnEngine(spark)
    assert engine.run(str(path)) == 0
    out = engine.registry["splits"]
    assert set(out.columns) == {"doc_id", "group_key", "split"}
    assert set(
        r["split"] for r in out.select("split").distinct().collect()
    ) <= {"train", "val"}


def test_text_plan_novelty_method(spark, tmp_path):
    from topnotch_spark.engine import TnEngine

    plan = {
        "commands": [
            {
                "command": "text",
                "input": {"ref": f"{SF}/documents.parquet", "onDisk": True},
                "outputKey": "novelty",
                "params": {"method": "novelty", "idColumn": "doc_id",
                           "textColumn": "text", "shingleN": 3},
            }
        ]
    }
    path = tmp_path / "novelty_plan.json"
    path.write_text(json.dumps(plan))
    engine = TnEngine(spark)
    assert engine.run(str(path)) == 0
    out = engine.registry["novelty"]
    assert set(out.columns) == {
        "doc_id", "n_shingles", "n_novel", "novelty_rate"
    }
    assert out.count() > 0

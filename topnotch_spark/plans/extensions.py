"""Extension plan commands: dedup / text / similarity / asof / ... as
first-class command types in the same JSON plan envelope the reference
defines (SURVEY.md §7E — "new command types in the same plan JSON").

A user plan mixes them freely with assertion/diff/view:

    {"commands": [
      {"command": "dedup", "input": {"ref": "/data/docs", "onDisk": true},
       "params": {"method": "minhash", "idColumn": "doc_id",
                  "textColumn": "text", "numHashes": 16, "bands": 4,
                  "threshold": 0.5, "shingleN": 5},
       "outputKey": "nearDups"},
      {"command": "assertion", "input": {"ref": "nearDups", "onDisk": false},
       "params": {"assertions": [{"query": "jaccard < 0.9",
                  "description": "no hard dups", "threshold": 0.01}]},
       "outputKey": "dupCheck"}
    ]}

Every extension command is one row of ``TABLE``, keyed by
``(command, method)``. A row names the operator function and says how the
plan feeds it:

- ``slots``: the command's top-level input keys (``input``, ``left``
  ``right``, ``runs``, ...). They bind, in order, to the function's
  DataFrame parameters; an input the function defaults is optional.
- ``params``: the ``params`` keys passed, in order, to the function's
  other leading parameters. ``key=default`` supplies the value when the
  plan omits the key; ``-key`` is accepted and not passed.
- every other ``params`` key is the camelCase spelling of one of the
  function's remaining keyword parameters (``numHashes`` ->
  ``num_hashes``).

So a command's accepted params are its row plus the signature of the
function the row names. ``parse_extension`` checks every key of a plan
command against both, and raises ValueError on an unknown, missing or
misspelled one; the parser turns that into an ErrorCmd.

Commands without a ``method`` param pick their row by which key is
present (``PICK``). A function named without a module is an adapter in
this file, for the forms a row alone cannot express.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import re
from collections import namedtuple
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

from topnotch_spark.plans.model import ENVELOPE_KEYS, Command
from topnotch_spark.sources.inputs import Input, load_input


@dataclass(frozen=True)
class ExtensionCmd(Command):
    """A parsed extension command: the call of one operator function.

    ``slots`` and ``args`` map the function's parameter names to the
    plan's inputs and leading params; ``options`` holds the remaining
    snake_case keyword arguments."""

    command: str = ""
    method: str | None = None
    target: str = ""
    slots: dict = field(default_factory=dict)
    args: dict = field(default_factory=dict)
    options: dict = field(default_factory=dict)

    @property
    def inputs(self) -> list[Input]:
        return list(_flat_inputs(tuple(self.slots.values())))

    @property
    def writes(self) -> tuple[str, ...]:
        index_path = self.args.get("index_path")
        return super().writes + ((index_path,) if index_path else ())

    def execute(self, engine) -> DataFrame:
        fn, _, _, context = _signature(self.target)
        env = {"spark": engine.spark, "output_key": self.output_key}
        frames = {k: _load(engine, v) for k, v in self.slots.items()}
        return fn(
            **{k: env[k] for k in context}, **frames, **self.args,
            **self.options,
        )


def _flat_inputs(value):
    if isinstance(value, Input):
        yield value
    elif isinstance(value, tuple):
        for v in value:
            yield from _flat_inputs(v)


def _load(engine, value):
    if isinstance(value, Input):
        return load_input(engine.spark, value, engine.registry)
    if isinstance(value, tuple):
        return [_load(engine, v) for v in value]
    return value


# ---------------------------------------------------------------------------
# Parse-time checks a signature cannot express
# ---------------------------------------------------------------------------

def _value_or_text(args: dict) -> None:
    if "value_column" not in args and "text_column" not in args:
        raise ValueError(
            'quantileSketch: method "groupJaccard" requires "valueColumn" '
            'or "textColumn"'
        )


def _two_columns(args: dict) -> None:
    if len(args["mi_columns"]) != 2:
        raise ValueError(
            "profile: miColumns takes exactly two columns, got "
            f"{list(args['mi_columns'])}"
        )


def _pairs(args: dict) -> None:
    if not args["pairs"]:
        raise ValueError("fdCheck: params.pairs must be a non-empty list")
    for pair in args["pairs"]:
        if len(pair) != 2:
            raise ValueError(
                f"fdCheck: each pair must be [determinant, dependent], "
                f"got {pair!r}"
            )


def _edge_spec(args: dict) -> None:
    if not (
        {"src_column", "dst_column"} <= args.keys()
        or {"basket_column", "item_column"} <= args.keys()
    ):
        raise ValueError(
            "graph: params need srcColumn+dstColumn (edge-list input) "
            "or basketColumn+itemColumn (co-occurrence edges)"
        )


# ---------------------------------------------------------------------------
# The command table
# ---------------------------------------------------------------------------

Row = namedtuple("Row", "target slots params check", defaults=("", None))

_TEXT = "idColumn textColumn=text"
_VEC = "idColumn vecColumn=text"
_BIN = "idColumn binColumn=text"
_SEQ = "keyColumn tsColumn=ts tiebreakColumn=event_id"

TABLE: dict[tuple[str, str | None], Row] = {
    # dedup: duplicate detection over one input, or a batch screened
    # against an "index" input (a prebuilt index or the raw snapshot)
    ("dedup", "exact"): Row("dedup:exact_dedup", "input", _TEXT),
    ("dedup", "fingerprint"): Row("dedup:fingerprint_dedup", "input", _TEXT),
    ("dedup", "minhash"): Row("dedup:minhash_lsh_dedup", "input", _TEXT),
    ("dedup", "jaccard"): Row("dedup:ngram_jaccard_pairs", "input", _TEXT),
    ("dedup", "containment"): Row("dedup:containment_pairs", "input", _TEXT),
    ("dedup", "simhash"): Row("dedup:simhash_dedup", "input", _TEXT),
    ("dedup", "embedding"): Row("dedup:embedding_near_dups", "input", _VEC),
    ("dedup", "semantic"): Row("semantic_dedup", "input index", _VEC),
    ("dedup", "clusters"): Row("dup_clusters", "input", _TEXT),
    ("dedup", "lines"): Row("curation:dedup_lines", "input", _TEXT),
    ("dedup", "spans"): Row("dedup:duplicate_spans", "input", _TEXT),
    ("dedup", "spansRewrite"): Row(
        "dedup:rewrite_duplicate_spans", "input", _TEXT),
    ("dedup", "fuzzy"): Row("fuzzy:fuzzy_match_pairs", "input", _TEXT),
    ("dedup", "phash"): Row("multimodal:phash_near_dups", "input", _BIN),
    ("dedup", "audio"): Row("multimodal:audio_near_dups", "input", _BIN),
    ("dedup", "video"): Row("multimodal:video_near_dups", "input", _BIN),
    ("dedup", "sourceMatrix"): Row(
        "dedup:cross_source_dup_matrix", "input", f"{_TEXT} sourceColumn"),
    ("dedup", "minhashRecall"): Row("dedup:minhash_recall", "input", _TEXT),
    ("dedup", "phashRecall"): Row("multimodal:phash_recall", "input", _BIN),
    ("dedup", "incremental"): Row("screen_exact", "input index", _TEXT),
    ("dedup", "incrementalMinhash"): Row(
        "screen_minhash", "input index", _TEXT),
    ("dedup", "incrementalSemantic"): Row(
        "screen_semantic", "input index centroids", _VEC),
    ("dedup", "incrementalPhash"): Row("screen_phash", "input index", _BIN),
    ("dedup", "incrementalAudio"): Row("screen_audio", "input index", _BIN),
    ("dedup", "incrementalVideo"): Row("screen_video", "input index", _BIN),
    # text: per-document and corpus-level text analysis
    ("text", "tokenStats"): Row("textqc:token_stats", "input", _TEXT),
    ("text", "quality"): Row("textqc:quality_scores", "input", _TEXT),
    ("text", "langid"): Row("textqc:language_id", "input", _TEXT),
    ("text", "fingerprints"): Row("textqc:fingerprints", "input", _TEXT),
    ("text", "chunk"): Row("chunking:chunk_documents", "input", _TEXT),
    ("text", "piiScrub"): Row("curation:pii_scrub", "input", _TEXT),
    ("text", "qualityFilter"): Row("curation:quality_filter", "input", _TEXT),
    ("text", "vocabTopK"): Row("textqc:vocab_topk", "input", _TEXT),
    ("text", "packShards"): Row("curation:pack_token_shards", "input", _TEXT),
    ("text", "repetition"): Row("textqc:repetition_stats", "input", _TEXT),
    ("text", "tfidfKeywords"): Row("textqc:tfidf_keywords", "input", _TEXT),
    ("text", "normalize"): Row("curation:normalize_text", "input", _TEXT),
    ("text", "unigramLogprob"): Row("textqc:unigram_logprob", "input", _TEXT),
    ("text", "bigramLogprob"): Row("textqc:bigram_logprob", "input", _TEXT),
    ("text", "gopher"): Row("textqc:gopher_rules", "input", _TEXT),
    ("text", "tokenEntropy"): Row("textqc:token_entropy", "input", _TEXT),
    ("text", "readability"): Row("textqc:readability", "input", _TEXT),
    ("text", "novelty"): Row("textqc:ngram_novelty", "input", _TEXT),
    ("text", "bpeMerges"): Row("textqc:bpe_top_merges", "input", _TEXT),
    ("text", "bpeMergeSequence"): Row(
        "textqc:bpe_merge_sequence", "input", _TEXT),
    ("text", "collocations"): Row("textqc:collocations", "input", _TEXT),
    ("text", "unigramLm"): Row("textqc:unigram_lm_vocab", "input", _TEXT),
    ("text", "wordpieceVocab"): Row("textqc:wordpiece_vocab", "input", _TEXT),
    ("text", "c4"): Row("textqc:c4_rules", "input", _TEXT),
    ("text", "heaps"): Row("textqc:heaps_fit", "input", _TEXT),
    ("text", "classifierScore"): Row(
        "textqc:linear_classifier_score", "input", f"{_TEXT} weights"),
    ("text", "langidAccuracy"): Row(
        "textqc:langid_accuracy", "input", f"{_TEXT} trueCol"),
    ("text", "oovRate"): Row(
        "textqc:vocab_oov_rate", "input", f"{_TEXT} partitionCol"),
    ("text", "bpeFertility"): Row(
        "textqc:bpe_fertility_by_group", "input", f"{_TEXT} partitionCol"),
    ("text", "unigramFertility"): Row(
        "textqc:unigram_fertility_by_group", "input",
        f"{_TEXT} partitionCol"),
    ("text", "wordpieceFertility"): Row(
        "textqc:wordpiece_fertility_by_group", "input",
        f"{_TEXT} partitionCol"),
    ("text", "nbClassifier"): Row(
        "textqc:nb_train_score", "input", f"{_TEXT} labelColumn"),
    ("text", "calibrateRanks"): Row(
        "textqc:quality_rank_calibrate", "input",
        "idColumn orderCol partitionCol"),
    ("text", "zipf"): Row("textqc:zipf_fit", "input", "-idColumn textColumn=text"),
    ("text", "vocabCoverage"): Row(
        "textqc:vocab_coverage", "input", "-idColumn textColumn=text"),
    ("text", "nbWeights"): Row(
        "textqc:nb_token_weights", "input",
        "-idColumn textColumn=text labelColumn"),
    # similarity: vector search and embedding-space audits over "corpus"
    ("similarity", "bruteForce"): Row(
        "similarity:brute_force_topk", "corpus queries", "idColumn vecColumn"),
    ("similarity", "ann"): Row(
        "similarity:srp_ann_topk", "corpus queries", "idColumn vecColumn"),
    ("similarity", "mmr"): Row(
        "similarity:mmr_rerank", "corpus queries", "idColumn vecColumn"),
    ("similarity", "contrastive"): Row(
        "similarity:contrastive_pairs", "corpus queries",
        "idColumn vecColumn labelColumn"),
    ("similarity", "labelAgreement"): Row(
        "similarity:label_knn_agreement", "corpus",
        "idColumn vecColumn labelColumn"),
    ("similarity", "silhouette"): Row(
        "cluster_silhouette", "corpus centroids", "idColumn vecColumn"),
    ("similarity", "kmeans"): Row(
        "kmeans_centroids", "corpus", "idColumn vecColumn"),
    ("similarity", "quantizeRecall"): Row(
        "similarity:quantize_recall", "corpus", "idColumn vecColumn"),
    ("similarity", "pqRecall"): Row(
        "similarity:pq_recall", "corpus", "idColumn vecColumn"),
    ("similarity", "ivfpqRecall"): Row(
        "similarity:ivfpq_recall", "corpus", "idColumn vecColumn"),
    ("similarity", "kcenter"): Row(
        "similarity:kcenter_select", "corpus", "idColumn vecColumn"),
    ("similarity", "dimStats"): Row(
        "similarity:embedding_dim_stats", "corpus", "-idColumn vecColumn"),
    # retrieval: BM25 top-k, and Reciprocal Rank Fusion of 2+ runs
    ("retrieve", None): Row(
        "retrieval:bm25_topk", "input", "queries idColumn textColumn"),
    ("fuse", None): Row(
        "retrieval:rrf_fuse", "runs", "queryColumn docColumn rankColumn"),
    # sketches: Bloom / Count-Min / KMV / HLL
    ("bloom", "build"): Row("bloom_build", "input", "keyColumn"),
    ("bloom", "probe"): Row("bloom_probe", "input filter", "keyColumn idColumn"),
    ("cms", "build"): Row("cms_build", "input", "keyColumn"),
    ("cms", "query"): Row("cms_query", "input sketch", "keyColumn idColumn"),
    ("cms", "joinSize"): Row(
        "cms_join_size", "input right", "keyColumn rightKeyColumn"),
    ("quantileSketch", "build"): Row(
        "sketch:kmv_build", "input", "idColumn=id valueColumn=value"),
    ("quantileSketch", "merge"): Row("sketch:kmv_merge", "parts"),
    ("quantileSketch", "accuracy"): Row(
        "sketch:kmv_accuracy", "input", "idColumn=id valueColumn=value"),
    ("quantileSketch", "groupJaccard"): Row(
        "kmv_group_jaccard", "input", "groupColumn", _value_or_text),
    ("sketch", None): Row(
        "sketch:distinct_rollup", "input",
        "detailColumns rollupColumns=[] valueColumn"),
    # graph analytics over an edge list or basket co-occurrence edges
    ("graph", "pagerank"): Row("pagerank", "input", "", _edge_spec),
    ("graph", "ppr"): Row("personalized_pagerank", "input", "seeds", _edge_spec),
    ("graph", "triangles"): Row("triangle_counts", "input", "", _edge_spec),
    ("graph", "components"): Row("components", "input", "", _edge_spec),
    ("graph", "labelProp"): Row("label_propagation", "input", "", _edge_spec),
    ("graph", "kcore"): Row("k_core", "input", "", _edge_spec),
    # column statistics and distribution drift
    ("profile", "columns"): Row("profile:profile_columns", "input", "columns"),
    ("profile", "histogramColumn"): Row(
        "profile:equidepth_histogram", "input", "histogramColumn"),
    ("profile", "corrColumns"): Row("profile:corr_matrix", "input", "corrColumns"),
    ("profile", "miColumns"): Row(
        "mutual_information", "input", "miColumns", _two_columns),
    ("outliers", "zscore"): Row(
        "profile:zscore_outliers", "input", "valueColumn groupColumns"),
    ("outliers", "mad"): Row(
        "profile:mad_outliers", "input", "valueColumn groupColumns"),
    ("pivot", None): Row(
        "profile:pivot_counts", "input",
        "groupColumn pivotColumn pivotValues valueColumn"),
    ("drift", "psi"): Row("drift:histogram_drift", "reference current", "column"),
    ("drift", "ks"): Row("drift:ks_statistic", "reference current", "column"),
    ("drift", "wasserstein"): Row(
        "drift:wasserstein_binned", "reference current", "column"),
    ("drift", "chi2"): Row("drift:chi2_drift", "reference current", "column"),
    ("drift", "tokens"): Row(
        "drift:token_distribution_drift", "reference current", "column"),
    ("drift", "tokenRankShift"): Row(
        "drift:token_rank_shift", "reference current", "column"),
    ("drift", "groupKs"): Row("drift:groupwise_ks", "input", "groupColumn column"),
    ("drift", "trend"): Row("drift:psi_trend", "input", "tsColumn=ts column"),
    ("drift", "benford"): Row("drift:benford_first_digit", "input", "column"),
    # per-key ordered sequences over event streams
    ("sequence", "throttle"): Row(
        "temporal:throttle_dedup", "input",
        "keyColumns tsColumn=ts tiebreakColumn=event_id minGapSeconds"),
    ("sequence", "transitions"): Row(
        "temporal:transition_counts", "input", f"{_SEQ} stateColumn"),
    ("sequence", "likelihood"): Row(
        "temporal:sequence_likelihood", "input", f"{_SEQ} stateColumn"),
    ("sequence", "paths"): Row(
        "temporal:frequent_paths", "input", f"{_SEQ} stateColumn"),
    ("sequence", "cusum"): Row(
        "temporal:cusum_changepoints", "input", f"{_SEQ} valueColumn"),
    ("sequence", "gaps"): Row("temporal:interarrival_stats", "input", _SEQ),
    ("sequence", "funnel"): Row(
        "temporal:funnel_stages", "input",
        "userColumn tsColumn=ts stateColumn stages"),
    ("sequence", "retention"): Row(
        "temporal:retention_cohorts", "input", "keyColumn tsColumn=ts"),
    ("sequence", "rolling"): Row(
        "temporal:rolling_window_agg", "input",
        "keyColumn tsColumn=ts valueColumn"),
    ("sequence", "trend"): Row(
        "temporal:trend_per_key", "input", "keyColumn tsColumn=ts valueColumn"),
    ("sequence", "ewma"): Row(
        "temporal:ewma_per_key", "input",
        "keyColumn tsColumn=ts valueColumn tiebreakColumn=event_id"),
    ("sequence", "anomaly"): Row(
        "temporal:rolling_zscore_anomalies", "input",
        "keyColumn tsColumn=ts valueColumn tiebreakColumn=event_id"),
    ("asof", None): Row(
        "temporal:asof_join", "left right", "on leftTs rightTs rightCols"),
    ("intervalJoin", None): Row(
        "temporal:interval_join", "facts ranges",
        "valueColumn loColumn hiColumn rangeColumns"),
    ("spatialJoin", None): Row("spatial:within_radius_join", "left right", "radius"),
    # training-data curation
    ("corpusStats", "mix"): Row(
        "curation:source_mix_weights", "input", "groupColumn textColumn=text"),
    ("corpusStats", "mixturePlan"): Row(
        "curation:mixture_allocate", "input",
        "groupColumn textColumn=text targetsMilli budgetTokens"),
    ("corpusStats", "dedupRate"): Row(
        "dedup:dedup_rate_by_group", "input", f"{_TEXT} groupColumn"),
    ("corpusStats", "tokenHistogram"): Row(
        "textqc:token_length_histogram", "input", "textColumn=text"),
    ("corpusStats", "vocabOverlap"): Row(
        "textqc:vocab_overlap", "input", "textColumn=text groupColumn"),
    ("corpusStats", "diversity"): Row(
        "curation:corpus_diversity", "input", "groupColumn catColumn"),
    ("corpusStats", "qualityBands"): Row(
        "textqc:quality_bands", "input", "idColumn orderColumn partitionCol"),
    ("sample", "stratColumn"): Row(
        "curation:stratified_sample", "input", "idColumn stratColumn rates"),
    ("sample", "weightColumn"): Row(
        "curation:weighted_sample", "input", "idColumn weightColumn"),
    ("sample", "n"): Row(
        "curation:weighted_sample_topn", "input", "idColumn weightColumn n"),
    ("sample", "budgetTokens"): Row(
        "curation:sample_to_token_budget", "input",
        "idColumn textColumn=text groupColumn budgetTokens"),
    ("sample", "orderColumn"): Row(
        "curation:curriculum_sample", "input",
        "idColumn orderColumn partitionColumn"),
    ("split", "fractions"): Row("curation:hash_split", "input", "idColumn fractions"),
    ("split", "textColumn"): Row(
        "curation:split_leakage", "input", "idColumn textColumn fractions"),
    ("split", "clusterSafe"): Row(
        "curation:cluster_safe_split", "input",
        "idColumn textColumn fractions -clusterSafe"),
    ("winsorize", None): Row(
        "curation:winsorize", "input", "valueColumn groupColumns"),
    ("decontaminate", "ngram"): Row(
        "curation:cross_corpus_overlap", "corpus benchmark", _TEXT),
    ("decontaminate", "embedding"): Row(
        "curation:embedding_decontaminate", "corpus benchmark",
        "idColumn vecColumn=embedding"),
    ("dsir", None): Row("curation:dsir_weights", "raw target", _TEXT),
    ("lmScore", "addkUnigram"): Row(
        "textqc:cross_perplexity", "target reference", _TEXT),
    ("lmScore", "stupidBackoff"): Row(
        "textqc:stupid_backoff", "target reference", _TEXT),
    ("tokenize", "unigram"): Row("textqc:unigram_segment", "input vocab", _TEXT),
    ("tokenize", "bpe"): Row("textqc:bpe_segment", "input vocab", _TEXT),
    ("tokenize", "wordpiece"): Row(
        "textqc:wordpiece_segment", "input vocab", _TEXT),
    # integrity, privacy and layout audits
    ("integrity", None): Row("integrity:referential_integrity_suite", "relations"),
    ("fdCheck", None): Row(
        "integrity:fd_check", "input", "pairs=[]", _pairs),
    ("kAnonymity", "k"): Row("integrity:k_anonymity", "input", "quasiColumns"),
    ("kAnonymity", "sensitiveColumn"): Row(
        "integrity:l_diversity", "input", "quasiColumns sensitiveColumn"),
    ("kAnonymity", "t"): Row(
        "integrity:t_closeness", "input", "quasiColumns sensitiveColumn"),
    ("skewProfile", "topk"): Row("skew:key_skew_topk", "input", "keys"),
    ("skewProfile", "saltPlan"): Row("skew:salt_plan", "input", "keys"),
    ("schemaCheck", None): Row("schema_check", "input", "columns"),
    ("basket", None): Row(
        "basket:market_basket_pairs", "input", "basketColumn itemColumn"),
    # warehouse maintenance
    ("scd2", None): Row(
        "scd:scd2_merge", "current updates", "keys tracked effectiveColumn"),
    ("cdcApply", None): Row(
        "scd:cdc_apply", "snapshot changes",
        "keys tsColumn opColumn tiebreakColumn"),
    ("compact", None): Row("sources.maintenance:compact_table", "", "source dest"),
    # the persisted dedup-index lifecycle: build -> screen (dedup
    # incremental*) -> upsert / delete / compact, plus a layout audit
    ("index", "buildExact"): Row(
        "dedup:build_dedup_index", "input", "idColumn=id textColumn=text"),
    ("index", "buildMinhash"): Row(
        "dedup:build_minhash_index", "input", "idColumn=id textColumn=text"),
    ("index", "buildSemantic"): Row(
        "build_semantic_index", "input centroids", "idColumn=id vecColumn=text"),
    ("index", "buildPhash"): Row(
        "multimodal:build_phash_index", "input", "idColumn=id textColumn=text"),
    ("index", "buildAudio"): Row(
        "multimodal:build_audio_index", "input", "idColumn=id textColumn=text"),
    ("index", "buildVideo"): Row(
        "multimodal:build_video_index", "input", "idColumn=id textColumn=text"),
    ("index", "upsertExact"): Row(
        "dedup:upsert_dedup_index", "input", "indexPath -idColumn"),
    ("index", "upsertMinhash"): Row(
        "dedup:upsert_minhash_index", "input", "indexPath -idColumn"),
    ("index", "upsertSemantic"): Row(
        "dedup:upsert_semantic_index", "input centroids", "indexPath -idColumn"),
    ("index", "upsertBitsig"): Row(
        "dedup:upsert_bitsig_index", "input", "indexPath -idColumn"),
    ("index", "upsertVideo"): Row(
        "dedup:upsert_video_index", "input", "indexPath -idColumn"),
    ("index", "delete"): Row(
        "dedup:delete_from_index", "input", "indexPath idColumn=id"),
    ("index", "compactFiles"): Row("dedup:compact_index", "", "indexPath"),
    ("index", "stats"): Row("dedup:index_stats", "", "indexPath"),
}

# Commands without a "method" param: the first key present picks the
# row; the last entry names the row used when none is.
PICK = {
    "profile": ("miColumns", "corrColumns", "histogramColumn", "columns"),
    "sample": ("budgetTokens", "orderColumn", "n", "weightColumn",
               "stratColumn"),
    "split": ("clusterSafe", "textColumn", "fractions"),
    "kAnonymity": ("t", "sensitiveColumn", "k"),
}
# The method a command runs when its plan gives none.
DEFAULT_METHOD = {
    "drift": "psi", "outliers": "zscore", "decontaminate": "ngram",
    "lmScore": "addkUnigram", "tokenize": "unigram", "skewProfile": "topk",
}


# ---------------------------------------------------------------------------
# Parsing
# ---------------------------------------------------------------------------

def _snake(name: str) -> str:
    """camelCase -> snake_case; a run of capitals is one word
    (targetFileMB -> target_file_mb)."""
    return re.sub(r"(?<=[a-z0-9])(?=[A-Z])", "_", name).lower()


def _camel(name: str) -> str:
    head, *rest = name.split("_")
    return head + "".join(w.title() for w in rest)


@functools.cache
def _resolve(target: str):
    """"module:function" under topnotch_spark (a bare module is one of
    ``operators``); a bare function is an adapter in this module."""
    if ":" not in target:
        return globals()[target]
    module, name = target.split(":")
    package = "topnotch_spark" if "." in module else "topnotch_spark.operators"
    return getattr(importlib.import_module(f"{package}.{module}"), name)


@functools.cache
def _signature(target: str):
    """(function, DataFrame params, plan-fed params, engine-fed names).

    DataFrame parameters only ever come from input slots; ``spark`` and
    ``output_key`` come from the engine."""
    fn = _resolve(target)
    params = list(inspect.signature(fn).parameters.values())
    context = tuple(p.name for p in params if p.name in ("spark", "output_key"))
    frames = [p for p in params if "DataFrame" in str(p.annotation)]
    plain = [p for p in params if p.name not in context and p not in frames]
    return fn, frames, plain, context


def _pick(command: str, params: dict) -> tuple[str | None, str]:
    """The row's method and how it was chosen: "method", "key" (a PICK
    key the plan gave) or "plain"."""
    if (command, None) in TABLE:
        return None, "plain"
    if command in PICK:
        given = [k for k in PICK[command] if params.get(k) not in (None, False)]
        return (given[0], "key") if given else (PICK[command][-1], "plain")
    method = params.pop("method", DEFAULT_METHOD.get(command))
    if method is None:
        raise ValueError(f"{command}: params.method is required")
    if (command, method) not in TABLE:
        known = [m for c, m in TABLE if c == command]
        raise ValueError(
            f"{command}: unknown method {method!r} (unknown {command} "
            f"method; known: {', '.join(known)})"
        )
    return method, "method"


def _slot_value(value):
    """JSON input(s) -> Input / tuple. An integrity relation
    {"name", "child", "fk", "parent", "pk"} becomes that 5-tuple."""
    if isinstance(value, list):
        return tuple(_slot_value(v) for v in value)
    if "ref" in value:
        return Input.from_json(value)
    return tuple(
        _slot_value(value[k]) if k in ("child", "parent") else value[k]
        for k in ("name", "child", "fk", "parent", "pk")
    )


def _leading(row: Row) -> list[str]:
    """The row's params tokens that are passed: ``key`` or ``key=default``."""
    return [t for t in row.params.split() if not t.startswith("-")]


def row_keys(row: Row) -> tuple[list[str], list[str], list[str]]:
    """(slot keys, params keys of the row, keyword parameter names) of a
    table row; a plan may also give each keyword parameter, in camelCase,
    under ``params``."""
    _, _, plain, _ = _signature(row.target)
    tokens = [t.lstrip("-").partition("=")[0] for t in row.params.split()]
    return row.slots.split(), tokens, [p.name for p in plain[len(_leading(row)):]]


def parse_extension(obj: dict) -> ExtensionCmd:
    """Parse one extension command of a plan against its table row."""
    command = obj["command"]
    params = dict(obj.get("params", {}))
    if "externalParamsFile" in obj:
        params.pop("path", None)  # where the params file was read from
    method, form = _pick(command, params)
    row = TABLE[command, method]
    _, frames, plain, _ = _signature(row.target)
    if form == "method":
        label, where = method, f"for method {method!r}"
        needs = f"{command} method {method} requires"
    elif form == "key":
        label, where = method, f"with {method}: mutually exclusive"
        needs = f'{command}: "{method}" requires'
    else:
        label, where, needs = command, f"for {command}", f"{command} requires"
    slot_keys, tokens, keywords = row_keys(row)

    stray = sorted(set(obj) - ENVELOPE_KEYS - set(slot_keys))
    if stray:
        others = [m for (c, m), r in TABLE.items()
                  if c == command and stray[0] in r.slots.split()]
        raise ValueError(
            f"{command}: key {stray[0]!r} is not valid {where}"
            + (f" (only valid for: {', '.join(others)})" if others else "")
        )
    bad = sorted(
        k for k in params if k not in tokens and not (
            k[0].islower() and "_" not in k and _snake(k) in keywords
        )
    )
    if bad:
        accepted = sorted(tokens + [_camel(k) for k in keywords])
        raise ValueError(
            f"{command}: {label} does not accept options {bad} (not valid "
            f"{where}); {label} takes: {', '.join(accepted)}"
        )

    slots = {}
    for key, frame in zip(slot_keys, frames):
        value = _slot_value(obj[key]) if key in obj else None
        many = str(frame.annotation).startswith("list[DataFrame")
        if many and len(value or ()) < 2:
            raise ValueError(f'{needs} a "{key}" list of at least 2 inputs')
        if value is not None:
            slots[frame.name] = value
        elif frame.default is inspect.Parameter.empty:
            article = "an" if key[0] in "aeiou" else "a"
            what = 'an "input"' if key == "input" else f"{article} {key!r} input"
            raise ValueError(f"{needs} {what}")
    args = {}
    for token, param in zip(_leading(row), plain):
        key, _, default = token.partition("=")
        if key in params:
            args[param.name] = params.pop(key)
        elif default:
            args[param.name] = json.loads(default) if default[0] in "[{" else default
        elif param.default is inspect.Parameter.empty:
            what = f'"{key}"' if form == "key" else f"param {key!r}"
            raise ValueError(f"{needs} {what}")
    # what is left: keyword options, and the row's accepted-unused keys
    options = {_snake(k): v for k, v in params.items() if k not in tokens}
    if row.check is not None:
        row.check({**args, **options})
    return ExtensionCmd(
        command=command, method=method, target=row.target, slots=slots,
        args=args, options=options, **Command._common(obj),
    )


def register() -> None:
    from topnotch_spark.plans.parser import EXTENSION_COMMANDS

    EXTENSION_COMMANDS.update({c: parse_extension for c, _ in TABLE})


# ---------------------------------------------------------------------------
# Adapters: the forms a single operator call cannot express. Each keeps
# the defaults of the operator it fronts.
# ---------------------------------------------------------------------------

def _op(name: str):
    return importlib.import_module(f"topnotch_spark.operators.{name}")


def _prebuilt(index: DataFrame, columns: set, build, *args) -> DataFrame:
    """A screen's "index" input is either the persisted artifact of an
    earlier run (it carries ``columns``) or the raw snapshot to build it
    from."""
    return index if columns <= set(index.columns) else build(index, *args)


def _centroid_frame(frame: DataFrame, what: str) -> DataFrame:
    if not {"centroid_id", "centroid"} <= set(frame.columns):
        raise ValueError(
            f"{what} must carry centroid_id/centroid columns (a trained "
            "centroids frame, e.g. similarity method 'kmeans' output)"
        )
    return frame


def _nullsafe(column: str):
    """Sketch key: NULL hashes as the empty string."""
    from pyspark.sql import functions as F

    return F.coalesce(F.col(column).cast("string"), F.lit(""))


def dup_clusters(df: DataFrame, id_col, text_col, num_hashes=16, bands=4,
                 threshold=0.5, shingle_n=3) -> DataFrame:
    """MinHash pairs -> connected components: per-doc (cluster_id,
    cluster_size, keep)."""
    pairs = _op("dedup").minhash_lsh_dedup(
        df, id_col, text_col, num_hashes, bands, threshold, shingle_n)
    return _op("cluster").dup_clusters(pairs)


def semantic_dedup(df: DataFrame, id_col, vec_col, n_clusters=16,
                   threshold=0.9, round_digits=6,
                   centroids: DataFrame | None = None) -> DataFrame:
    """SemDeDup; the optional "index" input is a trained centroids frame
    (e.g. a similarity "kmeans" output)."""
    if centroids is not None:
        _centroid_frame(centroids, 'dedup: method "semantic" index input')
    return _op("dedup").semantic_dedup(
        df, id_col, vec_col, n_clusters, threshold, round_digits, centroids)


def screen_exact(batch: DataFrame, index: DataFrame, id_col,
                 text_col) -> DataFrame:
    D = _op("dedup")
    index = _prebuilt(index, {"dup_key", "index_id"}, D.build_dedup_index,
                      id_col, text_col)
    return D.dedup_against_index(batch, index, id_col, text_col)


def screen_minhash(batch: DataFrame, index: DataFrame, id_col, text_col,
                   num_hashes=16, bands=4, threshold=0.5,
                   shingle_n=3) -> DataFrame:
    D = _op("dedup")
    index = _prebuilt(index, {"index_id", "band_idx", "bucket", "sigs"},
                      D.build_minhash_index, id_col, text_col, num_hashes,
                      bands, shingle_n)
    return D.dedup_batch_against_minhash_index(
        batch, index, id_col, text_col, num_hashes, bands, threshold,
        shingle_n)


def screen_semantic(batch: DataFrame, index: DataFrame, centroids: DataFrame,
                    id_col, vec_col, threshold=0.9,
                    round_digits=6) -> DataFrame:
    D = _op("dedup")
    index = _prebuilt(index, {"index_id", "vec", "nrm", "centroid_id"},
                      D.build_semantic_index, None, id_col, vec_col,
                      centroids)
    return D.dedup_batch_against_semantic_index(
        batch, index, centroids, id_col, vec_col, threshold, round_digits)


def screen_phash(batch: DataFrame, index: DataFrame, id_col, bin_col,
                 hash_type="ahash", grid=8, band_bits=16,
                 max_hamming=3) -> DataFrame:
    M = _op("multimodal")
    index = _prebuilt(index, {"index_id", "band_idx", "bucket", "sh"},
                      M.build_phash_index, id_col, bin_col, hash_type, grid,
                      band_bits)
    return M.dedup_batch_against_phash_index(
        batch, index, id_col, bin_col, hash_type, grid, band_bits,
        max_hamming)


def screen_audio(batch: DataFrame, index: DataFrame, id_col, bin_col,
                 n_frames=32, band_bits=8, max_hamming=3) -> DataFrame:
    M = _op("multimodal")
    index = _prebuilt(index, {"index_id", "band_idx", "bucket", "sh"},
                      M.build_audio_index, id_col, bin_col, n_frames,
                      band_bits)
    return M.dedup_batch_against_audio_index(
        batch, index, id_col, bin_col, n_frames, band_bits, max_hamming)


def screen_video(batch: DataFrame, index: DataFrame, id_col, bin_col,
                 hash_type="ahash", grid=8, every_n=1, min_match_frac=0.5,
                 round_digits=6) -> DataFrame:
    M = _op("multimodal")
    index = _prebuilt(index, {"index_id", "frame_idx", "sh", "n_hashed"},
                      M.build_video_index, id_col, bin_col, hash_type, grid,
                      every_n)
    return M.dedup_batch_against_video_index(
        batch, index, id_col, bin_col, hash_type, grid, every_n,
        min_match_frac, round_digits)


def build_semantic_index(df: DataFrame, centroids: DataFrame, id_col,
                         vec_col) -> DataFrame:
    return _op("dedup").build_semantic_index(
        df, None, id_col, vec_col, centroids)


def cluster_silhouette(corpus: DataFrame, id_col="vec_id",
                       vec_col="embedding", n_centroids=16, round_digits=6,
                       centroids: DataFrame | None = None) -> DataFrame:
    """Seeded IVF clustering, or the optional trained "centroids" input."""
    if centroids is not None:
        _centroid_frame(centroids, "similarity: silhouette 'centroids' input")
    return _op("similarity").cluster_silhouette(
        corpus, id_col, vec_col, n_centroids, round_digits, centroids)


def kmeans_centroids(corpus: DataFrame, id_col="vec_id", vec_col="embedding",
                     n_centroids=8, n_rounds=3) -> DataFrame:
    """The trained (centroid_id, centroid, n_members) frame."""
    return _op("similarity").kmeans_centroids_exact(
        corpus, id_col, vec_col, n_centroids, n_rounds)[0]


def bloom_build(df: DataFrame, key_column, m_bits=1048576,
                k_hashes=3) -> DataFrame:
    return _op("membership").bloom_build(
        df, _nullsafe(key_column), m_bits, k_hashes)


def bloom_probe(df: DataFrame, bloom: DataFrame, key_column, id_col="id",
                m_bits=1048576, k_hashes=3) -> DataFrame:
    return _op("membership").bloom_probe(
        df, id_col, _nullsafe(key_column), bloom, m_bits, k_hashes)


def cms_build(df: DataFrame, key_column, width=1024, depth=4) -> DataFrame:
    return _op("sketch").cms_build(df, _nullsafe(key_column), width, depth)


def cms_query(df: DataFrame, cms: DataFrame, key_column, id_col="id",
              width=1024, depth=4) -> DataFrame:
    return _op("sketch").cms_query(
        df, id_col, _nullsafe(key_column), cms, width, depth)


def cms_join_size(df: DataFrame, right: DataFrame, key_column,
                  right_key_column, width=1024, depth=4,
                  round_digits=6) -> DataFrame:
    """|input ⋈ right| estimated from both sides' sketches, graded
    against the exact per-key counts join."""
    return _op("sketch").cms_join_size(
        df, _nullsafe(key_column), right, _nullsafe(right_key_column),
        width, depth, round_digits)


def kmv_group_jaccard(df: DataFrame, group_col, value_column=None,
                      text_column=None, k=256, salt="kmvset",
                      round_digits=6, grade_exact=False) -> DataFrame:
    """Pairwise distinct-set Jaccard between groups; ``text_column``
    sketches each group's token vocabulary instead of a value column."""
    if text_column is not None:
        from pyspark.sql import functions as F

        from topnotch_spark.functions.text import tokens

        value_column = "__v__"
        df = df.select(group_col,
                       F.explode(tokens(text_column)).alias(value_column))
    return _op("sketch").kmv_group_jaccard(
        df, group_col, value_column, k, salt, round_digits, grade_exact)


def mutual_information(df: DataFrame, mi_columns,
                       round_digits=6) -> DataFrame:
    return _op("drift").mutual_information(
        df, *mi_columns, round_digits=round_digits)


def schema_check(spark, output_key, df: DataFrame, columns,
                 allow_extra=True, fail_on_violation=False) -> DataFrame:
    """Schema contract over an input, from its analyzed schema alone (no
    job runs): every expected {"name", "type"} column must exist with that
    Spark ``simpleString`` type, case-insensitive; extra columns violate
    unless ``allow_extra``. One row per column with a status (ok |
    missing | type_mismatch | unexpected); ``fail_on_violation`` halts
    the plan instead."""
    actual = {f.name.lower(): f.dataType.simpleString() for f in df.schema.fields}
    rows: list[tuple[str, str | None, str | None, str]] = []
    for col in columns:
        name, expected = col["name"], col["type"]
        got = actual.get(name.lower())
        if got is None:
            rows.append((name, expected, None, "missing"))
        elif got.lower() != expected.lower():
            rows.append((name, expected, got, "type_mismatch"))
        else:
            rows.append((name, expected, got, "ok"))
    if not allow_extra:
        expected_names = {c["name"].lower() for c in columns}
        for f in df.schema.fields:
            if f.name.lower() not in expected_names:
                rows.append((f.name, None, f.dataType.simpleString(), "unexpected"))
    bad = [r for r in rows if r[3] != "ok"]
    if fail_on_violation and bad:
        detail = "; ".join(
            f"{n}: {st} (expected {e}, got {g})" for n, e, g, st in bad
        )
        raise ValueError(f"schemaCheck '{output_key}' failed: {detail}")
    return spark.createDataFrame(
        rows, "column string, expected_type string, actual_type string, "
        "status string",
    )


# graph: every method runs over one edge list, taken from an edge-list
# input (srcColumn/dstColumn) or built from basket co-occurrence
# (basketColumn/itemColumn, bounded by maxBasketItems/minSupport).

def _edges(df, src_column, dst_column, basket_column, item_column,
           max_basket_items, min_support, weight_column=None):
    """(src, dst[, w]) edges and the name of their weight column."""
    from pyspark.sql import functions as F

    if src_column is not None:
        # on an edge list every weightColumn is a plain column, even the
        # literal "pairCount" the basket path aliases
        cols = [F.col(src_column).alias("src"), F.col(dst_column).alias("dst")]
        if weight_column is None:
            return df.select(*cols), None
        return df.select(*cols, F.col(weight_column).alias("w")), "w"
    edges = _op("graph").cooccurrence_edges(
        df, basket_column, item_column, max_basket_items, min_support)
    if weight_column == "pairCount":
        weight_column = "pair_count"
    return edges, weight_column


def pagerank(df: DataFrame, src_column=None, dst_column=None,
             basket_column=None, item_column=None, max_basket_items=12,
             min_support=1, iters=8, scale=10**12, damp_num=17, damp_den=20,
             broadcast_ranks=True, tol_scaled=None) -> DataFrame:
    edges, _ = _edges(df, src_column, dst_column, basket_column,
                      item_column, max_basket_items, min_support)
    return _op("graph").pagerank(
        edges, iters, scale, damp_num, damp_den, broadcast_ranks, tol_scaled)


def personalized_pagerank(spark, df: DataFrame, seeds, src_column=None,
                          dst_column=None, basket_column=None,
                          item_column=None, max_basket_items=12,
                          min_support=1, weight_column=None, iters=8,
                          scale=10**12, damp_num=17, damp_den=20,
                          broadcast_ranks=True,
                          tol_scaled=None) -> DataFrame:
    """Seeded, optionally weighted related-item walks; ``seeds`` is a
    literal node-id list."""
    edges, weight = _edges(df, src_column, dst_column, basket_column,
                           item_column, max_basket_items, min_support,
                           weight_column)
    seed_df = spark.createDataFrame([(int(x),) for x in seeds], "node long")
    return _op("graph").personalized_pagerank(
        edges, seed_df, iters, scale, damp_num, damp_den, weight,
        broadcast_ranks, tol_scaled)


def triangle_counts(df: DataFrame, src_column=None, dst_column=None,
                    basket_column=None, item_column=None,
                    max_basket_items=12, min_support=1,
                    round_digits=6) -> DataFrame:
    edges, _ = _edges(df, src_column, dst_column, basket_column,
                      item_column, max_basket_items, min_support)
    return _op("graph").triangle_counts(edges, round_digits)


def components(df: DataFrame, src_column=None, dst_column=None,
               basket_column=None, item_column=None, max_basket_items=12,
               min_support=1) -> DataFrame:
    from pyspark.sql import functions as F

    edges, _ = _edges(df, src_column, dst_column, basket_column,
                      item_column, max_basket_items, min_support)
    return _op("cluster").connected_components(
        edges, src="src", dst="dst"
    ).select("id", F.col("comp").alias("component_id"))


def label_propagation(df: DataFrame, src_column=None, dst_column=None,
                      basket_column=None, item_column=None,
                      max_basket_items=12, min_support=1,
                      weight_column=None, iters=5,
                      broadcast_labels=True) -> DataFrame:
    edges, weight = _edges(df, src_column, dst_column, basket_column,
                           item_column, max_basket_items, min_support,
                           weight_column)
    return _op("graph").label_propagation(
        edges, iters, weight, broadcast_labels)


def k_core(df: DataFrame, src_column=None, dst_column=None,
           basket_column=None, item_column=None, max_basket_items=12,
           min_support=1, k=3, max_rounds=8) -> DataFrame:
    edges, _ = _edges(df, src_column, dst_column, basket_column,
                      item_column, max_basket_items, min_support)
    return _op("graph").k_core(edges, k, max_rounds)


register()

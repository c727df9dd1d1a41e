"""The end-to-end training-corpus preparation pipeline — the composition
every individual operator in this engine exists to serve:

    score (lang-id, quality) -> filter -> [boilerplate removal] ->
    [benchmark decontamination] -> exact dedup -> near-dup removal
    (MinHash-LSH pairs -> connected components -> keep canonical) ->
    [source mixing] -> deterministic shard assignment ->
    [sequence packing] -> partitioned sink

Everything is the already-oracle-checked operators from functions/text.py,
operators/dedup.py and operators/sharding.py wired in their intended
order; nothing here introduces new semantics. Scale shape: two corpus
shuffles total (exact-dedup hash exchange + the sink's shard
partitioning, ``ceil(_join_width / n_shards)`` tasks a shard); the near-dup
machinery runs on signatures and the (small) pair graph, touching the
corpus again only through one anti-join.
A frame read twice is persisted so no stage re-executes (the round-1
lineage lesson, VERDICT.md item 5); stage stats are observed on that one
execution. The default recipe's persist boundaries are the exact-dedup
output (read by the token sets and the anti-join), the distinct token
sets (read by the MinHash band step and both sides of the Jaccard
verify, so shingles are built once), the tiled band frame (read by both
sides of the band self-join, so the signature kernel and the tiling
window run once) and the verified pair graph (read by the
connected-components jobs); each optional stage that reads its input
twice pins that input too.

Reference analogue: this is the engine's `Transformer.ApplyAll` — a whole
prepared pipeline applied in one call (transform.go:104-117) — at corpus
scale.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from go_html_transform_spark.functions import redact as RDT
from go_html_transform_spark.functions import repetition as REP
from go_html_transform_spark.functions import text as TX
from go_html_transform_spark.functions.tokenize import tokens_expr
from go_html_transform_spark.operators import boilerplate as BP
from go_html_transform_spark.operators import decontaminate as DC
from go_html_transform_spark.operators import dedup as D
from go_html_transform_spark.operators import packing as PK
from go_html_transform_spark.operators import sampling as SA
from go_html_transform_spark.operators import sharding as SH
from go_html_transform_spark.operators import sketches as SKX
from go_html_transform_spark.sources import tables as S

_EXCLUDED_RULES = "spark.sql.adaptive.optimizer.excludedRules"
_PROPAGATE_EMPTY = "org.apache.spark.sql.execution.adaptive.AQEPropagateEmptyRelation"


def _keep_empty_stages(fn):
    """Run ``fn(spark, ...)`` with AQE's empty-relation rule off: it
    replaces a stage that produced no rows with an empty relation, and
    the observations inside the stage go with it (Spark reports them as
    an empty row, e.g. ``input`` when the filters drop every doc)."""

    @functools.wraps(fn)
    def run(spark: SparkSession, *args, **kwargs):
        prior = spark.conf.get(_EXCLUDED_RULES, "")
        rules = ",".join(filter(None, (prior, _PROPAGATE_EMPTY)))
        spark.conf.set(_EXCLUDED_RULES, rules)
        try:
            return fn(spark, *args, **kwargs)
        finally:
            spark.conf.set(_EXCLUDED_RULES, prior)

    return run


@_keep_empty_stages
def prepare_training_corpus(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str | None = None,
    min_quality_ppm: int = 300_000,
    lang: str | None = "en",
    jaccard_threshold: float = 0.9,
    n_shards: int = 64,
    eval_df: DataFrame | None = None,
    decontaminate_ngram: int = 13,
    mix_weights: dict[str, float] | None = None,
    pack_context_len: int | None = None,
    boilerplate_min_docs: int | None = None,
    max_rep3_top_ppm: int | None = None,
    redact_pii: bool = False,
    lm_bucket_keep_ppm: dict[int, int] | None = None,
    split_holdout_ppm: tuple[int, int] | None = None,
    quality_model: tuple[list[float], float] | None = None,
    min_quality_p: float = 0.5,
    dsir_target: Column | None = None,
    bpe_num_merges: int | None = None,
    near_dup_on: str = "shingles3",
) -> tuple[DataFrame, dict]:
    """Returns (prepared DataFrame, stage-by-stage stats). Writes a
    shard-partitioned parquet corpus when ``out_dir`` is given (the
    partition column is the affine shard id — stable across reruns and
    cluster sizes, so incremental re-preparation lands rows in the same
    files).

    The call runs Spark jobs: connected components is eager
    (operators/dedup.py), and the mix-rate counts, LM perplexity-bucket
    thresholds, DSIR weights and BPE merge table are driver collects.

    ``stats`` holds row counts observed (``df.observe``) on each stage's
    frame below any persist of it, so no stage runs a job to be counted;
    a count is returned once a pass that reads all of its frame has
    finished. With ``out_dir`` (the write is the last action) that is
    the key of every stage that ran: ``input``,
    ``after_quality_lang_filter``, ``boilerplate_segments_removed``
    (segments), ``after_decontaminate``, ``after_exact_dedup``,
    ``near_dup_pairs``, ``after_near_dedup``, ``after_lm_bucket_sampling``,
    ``after_dsir_selection``, ``after_mixing``. Without it, the keys
    through ``near_dup_pairs``, which the eager connected-components jobs
    read in full (a caller's ``first()`` would observe part of a later
    frame). ``bpe_merges`` comes with the BPE stage.

    Optional stages (each a no-op when unset):

    * ``eval_df`` — benchmark decontamination before dedup (broadcast
      n-gram anti-join, operators/decontaminate.py; ``decontaminate_ngram``
      sets n).
    * ``mix_weights`` — target source proportions; per-source keep rates
      are derived from the post-dedup counts (one tiny agg) and applied
      as a deterministic stratified sample (operators/sampling.py).
    * ``pack_context_len`` — append (tok_before, pack_id, pack_offset):
      the shard-local concat-and-chunk placement (operators/packing.py).
    * ``boilerplate_min_docs`` — C4-style duplicate-segment removal
      BEFORE dedup (operators/boilerplate.py; boilerplate otherwise
      masks true near-duplicate content): text is rewritten and
      tokens/n_tok re-derived, adding only the hot-set broadcast —
      the corpus still never exchanges in this stage.
    * ``max_rep3_top_ppm`` — Gopher repetition gate: drop documents
      whose single most frequent 3-gram exceeds this mass
      (functions/repetition.py — row-local, rides the quality filter's
      scan for free).
    * ``redact_pii`` — rewrite text through the PII placeholder chain
      (functions/redact.py) and re-derive tokens/n_tok, BEFORE dedup so
      documents identical up to their PII dedupe together.
    * ``lm_bucket_keep_ppm`` — CCNet perplexity-bucket sampling AFTER
      dedup: {bucket: keep_ppm} over head(0)/middle(1)/tail(2)
      (sketches.lm_perplexity_buckets); unlisted buckets keep 0.
    * ``split_holdout_ppm`` — (val_ppm, test_ppm): append the
      deterministic train/val/test ``split`` column LAST (post-dedup, so
      near-duplicates cannot straddle splits).
    * ``quality_model`` — (weights, bias) from classifier.
      train_logistic_hashed: the LEARNED quality gate (fastText-style)
      applied with the heuristic filters — docs below ``min_quality_p``
      drop. One doc-keyed join of the (doc, logit) frame.
    * ``dsir_target`` — boolean Column over the doc frame (e.g.
      ``F.col('lang') == 'en'``): DSIR importance selection AFTER dedup
      (operators/selection.py) — keeps docs whose hashed-bigram
      log-likelihood ratio against the target distribution is positive.
    * ``bpe_num_merges`` — train a BPE merge table ON THE CLEANED corpus
      (post-dedup/selection — the standard tokenizer-training point) and
      re-tokenize: tokens/n_tok are rewritten, merge table returned in
      ``stats['bpe_merges']``.

    ``near_dup_on`` picks the near-dup signal: ``'shingles3'`` (the
    default) runs MinHash-LSH and the Jaccard verify on 3-gram shingle
    sets (``ngram_near_duplicates``); ``'tokens'`` runs them on raw
    distinct-token sets, which degenerate on skewed vocabularies
    (recall 0.31 with 9.7M false candidates in BENCH/OPS.md's round-5
    prepare table).
    """
    stats: dict = {}
    observed: dict[str, Observation] = {}

    def observe(df: DataFrame, key: str, metric: Column = F.count(F.lit(1))):
        observed[key] = Observation()
        return df.observe(observed[key], metric.alias("v"))

    doc = observe(S.documents_tokenized(spark, sf_dir), "input")
    scored = doc.withColumn("lang_pred", TX.lang_id(F.col("text"))).withColumn(
        "quality_ppm", TX.quality_score_ppm(F.col("text"))
    )
    kept = scored.filter(F.col("quality_ppm") >= min_quality_ppm)
    if lang is not None:
        kept = kept.filter(F.col("lang_pred") == lang)
    if max_rep3_top_ppm is not None:
        kept = REP.with_repetition(kept, "tokens", 3).filter(
            F.col("rep3_top_ppm") <= max_rep3_top_ppm
        ).drop("rep3_dup_ppm", "rep3_top_ppm")
    persisted: list[DataFrame] = []
    if quality_model is not None:
        from go_html_transform_spark.operators import classifier as CLF

        # scoring consumes `kept` twice (feature subtree + the id frame)
        # and the gate joins back a third time — pin it so the
        # quality/lang filter scan runs once (single-execution contract)
        kept = kept.persist(StorageLevel.MEMORY_AND_DISK)
        persisted.append(kept)
        qw, qb = quality_model
        qs = CLF.score_logistic_hashed(kept, qw, qb).select(
            "doc_id", "quality_p"
        )
        kept = kept.join(qs, "doc_id", "inner").filter(
            F.col("quality_p") >= min_quality_p
        ).drop("quality_p")
    kept = observe(kept, "after_quality_lang_filter")

    if boilerplate_min_docs is not None:
        # remove_boilerplate reads `kept` twice (hot-set subtree + corpus
        # side) — pin it so the filter scan runs once
        kept = kept.persist(StorageLevel.MEMORY_AND_DISK)
        persisted.append(kept)
        kept = BP.remove_boilerplate(kept, "text", min_docs=boilerplate_min_docs)
        kept = observe(kept, "boilerplate_segments_removed", F.sum("bp_removed"))
        kept = kept.withColumn("tokens", tokens_expr("text")).withColumn(
            "n_tok", F.size(F.col("tokens")).cast("int")
        ).drop("bp_removed")

    if redact_pii:
        kept = kept.withColumn("text", RDT.redact_pii(F.col("text")))
        kept = kept.withColumn("tokens", tokens_expr("text")).withColumn(
            "n_tok", F.size(F.col("tokens")).cast("int")
        )

    if eval_df is not None:
        kept = DC.decontaminate(
            kept, eval_df, "doc_id", n=decontaminate_ngram, mode="drop"
        )
        kept = observe(kept, "after_decontaminate")

    exact = D.exact_dedup(kept, "doc_id", F.col("text"))
    # `exact` has two consumers (LSH signatures + the final anti-join) —
    # persist it so the dedup exchange runs once.
    exact = observe(exact, "after_exact_dedup").persist(StorageLevel.MEMORY_AND_DISK)
    persisted.append(exact)

    # 3-gram shingle sets by default; raw distinct-token sets degenerate
    # on skewed vocabularies (see ngram_near_duplicates: raw-token minhash
    # degenerates on a Zipf head, token-set Jaccard saturates)
    if near_dup_on == "shingles3":
        toks = D.shingles3(F.col("tokens"))
    elif near_dup_on == "tokens":
        toks = F.col("tokens")
    else:
        raise ValueError("near_dup_on must be 'tokens' or 'shingles3'")
    # ngram_/minhash_near_duplicates, split to pin what two consumers
    # read: a self-join over a persisted input plans no ReusedExchange,
    # so each side would run its subtree again. The token sets feed the
    # band step and both verify joins; the tiled band frame (MinHash
    # kernel, tiling window and its two exchanges) feeds both sides of
    # the band self-join.
    sets = D._token_sets(exact, "doc_id", toks).persist(StorageLevel.MEMORY_AND_DISK)
    persisted.append(sets)
    tiled = D._band_tiles(D._minhash_bands(sets, "__id", "__t"))
    tiled = tiled.persist(StorageLevel.MEMORY_AND_DISK)
    persisted.append(tiled)
    pairs = D._jaccard_verify(D._band_candidates(tiled), sets, jaccard_threshold)
    # ALWAYS persist the pair graph (tiny relative to the corpus):
    # connected_components iterates over it, and an unpersisted lineage
    # would recompute the whole LSH candidate+verify pipeline on EVERY
    # label-propagation round — measured 1.7x on the end-to-end recipe.
    pairs = observe(pairs.select("id_a", "id_b"), "near_dup_pairs")
    pairs = pairs.persist(StorageLevel.MEMORY_AND_DISK)
    persisted.append(pairs)
    deduped = D.near_dedup_keep_canonical(exact, pairs, "doc_id")
    # connected components (eager) read every frame observed so far in full
    complete = list(observed)
    deduped = observe(deduped, "after_near_dedup")

    if lm_bucket_keep_ppm is not None:
        deduped = deduped.persist(StorageLevel.MEMORY_AND_DISK)
        persisted.append(deduped)
        buckets = SKX.lm_perplexity_buckets(deduped).select(
            "doc_id", "lm_bucket"
        )
        # the bucket table is per-doc but derives from two tiny driver
        # collects + the LM broadcast; the join back is doc-keyed
        deduped = SA.stratified_sample(
            deduped.join(buckets, "doc_id", "inner"),
            F.col("doc_key"),
            "lm_bucket",
            {int(k): int(v) for k, v in lm_bucket_keep_ppm.items()},
            default_ppm=0,
            seed=5,
        ).drop("lm_bucket")
        deduped = observe(deduped, "after_lm_bucket_sampling")

    if dsir_target is not None:
        from go_html_transform_spark.operators import selection as SELN

        # dsir_weights reads the corpus twice (log-ratio table + weight
        # pass) — pin it so the filtered scan runs once
        deduped = deduped.persist(StorageLevel.MEMORY_AND_DISK)
        persisted.append(deduped)
        dw = SELN.dsir_weights(deduped, dsir_target).select(
            "doc_id", "selected"
        )
        deduped = deduped.join(dw, "doc_id", "inner").filter(
            F.col("selected") == 1
        ).drop("selected")
        deduped = observe(deduped, "after_dsir_selection")

    if bpe_num_merges is not None:
        from go_html_transform_spark.operators import bpe as BPE

        deduped = deduped.persist(StorageLevel.MEMORY_AND_DISK)
        persisted.append(deduped)
        merges, _ = BPE.bpe_train(
            deduped.select("doc_id", "tokens"), bpe_num_merges, batch=8
        )
        deduped = BPE.bpe_apply(deduped, merges).withColumn(
            "n_tok", F.size(F.col("tokens")).cast("int")
        )
        stats["bpe_merges"] = merges

    if mix_weights is not None:
        # two consumers (the rate-deriving counts + the final corpus)
        deduped = deduped.persist(StorageLevel.MEMORY_AND_DISK)
        persisted.append(deduped)
        counts = {
            r["source"]: r["n"]
            for r in deduped.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        rates = SA.mix_weights_to_rates(counts, mix_weights)
        deduped = SA.stratified_sample(
            deduped, F.col("doc_key"), "source", rates, default_ppm=0
        )
        deduped = observe(deduped, "after_mixing")

    if split_holdout_ppm is not None:
        val_ppm, test_ppm = split_holdout_ppm
        deduped = deduped.withColumn(
            "split",
            SA.assign_split(F.col("doc_key"), val_ppm, test_ppm, seed=13),
        )

    prepared = SH.assign_shards(deduped, F.col("doc_key"), n_shards)
    if pack_context_len is not None:
        prepared = PK.pack_assign(
            prepared, F.col("doc_key"), "n_tok", pack_context_len
        )

    if out_dir is not None:
        # a user-keyed exchange on (shard, salt): each shard is written by
        # ceil(width / n_shards) tasks, so the write neither inherits the
        # anti-join's exchange (which AQE coalesces to one task) nor caps
        # at n_shards tasks
        width = D._join_width(spark)
        salt = F.pmod(F.xxhash64("doc_key"), F.lit(-(-width // n_shards)))
        prepared.repartition(width, "shard", salt).write.mode("overwrite").partitionBy(
            "shard"
        ).parquet(out_dir)
        if observed[next(reversed(observed))].get["v"] == 0:
            # a partitioned write of zero rows leaves only _SUCCESS, which
            # spark.read.parquet cannot infer a schema from: write the
            # empty schema under one partition (limit(0) runs no scan)
            prepared.drop("shard").limit(0).write.mode("overwrite").parquet(
                f"{out_dir}/shard=0"
            )
        for p in persisted:
            p.unpersist()
        complete = list(observed)
    else:
        # the caller owns the returned (lazy) frame; its persisted
        # ancestors stay pinned so downstream actions reuse them —
        # release_training_corpus() drops exactly these.
        prepared._prepare_persisted = persisted  # type: ignore[attr-defined]
    return prepared, {k: observed[k].get["v"] for k in complete} | stats


def release_training_corpus(prepared: DataFrame) -> None:
    """Unpersist the cached ancestors of a corpus returned without a
    sink (``out_dir=None``). No-op for already-sunk corpora."""
    for p in getattr(prepared, "_prepare_persisted", []):
        p.unpersist()


def audit_split_contamination(
    df: DataFrame,
    split_col: str = "split",
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    n: int = 13,
) -> tuple[DataFrame, int]:
    """Eval-hygiene audit: training documents that share an ``n``-gram
    with ANY held-out (val/test) document — the check a release gate
    runs before shipping a corpus with a split column. Returns
    ((doc_id, n_contaminated) over train docs, heldout doc count).

    Plan shape: the held-out side is the 2-4% minority — its n-gram set
    broadcasts (decontaminate.py machinery); the train side explodes
    narrowly and semi-joins map-side; the only exchange groups the
    matched minority. NOTE split assignment alone cannot prevent this
    (near-duplicates straddle splits unless dedup ran first — which is
    why prepare assigns the split POST-dedup); this audit measures
    what remains."""
    train = df.filter(F.col(split_col) == "train")
    heldout = df.filter(F.col(split_col) != "train")
    counts = DC.contamination_counts(train, heldout, id_col, tokens_col, n)
    return counts, heldout.count()

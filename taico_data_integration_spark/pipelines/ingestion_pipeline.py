"""Corpus-ingestion pipeline: the LLM-data operators composed end-to-end.

Flow per arriving batch (the batch twin of the stream-static path in
streaming.joins.stream_lsh_dedup_against_index):

1. exact dedup WITHIN the batch (md5 fingerprint, keep min doc_id);
2. near-dup LSH pass, two-sided: (a) incremental probe against the STORED
   corpus band index (queries.llm.dedup_incremental_lsh shape) and (b) a
   within-batch band self-join so two near-duplicates arriving in the SAME
   batch (including the corpus-seeding first batch) cannot both enter the
   corpus. Within-batch survivorship is pairwise min-id: a doc is dropped
   iff it verifies against a smaller-id doc of the same batch (the full
   connected-components canonical resolution is the batch path,
   queries.llm.dedup_canonical_keepers);
2b. OPTIONAL embedding-cosine near-dup stage (when the batch carries an
   embedding column): batch docs within min_cosine of a corpus doc or a
   smaller-id batch doc are dropped; scorer selectable per call —
   kernel="fold" (HOF Column fold, oracle parity, default) or "blas"
   (numpy gram-matrix twin, the wide-block throughput path);
3. one-pass curation gate (llm.curation.curation_flags);
4. deterministic split assignment for the survivors;
5. append survivors to the corpus table and their band keys to the band
   index (TableStore versioned writes), so the NEXT batch probes an index
   that already contains this batch.

Everything is set-based: the only driver-side values are row counts for
the summary. At cluster scale the corpus/band tables are the persisted
index this pipeline maintains incrementally — re-ingesting the same batch
accepts nothing (see tests/test_pipelines.py round-trip invariant).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..llm.curation import curation_flags, dataset_split
from ..llm.dedup import materialized_shingles, minhash_band_keys_fast
from ..llm.similarity import (
    _to_double,
    dot,
    embedding_neardup_pairs,
    embedding_neardup_pairs_blas,
    random_hyperplanes,
)
from ..llm.text import fingerprint_sql
from ..ops.formats import TableFormat
from .callbacks import PipelineCallbacks

CORPUS_TABLE = "corpus_docs"
BANDS_TABLE = "corpus_bands"

_MIN_JACCARD = 0.5


def _verified_near_dups(new_bands: DataFrame, corpus_bands: DataFrame,
                        new_shingled: DataFrame, corpus_shingled: DataFrame) -> DataFrame:
    """(new_doc_id) of batch docs whose LSH candidates verify at >= the
    jaccard threshold against any corpus doc — band equi-join then
    array_intersect on the candidates only."""
    cands = (
        new_bands.select(F.col("doc_id").alias("new_doc_id"), "band_id", "band_key")
        .join(
            corpus_bands.select(F.col("doc_id").alias("corpus_doc_id"), "band_id", "band_key"),
            ["band_id", "band_key"],
        )
        .select("new_doc_id", "corpus_doc_id")
        .distinct()
    )
    sa = new_shingled.select(F.col("doc_id").alias("new_doc_id"), F.col("__sh").alias("sh_a"))
    sb = corpus_shingled.select(F.col("doc_id").alias("corpus_doc_id"), F.col("__sh").alias("sh_b"))
    common = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = common.cast("double") / (F.size("sh_a") + F.size("sh_b") - common).cast("double")
    return (
        cands.join(sa, "new_doc_id")
        .join(sb, "corpus_doc_id")
        .where(jac >= _MIN_JACCARD)
        .select("new_doc_id")
        .distinct()
    )


def _within_batch_near_dups(new_bands: DataFrame, new_shingled: DataFrame) -> DataFrame:
    """(doc_id) of batch docs dropped by within-batch survivorship: any doc
    whose LSH candidates verify at >= the jaccard threshold against a
    SMALLER-id doc of the same batch. Band equi-join (doc_a < doc_b keeps
    each unordered pair once), verify on the candidates only."""
    a = new_bands.select(F.col("doc_id").alias("doc_a"), "band_id", "band_key")
    b = new_bands.select(F.col("doc_id").alias("doc_b"), "band_id", "band_key")
    cands = (
        a.join(b, ["band_id", "band_key"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    sa = new_shingled.select(F.col("doc_id").alias("doc_a"), F.col("__sh").alias("sh_a"))
    sb = new_shingled.select(F.col("doc_id").alias("doc_b"), F.col("__sh").alias("sh_b"))
    common = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = common.cast("double") / (F.size("sh_a") + F.size("sh_b") - common).cast("double")
    return (
        cands.join(sa, "doc_a")
        .join(sb, "doc_b")
        .where(jac >= _MIN_JACCARD)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )


def _embedding_near_dups(
    batch: DataFrame,
    corpus: DataFrame | None,
    embedding_col: str,
    block_col: str | None,
    min_cosine: float,
    kernel: str,
) -> DataFrame:
    """(doc_id) of batch docs dropped by embedding-cosine near-dup
    survivorship: a batch doc is dropped iff it pairs at >= min_cosine with
    any CORPUS doc (the corpus always wins) or with a SMALLER-id doc of the
    same batch (pairwise min-id, matching the text path's semantics).

    ``kernel`` picks the scorer over the pooled (corpus + batch) frame:
    ``"fold"`` = :func:`embedding_neardup_pairs` (HOF Column fold, exact
    oracle parity) — the default; ``"blas"`` =
    :func:`embedding_neardup_pairs_blas` (Arrow-batched numpy gram matrix,
    ~7x the throughput at sf10, BENCH_NOTES_r05.md; requires integral doc
    ids — it emits them as bigint). With no ``block_col``, vectors are
    blocked by an 8-plane sign-LSH bucket computed inline — near-identical
    vectors agree on every sign bit, so >=min_cosine pairs land in one
    bucket with high probability (same recall trade as the ANN path).

    Robustness/scale contracts (review-hardened):
    - An EMPTY batch (everything dropped upstream) or one with no non-null
      embedding returns an empty drop set — no dim probe, no crash. The
      probe runs only on the inline-LSH path (caller-provided blocks need
      neither the dim nor the guard — empty frames flow through the joins).
    - A corpus WITHOUT embeddings predates the embedding stage and is
      skipped (within-batch dedup only); a corpus missing the caller's
      BLOCK column is a misconfiguration and raises — silently skipping it
      would admit near-duplicates of corpus docs into the corpus forever.
    - The blas kernel requires an integral doc id (its bigint cast would
      otherwise NULL string ids and die opaquely inside the Arrow task) —
      checked here, driver-side, fail-fast.
    - Only blocks CONTAINING at least one batch doc are scored: corpus-only
      blocks never enter the pair join, so per-batch cost tracks the
      batch's block neighborhood, not the whole corpus (corpus-corpus
      pairs inside shared blocks are filtered after scoring)."""
    if kernel == "blas":
        id_type = dict(batch.dtypes).get("doc_id")
        if id_type not in ("tinyint", "smallint", "int", "bigint"):
            raise ValueError(
                f"neardup_kernel='blas' needs an integral doc_id, got {id_type!r}"
            )
    use_corpus = corpus is not None and embedding_col in corpus.columns
    if use_corpus and block_col is not None and block_col not in corpus.columns:
        raise ValueError(
            f"corpus lacks block column {block_col!r}; refusing to silently "
            f"skip corpus-vs-batch embedding dedup (re-block the corpus or "
            f"pass embedding_block_col=None for inline LSH blocking)"
        )
    cols = ["doc_id", embedding_col] + ([block_col] if block_col else [])
    pool = batch.select(*cols)
    if use_corpus:
        pool = pool.unionByName(corpus.select(*cols))
    blk = block_col
    if blk is None:
        first = (
            batch.select(F.size(F.col(embedding_col)).alias("__d"))
            .where(F.col(embedding_col).isNotNull())
            .first()
        )
        if first is None:  # empty batch or all-null embeddings: nothing to drop
            return batch.select("doc_id").where(F.lit(False))
        dim = first["__d"]
        v = _to_double(F.col(embedding_col))
        bits = [
            F.when(dot(v, F.array(*[F.lit(x) for x in p])) >= 0, F.lit("1")).otherwise(F.lit("0"))
            for p in random_hyperplanes(dim, 8)
        ]
        pool = pool.withColumn("__ebkt", F.concat(*bits))
        blk = "__ebkt"
    batch_ids = batch.select("doc_id")
    if use_corpus:
        # prune corpus-only blocks before the pair join: only blocks a batch
        # doc lands in can produce a batch-touching pair
        batch_blocks = (
            pool.join(batch_ids, "doc_id", "left_semi").select(blk).distinct()
        )
        pool = pool.join(batch_blocks, blk, "left_semi")
    fn = embedding_neardup_pairs_blas if kernel == "blas" else embedding_neardup_pairs
    pairs = fn(pool, min_cosine=min_cosine, block_col=blk, id_col="doc_id", vec_col=embedding_col)
    # pairs are (vec_a < vec_b): a batch doc on the b side always loses
    drop = pairs.select(F.col("vec_b").alias("doc_id")).join(batch_ids, "doc_id", "left_semi")
    if use_corpus:
        # a batch doc on the a side loses only to a corpus doc (larger id)
        corpus_ids = corpus.select(F.col("doc_id").alias("vec_b"))
        drop = drop.unionByName(
            pairs.select(F.col("vec_a").alias("doc_id"), "vec_b")
            .join(batch_ids, "doc_id", "left_semi")
            .join(corpus_ids, "vec_b", "left_semi")
            .select("doc_id")
        )
    return drop.distinct()


def ingest_batch(
    spark: SparkSession,
    store: TableFormat,
    batch: DataFrame,
    callbacks: PipelineCallbacks | None = None,
    *,
    embedding_col: str | None = None,
    embedding_block_col: str | None = None,
    min_cosine: float = 0.98,
    neardup_kernel: str = "fold",
) -> dict:
    """Ingest one batch of documents (doc_id, text, ...) into the stored
    corpus. Returns a summary dict with per-stage drop accounting.

    When ``embedding_col`` names a column of the batch, an embedding-cosine
    near-dup stage runs after the text-LSH pass (stage 2b), dropping batch
    docs within ``min_cosine`` of a corpus doc or a smaller-id batch doc.
    ``neardup_kernel`` selects the scorer: ``"fold"`` (default, exact
    oracle-parity Column fold) or ``"blas"`` (numpy gram-matrix twin — flip
    it when blocks are wide and throughput dominates; see
    :func:`_embedding_near_dups`)."""
    if neardup_kernel not in ("fold", "blas"):
        raise ValueError(f"neardup_kernel must be 'fold' or 'blas': {neardup_kernel!r}")
    callbacks = callbacks or PipelineCallbacks()
    n_in = batch.count()

    # 1. exact dedup within the batch AND against the stored corpus
    batch_fp = batch.selectExpr("*", f"{fingerprint_sql('text')} AS __fp")
    keepers = batch_fp.groupBy("__fp").agg(F.min("doc_id").alias("doc_id"))
    batch_exact = batch_fp.join(keepers, ["__fp", "doc_id"], "left_semi")
    if store.exists(CORPUS_TABLE):
        corpus = store.read(CORPUS_TABLE)
        corpus_fps = corpus.selectExpr(f"{fingerprint_sql('text')} AS __fp").distinct()
        batch_exact = batch_exact.join(corpus_fps, "__fp", "left_anti")
    batch_exact = batch_exact.drop("__fp").localCheckpoint()
    n_batch_exact = batch_exact.count()
    n_exact = n_in - n_batch_exact

    # 2. near-dup LSH pass: within-batch self-probe + incremental probe vs
    # the stored band index (the seeding batch gets the self-probe too)
    new_shingled = materialized_shingles(batch_exact, "text", "doc_id", 3)
    new_bands = minhash_band_keys_fast(batch_exact, shingled=new_shingled)
    drop = _within_batch_near_dups(new_bands, new_shingled)
    if store.exists(BANDS_TABLE):
        corpus_bands = store.read(BANDS_TABLE)
        corpus_shingled = materialized_shingles(store.read(CORPUS_TABLE), "text", "doc_id", 3)
        near = _verified_near_dups(new_bands, corpus_bands, new_shingled, corpus_shingled)
        drop = drop.unionByName(near.withColumnRenamed("new_doc_id", "doc_id")).distinct()
    deduped = batch_exact.join(drop, "doc_id", "left_anti").localCheckpoint()
    n_deduped = deduped.count()
    n_near = n_batch_exact - n_deduped

    # 2b. embedding-cosine near-dup stage (optional; kernel-selectable).
    # A requested column missing from the BATCH is caller error (likely a
    # typo) and must fail fast — a silent skip admits near-duplicates into
    # the corpus permanently (ADVICE r6); the documented lenient case is
    # only the CORPUS predating embeddings, handled in _embedding_near_dups.
    n_embed = 0
    if embedding_col is not None and embedding_col not in deduped.columns:
        raise ValueError(
            f"embedding_col {embedding_col!r} not in batch columns "
            f"{batch.columns}; pass embedding_col=None to skip the "
            "embedding near-dup stage"
        )
    if embedding_col is not None:
        corpus_df = store.read(CORPUS_TABLE) if store.exists(CORPUS_TABLE) else None
        edrop = _embedding_near_dups(
            deduped, corpus_df, embedding_col, embedding_block_col,
            min_cosine, neardup_kernel,
        )
        before = n_deduped
        deduped = deduped.join(edrop, "doc_id", "left_anti").localCheckpoint()
        n_deduped = deduped.count()
        n_embed = before - n_deduped

    # 3. curation gate
    flags = curation_flags(deduped)
    accepted = deduped.join(flags.where("keep").select("doc_id"), "doc_id", "left_semi")
    accepted = accepted.withColumn("split", dataset_split("doc_id")).localCheckpoint()
    n_accepted = accepted.count()
    n_curation = n_deduped - n_accepted

    # 4. append survivors to corpus + band index (versioned writes), with
    # quality metrics riding the write itself (Observation — no extra scan)
    quality: list[dict] = []
    if n_accepted > 0:
        from ..checks.engine import Check, attach_observed_checks

        acc_docs = accepted.drop("split")  # corpus keeps the batch schema
        acc_docs, evaluate = attach_observed_checks(
            acc_docs,
            [
                Check("not_null", "doc_id_not_null", {"column": "doc_id"}),
                Check("not_null", "text_not_null", {"column": "text"}),
                Check("min_rows", "accepted_nonempty", {"n": 1}),
            ],
        )
        new_corpus = (
            store.read(CORPUS_TABLE).unionByName(acc_docs)
            if store.exists(CORPUS_TABLE)
            else acc_docs
        )
        store.write(CORPUS_TABLE, new_corpus)
        quality = evaluate()
        acc_bands = minhash_band_keys_fast(accepted)
        new_bands_tab = (
            store.read(BANDS_TABLE).unionByName(acc_bands)
            if store.exists(BANDS_TABLE)
            else acc_bands
        )
        store.write(BANDS_TABLE, new_bands_tab)

    summary = {
        "ok": all(r["ok"] for r in quality),
        "quality": quality,
        "n_in": n_in,
        "n_exact_dup": n_exact,
        "n_near_dup": n_near,
        "n_embed_near_dup": n_embed,
        "n_curation_reject": n_curation,
        "n_accepted": n_accepted,
        "corpus_rows": store.read(CORPUS_TABLE).count() if store.exists(CORPUS_TABLE) else 0,
    }
    callbacks.report("ingestion", summary)
    return summary

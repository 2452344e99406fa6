"""LLM-training-data pipeline queries over documents/embeddings fixtures:
dedup (exact, MinHash+LSH, SimHash, n-gram Jaccard), similarity search,
text analysis, multimodal plumbing. DuckDB oracles reproduce the md5-based
hashing bit-for-bit; cosine math is double-precision on both sides with
round(…,6) at the output edge."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..llm.dedup import (
    exact_dedup_groups,
    jaccard_pairs,
    lsh_candidate_pairs,
    materialized_shingles,
    minhash_band_keys_fast,
    minhash_sql,
    simhash_bits,
)
from ..llm.multimodal import (
    decode_image,
    documents_as_audio_media,
    documents_as_decodable_media,
    documents_as_media,
    documents_as_video_media,
    extract_audio_features,
    extract_metadata,
    sample_video_frames,
)
from ..llm.similarity import cosine_topk_bruteforce, cosine_topk_ivf, embedding_neardup_pairs
from ..llm.text import (
    STOPWORDS,
    bpe_token_count_sql,
    fingerprint_sql,
    punct_count_sql,
    quality_score_sql,
    token_count_sql,
    tokens_sql,
)
from ._util import T

# Canonical normalized text in DuckDB (matches llm.text.normalized_text).
_NORM = r"regexp_replace(lower(trim(text)), '\s+', ' ', 'g')"
_SHINGLES_CTE = f"""
toks AS (SELECT doc_id, string_split({_NORM}, ' ') AS ws FROM documents),
sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
       FROM toks, UNNEST(generate_series(1, len(ws) - 2)) AS t(i)
       WHERE len(ws) >= 3)
"""

# ---------------------------------------------------------------------------
# Exact dedup: hash-groupBy on md5 fingerprint.


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup_groups(T(spark, sf_dir, "documents"))


DEDUP_EXACT_SQL = f"""
SELECT md5({_NORM}) AS fingerprint, min(doc_id) AS rep_doc_id, COUNT(*) AS n_copies
FROM documents GROUP BY 1
"""

# ---------------------------------------------------------------------------
# n-gram Jaccard near-dup pairs via inverted-index self-join.


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = materialized_shingles(T(spark, sf_dir, "documents"), "text", "doc_id", 3)
    counts = base.select("doc_id", F.size("__sh").alias("n_sh"))
    sh = base.select("doc_id", F.explode("__sh").alias("shingle"))
    return jaccard_pairs(sh, min_common=1, min_jaccard=0.05, counts=counts)


NGRAM_JACCARD_SQL = f"""
WITH {_SHINGLES_CTE},
cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT doc_a, doc_b, common,
       ROUND(CAST(common AS DOUBLE) / CAST(ca.n + cb.n - common AS DOUBLE), 6) AS jaccard
FROM pairs
JOIN cnt ca ON ca.doc_id = doc_a
JOIN cnt cb ON cb.doc_id = doc_b
WHERE ROUND(CAST(common AS DOUBLE) / CAST(ca.n + cb.n - common AS DOUBLE), 6) >= 0.05
"""

# ---------------------------------------------------------------------------
# Corpus-scale Jaccard: drop ultra-common shingles (df cap) from the
# inverted index BEFORE pairing — at 100 TB the Σ df² join output of the
# uncapped index is unbounded; the cap bounds it by cap·|shingles|
# (SCALE.md). Jaccard here is over the discriminative-shingle universe.

_DF_CAP = 20


def dedup_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = materialized_shingles(T(spark, sf_dir, "documents"), "text", "doc_id", 3)
    sh = base.select("doc_id", F.explode("__sh").alias("shingle"))
    rare = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") <= _DF_CAP)
        .select("shingle")
    )
    capped = sh.join(rare, "shingle", "left_semi")
    counts = capped.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    return jaccard_pairs(capped, min_common=1, min_jaccard=0.05, counts=counts)


JACCARD_CAPPED_SQL = f"""
WITH {_SHINGLES_CTE},
rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= {_DF_CAP}),
capped AS (SELECT doc_id, sh.shingle FROM sh JOIN rare ON sh.shingle = rare.shingle),
cnt AS (SELECT doc_id, COUNT(*) AS n FROM capped GROUP BY 1),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
  FROM capped a JOIN capped b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT doc_a, doc_b, common,
       ROUND(CAST(common AS DOUBLE) / CAST(ca.n + cb.n - common AS DOUBLE), 6) AS jaccard
FROM pairs
JOIN cnt ca ON ca.doc_id = doc_a
JOIN cnt cb ON cb.doc_id = doc_b
WHERE ROUND(CAST(common AS DOUBLE) / CAST(ca.n + cb.n - common AS DOUBLE), 6) >= 0.05
"""

# ---------------------------------------------------------------------------
# MinHash + LSH band bucketing (16 hashes, 4 bands x 4 rows).


def dedup_minhash_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-HOF signature computation: one narrow projection, no shuffle
    (llm.dedup.minhash_band_keys_fast); same md5 math as the oracle."""
    return minhash_band_keys_fast(
        T(spark, sf_dir, "documents"), k=3, num_hashes=16, bands=4, rows_per_band=4
    )


MINHASH_BANDS_SQL = f"""
WITH {_SHINGLES_CTE},
mh AS (
  SELECT doc_id, s.seed, min(md5(concat_ws(':', CAST(s.seed AS VARCHAR), shingle))) AS minhash
  FROM sh, (SELECT unnest(generate_series(0, 15)) AS seed) s
  GROUP BY doc_id, s.seed),
sig AS (SELECT doc_id, list(minhash ORDER BY seed) AS sig FROM mh GROUP BY doc_id)
SELECT doc_id, CAST(b.band_id AS BIGINT) AS band_id,
       md5(concat_ws('|', sig[b.band_id*4 + 1], sig[b.band_id*4 + 2],
                          sig[b.band_id*4 + 3], sig[b.band_id*4 + 4])) AS band_key
FROM sig, (SELECT unnest(generate_series(0, 3)) AS band_id) b
"""

# ---------------------------------------------------------------------------
# The full LSH dedup architecture in one query: MinHash signatures -> band
# buckets -> candidate pairs (band equi-join) -> exact Jaccard verification
# via array_intersect on the candidates ONLY (never all pairs). This is the
# shape that survives 100 TB (SCALE.md).


def dedup_lsh_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents")
    base = materialized_shingles(d, "text", "doc_id", 3)
    # signatures derive from the SAME materialized shingle base the verify
    # stage reads — one tokenization pass for the whole pipeline
    bands = minhash_band_keys_fast(
        d, k=3, num_hashes=16, bands=4, rows_per_band=4, shingled=base
    )
    cands = lsh_candidate_pairs(bands)
    sa = base.select(F.col("doc_id").alias("doc_a"), F.col("__sh").alias("sh_a"))
    sb = base.select(F.col("doc_id").alias("doc_b"), F.col("__sh").alias("sh_b"))
    common = F.size(F.array_intersect("sh_a", "sh_b"))
    return (
        cands.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            common.cast("bigint").alias("common"),
            F.round(
                common.cast("double") / (F.size("sh_a") + F.size("sh_b") - common).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )


LSH_VERIFIED_SQL = f"""
WITH {_SHINGLES_CTE},
mh AS (
  SELECT doc_id, s.seed, min(md5(concat_ws(':', CAST(s.seed AS VARCHAR), shingle))) AS minhash
  FROM sh, (SELECT unnest(generate_series(0, 15)) AS seed) s
  GROUP BY doc_id, s.seed),
sig AS (SELECT doc_id, list(minhash ORDER BY seed) AS sig FROM mh GROUP BY doc_id),
bands AS (
  SELECT doc_id, b.band_id,
         md5(concat_ws('|', sig[b.band_id*4 + 1], sig[b.band_id*4 + 2],
                            sig[b.band_id*4 + 3], sig[b.band_id*4 + 4])) AS band_key
  FROM sig, (SELECT unnest(generate_series(0, 3)) AS band_id) b),
cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band_id = b.band_id AND a.band_key = b.band_key
  WHERE a.doc_id < b.doc_id),
sets AS (SELECT doc_id, list(shingle) AS shl FROM sh GROUP BY doc_id)
SELECT doc_a, doc_b,
  CAST(len(list_intersect(sa.shl, sb.shl)) AS BIGINT) AS common,
  ROUND(CAST(len(list_intersect(sa.shl, sb.shl)) AS DOUBLE)
        / CAST(len(sa.shl) + len(sb.shl) - len(list_intersect(sa.shl, sb.shl)) AS DOUBLE), 6) AS jaccard
FROM cands
JOIN sets sa ON sa.doc_id = doc_a
JOIN sets sb ON sb.doc_id = doc_b
"""

def minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimator-accuracy evidence for the MinHash stack: per LSH candidate
    pair, the signature-based Jaccard estimate (matching components / 16)
    next to the exact shingle Jaccard and the absolute error. All integer
    counts pushed through fixed divisions — deterministic across engines,
    so the calibration itself is hash-checked, not just eyeballed."""
    d = T(spark, sf_dir, "documents")
    base = materialized_shingles(d, "text", "doc_id", 3)

    mh_sql = ", ".join(minhash_sql(i) for i in range(16))
    sigs = base.selectExpr("doc_id", f"array({mh_sql}) AS sig", "__sh")
    bands = minhash_band_keys_fast(d, shingled=base)
    cands = lsh_candidate_pairs(bands)
    a = sigs.select(
        F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"), F.col("__sh").alias("sh_a")
    )
    b = sigs.select(
        F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"), F.col("__sh").alias("sh_b")
    )
    matches = F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda z: z))
    common = F.size(F.array_intersect("sh_a", "sh_b"))
    est = matches.cast("double") / F.lit(16.0)
    exact = common.cast("double") / (F.size("sh_a") + F.size("sh_b") - common).cast("double")
    return (
        cands.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            matches.cast("bigint").alias("sig_matches"),
            F.round(est, 6).alias("jaccard_est"),
            F.round(exact, 6).alias("jaccard_exact"),
            F.round(F.abs(est - exact), 6).alias("abs_err"),
        )
    )


MINHASH_CALIBRATION_SQL = f"""
WITH {_SHINGLES_CTE},
mh AS (
  SELECT doc_id, s.seed, min(md5(concat_ws(':', CAST(s.seed AS VARCHAR), shingle))) AS minhash
  FROM sh, (SELECT unnest(generate_series(0, 15)) AS seed) s
  GROUP BY doc_id, s.seed),
sig AS (SELECT doc_id, list(minhash ORDER BY seed) AS sig FROM mh GROUP BY doc_id),
bands AS (
  SELECT doc_id, b.band_id,
         md5(concat_ws('|', sig[b.band_id*4 + 1], sig[b.band_id*4 + 2],
                            sig[b.band_id*4 + 3], sig[b.band_id*4 + 4])) AS band_key
  FROM sig, (SELECT unnest(generate_series(0, 3)) AS band_id) b),
cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band_id = b.band_id AND a.band_key = b.band_key
  WHERE a.doc_id < b.doc_id),
sets AS (SELECT doc_id, list(shingle) AS shl FROM sh GROUP BY doc_id),
scored AS (
  SELECT doc_a, doc_b,
    len(list_filter(generate_series(1, 16), i -> sa.sig[i] = sb.sig[i])) AS sig_matches,
    CAST(len(list_filter(generate_series(1, 16), i -> sa.sig[i] = sb.sig[i])) AS DOUBLE)
      / CAST(16.0 AS DOUBLE) AS est,
    CAST(len(list_intersect(ca.shl, cb.shl)) AS DOUBLE)
      / CAST(len(ca.shl) + len(cb.shl) - len(list_intersect(ca.shl, cb.shl)) AS DOUBLE) AS exact
  FROM cands
  JOIN sig sa ON sa.doc_id = doc_a
  JOIN sig sb ON sb.doc_id = doc_b
  JOIN sets ca ON ca.doc_id = doc_a
  JOIN sets cb ON cb.doc_id = doc_b)
SELECT doc_a, doc_b, CAST(sig_matches AS BIGINT) AS sig_matches,
       ROUND(est, 6) AS jaccard_est,
       ROUND(exact, 6) AS jaccard_exact,
       ROUND(abs(est - exact), 6) AS abs_err
FROM scored
"""


# ---------------------------------------------------------------------------
# Near-dup cluster assignment: LSH verified pairs -> connected components ->
# (doc, cluster, representative flag). The cluster id is the min reachable
# doc id; Spark computes it by iterative min-label propagation (fixpoint
# asserted), the oracle by exact transitive closure (recursive CTE).

_CLUSTER_MIN_JACCARD = 0.5


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm.dedup import connected_components

    pairs = dedup_lsh_verified_pairs(spark, sf_dir).where(
        F.col("jaccard") >= _CLUSTER_MIN_JACCARD
    )
    cc = connected_components(pairs)
    return cc.select(
        "doc_id", "cluster_id", (F.col("doc_id") == F.col("cluster_id")).alias("is_representative")
    )


DEDUP_CLUSTERS_SQL = f"""
WITH RECURSIVE
pairsq AS (SELECT doc_a, doc_b FROM ({LSH_VERIFIED_SQL}) z WHERE jaccard >= {_CLUSTER_MIN_JACCARD}),
edges AS (SELECT doc_a AS u, doc_b AS v FROM pairsq
          UNION SELECT doc_b, doc_a FROM pairsq),
verts AS (SELECT DISTINCT u AS vertex FROM edges),
reach(vertex, label) AS (
  SELECT vertex, vertex FROM verts
  UNION
  SELECT e.v, r.label FROM reach r JOIN edges e ON e.u = r.vertex
)
SELECT vertex AS doc_id, MIN(label) AS cluster_id,
       CAST(MIN(label) = vertex AS BOOLEAN) AS is_representative
FROM reach GROUP BY vertex
"""

# ---------------------------------------------------------------------------
# Incremental corpus dedup: a NEW batch of documents (doc_id % 10 = 0 plays
# the arriving batch; the rest is the already-indexed corpus) LSH-probed
# against the corpus — band keys equi-join across the two sides, never a
# self-join of everything. This is the shape ingestion takes at 100 TB: the
# corpus band index is precomputed/persisted; each arriving batch computes
# only its own signatures and joins.

_INCR_MIN_JACCARD = 0.05


def dedup_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents")
    base = materialized_shingles(d, "text", "doc_id", 3)
    bands = minhash_band_keys_fast(
        d, k=3, num_hashes=16, bands=4, rows_per_band=4, shingled=base
    )
    new_b = bands.where(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("new_doc_id"), "band_id", "band_key"
    )
    corp_b = bands.where(F.col("doc_id") % 10 != 0).select(
        F.col("doc_id").alias("corpus_doc_id"), "band_id", "band_key"
    )
    cands = (
        new_b.join(corp_b, ["band_id", "band_key"])
        .select("new_doc_id", "corpus_doc_id")
        .distinct()
    )
    sa = base.select(F.col("doc_id").alias("new_doc_id"), F.col("__sh").alias("sh_a"))
    sb = base.select(F.col("doc_id").alias("corpus_doc_id"), F.col("__sh").alias("sh_b"))
    common = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = F.round(
        common.cast("double") / (F.size("sh_a") + F.size("sh_b") - common).cast("double"), 6
    )
    return (
        cands.join(sa, "new_doc_id")
        .join(sb, "corpus_doc_id")
        .select(
            "new_doc_id",
            "corpus_doc_id",
            common.cast("bigint").alias("common"),
            jac.alias("jaccard"),
        )
        .where(F.col("jaccard") >= _INCR_MIN_JACCARD)
    )


DEDUP_INCREMENTAL_SQL = f"""
WITH {_SHINGLES_CTE},
mh AS (
  SELECT doc_id, s.seed, min(md5(concat_ws(':', CAST(s.seed AS VARCHAR), shingle))) AS minhash
  FROM sh, (SELECT unnest(generate_series(0, 15)) AS seed) s
  GROUP BY doc_id, s.seed),
sig AS (SELECT doc_id, list(minhash ORDER BY seed) AS sig FROM mh GROUP BY doc_id),
bands AS (
  SELECT doc_id, b.band_id,
         md5(concat_ws('|', sig[b.band_id*4 + 1], sig[b.band_id*4 + 2],
                            sig[b.band_id*4 + 3], sig[b.band_id*4 + 4])) AS band_key
  FROM sig, (SELECT unnest(generate_series(0, 3)) AS band_id) b),
cands AS (
  SELECT DISTINCT a.doc_id AS new_doc_id, b.doc_id AS corpus_doc_id
  FROM bands a JOIN bands b ON a.band_id = b.band_id AND a.band_key = b.band_key
  WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0),
sets AS (SELECT doc_id, list(shingle) AS shl FROM sh GROUP BY doc_id)
SELECT new_doc_id, corpus_doc_id,
  CAST(len(list_intersect(sa.shl, sb.shl)) AS BIGINT) AS common,
  ROUND(CAST(len(list_intersect(sa.shl, sb.shl)) AS DOUBLE)
        / CAST(len(sa.shl) + len(sb.shl) - len(list_intersect(sa.shl, sb.shl)) AS DOUBLE), 6) AS jaccard
FROM cands
JOIN sets sa ON sa.doc_id = new_doc_id
JOIN sets sb ON sb.doc_id = corpus_doc_id
WHERE ROUND(CAST(len(list_intersect(sa.shl, sb.shl)) AS DOUBLE)
        / CAST(len(sa.shl) + len(sb.shl) - len(list_intersect(sa.shl, sb.shl)) AS DOUBLE), 6)
      >= {_INCR_MIN_JACCARD}
"""

# ---------------------------------------------------------------------------
# Leakage-safe dataset split: every document inherits the hash bucket of its
# near-dup CLUSTER (singletons are their own cluster), so two near-duplicate
# documents can never land in different splits — train/test contamination
# via near-dups is impossible by construction, not by post-hoc filtering.


def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm.curation import dataset_split
    from ..llm.dedup import connected_components

    d = T(spark, sf_dir, "documents").select("doc_id")
    pairs = dedup_lsh_verified_pairs(spark, sf_dir).where(
        F.col("jaccard") >= _CLUSTER_MIN_JACCARD
    )
    cc = connected_components(pairs)
    assigned = d.join(cc, "doc_id", "left").select(
        "doc_id", F.coalesce("cluster_id", "doc_id").alias("cluster_id")
    )
    return assigned.select(
        "doc_id", "cluster_id", dataset_split(F.col("cluster_id")).alias("split")
    )


LEAKAGE_SPLIT_SQL = f"""
WITH RECURSIVE
pairsq AS (SELECT doc_a, doc_b FROM ({LSH_VERIFIED_SQL}) z WHERE jaccard >= {_CLUSTER_MIN_JACCARD}),
edges AS (SELECT doc_a AS u, doc_b AS v FROM pairsq
          UNION SELECT doc_b, doc_a FROM pairsq),
verts AS (SELECT DISTINCT u AS vertex FROM edges),
reach(vertex, label) AS (
  SELECT vertex, vertex FROM verts
  UNION
  SELECT e.v, r.label FROM reach r JOIN edges e ON e.u = r.vertex),
cc AS (SELECT vertex AS doc_id, MIN(label) AS cluster_id FROM reach GROUP BY vertex),
assigned AS (
  SELECT d.doc_id, COALESCE(cc.cluster_id, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN cc ON cc.doc_id = d.doc_id)
SELECT doc_id, cluster_id,
  CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'valid' ELSE 'test' END AS split
FROM (
  SELECT doc_id, cluster_id,
    ((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 4096
   + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) * 256
   + (strpos('0123456789abcdef', substr(h, 3, 1)) - 1) * 16
   + (strpos('0123456789abcdef', substr(h, 4, 1)) - 1)) % 100 AS b
  FROM (SELECT doc_id, cluster_id, md5(CAST(cluster_id AS VARCHAR)) AS h FROM assigned) z) y
"""


def dedup_canonical_keepers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end dedup resolution: LSH candidates -> Jaccard verify ->
    connected components -> survivorship pick. Every document gets a
    cluster (singletons are their own); within a cluster the longest doc
    wins (ties to the smallest id) — the keeper set is what a curation
    pipeline would actually retain. Scale shape: the cluster map is tiny
    relative to the corpus (only near-dup members), so the corpus-side
    left join broadcasts it; the keeper pick is one window per cluster."""
    from pyspark.sql import Window

    from ..llm.dedup import connected_components

    d = T(spark, sf_dir, "documents").select("doc_id", "n_chars")
    pairs = dedup_lsh_verified_pairs(spark, sf_dir).where(
        F.col("jaccard") >= _CLUSTER_MIN_JACCARD
    )
    cc = connected_components(pairs)
    merged = d.join(F.broadcast(cc), "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cluster_id"),
        "n_chars",
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    return merged.withColumn("keep", F.row_number().over(w) == 1)


DEDUP_KEEPERS_SQL = f"""
WITH RECURSIVE
pairsq AS (SELECT doc_a, doc_b FROM ({LSH_VERIFIED_SQL}) z WHERE jaccard >= {_CLUSTER_MIN_JACCARD}),
edges AS (SELECT doc_a AS u, doc_b AS v FROM pairsq
          UNION SELECT doc_b, doc_a FROM pairsq),
verts AS (SELECT DISTINCT u AS vertex FROM edges),
reach(vertex, label) AS (
  SELECT vertex, vertex FROM verts
  UNION
  SELECT e.v, r.label FROM reach r JOIN edges e ON e.u = r.vertex
),
clusters AS (SELECT vertex AS doc_id, MIN(label) AS cluster_id FROM reach GROUP BY vertex)
SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id, d.n_chars,
       (ROW_NUMBER() OVER (PARTITION BY COALESCE(c.cluster_id, d.doc_id)
                           ORDER BY d.n_chars DESC, d.doc_id) = 1) AS keep
FROM documents d LEFT JOIN clusters c ON d.doc_id = c.doc_id
"""

# ---------------------------------------------------------------------------
# SimHash signatures (16-bit, md5-seeded bit hashes).


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fan_out: simhash_bits is now shuffle-free, so all md5/fold compute
    # stacks on the scan — parallelize the single-row-group fixture read
    return simhash_bits(T(spark, sf_dir, "documents", fan_out=True), bits=16)


SIMHASH_SQL = f"""
WITH toks AS (
  SELECT DISTINCT doc_id, md5(tok) AS h
  FROM (SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS tok FROM documents) z),
w AS (
  SELECT doc_id, b.b AS bit_pos,
    SUM(CASE WHEN (strpos('0123456789abcdef', substr(h, b.b + 1, 1)) - 1) % 2 = 1
             THEN 1 ELSE -1 END) AS wt
  FROM toks, (SELECT unnest(generate_series(0, 15)) AS b) b
  GROUP BY doc_id, b.b)
SELECT doc_id, string_agg(CASE WHEN wt > 0 THEN '1' ELSE '0' END, '' ORDER BY bit_pos) AS simhash
FROM w GROUP BY doc_id
"""

# ---------------------------------------------------------------------------
# Embedding-cosine near-dup pairs, blocked on label (the scale path blocks
# on LSH buckets; label works as the fixture's cluster key).


def embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keeps the HOF-fold kernel for bit-parity with the oracle's
    sequential fold; the deployment path for wide blocks is the BLAS twin
    ``llm.similarity.embedding_neardup_pairs_blas`` (7.1x at sf10, parity
    pinned in tests — see BENCH_NOTES_r05.md)."""
    # fan_out: HOF dot products per candidate pair are compute-bound; the
    # single-row-group fixture scans as 1 task otherwise (A/B: 1.35 -> 0.51 s)
    e = T(spark, sf_dir, "embeddings", fan_out=True)
    return embedding_neardup_pairs(e, min_cosine=0.35, block_col="label")


EMBEDDING_NEARDUP_SQL = """
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
n AS (SELECT vec_id, label, v, sqrt(list_dot_product(v, v)) AS nrm FROM e)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       ROUND(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cosine
FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.35
"""

# ---------------------------------------------------------------------------
# Brute-force cosine top-k ANN baseline (query set = vec_id < 10).


def ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = T(spark, sf_dir, "embeddings")
    return cosine_topk_bruteforce(e, e.where(F.col("vec_id") < 10), k=5)


def kmeans_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd k-means, fully oracle-checked: deterministic init (first k by
    id), quantized-integer centroid updates (order-independent sums, so
    centroids are bit-identical across engines/partitionings), and
    sequential-fold distances. The DuckDB oracle replays every Lloyd
    iteration in SQL — same mechanism that makes ann_topk_ivf checkable."""
    from ..llm.clustering import kmeans

    e = T(spark, sf_dir, "embeddings")
    assign, _ = kmeans(e, k=8, iterations=3, quantize=1e7)
    return assign


def _kmeans_sql(k: int, iterations: int) -> str:
    """Unrolled Lloyd-in-SQL: mirrors llm.clustering.kmeans(quantize=1e7)
    op-for-op — floor-quantized integer sums for the update, diff-list
    sequential-fold dot product for distances, ties to the lower cid."""
    q = "CAST(10000000 AS DOUBLE)"

    def assign(cents: str, name: str) -> str:
        diff = f"list_transform(generate_series(1, len(e.v)), i -> e.v[i] - c.cv[i])"
        return f"""{name} AS (
  SELECT vec_id, cid AS cluster, d FROM (
    SELECT e.vec_id, c.cid, list_dot_product({diff}, {diff}) AS d
    FROM e CROSS JOIN {cents} c) z
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) = 1)"""

    def update(assign_name: str, prev: str, name: str) -> str:
        return f"""{name}_sums AS (
  SELECT a.cluster AS cid, t.i,
         SUM(CAST(floor(e.v[t.i] * {q}) AS BIGINT)) AS s, COUNT(*) AS n
  FROM {assign_name} a JOIN e USING (vec_id), unnest(generate_series(1, len(e.v))) AS t(i)
  GROUP BY 1, 2),
{name} AS (
  SELECT p.cid, COALESCE(u.cv, p.cv) AS cv
  FROM {prev} p LEFT JOIN (
    SELECT cid, list(CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * {q}) ORDER BY i) AS cv
    FROM {name}_sums GROUP BY cid) u USING (cid))"""

    parts = [
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
        f"""c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
  FROM e QUALIFY row_number() OVER (ORDER BY vec_id) <= {k})""",
    ]
    for it in range(1, iterations + 1):
        parts.append(assign(f"c{it - 1}", f"a{it}"))
        parts.append(update(f"a{it}", f"c{it - 1}", f"c{it}"))
    parts.append(assign(f"c{iterations}", "final_assign"))
    return (
        ",\n".join(parts)
        + """
SELECT vec_id, CAST(cluster AS BIGINT) AS cluster, ROUND(d, 6) AS sq_dist
FROM final_assign"""
    )


KMEANS_SQL = _kmeans_sql(k=8, iterations=3)


def ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed ANN. Approximate vs brute force, but fully DETERMINISTIC
    (sampled quantizer = first 8 vectors by id, sequential-fold cosine), so
    the DuckDB oracle reproduces the whole index + probe pipeline exactly —
    this is oracle-checked, not rows-only."""
    e = T(spark, sf_dir, "embeddings")
    return cosine_topk_ivf(e, e.where(F.col("vec_id") < 10), k=5, n_lists=8, nprobe=2)


def ann_topk_ivf_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build-once / probe-many IVF (round 8): the index half
    (llm.similarity.ivf_index — per-vector norm + list assignment, computed
    exactly once) is PERSISTED to a TableStore partitioned by list_id, then
    the probe half (ivf_search) runs against the stored table. Hard
    invariants checked in-entry: the probe's scan plan carries a
    list_id IN (...) PartitionFilter (only nprobe/n_lists of the
    directories are read — the serving-time win the 1-5M-vector
    measurement in SCALE.md motivates), and the result equals the
    unpersisted single-call pipeline. Same deterministic quantizer as
    ann_topk_ivf, so the same full-pipeline DuckDB oracle grades it."""
    import json as _json
    import os
    import shutil
    import tempfile

    from ..llm.similarity import ivf_index, ivf_search
    from ..ops.incremental import TableStore

    e = T(spark, sf_dir, "embeddings")
    queries = e.where(F.col("vec_id") < 10)
    index, centroids = ivf_index(e, n_lists=8)
    work = tempfile.mkdtemp(prefix="taico_ivf_idx_")
    try:
        store = TableStore(spark, os.path.join(work, "store"))
        store.write("ivf_index", index, partition_by=["list_id"])
        # centroids persist next to the table, as the docstring prescribes
        cpath = os.path.join(work, "centroids.json")
        with open(cpath, "w") as fh:
            _json.dump(centroids, fh)
        with open(cpath) as fh:
            stored_centroids = [(int(c), list(map(float, v))) for c, v in _json.load(fh)]
        stored = store.read("ivf_index")
        from ..llm.similarity import ivf_assign

        probe_ids = sorted(
            r.list_id
            for r in ivf_assign(queries, stored_centroids, nprobe=2)
            .select("list_id")
            .distinct()
            .collect()
        )
        pruned = stored.where(F.col("list_id").isin(probe_ids))
        plan = pruned._jdf.queryExecution().executedPlan().toString()
        if "PartitionFilters" not in plan or "list_id" not in plan.split(
            "PartitionFilters:"
        )[1].splitlines()[0]:
            raise RuntimeError(
                "ann_topk_ivf_indexed: list_id probe did not partition-prune"
            )
        result = ivf_search(pruned, stored_centroids, queries, k=5, nprobe=2)
        # materialize BEFORE the finally-block removes the store's files
        out = result.localCheckpoint()
        # parity with the unpersisted single-call pipeline (count + except)
        direct = cosine_topk_ivf(e, queries, k=5, n_lists=8, nprobe=2)
        if out.exceptAll(direct).count() or direct.exceptAll(out).count():
            raise RuntimeError(
                "ann_topk_ivf_indexed: stored-index probe diverged from the "
                "single-call pipeline"
            )
        return out
    finally:
        shutil.rmtree(work, ignore_errors=True)


ANN_IVF_SQL = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cents AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
  FROM e QUALIFY row_number() OVER (ORDER BY vec_id) <= 8
),
cn AS (SELECT cid, list_transform(cv, x -> x / sqrt(list_dot_product(cv, cv))) AS cvn FROM cents),
scores AS (SELECT e.vec_id, cn.cid, list_dot_product(e.v, cn.cvn) AS s FROM e CROSS JOIN cn),
c_assign AS (SELECT vec_id, cid AS list_id FROM scores
             QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid DESC) <= 1),
q_assign AS (SELECT vec_id, cid AS list_id FROM scores WHERE vec_id < 10
             QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid DESC) <= 2),
n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
cand AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_dot_product(qn.v, cn2.v) / (qn.nrm * cn2.nrm) AS cosine_raw
  FROM q_assign q
  JOIN c_assign c ON q.list_id = c.list_id AND c.vec_id <> q.vec_id
  JOIN n qn ON qn.vec_id = q.vec_id
  JOIN n cn2 ON cn2.vec_id = c.vec_id
),
d AS (SELECT DISTINCT query_id, neighbor_id, cosine_raw FROM cand)
SELECT query_id, neighbor_id, ROUND(cosine_raw, 6) AS cosine,
       CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine_raw DESC, neighbor_id) AS BIGINT) AS rank
FROM d
QUALIFY rank <= 5
"""


def ann_topk_ivf_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Version-pinned IVF index maintenance (round 10, VERDICT r9 #6):
    the index is built over the FIRST HALF of the corpus and pinned to
    that table version; merging the second half makes a probe REFUSE
    (IvfStaleIndexError — a mutated corpus can never serve a stale index
    silently, asserted in-entry); ``append()`` assigns only the new
    vectors to the existing centroids, merges them as a pure insert
    (share-by-reference: untouched index files are referenced, cost
    O(new)), re-pins, and the post-append probe equals a FRESH full
    build bit-for-bit (asserted in-entry; the first-half split keeps the
    deterministic first-``n_lists``-ids quantizer identical, so the same
    full-corpus DuckDB oracle grades the result)."""
    import os
    import shutil
    import tempfile

    from ..llm import ivf_store
    from ..ops.incremental import TableStore

    e = T(spark, sf_dir, "embeddings")
    max_id = e.agg(F.max("vec_id")).first()[0]
    first = e.where(F.col("vec_id") <= max_id // 2)
    rest = e.where(F.col("vec_id") > max_id // 2)
    queries = e.where(F.col("vec_id") < 10)
    work = tempfile.mkdtemp(prefix="taico_ivf_append_")
    try:
        store = TableStore(spark, os.path.join(work, "store"))
        store.write("corpus", first)
        ivf_store.build(store, "corpus", "idx", n_lists=8)
        store.merge_in("corpus", rest, "vec_id")
        try:
            ivf_store.probe(store, "idx", queries, k=5, nprobe=2)
        except ivf_store.IvfStaleIndexError:
            pass
        else:
            raise RuntimeError(
                "ann_topk_ivf_append: probe served a STALE index silently"
            )
        rep = ivf_store.append(store, "idx")
        if rep["appended"] != rest.count():
            raise RuntimeError(
                f"ann_topk_ivf_append: appended {rep['appended']} != "
                f"{rest.count()} new vectors"
            )
        got = ivf_store.probe(store, "idx", queries, k=5, nprobe=2)
        out = got.localCheckpoint()
        fresh = cosine_topk_ivf(store.read("corpus"), queries, k=5, n_lists=8, nprobe=2)
        if out.exceptAll(fresh).count() or fresh.exceptAll(out).count():
            raise RuntimeError(
                "ann_topk_ivf_append: appended index diverged from a fresh build"
            )
        return out
    finally:
        shutil.rmtree(work, ignore_errors=True)


# ---------------------------------------------------------------------------
# Embedding-space incremental probe: the semantic twin of
# dedup_incremental_lsh. The IVF index (quantizer + list assignments) is
# built from the CORPUS side only (vec_id % 10 != 0); the arriving batch
# (vec_id % 10 = 0) probes it. Per-batch cost is O(batch x nprobe lists),
# independent of corpus size once the index is persisted.


def semantic_incremental_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = T(spark, sf_dir, "embeddings")
    corpus = e.where(F.col("vec_id") % 10 != 0)
    new_batch = e.where(F.col("vec_id") % 10 == 0)
    return cosine_topk_ivf(corpus, new_batch, k=3, n_lists=8, nprobe=2)


SEMANTIC_INCREMENTAL_SQL = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
corp AS (SELECT * FROM e WHERE vec_id % 10 <> 0),
newb AS (SELECT * FROM e WHERE vec_id % 10 = 0),
cents AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
  FROM corp QUALIFY row_number() OVER (ORDER BY vec_id) <= 8
),
cn AS (SELECT cid, list_transform(cv, x -> x / sqrt(list_dot_product(cv, cv))) AS cvn FROM cents),
c_scores AS (SELECT corp.vec_id, cn.cid, list_dot_product(corp.v, cn.cvn) AS s FROM corp CROSS JOIN cn),
q_scores AS (SELECT newb.vec_id, cn.cid, list_dot_product(newb.v, cn.cvn) AS s FROM newb CROSS JOIN cn),
c_assign AS (SELECT vec_id, cid AS list_id FROM c_scores
             QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid DESC) <= 1),
q_assign AS (SELECT vec_id, cid AS list_id FROM q_scores
             QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid DESC) <= 2),
n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
cand AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_dot_product(qn.v, cn2.v) / (qn.nrm * cn2.nrm) AS cosine_raw
  FROM q_assign q
  JOIN c_assign c ON q.list_id = c.list_id AND c.vec_id <> q.vec_id
  JOIN n qn ON qn.vec_id = q.vec_id
  JOIN n cn2 ON cn2.vec_id = c.vec_id
),
d AS (SELECT DISTINCT query_id, neighbor_id, cosine_raw FROM cand)
SELECT query_id, neighbor_id, ROUND(cosine_raw, 6) AS cosine,
       CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine_raw DESC, neighbor_id) AS BIGINT) AS rank
FROM d
QUALIFY rank <= 3
"""


ANN_TOPK_SQL = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n WHERE vec_id < 10),
s AS (SELECT query_id, c.vec_id AS neighbor_id,
             list_dot_product(qv, c.v) / (qn * c.nrm) AS cos
      FROM q JOIN n c ON c.vec_id <> query_id)
SELECT query_id, neighbor_id, ROUND(cos, 6) AS cosine,
       CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
FROM s
QUALIFY rank <= 5
"""

# ---------------------------------------------------------------------------
# Text analysis: token counts, language-ID, quality, fingerprints.


def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents")
    return d.selectExpr(
        "doc_id",
        f"{token_count_sql('text')} AS n_tokens",
        f"{bpe_token_count_sql('text')} AS n_bpe_tokens",
        f"{punct_count_sql('text')} AS n_punct",
    )


TOKEN_COUNTS_SQL = f"""
SELECT doc_id,
  CAST(len(string_split({_NORM}, ' ')) AS BIGINT) AS n_tokens,
  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_bpe_tokens,
  CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS BIGINT) AS n_punct
FROM documents
"""


def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm.text import with_language

    d = T(spark, sf_dir, "documents", fan_out=True)
    # staged form: one tokenization per row instead of one per hit reference
    # (~28x for 4 languages); results identical to detect_language_sql
    return with_language(d, "text", keep_cols=("doc_id", "lang"))


def _hits_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return (
        f"CAST(len(list_filter(string_split({_NORM}, ' '), "
        f"t -> list_contains([{words}], t))) AS BIGINT)"
    )


LANGID_SQL = f"""
WITH h AS (
  SELECT doc_id, lang,
    {_hits_sql('en')} AS en, {_hits_sql('de')} AS de,
    {_hits_sql('es')} AS es, {_hits_sql('fr')} AS fr
  FROM documents)
SELECT doc_id, lang,
  CASE WHEN en > 0 AND en >= de AND en >= es AND en >= fr THEN 'en'
       WHEN de > 0 AND de >= es AND de >= fr THEN 'de'
       WHEN es > 0 AND es >= fr THEN 'es'
       WHEN fr > 0 THEN 'fr'
       ELSE 'unknown' END AS detected_lang
FROM h
"""


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents")
    return d.selectExpr("doc_id", f"{quality_score_sql('text')} AS quality")


def text_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document salient terms — TF-IDF-shaped, but the idf weight is the
    BM25-style rational (N - df + 0.5)/(df + 0.5) with NO logarithm: libm
    log implementations differ in the last ulp across engines, while integer
    counts pushed through one fixed divide/multiply are bit-identical
    everywhere. tf and df are one aggregation pass each over the exploded
    token set; N joins in as a broadcast 1-row aggregate."""
    from pyspark.sql import Window

    d = T(spark, sf_dir, "documents")
    toks = d.selectExpr("doc_id", f"explode({tokens_sql('text')}) AS token").where("token != ''")
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = (
        toks.select("doc_id", "token").distinct().groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    )
    n = d.agg(F.countDistinct("doc_id").alias("__n"))
    sal = (
        F.col("tf").cast("double")
        * (F.col("__n").cast("double") - F.col("df").cast("double") + F.lit(0.5))
        / (F.col("df").cast("double") + F.lit(0.5))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("salience").desc(), F.col("token"))
    return (
        tf.join(dfreq, "token")
        .crossJoin(F.broadcast(n))
        .withColumn("salience", sal)
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= 5)
        .select("doc_id", "token", "tf", "df", F.round("salience", 6).alias("salience"), "rank")
    )


def doc_chunking(spark: SparkSession, sf_dir: str, window: int = 64, stride: int = 48) -> DataFrame:
    """Fixed-token-window chunking with overlap (window 64, stride 48) — the
    stage between cleaning and tokenized shard packing in a training-data
    pipeline. Pure integer arithmetic + array slicing, one narrow pass, no
    shuffle at all: chunks = explode(sequence) over each doc's token array.
    Chunk i covers tokens [i*stride, i*stride + window)."""
    d = T(spark, sf_dir, "documents")
    toks = tokens_sql("text")
    max_i = f"CAST(floor((size({toks}) - 1) / {stride}) AS INT)"
    chunked = d.selectExpr(
        "doc_id", f"{toks} AS __toks", f"explode(sequence(0, greatest({max_i}, 0))) AS chunk_id"
    )
    sliced = F.slice(F.col("__toks"), F.col("chunk_id") * stride + 1, window)
    return chunked.select(
        "doc_id",
        F.col("chunk_id").cast("bigint").alias("chunk_id"),
        F.array_join(sliced, " ").alias("chunk_text"),
        F.size(sliced).cast("bigint").alias("n_chunk_tokens"),
    )


DOC_CHUNKING_SQL = f"""
WITH t AS (SELECT doc_id, string_split({_NORM}, ' ') AS toks FROM documents),
c AS (
  SELECT doc_id, toks,
         unnest(generate_series(0, greatest(CAST(floor((len(toks) - 1) / 48) AS INT), 0))) AS chunk_id
  FROM t)
SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
       array_to_string(toks[chunk_id * 48 + 1 : chunk_id * 48 + 64], ' ') AS chunk_text,
       CAST(len(toks[chunk_id * 48 + 1 : chunk_id * 48 + 64]) AS BIGINT) AS n_chunk_tokens
FROM c
"""


TOP_TERMS_SQL = f"""
WITH toks AS (
  SELECT doc_id, tok FROM (
    SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS tok FROM documents) z
  WHERE tok <> ''),
tf AS (SELECT doc_id, tok AS token, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
dfq AS (SELECT token, COUNT(*) AS df
        FROM (SELECT DISTINCT doc_id, tok AS token FROM toks) u GROUP BY 1),
nn AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents),
scored AS (
  SELECT doc_id, token, tf, df,
         CAST(tf AS DOUBLE) * (CAST(n AS DOUBLE) - CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE))
           / (CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS sal
  FROM tf JOIN dfq USING (token) CROSS JOIN nn)
SELECT doc_id, token, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
       ROUND(sal, 6) AS salience,
       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY sal DESC, token) AS BIGINT) AS rank
FROM scored
QUALIFY rank <= 5
"""


_EN_HITS = _hits_sql("en")
QUALITY_SQL = f"""
SELECT doc_id,
  ROUND(
    CAST(0.4 AS DOUBLE) * (CAST({_EN_HITS} AS DOUBLE)
        / greatest(CAST(len(string_split({_NORM}, ' ')) AS DOUBLE), CAST(1.0 AS DOUBLE)))
    + CAST(0.3 AS DOUBLE) * (CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE)
        / greatest(CAST(length(text) AS DOUBLE), CAST(1.0 AS DOUBLE)))
    + CAST(0.3 AS DOUBLE) * least(CAST(len(string_split({_NORM}, ' ')) AS DOUBLE) / CAST(100.0 AS DOUBLE),
                                  CAST(1.0 AS DOUBLE)),
  6) AS quality
FROM documents
"""


def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents")
    return d.selectExpr("doc_id", f"{fingerprint_sql('text')} AS fingerprint")


FINGERPRINT_SQL = f"""
SELECT doc_id, md5({_NORM}) AS fingerprint FROM documents
"""

# ---------------------------------------------------------------------------
# Vocabulary / term-frequency table (tokenizer-training precursor).


def token_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents")
    toks = d.selectExpr("doc_id", f"explode({tokens_sql('text')}) AS token")
    return toks.groupBy("token").agg(
        F.count(F.lit(1)).alias("tf"), F.countDistinct("doc_id").alias("df")
    )


TOKEN_FREQUENCY_SQL = f"""
SELECT tok AS token, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
FROM (SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS tok FROM documents) z
GROUP BY 1
"""

# ---------------------------------------------------------------------------
# Per-language document length statistics (exact interpolated median).


def doc_length_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents")
    return (
        d.selectExpr("lang", f"{token_count_sql('text')} AS n_tok")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_tok").alias("min_tokens"),
            F.max("n_tok").alias("max_tokens"),
            F.round(F.percentile("n_tok", F.lit(0.5)), 6).alias("median_tokens"),
        )
    )


DOC_LENGTH_SQL = f"""
SELECT lang, COUNT(*) AS n_docs,
  MIN(n_tok) AS min_tokens, MAX(n_tok) AS max_tokens,
  ROUND(quantile_cont(n_tok, 0.5), 6) AS median_tokens
FROM (SELECT lang, CAST(len(string_split({_NORM}, ' ')) AS BIGINT) AS n_tok FROM documents) z
GROUP BY lang
"""

# ---------------------------------------------------------------------------
# Per-label embedding centroids (single k-means-style reduction step).


def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = T(spark, sf_dir, "embeddings")
    return (
        e.select("label", F.posexplode("embedding").alias("dim", "v"))
        .groupBy("label", F.col("dim").cast("bigint").alias("dim"))
        .agg(
            F.round(F.avg(F.col("v").cast("double")), 6).alias("centroid"),
            F.count(F.lit(1)).alias("n_vectors"),
        )
    )


EMBEDDING_CENTROIDS_SQL = """
SELECT label, CAST(i - 1 AS BIGINT) AS dim,
       ROUND(AVG(CAST(embedding[i] AS DOUBLE)), 6) AS centroid,
       COUNT(*) AS n_vectors
FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS t(i)
GROUP BY 1, 2
"""

# ---------------------------------------------------------------------------
# Multimodal plumbing: binary payloads -> Arrow-batched metadata extraction.


def multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = documents_as_media(T(spark, sf_dir, "documents"))
    return extract_metadata(media)


MULTIMODAL_SQL = """
SELECT CAST(doc_id AS BIGINT) AS asset_id, 'image' AS modality,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS content_md5
FROM documents
"""


def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real (non-stubbed) image decode: deterministic BMP/PPM fixtures are
    rendered from doc_id, then genuinely parsed back (header, BMP row
    padding, bottom-up order) in a mapInPandas stage. The oracle predicts
    dimensions and channel means in closed form from doc_id — any decoder
    bug (stride, channel order, row flip) breaks the value hash."""
    media = documents_as_decodable_media(T(spark, sf_dir, "documents"))
    return decode_image(media)


MULTIMODAL_DECODE_SQL = """
SELECT CAST(doc_id AS BIGINT) AS asset_id,
       CASE WHEN doc_id % 2 = 0 THEN 'bmp' ELSE 'ppm' END AS format,
       CAST(8 + doc_id % 9 AS BIGINT) AS width,
       CAST(4 + doc_id % 7 AS BIGINT) AS height,
       CAST(3 AS BIGINT) AS n_channels,
       CAST((doc_id * 37) % 256 AS DOUBLE) AS mean_r,
       CAST((doc_id * 59) % 256 AS DOUBLE) AS mean_g,
       CAST((doc_id * 83) % 256 AS DOUBLE) AS mean_b
FROM documents
"""


def multimodal_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real (non-stubbed) video frame-sampling: deterministic YUV4MPEG2
    clips (5 fps, C444, 3-7 constant-fill frames) are rendered from doc_id,
    then genuinely container-parsed back (header tags, FRAME markers, plane
    offsets) in a mapInPandas stage sampling every 0.4 s = every 2nd frame.
    The oracle predicts each sampled frame's index, timestamp, dims, and
    plane means in closed form from doc_id — any parser bug (plane order,
    frame offset, stride arithmetic) breaks the value hash."""
    media = documents_as_video_media(T(spark, sf_dir, "documents"))
    return sample_video_frames(media, every_n_seconds=0.4)


MULTIMODAL_VIDEO_SQL = """
SELECT CAST(doc_id AS BIGINT) AS asset_id,
       CAST(f AS BIGINT) AS frame_idx,
       CAST(f * 200 AS BIGINT) AS ts_ms,
       CAST(8 + 2 * (doc_id % 5) AS BIGINT) AS width,
       CAST(4 + 2 * (doc_id % 3) AS BIGINT) AS height,
       CAST((doc_id * 31 + f * 17) % 256 AS DOUBLE) AS mean_y,
       CAST((doc_id * 53 + f * 29) % 256 AS DOUBLE) AS mean_u,
       CAST((doc_id * 71 + f * 13) % 256 AS DOUBLE) AS mean_v
FROM documents, UNNEST(generate_series(0, CAST(2 + doc_id % 5 AS BIGINT), 2)) AS t(f)
"""


def multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real (non-stubbed) audio decode: deterministic 16-bit PCM WAV clips
    (8 kHz mono, waveform is pure doc_id/sample-index arithmetic, plus a
    decoy LIST chunk the parser must skip) are rendered from doc_id, then
    genuinely RIFF-chunk-walked back in a mapInPandas stage. The oracle
    replays the exact waveform with generate_series — any parser bug (chunk
    offsets, endianness, sign) breaks the value hash."""
    media = documents_as_audio_media(T(spark, sf_dir, "documents"))
    return extract_audio_features(media)


MULTIMODAL_AUDIO_SQL = """
SELECT CAST(doc_id AS BIGINT) AS asset_id,
       CAST(8000 AS BIGINT) AS sample_rate,
       CAST(COUNT(*) AS BIGINT) AS n_samples,
       CAST(1 AS BIGINT) AS n_channels,
       CAST(COUNT(*) // 8 AS BIGINT) AS duration_ms,
       CAST(MAX(ABS((doc_id * 13 + i * 7) % 2048 - 1024)) AS BIGINT) AS peak,
       CAST(SUM(ABS((doc_id * 13 + i * 7) % 2048 - 1024)) AS DOUBLE) / COUNT(*) AS mean_abs
FROM documents, UNNEST(generate_series(0, CAST(63 + 8 * (doc_id % 9) AS BIGINT))) AS t(i)
GROUP BY doc_id
"""


def embedding_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar int8 quantization of embeddings (per-vector min/max range) —
    the 4x storage/bandwidth saver a 100 TB vector corpus wants — with the
    reconstruction fidelity MEASURED per vector and value-hash-checked:
    quantize, dequantize, mean absolute error via the same sequential-fold
    accumulation the cosine kernels use (bit-reproducible vs DuckDB's
    list_dot_product). Integer codes are exact across engines; the only
    floats are the mirrored double ops."""
    e = T(spark, sf_dir, "embeddings")
    v = F.transform("embedding", lambda x: x.cast("double"))
    base = e.select(F.col("vec_id").cast("bigint").alias("vec_id"), v.alias("v"))
    vmin, vmax = F.array_min("v"), F.array_max("v")
    base = base.withColumn("vmin", vmin).withColumn("scale", (vmax - vmin) / F.lit(255.0))
    base = base.where(F.col("scale") > 0)
    q = F.transform(
        "v",
        lambda x: F.least(F.lit(255).cast("bigint"), F.floor((x - F.col("vmin")) / F.col("scale"))),
    )
    base = base.withColumn("q", q)
    err = F.zip_with(
        "q", "v", lambda qi, xi: F.abs(F.col("vmin") + qi.cast("double") * F.col("scale") - xi)
    )
    mae = F.aggregate(err, F.lit(0.0), lambda acc, x: acc + x) / F.size("v")
    return base.select(
        "vec_id",
        F.size("v").cast("bigint").alias("n_dims"),
        F.element_at("q", 1).alias("q_first"),
        F.aggregate("q", F.lit(0).cast("bigint"), lambda a, x: a + x).alias("q_sum"),
        F.round(mae, 6).alias("recon_mae"),
    )


EMBEDDING_QUANT_SQL = """
WITH b AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id,
         CAST(embedding AS DOUBLE[]) AS v,
         list_min(CAST(embedding AS DOUBLE[])) AS vmin,
         (list_max(CAST(embedding AS DOUBLE[])) - list_min(CAST(embedding AS DOUBLE[]))) / CAST(255 AS DOUBLE) AS scale
  FROM embeddings),
qd AS (
  SELECT vec_id, v, vmin, scale,
         list_transform(v, x -> least(CAST(255 AS BIGINT), CAST(floor((x - vmin) / scale) AS BIGINT))) AS q
  FROM b WHERE scale > 0)
SELECT vec_id,
       CAST(len(v) AS BIGINT) AS n_dims,
       q[1] AS q_first,
       CAST(list_sum(q) AS BIGINT) AS q_sum,
       ROUND(list_dot_product(
               list_transform(range(1, len(v) + 1), i -> abs(vmin + CAST(q[i] AS DOUBLE) * scale - v[i])),
               list_transform(v, x -> CAST(1 AS DOUBLE)))
             / len(v), 6) AS recon_mae
FROM qd
"""


def ann_quantized_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity search over int8 codes, calibrated against exact cosine.
    The quantized estimate expands the affine codes into INTEGER sufficient
    statistics — sum(q), sum(q^2), sum(qa*qb) are exact in any engine and
    any order — combined with the per-vector (vmin, scale) in mirrored
    double arithmetic, so the whole approximate kernel is value-hash
    checkable, per pair, next to its exact counterpart and absolute error.
    Pairs are label-blocked with sampled anchors (vec_id % 50 = 0) — the
    same no-cross-join shape as embedding_neardup."""
    e = T(spark, sf_dir, "embeddings")
    v = F.transform("embedding", lambda x: x.cast("double"))
    b = e.select(F.col("vec_id").cast("bigint").alias("vec_id"), F.col("label"), v.alias("v"))
    vmin, vmax = F.array_min("v"), F.array_max("v")
    b = (
        b.withColumn("vmin", vmin)
        .withColumn("scale", (vmax - vmin) / F.lit(255.0))
        .where(F.col("scale") > 0)
        .withColumn(
            "q",
            F.transform(
                "v",
                lambda x: F.least(
                    F.lit(255).cast("bigint"), F.floor((x - F.col("vmin")) / F.col("scale"))
                ),
            ),
        )
        .withColumn("sq", F.aggregate("q", F.lit(0).cast("bigint"), lambda a, x: a + x))
        .withColumn("sq2", F.aggregate("q", F.lit(0).cast("bigint"), lambda a, x: a + x * x))
        .withColumn("n", F.size("v").cast("bigint"))
    )
    from ..llm.similarity import dot, l2_norm

    a_side = b.where(F.col("vec_id") % 50 == 0).select(
        *[F.col(c).alias(f"{c}_a") for c in ("vec_id", "label", "v", "vmin", "scale", "q", "sq", "sq2", "n")]
    )
    b_side = b.select(
        *[F.col(c).alias(f"{c}_b") for c in ("vec_id", "label", "v", "vmin", "scale", "q", "sq", "sq2", "n")]
    )
    pairs = a_side.join(
        b_side,
        (F.col("label_a") == F.col("label_b")) & (F.col("vec_id_a") != F.col("vec_id_b")),
    )
    sqq = F.aggregate(
        F.zip_with("q_a", "q_b", lambda x, y: x * y), F.lit(0).cast("bigint"), lambda a, x: a + x
    )
    nd = F.col("n_a").cast("double")
    num = (
        nd * F.col("vmin_a") * F.col("vmin_b")
        + F.col("vmin_a") * F.col("scale_b") * F.col("sq_b").cast("double")
        + F.col("vmin_b") * F.col("scale_a") * F.col("sq_a").cast("double")
        + F.col("scale_a") * F.col("scale_b") * sqq.cast("double")
    )
    norm2_a = (
        nd * F.col("vmin_a") * F.col("vmin_a")
        + F.lit(2.0) * F.col("vmin_a") * F.col("scale_a") * F.col("sq_a").cast("double")
        + F.col("scale_a") * F.col("scale_a") * F.col("sq2_a").cast("double")
    )
    norm2_b = (
        nd * F.col("vmin_b") * F.col("vmin_b")
        + F.lit(2.0) * F.col("vmin_b") * F.col("scale_b") * F.col("sq_b").cast("double")
        + F.col("scale_b") * F.col("scale_b") * F.col("sq2_b").cast("double")
    )
    cos_q = num / F.sqrt(norm2_a * norm2_b)
    cos_exact = dot(F.col("v_a"), F.col("v_b")) / (l2_norm(F.col("v_a")) * l2_norm(F.col("v_b")))
    return pairs.select(
        F.col("vec_id_a").alias("vec_a"),
        F.col("vec_id_b").alias("vec_b"),
        F.round(cos_exact, 6).alias("cos_exact"),
        F.round(cos_q, 6).alias("cos_quantized"),
        F.round(F.abs(cos_exact - cos_q), 6).alias("abs_err"),
    )


ANN_QUANT_SQL = """
WITH b AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id, label,
         CAST(embedding AS DOUBLE[]) AS v,
         list_min(CAST(embedding AS DOUBLE[])) AS vmin,
         (list_max(CAST(embedding AS DOUBLE[])) - list_min(CAST(embedding AS DOUBLE[]))) / CAST(255 AS DOUBLE) AS scale
  FROM embeddings),
qd AS (
  SELECT vec_id, label, v, vmin, scale,
         list_transform(v, x -> least(CAST(255 AS BIGINT), CAST(floor((x - vmin) / scale) AS BIGINT))) AS q
  FROM b WHERE scale > 0),
st AS (
  SELECT vec_id, label, v, vmin, scale, q,
         CAST(list_sum(q) AS BIGINT) AS sq,
         CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS sq2,
         CAST(len(v) AS BIGINT) AS n
  FROM qd),
pairs AS (
  SELECT a.vec_id AS vec_a, b2.vec_id AS vec_b,
         a.v AS v_a, b2.v AS v_b,
         a.vmin AS vmin_a, b2.vmin AS vmin_b, a.scale AS scale_a, b2.scale AS scale_b,
         a.sq AS sq_a, b2.sq AS sq_b, a.sq2 AS sq2_a, b2.sq2 AS sq2_b, a.n AS n,
         CAST(list_sum(list_transform(range(1, len(a.q) + 1), i -> a.q[i] * b2.q[i])) AS BIGINT) AS sqq
  FROM st a JOIN st b2 ON a.label = b2.label AND a.vec_id <> b2.vec_id
  WHERE a.vec_id % 50 = 0),
scored AS (
  SELECT vec_a, vec_b,
         list_dot_product(v_a, v_b) / (sqrt(list_dot_product(v_a, v_a)) * sqrt(list_dot_product(v_b, v_b))) AS cos_exact,
         (CAST(n AS DOUBLE) * vmin_a * vmin_b
          + vmin_a * scale_b * CAST(sq_b AS DOUBLE)
          + vmin_b * scale_a * CAST(sq_a AS DOUBLE)
          + scale_a * scale_b * CAST(sqq AS DOUBLE))
         / sqrt((CAST(n AS DOUBLE) * vmin_a * vmin_a
                 + CAST(2 AS DOUBLE) * vmin_a * scale_a * CAST(sq_a AS DOUBLE)
                 + scale_a * scale_a * CAST(sq2_a AS DOUBLE))
              * (CAST(n AS DOUBLE) * vmin_b * vmin_b
                 + CAST(2 AS DOUBLE) * vmin_b * scale_b * CAST(sq_b AS DOUBLE)
                 + scale_b * scale_b * CAST(sq2_b AS DOUBLE))) AS cos_q
  FROM pairs)
SELECT vec_a, vec_b,
       ROUND(cos_exact, 6) AS cos_exact,
       ROUND(cos_q, 6) AS cos_quantized,
       ROUND(abs(cos_exact - cos_q), 6) AS abs_err
FROM scored
"""


def multimodal_feature_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal retrieval end-to-end: REAL image decode (BMP/PPM byte
    parsing in mapInPandas) -> per-asset feature vector (dims + channel
    means, all exact integers as doubles) -> brute-force cosine top-3.
    The oracle reproduces the features in closed form from doc_id and the
    full similarity ranking in SQL — a decoder bug OR a ranking bug breaks
    the value hash. Composes the modality stack with the similarity stack:
    swap the stat-features kernel for CLIP and nothing else changes."""
    media = documents_as_decodable_media(T(spark, sf_dir, "documents"))
    dec = decode_image(media)
    feats = dec.select(
        F.col("asset_id").alias("vec_id"),
        F.array(
            F.col("width").cast("double"),
            F.col("height").cast("double"),
            "mean_r",
            "mean_g",
            "mean_b",
        ).alias("embedding"),
    )
    return cosine_topk_bruteforce(feats, feats.where(F.col("vec_id") <= 5), k=3)


MULTIMODAL_ANN_SQL = """
WITH f AS (
  SELECT CAST(doc_id AS BIGINT) AS vec_id,
         [CAST(8 + doc_id % 9 AS DOUBLE), CAST(4 + doc_id % 7 AS DOUBLE),
          CAST((doc_id * 37) % 256 AS DOUBLE), CAST((doc_id * 59) % 256 AS DOUBLE),
          CAST((doc_id * 83) % 256 AS DOUBLE)] AS v
  FROM documents),
n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM f),
q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n WHERE vec_id <= 5),
s AS (SELECT query_id, c.vec_id AS neighbor_id,
             list_dot_product(qv, c.v) / (qn * c.nrm) AS cos
      FROM q JOIN n c ON c.vec_id <> query_id)
SELECT query_id, neighbor_id, ROUND(cos, 6) AS cosine,
       CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
FROM s
QUALIFY rank <= 3
"""


QUERIES = {
    "dedup_exact": dedup_exact,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_jaccard_capped": dedup_jaccard_capped,
    "dedup_minhash_bands": dedup_minhash_bands,
    "dedup_lsh_verified_pairs": dedup_lsh_verified_pairs,
    "minhash_calibration": minhash_calibration,
    "dedup_clusters": dedup_clusters,
    "dedup_incremental_lsh": dedup_incremental_lsh,
    "leakage_safe_split": leakage_safe_split,
    "dedup_canonical_keepers": dedup_canonical_keepers,
    "dedup_simhash": dedup_simhash,
    "embedding_neardup": embedding_neardup,
    "ann_topk": ann_topk,
    "ann_topk_ivf": ann_topk_ivf,
    "ann_topk_ivf_indexed": ann_topk_ivf_indexed,
    "ann_topk_ivf_append": ann_topk_ivf_append,
    "semantic_incremental_probe": semantic_incremental_probe,
    "kmeans_embedding_clusters": kmeans_embedding_clusters,
    "token_frequency": token_frequency,
    "doc_length_stats": doc_length_stats,
    "embedding_centroids": embedding_centroids,
    "text_token_counts": text_token_counts,
    "text_langid": text_langid,
    "text_quality": text_quality,
    "text_top_terms": text_top_terms,
    "doc_chunking": doc_chunking,
    "doc_fingerprints": doc_fingerprints,
    "multimodal_metadata": multimodal_metadata,
    "multimodal_decode": multimodal_decode,
    "multimodal_video_frames": multimodal_video_frames,
    "multimodal_audio_features": multimodal_audio_features,
    "multimodal_feature_ann": multimodal_feature_ann,
    "embedding_quantization": embedding_quantization,
    "ann_quantized_calibration": ann_quantized_calibration,
}

ORACLE = {
    "dedup_exact": DEDUP_EXACT_SQL,
    "dedup_ngram_jaccard": NGRAM_JACCARD_SQL,
    "dedup_jaccard_capped": JACCARD_CAPPED_SQL,
    "dedup_minhash_bands": MINHASH_BANDS_SQL,
    "dedup_lsh_verified_pairs": LSH_VERIFIED_SQL,
    "minhash_calibration": MINHASH_CALIBRATION_SQL,
    "dedup_clusters": DEDUP_CLUSTERS_SQL,
    "dedup_incremental_lsh": DEDUP_INCREMENTAL_SQL,
    "leakage_safe_split": LEAKAGE_SPLIT_SQL,
    "dedup_canonical_keepers": DEDUP_KEEPERS_SQL,
    "dedup_simhash": SIMHASH_SQL,
    "embedding_neardup": EMBEDDING_NEARDUP_SQL,
    "ann_topk": ANN_TOPK_SQL,
    "token_frequency": TOKEN_FREQUENCY_SQL,
    "doc_length_stats": DOC_LENGTH_SQL,
    "embedding_centroids": EMBEDDING_CENTROIDS_SQL,
    "text_token_counts": TOKEN_COUNTS_SQL,
    "text_langid": LANGID_SQL,
    "text_quality": QUALITY_SQL,
    "text_top_terms": TOP_TERMS_SQL,
    "doc_chunking": DOC_CHUNKING_SQL,
    "doc_fingerprints": FINGERPRINT_SQL,
    "multimodal_metadata": MULTIMODAL_SQL,
    "multimodal_decode": MULTIMODAL_DECODE_SQL,
    "multimodal_video_frames": MULTIMODAL_VIDEO_SQL,
    "multimodal_audio_features": MULTIMODAL_AUDIO_SQL,
    "multimodal_feature_ann": MULTIMODAL_ANN_SQL,
    "embedding_quantization": EMBEDDING_QUANT_SQL,
    "ann_quantized_calibration": ANN_QUANT_SQL,
    "ann_topk_ivf": ANN_IVF_SQL,
    "ann_topk_ivf_indexed": ANN_IVF_SQL,
    "ann_topk_ivf_append": ANN_IVF_SQL,
    "semantic_incremental_probe": SEMANTIC_INCREMENTAL_SQL,
    "kmeans_embedding_clusters": KMEANS_SQL,
}

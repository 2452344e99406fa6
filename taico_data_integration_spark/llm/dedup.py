"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design:
- Exact dedup groups on md5(text) — constant-width shuffle keys.
- MinHash/LSH: shingle -> K md5-seeded min-hashes -> B bands; candidate pairs
  come from equi-joining band keys (shuffle on band buckets), never from a
  cross join. At 100 TB the band join is the only O(collisions) stage.
- n-gram Jaccard verifies candidates via an inverted-index self-join on
  shingles (pairs sharing >= 1 shingle), again no cross join.
- All hashing is md5-based so DuckDB oracles can reproduce bit-for-bit.
- `minhash_signatures` + `lsh_band_keys` (explode/groupBy) are the slow
  reference form of `minhash_band_keys_fast`; a test pins their equality.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..quoting import ident, lit
# normalized_text is re-exported: the benchmark imports it from here.
from .text import fingerprint_sql, normalized_text, tokens_sql  # noqa: F401

HEX = "0123456789abcdef"

# Driver-side plan-construction cost is real bench time (guide §7.3): built
# with the Column API, the hot stacks below cost THOUSANDS of py4j round
# trips per query build (measured r13: simhash 4263 calls ~0.56 s, lsh
# pipeline 3062 calls ~0.73 s). So they follow the package's one expression
# form (llm.text module note): SQL strings from builders, quoted through
# quoting.ident/lit, passed to selectExpr — one round trip and a JVM-side
# parse per projection.


def minhash_sql(seed: int) -> str:
    """One MinHash component: min over the ``__sh`` shingle array of
    md5('<seed>:<shingle>'). Hex-string min == numeric min of the 128-bit
    value, and is reproducible in any engine with md5."""
    return f"array_min(transform(__sh, s -> md5(concat_ws(':', {lit(str(seed))}, s))))"


def exact_dedup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: one representative (min id) per identical normalized text."""
    return (
        df.selectExpr(ident(id_col), f"{fingerprint_sql(text_col)} AS fingerprint")
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias("rep_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def with_shingles(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    keep_cols: tuple[str, ...] = (),
    fan_out: bool = True,
) -> DataFrame:
    """(id, [keep_cols...,] __sh) with the token array materialized as a real
    column: tokens are computed exactly once per document (CollapseProject
    cannot inline them back across the exchange / checkpoint boundary).

    ``fan_out`` (default True) additionally repartitions BELOW tokenization
    so the shingle-heavy projection runs at full parallelism even when the
    source is a single parquet file. It is caller-conditional (guide §2.5:
    fan out only where per-row compute amortizes the exchange): consumers
    that stack heavy work on the shingle base (16x md5 minhash signatures,
    inverted-index joins) win from it, while consumers whose downstream is a
    cheap semi-join/count (contamination_hits) measured the exchange as pure
    overhead — r12 driver bench: contamination_check regressed 1.17->1.46 s
    with the unconditional exchange; r13 paired A/B: 1.20 s (exchange) vs
    0.72 s (no exchange) at sf0.1/local[32]."""
    spark = df.sparkSession
    extras = [F.col(c) for c in keep_cols]
    # The exchange sits BELOW tokenization (raw text crosses it, not token
    # arrays) so the regexp normalize + split run at full parallelism too —
    # with the exchange above them they all ran inside the single scan task
    # this barrier exists to relieve. Hash-partitioning on the id avoids the
    # local sort a keyless round-robin repartition pays for retry
    # determinism (guide §2.5) while staying retry-stable.
    staged = df.select(F.col(id_col), *extras, F.col(text_col).alias("__text"))
    if fan_out:
        staged = staged.repartition(
            spark.sparkContext.defaultParallelism, F.xxhash64(F.col(id_col))
        )
    # split(normalized text) -> k-gram transform over a 0-based sequence ->
    # array_distinct
    idq, keep = ident(id_col), [ident(c) for c in keep_cols]
    toks = staged.selectExpr(idq, *keep, f"{tokens_sql('__text')} AS __toks")
    elems = ", ".join(f"element_at(__toks, i + {j + 1})" for j in range(k))
    sh = (
        f"array_distinct(transform(sequence(0, size(__toks) - {k}), "
        f"i -> concat_ws(' ', {elems})))"
    )
    return toks.where(f"size(__toks) >= {k}").selectExpr(idq, *keep, f"{sh} AS __sh")


def minhash_band_keys_fast(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    rows_per_band: int = 4,
    shingled: DataFrame | None = None,
) -> DataFrame:
    """Scale path for MinHash+LSH banding: the whole signature is computed
    with array higher-order functions inside a single narrow projection —
    per seed, ``array_min(transform(shingles, s -> md5(seed:s)))`` — so the
    ONLY shuffle in the job is whatever consumes the band keys. Semantically
    identical to minhash_signatures + lsh_band_keys (same md5 math, same
    band folding); ~10x less work than the explode/groupBy formulation.
    Pass `shingled` (an (id, __sh) frame, e.g. materialized_shingles) to
    reuse an already-staged shingle base instead of re-tokenizing `df`.
    """
    base = shingled if shingled is not None else with_shingles(df, text_col, id_col, k)

    # band key = md5 of the '|'-joined band rows with a CAST(b AS BIGINT)
    # band id
    idq = ident(id_col)
    sigs = base.selectExpr(idq, *[f"{minhash_sql(i)} AS mh{i}" for i in range(num_hashes)])
    band_rows = []
    for b in range(bands):
        parts = ", ".join(f"mh{b * rows_per_band + r}" for r in range(rows_per_band))
        band_rows.append(
            f"struct(CAST({b} AS BIGINT) AS band_id, "
            f"md5(concat_ws('|', {parts})) AS band_key)"
        )
    return sigs.selectExpr(idq, f"explode(array({', '.join(band_rows)})) AS b").selectExpr(
        idq, "b.band_id AS band_id", "b.band_key AS band_key"
    )


def materialized_shingles(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    keep_cols: tuple[str, ...] = (),
    fan_out: bool = True,
) -> DataFrame:
    """`with_shingles` materialized once (localCheckpoint) for plans that
    fan the shingle base into several branches (self-join sides, counts,
    signatures). Spark does not reuse exchanges across self-join aliases
    here, so without materialization each branch re-runs tokenization
    (+explode +shuffle) — measured 8x slower. At cluster scale the same
    pattern is a staging write of the shingle index (one scan, N readers).

    eager=False: the checkpoint materializes inside the FIRST consuming
    action instead of paying a dedicated materialize-only job at plan-build
    time (the local checkpoint is persist-backed, so branches within that
    first action still compute tokenization once and read the cache).
    """
    return with_shingles(df, text_col, id_col, k, keep_cols, fan_out=fan_out).localCheckpoint(
        eager=False
    )


def word_shingles(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3) -> DataFrame:
    """Distinct word k-shingles per document: (id, shingle). Documents with
    fewer than k tokens produce no shingles. Distinctness is per-document
    (array_distinct inside the projection), so no dedup shuffle is needed."""
    return with_shingles(df, text_col, id_col, k).select(
        F.col(id_col), F.explode("__sh").alias("shingle")
    )


def minhash_signatures(shingles: DataFrame, id_col: str = "doc_id", num_hashes: int = 16) -> DataFrame:
    """K md5-seeded min-hashes per doc: min over shingles of
    md5('<seed>:<shingle>'). Hex-string min == numeric min of the 128-bit
    value, and is reproducible in any engine with md5."""
    seeds = F.explode(F.array(*[F.lit(i) for i in range(num_hashes)])).alias("seed")
    exploded = shingles.select(id_col, "shingle", seeds)
    return (
        exploded.groupBy(id_col, "seed")
        .agg(F.min(F.md5(F.concat_ws(":", F.col("seed").cast("string"), F.col("shingle")))).alias("minhash"))
    )


def lsh_band_keys(signatures: DataFrame, id_col: str = "doc_id", bands: int = 4, rows_per_band: int = 4) -> DataFrame:
    """Fold each doc's K minhashes into B band keys (md5 of the band's
    concatenated row hashes): (id, band_id, band_key)."""
    sigs = (
        signatures.groupBy(id_col)
        .agg(F.array_sort(F.collect_list(F.struct("seed", "minhash"))).alias("sig"))
        .select(id_col, F.transform("sig", lambda s: s["minhash"]).alias("sig"))
    )
    band_rows = []
    for b in range(bands):
        parts = [F.element_at("sig", b * rows_per_band + r + 1) for r in range(rows_per_band)]
        band_rows.append(
            F.struct(F.lit(b).cast("bigint").alias("band_id"), F.md5(F.concat_ws("|", *parts)).alias("band_key"))
        )
    return sigs.select(
        id_col, F.explode(F.array(*band_rows)).alias("b")
    ).select(id_col, F.col("b.band_id").alias("band_id"), F.col("b.band_key").alias("band_key"))


def lsh_candidate_pairs(band_keys: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Candidate near-dup pairs: docs sharing any band bucket. Equi-join on
    (band_id, band_key) — shuffle-partitioned by bucket, no cross join."""
    a = band_keys.select(F.col(id_col).alias("doc_a"), "band_id", "band_key")
    b = band_keys.select(F.col(id_col).alias("doc_b"), "band_id", "band_key")
    return (
        a.join(b, on=["band_id", "band_key"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def jaccard_pairs(
    shingles: DataFrame,
    id_col: str = "doc_id",
    min_common: int = 1,
    min_jaccard: float = 0.0,
    counts: DataFrame | None = None,
) -> DataFrame:
    """n-gram Jaccard similarity for every doc pair sharing a shingle
    (inverted-index self-join). Returns (doc_a, doc_b, common, jaccard).
    Pass `counts` (id, n_sh) to skip the per-doc counting shuffle (cheap to
    derive as size(__sh) in the same scan that built shingles)."""
    if counts is None:
        counts = shingles.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    # Partition the inverted index by shingle ONCE: both self-join sides
    # derive from the same exchange (ReusedExchange computes it a single
    # time), the join needs no further shuffle, and the explicit exchange
    # stops the size estimator from broadcasting millions of exploded rows
    # (explode is invisible to parquet stats).
    keyed = shingles.repartition(F.col("shingle"))
    a = keyed.select(F.col(id_col).alias("doc_a"), "shingle")
    b = keyed.select(F.col(id_col).alias("doc_b"), "shingle")
    common = (
        a.join(b, on="shingle")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("common"))
        .where(F.col("common") >= min_common)
    )
    ca = counts.select(F.col(id_col).alias("doc_a"), F.col("n_sh").alias("n_a"))
    cb = counts.select(F.col(id_col).alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        common.join(ca, "doc_a")
        .join(cb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("common")).cast("double"),
                6,
            ),
        )
        .where(F.col("jaccard") >= min_jaccard)
        .select("doc_a", "doc_b", "common", "jaccard")
    )


def simhash_bits(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 16
) -> DataFrame:
    """md5-based SimHash: bit b = sign of sum over distinct tokens of
    (±1 by parity of hex nibble b of md5(token)) — ONE md5 per token feeds
    all bits (md5 nibbles are independent). Returns (id, simhash) with
    simhash as a '01...' string of length `bits` — engine-portable (no
    64-bit int overflow concerns in oracles). bits <= 32 (md5 hex length).

    Execution shape (r12): ZERO shuffles. Distinctness is per-document, so
    ``array_distinct`` inside the projection replaces the old
    explode -> DISTINCT -> groupBy(id) pipeline that shuffled the exploded
    token set twice; the md5 array is staged as a real column (one md5 per
    token, as before) and each bit's weight is an integer HOF fold over it.
    Integer sums are order-free, so the results are bit-identical to the
    aggregation form.

    Contract: ``id_col`` must be unique per row. The old aggregation form
    merged token sets across duplicate-id rows into one output row; this
    per-row projection emits one simhash per INPUT row, so the two shapes
    agree only on unique ids (true for the documents fixture and for any
    upstream that deduplicates ids; pre-aggregate text per id first if
    duplicates are possible).
    """
    # Each bit's weight is the integer HOF fold
    # aggregate(__hs, 0, (acc, h) -> acc + CASE parity(nibble b) ...); the
    # per-bit CASE > 0 chars concat into the signature in one projection.
    idq = ident(id_col)
    hashed = df.selectExpr(
        idq, f"transform(array_distinct({tokens_sql(text_col)}), t -> md5(t)) AS __hs"
    )

    def _weight(b: int) -> str:
        return (
            "aggregate(__hs, 0, (acc, h) -> acc + (CASE WHEN "
            f"(instr({lit(HEX)}, substring(h, {b + 1}, 1)) - 1) % 2 = 1 "
            "THEN 1 ELSE -1 END))"
        )

    bit_chars = ", ".join(
        f"CASE WHEN {_weight(b)} > 0 THEN '1' ELSE '0' END" for b in range(bits)
    )
    # NULL text produced zero exploded rows (doc absent) in the aggregation
    # form; the null-array filter preserves that contract.
    return hashed.where("__hs IS NOT NULL").selectExpr(idq, f"concat({bit_chars}) AS simhash")


def simhash_hamming_pairs(sim: DataFrame, id_col: str = "doc_id", max_hamming: int = 3, bits: int = 16) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance, blocked on halves of the
    signature (a pair within distance d <= bits/2 shares at least one half).
    The half-key equi-join is the scale path — no cross join."""
    half = bits // 2
    keyed = sim.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(
                F.concat(F.lit("L:"), F.substring("simhash", 1, half)),
                F.concat(F.lit("R:"), F.substring("simhash", half + 1, half)),
            )
        ).alias("block"),
    )
    a = keyed.select(F.col(id_col).alias("doc_a"), F.col("simhash").alias("sim_a"), "block")
    b = keyed.select(F.col(id_col).alias("doc_b"), F.col("simhash").alias("sim_b"), "block")
    pairs = (
        a.join(b, "block")
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sim_a", "sim_b")
        .distinct()
    )
    # hamming = count of differing positions
    diff = F.size(
        F.filter(
            F.zip_with(F.split("sim_a", ""), F.split("sim_b", ""), lambda x, y: x != y),
            lambda v: v,
        )
    )
    return pairs.withColumn("hamming", diff.cast("bigint")).where(F.col("hamming") <= max_hamming).select(
        "doc_a", "doc_b", "hamming"
    )


def connected_components(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 20,
    small_graph_max_edges: int = 100_000,
) -> DataFrame:
    """Near-dup clusters from a pair list: (doc_id, cluster_id) where
    cluster_id = min doc id reachable through the pair graph. Iterative
    min-label propagation PLUS pointer jumping, with early termination at
    the fixpoint.

    Scale notes: each iteration is two joins + one aggregate on (vertex,
    label) — all hash-partitioned on vertex id, no driver materialization
    except the scalar convergence count. The second join is the POINTER
    JUMP (``label := label[label]``, the classic shortcutting step shared
    by hash-to-min CC and large-star contraction — public MapReduce-CC
    literature): labels chase their own targets, so the reach DOUBLES per
    iteration and convergence is O(log diameter), not O(diameter)
    (VERDICT r8 #8 — a planted 500-vertex chain, 25x the old iteration
    budget, converges in <= 12 rounds; pinned by test). Correctness is
    unchanged: a label is always a vertex id inside its own component
    (neighbor-min keeps it there, and the jump maps it to that vertex's
    label — same component), labels only decrease, and at the fixpoint
    every symmetric edge has equal labels, i.e. labels are constant on
    components and equal the component min. Near-dup graphs are usually
    diameter-bounded anyway (dup clusters are cliques or short chains
    from LSH banding); the jump makes the adversarial case — near-dup
    shingling of SEQUENTIAL logs, an O(n)-diameter chain — converge too
    instead of hitting max_iter. Each
    iteration's frame is checkpointed to cut lineage. Checkpoint mode is a
    DEPLOYMENT choice, not a code edit: when the session has a reliable
    checkpoint dir configured (``sc.setCheckpointDir`` on durable storage),
    iterations use fault-tolerant ``checkpoint()`` — executor loss cannot
    force a from-scratch recompute of the whole iteration chain at 100 TB —
    otherwise they fall back to executor-local ``localCheckpoint()`` (the
    single-node/test default). The label-propagation fixpoint equals the
    exact transitive closure, which the DuckDB oracle computes with a
    recursive CTE — parity holds only at convergence, hence the assertion."""

    def ckpt(df: DataFrame) -> DataFrame:
        # Reliable-path storage growth: each iteration writes one (narrow)
        # labels copy to the checkpoint dir. The engine session enables
        # spark.cleaner.referenceTracking.cleanCheckpoints so superseded
        # iteration checkpoints are removed when their RDDs are GC'd; a
        # deployment that brings its own session should set the same conf
        # (static — must be set at context start) or vacuum the dir.
        sc = df.sparkSession.sparkContext
        if sc.getCheckpointDir() is not None:
            return df.checkpoint(eager=True)
        return df.localCheckpoint()

    raw = pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    # Small-graph fast path: near-dup graphs are usually a few thousand
    # edges even on a huge corpus (only near-dup MEMBERS appear), while the
    # distributed loop below costs ~10 sequential jobs (per-iteration joins
    # + checkpoints + convergence counts) regardless of size. Below the cap,
    # collect the pair list — bounded by the cap via limit(cap+1), the same
    # bounded-collect contract as ops.incremental.merge_in — and run an
    # exact union-find on the driver; the result (min reachable id per
    # vertex) is the same fixpoint the loop converges to. r13 shape: ONE
    # probe job (limit-collect over a lazily-checkpointed pair list)
    # replaces the eager checkpoint + count + collect sequence, and the
    # union-find consumes RAW pairs — union-find needs neither the
    # symmetrized double edge list nor its distinct shuffle, so the small
    # path skips both. Above the cap the probe's persisted pairs feed the
    # unchanged distributed O(log diameter) loop, so scale behavior is
    # untouched. small_graph_max_edges=0 means "always distributed" (the
    # documented kill switch) — strict: it also skips the probe job, which
    # only exists to pick a path (ADVICE r12 #4).
    if small_graph_max_edges > 0:
        raw = raw.localCheckpoint(eager=False)
        rows = raw.limit(small_graph_max_edges + 1).collect()
        if len(rows) <= small_graph_max_edges:
            parent: dict = {}

            def find(x):
                r = x
                while parent[r] != r:
                    r = parent[r]
                while parent[x] != r:
                    parent[x], x = r, parent[x]
                return r

            for r in rows:
                u, v = r["u"], r["v"]
                parent.setdefault(u, u)
                parent.setdefault(v, v)
                ru, rv = find(u), find(v)
                if ru != rv:
                    # union by MIN id so every root is its component's minimum
                    if rv < ru:
                        ru, rv = rv, ru
                    parent[rv] = ru
            out = [(x, find(x)) for x in parent]
            schema = raw.select(
                F.col("u").alias("doc_id"), F.col("u").alias("cluster_id")
            ).schema
            return pairs.sparkSession.createDataFrame(out, schema)
    edges = ckpt(
        raw.unionByName(raw.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
    )
    labels = ckpt(
        edges.select(F.col("u").alias("vertex"))
        .distinct()
        .select("vertex", F.col("vertex").alias("label"))
    )
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.v == labels.vertex)
            .groupBy("u")
            .agg(F.min("label").alias("nlabel"))
        )
        # carry the pre-iteration label (__old) through to the checkpointed
        # frame: convergence is then a filter+count over rows already
        # materialized, not an extra labels-vs-new-labels join+shuffle job
        # per iteration.
        hopped = labels.join(
            neighbor_min, labels.vertex == neighbor_min.u, "left"
        ).select(
            "vertex",
            F.col("label").alias("__old"),
            F.least(F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))).alias("label"),
        )
        # pointer jump: label := label-of-label. Every label is a vertex id
        # (so the left join only misses when the frame is self-consistent
        # already); reach doubles per iteration -> O(log diameter) rounds.
        jump = hopped.select(
            F.col("vertex").alias("__lv"), F.col("label").alias("__ll")
        )
        stepped = ckpt(
            hopped.join(jump, hopped.label == jump["__lv"], "left").select(
                "vertex",
                "__old",
                F.least(
                    F.col("label"), F.coalesce(F.col("__ll"), F.col("label"))
                ).alias("label"),
            )
        )
        changed = stepped.where(F.col("label") != F.col("__old")).count()
        labels = stepped.select("vertex", "label")
        if changed == 0:
            break
    else:
        raise RuntimeError(f"connected_components did not converge in {max_iter} iterations")
    return labels.select(F.col("vertex").alias("doc_id"), F.col("label").alias("cluster_id"))

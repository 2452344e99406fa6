"""The benchmark's workloads: op lists, inputs and output checks.

Each workload keeps its own op list, so later edits to the repository's
``bench.py`` cannot shift what is measured. An op is ``(name, fn)`` where
``fn(span)`` runs one call into the engine and returns what the check
needs; ``span(name)`` is a context manager (a no-op when tracing is off).
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from . import datagen

HERE = os.path.dirname(os.path.abspath(__file__))
EXPECTED_PATH = os.path.join(HERE, "expected.json")

WAREHOUSE_QUERIES = (
    "q1_pricing_summary", "q3_top_revenue_orders", "q5_nation_revenue",
    "computed_key_left_join", "customer_order_ranks", "quality_checks_lineitem",
    "rollup_revenue", "q9_product_profit", "q21_sole_returning_supplier",
    "merge_upsert_orders", "watermark_incremental", "events_sessionize",
    "tumbling_events", "event_funnel", "retail_fct_invoices", "fb_ads_transformed",
    "media_relations_rebuild", "scd2_customer_orders", "cdc_orders_final_state",
    "resample_user_values", "cohort_retention", "stratified_mixture_sample",
)

# The warehouse inputs do not depend on the run's seed, so every query's
# row count and content hash can be recorded once (``run.py --record``).
WAREHOUSE_SEED = 20240101
WAREHOUSE_SF = 0.02


def digest_aggs(df) -> list:
    """Aggregates giving [row count, order-independent content hash] of
    ``df``: the hash is the decimal sum of one xxhash64 per row over the
    columns in name order, with floating values rendered to 10 significant
    digits so summation order does not flip them."""
    from pyspark.sql import functions as F

    parts = []
    for name, dtype in sorted(df.dtypes):
        col = df[name]
        text = F.format_string("%.10g", col) if dtype in ("double", "float") else col.cast("string")
        parts.append(F.coalesce(text, F.lit("<null>")))
    row_hash = F.xxhash64(*parts).cast("decimal(38,0)")
    return [F.count(F.lit(1)).alias("n"), F.sum(row_hash).alias("h")]


class WarehouseQueries:
    """The 22 non-LLM headline queries, each materialized to the noop sink
    in a warm session. The untimed warm-up pass writes every query to the
    noop sink too, observing its digest (row count and content hash) on
    the way; the digests are compared with the recorded ones after the
    timed passes."""

    name = "warehouse_queries"
    max_passes = 1_000

    def __init__(self, spark, data_dir: str, seed: int):
        from taico_data_integration_spark.queries import all_queries

        self.spark = spark
        self.data_dir = data_dir
        registry = all_queries()
        self.queries = {q: registry[q] for q in WAREHOUSE_QUERIES}
        self.digests: dict[str, list | str] = {}

    @staticmethod
    def op_names() -> list[str]:
        return list(WAREHOUSE_QUERIES)

    @staticmethod
    def make_inputs(data_dir: str, seed: int) -> None:
        datagen.generate(data_dir, WAREHOUSE_SEED, WAREHOUSE_SF)

    def warm_up(self) -> None:
        from pyspark.sql import Observation

        for q, fn in self.queries.items():
            try:
                df = fn(self.spark, self.data_dir)
                obs = Observation(f"digest_{q}")
                df.observe(obs, *digest_aggs(df)).write.format("noop").mode("overwrite").save()
                n, h = obs.get["n"], obs.get["h"]
                self.digests[q] = [int(n), str(h if h is not None else 0)]
            except Exception as exc:  # reported by check(), not fatal
                self.digests[q] = f"digest run raised {type(exc).__name__}: {exc}"[:500]

    def pass_ops(self, pass_dir: str) -> list:
        def op(fn):
            def run(span):
                with span("queries.build"):
                    df = fn(self.spark, self.data_dir)
                with span("execute"):
                    df.write.format("noop").mode("overwrite").save()
            return run

        return [(q, op(fn)) for q, fn in self.queries.items()]

    def check(self, passes: list[dict]) -> dict[str, str]:
        """Compare each query's warm-up digest with the recorded one."""
        expected = load_expected().get(self.name, {})
        problems = {}
        for q in self.queries:
            got = self.digests.get(q)
            if isinstance(got, str):
                problems[q] = got
            elif got != expected.get(q):
                problems[q] = f"digest {got} != recorded {expected.get(q)}"
        return problems

    def record(self) -> dict:
        self.warm_up()
        bad = {q: d for q, d in self.digests.items() if isinstance(d, str)}
        if bad:
            raise RuntimeError(f"cannot record, queries failed: {bad}")
        return dict(self.digests)


def load_expected() -> dict:
    with open(EXPECTED_PATH) as f:
        return json.load(f)


# --- pipelines and TableStore ------------------------------------------------

PIPELINE_SF = 0.002
N_DOCS = 600
# The documents do not depend on the run's seed (only their split into
# batches does), so which of them are exact duplicates, verified LSH
# near-duplicates and curation keeps is recorded once (``run.py --record``)
# and each batch's summary is checked against a model built from that.
DOCS_SEED = 20240102
KV_ROWS = 20_000
KV_FILES = 8
MERGE_ROWS = 50
READ_IN_KEYS = 20
DELETE_KEYS = 10
STORE_ROUNDS = 2  # merge_in, read_point, read_in per round


class EtlPipelines:
    """The reference's jobs on a fresh store, as one fresh-session DAG run
    would execute them, then the TableStore's small-op path: retail star
    build, facebook seed + incremental merge/promote, two dimension
    mirror-syncs over status and a high-cardinality customer
    dimension (the second on a seed-shrunk fact), two seed-split ingest
    batches, then write / merge_in / read_point / read_in / delete_in /
    compact / vacuum / read on a keyed table."""

    name = "etl_pipelines"
    max_passes = 1  # a second pass in the same session would be warm

    @staticmethod
    def op_names() -> list[str]:
        rounds = [f"store_{op}_{i}" for i in range(1, STORE_ROUNDS + 1)
                  for op in ("merge_in", "read_point", "read_in")]
        return [
            "retail_pipeline", "facebook_seed", "facebook_incremental", "etl_sync",
            "etl_shrink", "ingest_batch_1", "ingest_batch_2", "store_write",
            *rounds, "store_delete_in", "store_compact", "store_vacuum", "store_read",
        ]

    def __init__(self, spark, data_dir: str, seed: int):
        self.spark = spark
        self.data_dir = data_dir
        rng = np.random.default_rng(seed + 1)
        orders = pq.read_table(os.path.join(data_dir, "orders.parquet")).to_pandas()
        self.fact_pd = orders.assign(customer="C" + orders.o_custkey.astype(str))[
            ["o_orderstatus", "customer"]
        ].set_axis(["status", "customer"], axis=1)
        self.drop_status = str(rng.choice(["F", "O", "P"]))
        self.drop_mod = int(rng.integers(0, 5))
        batches = pq.read_table(os.path.join(data_dir, "doc_batches.parquet")).to_pandas()
        self.batch_docs = {int(b): set(g.doc_id.astype(int)) for b, g in batches.groupby("batch")}
        self.kv = pq.read_table(os.path.join(data_dir, "kv.parquet")).to_pandas().set_index("k")
        self.store_plan = self._store_plan(rng)

    @staticmethod
    def make_inputs(data_dir: str, seed: int) -> None:
        datagen.generate(data_dir, seed, PIPELINE_SF, n_docs=N_DOCS, docs_seed=DOCS_SEED)
        rng = np.random.default_rng(seed + 2)
        ids = rng.permutation(N_DOCS)
        pq.write_table(
            pa.table({"doc_id": pa.array(ids.astype(np.int64)),
                      "batch": pa.array((np.arange(N_DOCS) % 2).astype(np.int32))}),
            os.path.join(data_dir, "doc_batches.parquet"),
        )
        keys = np.sort(rng.choice(10 * KV_ROWS, KV_ROWS, replace=False)).astype(np.int64)
        pq.write_table(
            pa.table({
                "k": pa.array(keys),
                "qty": pa.array(rng.integers(1, 100, KV_ROWS).astype(np.int32)),
                "cents": pa.array(rng.integers(100, 10_000_000, KV_ROWS).astype(np.int64)),
                "tag": pa.array([f"t{i % 97}" for i in range(KV_ROWS)]),
            }),
            os.path.join(data_dir, "kv.parquet"),
        )

    def record(self) -> dict:
        """Facts of the fixed documents that decide every ingest count, from
        the engine's own dedup and curation functions: groups of docs with
        one normalized-text fingerprint, (smaller id, larger id) pairs that
        share an LSH band and verify at Jaccard >= 0.5, and the docs curation keeps."""
        from pyspark.sql import functions as F

        from taico_data_integration_spark.catalog import load_table
        from taico_data_integration_spark.llm.curation import curation_flags
        from taico_data_integration_spark.llm.dedup import (
            materialized_shingles,
            minhash_band_keys_fast,
            normalized_text,
        )

        docs = load_table(self.spark, self.data_dir, "documents").select("doc_id", "text")
        groups = (
            docs.groupBy(F.md5(normalized_text("text")).alias("fp"))
            .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
            .where(F.size("ids") > 1)
            .collect()
        )
        shingled = materialized_shingles(docs, "text", "doc_id", 3)
        bands = minhash_band_keys_fast(docs, shingled=shingled)
        a = bands.select(F.col("doc_id").alias("a"), "band_id", "band_key")
        b = bands.select(F.col("doc_id").alias("b"), "band_id", "band_key")
        sa = shingled.select(F.col("doc_id").alias("a"), F.col("__sh").alias("sh_a"))
        sb = shingled.select(F.col("doc_id").alias("b"), F.col("__sh").alias("sh_b"))
        common = F.size(F.array_intersect("sh_a", "sh_b"))
        jac = common.cast("double") / (F.size("sh_a") + F.size("sh_b") - common).cast("double")
        pairs = (
            a.join(b, ["band_id", "band_key"]).where(F.col("a") < F.col("b")).select("a", "b").distinct()
            .join(sa, "a").join(sb, "b").where(jac >= 0.5).select("a", "b").collect()
        )
        keeps = curation_flags(docs).where(F.col("keep")).select("doc_id").collect()
        return {
            "docs_seed": DOCS_SEED,
            "exact_dup_groups": sorted([int(x) for x in r.ids] for r in groups),
            "near_dup_pairs": sorted([int(r.a), int(r.b)] for r in pairs),
            "curation_keeps": sorted(int(r.doc_id) for r in keeps),
        }

    def _ingest_model(self) -> list[dict]:
        """Each batch's expected summary counts, from the recorded document
        facts, following ingest_batch's stages: exact dedup within the batch
        (smallest id of a fingerprint) and against the corpus; LSH near-dup
        against a smaller id of the batch or any corpus doc; curation."""
        facts = load_expected()[self.name]
        if facts["docs_seed"] != DOCS_SEED:
            raise ValueError("expected.json was recorded for other documents; re-record")
        fp = {}
        for g in facts["exact_dup_groups"]:
            fp.update({d: g[0] for d in g})
        near: dict[int, set] = {}
        for x, y in facts["near_dup_pairs"]:
            near.setdefault(x, set()).add(y)
            near.setdefault(y, set()).add(x)
        keeps = set(facts["curation_keeps"])
        corpus: set = set()
        model = []
        for b in sorted(self.batch_docs):
            docs = self.batch_docs[b]
            first = {}
            for d in sorted(docs):
                first.setdefault(fp.get(d, ("doc", d)), d)
            corpus_fps = {fp.get(c, ("doc", c)) for c in corpus}
            exact = {d for d in docs if first[fp.get(d, ("doc", d))] == d
                     and fp.get(d, ("doc", d)) not in corpus_fps}
            dropped = {d for d in exact
                       if any(y < d and y in exact for y in near.get(d, ())) or near.get(d, set()) & corpus}
            deduped = exact - dropped
            accepted = deduped & keeps
            corpus |= accepted
            model.append({
                "ok": True, "n_in": len(docs), "n_exact_dup": len(docs) - len(exact),
                "n_near_dup": len(dropped), "n_embed_near_dup": 0,
                "n_curation_reject": len(deduped) - len(accepted),
                "n_accepted": len(accepted), "corpus_rows": len(corpus),
            })
        return model

    def _store_plan(self, rng) -> list[tuple[str, dict]]:
        """Seed-chosen keys of the small TableStore ops, in rounds of
        merge_in, read_point, read_in. The order is fixed: the first op
        after the write pays the path's cold start, so a seed-chosen order
        would move single op times by seconds."""
        keys = self.kv.index.to_numpy()

        def merge(i: int) -> tuple[str, dict]:
            upd = rng.choice(keys, MERGE_ROWS - 10, replace=False)
            new = 10 * KV_ROWS + 1000 * i + np.arange(10)
            k = np.concatenate([upd, new]).astype(np.int64)
            return f"store_merge_in_{i}", {
                "k": k, "qty": rng.integers(100, 200, len(k)).astype(np.int32),
                "cents": rng.integers(100, 10_000_000, len(k)).astype(np.int64),
            }

        def some(n: int) -> list[int]:
            return sorted(int(x) for x in rng.choice(keys, n, replace=False))

        plan = []
        for i in range(1, STORE_ROUNDS + 1):
            plan += [
                merge(i),
                (f"store_read_point_{i}", {"k": int(rng.choice(keys))}),
                (f"store_read_in_{i}", {"k": some(READ_IN_KEYS)}),
            ]
        return plan + [("store_delete_in", {"k": some(DELETE_KEYS)})]

    def _fact(self, shrink: bool):
        from pyspark.sql import functions as F

        from taico_data_integration_spark.catalog import load_table

        o = load_table(self.spark, self.data_dir, "orders")
        fact = o.select(
            F.col("o_orderstatus").alias("status"),
            F.concat(F.lit("C"), F.col("o_custkey").cast("string")).alias("customer"),
            F.col("o_custkey"),
        )
        if shrink:
            fact = fact.where((F.col("status") != self.drop_status) & (F.col("o_custkey") % 5 != self.drop_mod))
        return fact.drop("o_custkey")

    def warm_up(self) -> None:
        """None: each pipeline run starts cold, as in a fresh DAG-run session."""

    def pass_ops(self, pass_dir: str) -> list:
        from pyspark.sql import functions as F

        from taico_data_integration_spark.catalog import load_table
        from taico_data_integration_spark.ops.incremental import TableStore
        from taico_data_integration_spark.pipelines.etl_pipeline import run_etl_pipeline
        from taico_data_integration_spark.pipelines.facebook_pipeline import run_facebook_pipeline
        from taico_data_integration_spark.pipelines.ingestion_pipeline import ingest_batch
        from taico_data_integration_spark.pipelines.retail_pipeline import run_retail_pipeline

        spark, data = self.spark, self.data_dir
        root = lambda name: os.path.join(pass_dir, name)  # noqa: E731
        dims = ["status", "customer"]
        corpus = TableStore(spark, root("corpus"))
        store = TableStore(spark, root("kv"))
        docs = load_table(spark, data, "documents").select("doc_id", "text", "lang", "source")
        assign = spark.read.parquet(os.path.join(data, "doc_batches.parquet"))

        def batch(b):
            return docs.join(assign.where(F.col("batch") == b), "doc_id", "left_semi")

        ops = [
            ("retail_pipeline", lambda span: run_retail_pipeline(spark, data, root("retail"))),
            ("facebook_seed", lambda span: run_facebook_pipeline(spark, data, root("fb"))),
            ("facebook_incremental", lambda span: run_facebook_pipeline(spark, data, root("fb"))),
            ("etl_sync", lambda span: run_etl_pipeline(spark, self._fact(False), dims, root("etl"))),
            ("etl_shrink", lambda span: run_etl_pipeline(spark, self._fact(True), dims, root("etl"))),
            ("ingest_batch_1", lambda span: ingest_batch(spark, corpus, batch(0))),
            ("ingest_batch_2", lambda span: ingest_batch(spark, corpus, batch(1))),
            ("store_write", lambda span: store.write(
                "kv", spark.read.parquet(os.path.join(data, "kv.parquet")).repartitionByRange(KV_FILES, "k"))),
        ]
        for name, arg in self.store_plan:
            ops.append((name, self._store_op(store, name, arg)))
        ops += [
            ("store_compact", lambda span: store.compact("kv")),
            ("store_vacuum", lambda span: store.vacuum("kv")),
            ("store_read", lambda span: _kv_summary(store.read("kv"))),
        ]
        return ops

    def _store_op(self, store, name: str, arg: dict):
        spark = self.spark
        if name.startswith("store_merge_in"):
            updates = spark.createDataFrame(
                [(int(k), int(q), int(c), "upd") for k, q, c in zip(arg["k"], arg["qty"], arg["cents"])],
                "k bigint, qty int, cents bigint, tag string",
            )
            return lambda span: store.merge_in("kv", updates, "k")[0]
        if name.startswith("store_read_point"):
            return lambda span: _rows(store.read_point("kv", "k", arg["k"])[0])
        if name.startswith("store_read_in"):
            return lambda span: _rows(store.read_in("kv", "k", arg["k"])[0])
        return lambda span: store.delete_in("kv", "k", arg["k"])[1]["rows_deleted"]

    def check(self, passes: list[dict]) -> dict[str, str]:
        """Compare every pass's op results (op -> result, in run order) with
        what the inputs imply: pipeline ``ok`` flags, bridge rows (distinct
        dimension tuples), ingest accounting, and a dict model of the keyed
        table."""
        problems = {}
        for results in passes:
            want = self._expected()
            for op, out in results.items():
                problem = want[op](out) if op in want else f"unexpected op {op}"
                if problem and op not in problems:
                    problems[op] = problem
        return problems

    def _expected(self) -> dict:
        fact = self.fact_pd
        shrunk = fact[(fact.status != self.drop_status)
                      & (fact.customer.str[1:].astype(int) % 5 != self.drop_mod)]
        bridge = {"etl_sync": len(fact.drop_duplicates()), "etl_shrink": len(shrunk.drop_duplicates())}

        def pipeline_ok(out):
            return None if out.get("ok") else f"ok=False: {str(out)[:300]}"

        def etl(op):
            def f(out):
                rows = out.get("results", {}).get("bridge_rows")
                if not out.get("ok"):
                    return f"ok=False: {str(out)[:300]}"
                return None if rows == bridge[op] else f"bridge_rows {rows} != {bridge[op]}"
            return f

        ingest_want = self._ingest_model()

        def ingest(b):
            def f(out):
                got = {k: out.get(k) for k in ingest_want[b]}
                return None if got == ingest_want[b] else f"summary {got} != model {ingest_want[b]}"
            return f

        kv = self.kv
        model = {int(k): (int(q), int(c)) for k, q, c in zip(kv.index, kv.qty, kv.cents)}
        store_want = {}
        for name, arg in self.store_plan:
            if name.startswith("store_merge_in"):
                n_new = sum(1 for k in arg["k"] if int(k) not in model)
                for k, q, c in zip(arg["k"], arg["qty"], arg["cents"]):
                    model[int(k)] = (int(q), int(c))
                store_want[name] = ("merge", n_new)
            elif name.startswith(("store_read_point", "store_read_in")):
                ks = [arg["k"]] if name.startswith("store_read_point") else arg["k"]
                store_want[name] = ("rows", sorted((k, *model[k]) for k in ks if k in model))
            else:
                store_want[name] = ("count", sum(1 for k in arg["k"] if k in model))
                for k in arg["k"]:
                    model.pop(k, None)
        final = [len(model), sum(q for q, _ in model.values()), sum(c for _, c in model.values())]

        def store_check(name):
            kind, value = store_want[name]

            def f(out):
                if kind == "rows":
                    return None if out == value else f"rows {out} != {value}"
                if kind == "count":
                    return None if out == value else f"deleted {out} != {value}"
                return None if isinstance(out, int) else f"merge_in returned {out!r}"
            return f

        checks = {
            "retail_pipeline": pipeline_ok,
            "facebook_seed": pipeline_ok,
            "facebook_incremental": pipeline_ok,
            "etl_sync": etl("etl_sync"),
            "etl_shrink": etl("etl_shrink"),
            "ingest_batch_1": ingest(0),
            "ingest_batch_2": ingest(1),
            "store_write": lambda out: None if isinstance(out, int) else f"write returned {out!r}",
            "store_read": lambda out: None if out == final else f"table summary {out} != {final}",
            "store_compact": lambda out: None if isinstance(out, dict) else f"compact returned {out!r}",
            "store_vacuum": lambda out: None,
        }
        checks.update({name: store_check(name) for name, _ in self.store_plan})
        return checks


def _rows(df) -> list:
    return sorted((int(r.k), int(r.qty), int(r.cents)) for r in df.select("k", "qty", "cents").collect())


def _kv_summary(df) -> list:
    from pyspark.sql import functions as F

    n, q, c = df.agg(F.count(F.lit(1)), F.sum("qty"), F.sum("cents")).collect()[0]
    return [int(n), int(q or 0), int(c or 0)]


WORKLOADS = {w.name: w for w in (WarehouseQueries, EtlPipelines)}

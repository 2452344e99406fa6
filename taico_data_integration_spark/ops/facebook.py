"""Facebook ads transform pipeline — the Spark restatement of the
reference's dbt model chain (entry point B, SURVEY.md §3.2):
include/dbt/models/taico/meta/fb_meta_ads_transformed.sql.

Stages (one declarative plan; each projection is one ``selectExpr`` of SQL
strings, the package's one expression form — llm.text module note — with
constants quoted through quoting.lit):
  cast/clean (comma-decimal money, numeric-as-string counts)
  -> computed-key LEFT join to campaigns (J2: concat('campaign_id_', substring(id, 4)))
  -> CASE mappings (media_type from objective, media_cluster from
     optimization_goal, fb_meta_ads_transformed.sql:42-51)
  -> deterministic row_number id (SURVEY.md §7.4 hazard 1)
  -> derived net costs (spend*0.9 / spend*0.8, :66-68).

The fixture adapters synthesize ads_insights/campaigns deterministically
from the events table so the whole chain is oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..quoting import lit

OBJECTIVE_TO_MEDIA_TYPE = {
    "CONVERSIONS": "Conversion Ad",
    "TRAFFIC": "Traffic Ad",
    "VIDEO_VIEWS": "Video Ad",
}
KNOWN_CLUSTERS = ("Classical", "CRM", "Digital")


def ads_insights_from_fixtures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ads_insights built from events: comma-decimal money
    strings, numeric-as-string counts, 'n/a' garbage on error events.

    No fan_out (measured, r12): the string synthesis alone wins from a
    fan-out (1.9 -> 1.1 s) but the full fb transform LOSES (+0.5 s) — the
    narrow id-mint pipeline downstream runs several sequential jobs
    (range-boundary sample, checkpoint+count, assignment) and each pays the
    extra exchange stage, which outweighs the parallel-synthesis gain."""
    e = load_table(spark, sf_dir, "events")
    # one selectExpr round trip instead of ~100 py4j calls per build
    return e.selectExpr(
        "concat('ad_', CAST(event_id AS STRING)) AS ad_id",
        "concat('campaign_id_', CAST(user_id % 50 AS STRING)) AS campaign_id",
        "date_format(ts, 'yyyy-MM-dd') AS date_start",
        "CASE WHEN event_type = 'purchase' THEN 'CONVERSIONS'"
        " WHEN event_type = 'click' THEN 'TRAFFIC'"
        " WHEN event_type = 'view' THEN 'VIDEO_VIEWS'"
        " ELSE 'BRAND_AWARENESS' END AS objective",
        "CAST(user_id % 100 AS STRING) AS clicks",
        "CAST(event_id % 1000 AS STRING) AS impressions",
        "CAST(user_id % 50 AS STRING) AS unique_clicks",
        "replace(CAST(value AS STRING), '.', ',') AS spend",
        "CASE WHEN event_type = 'error' THEN 'n/a'"
        " ELSE replace(CAST(value AS STRING), '.', ',') END AS conversion_values",
        "date_format(ts, 'yyyy-MM-dd HH:mm:ss') AS created_time",
        "concat('Account ', CAST(user_id % 5 AS STRING)) AS account_name",
        "CAST(user_id % 5 AS STRING) AS account_id",
        "element_at(array('Classical', 'CRM', 'Digital', 'Branding'),"
        " CAST(user_id % 4 AS INT) + 1) AS optimization_goal",
    )


def campaigns_from_fixtures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Campaign registry: id 'fb_<k>' whose suffix matches the ads'
    campaign key after the reference's substring(id, 4) computation."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.selectExpr("CAST(user_id % 50 AS STRING) AS k")
        .distinct()
        .selectExpr(
            "concat('fb_', k) AS id",
            "concat('Campaign ', k) AS name",
            "'ACTIVE' AS status",
            "'CONVERSIONS' AS objective",
        )
    )


def fb_ads_transform(ads: DataFrame, campaigns: DataFrame) -> DataFrame:
    """fb_meta_ads_transformed.sql restated. Returns the transformed media
    fact slice with a deterministic row_number id ordered by ad_id."""
    # CAST(replace(x, ',', '.') AS DOUBLE) is comma_decimal('x'); the CASE
    # chains are generated from OBJECTIVE_TO_MEDIA_TYPE / KNOWN_CLUSTERS.
    camp = campaigns.selectExpr(
        "concat('campaign_id_', substring(id, 4)) AS campaign_id",
        "name AS campaign_name",
    )
    cleaned = ads.selectExpr(
        "ad_id",
        "campaign_id",
        "to_date(date_start) AS date",
        "objective",
        "CAST(clicks AS INT) AS clicks",
        "CAST(impressions AS INT) AS impressions",
        "CAST(unique_clicks AS INT) AS `unique`",
        "CAST(replace(spend, ',', '.') AS DOUBLE) AS spend",
        "CAST(replace(conversion_values, ',', '.') AS DOUBLE) AS revenue",
        "to_timestamp(created_time) AS added_at",
        "account_name AS publisher",
        "account_id AS property",
        "optimization_goal",
    )
    media_type_sql = (
        "CASE "
        + " ".join(
            f"WHEN objective = {lit(k)} THEN {lit(v)}" for k, v in OBJECTIVE_TO_MEDIA_TYPE.items()
        )
        + " ELSE 'Other Ad' END"
    )
    cluster_list = ", ".join(lit(c) for c in KNOWN_CLUSTERS)
    media_cluster_sql = (
        f"CASE WHEN optimization_goal IN ({cluster_list}) THEN optimization_goal"
        " ELSE 'Other' END"
    )
    from .dims import mint_ids_distributed

    # The dbt model mints ids with an UNPARTITIONED row_number ordered by
    # ad_id (fb_meta_ads_transformed.sql). mint_ids_distributed produces the
    # SAME dense deterministic ids (ad_id is a unique key, string-ordered on
    # both engines) via range partitioning + per-partition numbering — no
    # single-partition sort anywhere in the plan, so the transform scales
    # past the reference's daily-batch assumption to arbitrary fact size.
    #
    # Mint over the NARROW key only (guide §2.3 "shuffle keys and metadata
    # instead of payloads"): the mint pipeline range-shuffles, checkpoints and
    # counts its input, so feeding it the full 17-column cleaned fact paid
    # those passes on every payload byte. The ad_id projection prunes the
    # scan to one column for all of that; the minted (ad_id, id) map is then
    # attached back with one equi-join — on the key the ids were derived
    # from, so the attachment cannot reintroduce a payload-wide range sort.
    wide = cleaned.join(F.broadcast(camp), "campaign_id", "left")
    # PRECONDITION (load-bearing, ADVICE r12 #1): ad_id must be unique and
    # non-null. Uniqueness is already the mint's order_cols contract (ids
    # are only deterministic on a unique key); with the narrow-key mint it
    # additionally guarantees row preservation — a duplicate ad_id would fan
    # the attach join out into duplicated rows, and a NULL ad_id row would be
    # dropped by the inner join (the old whole-row mint kept both). The
    # fixture mints ad_id as 'ad_' || event_id (unique, non-null); any new
    # ads source must provide the same or pre-deduplicate.
    ids, n_ids = mint_ids_distributed(
        ads.select("ad_id"), order_cols=["ad_id"], id_col="id", with_total=True
    )
    # Deliberate join-strategy pick (guide §3.1): the minted map is
    # checkpoint-backed, so the planner sees no stats and defaults to a
    # sort-merge join that re-shuffles the payload. mint already collected
    # the exact row count for its offsets — broadcast when the map is small
    # enough (key+long ≈ 50 MB at the cap), shuffle join beyond that (at
    # fact scale the map is fact-sized and broadcasting would be the bug).
    joined = wide.join(F.broadcast(ids) if n_ids <= 1_000_000 else ids, "ad_id")
    return joined.selectExpr(
        "id",
        "date",
        "'facebook' AS channel",
        "campaign_name AS campaign",
        "publisher",
        "property",
        f"{media_type_sql} AS media_type",
        f"{media_cluster_sql} AS media_cluster",
        "clicks",
        "impressions",
        "`unique`",
        "spend AS media_cost_eur",
        "revenue",
        "property AS owner",
        "added_at",
        # 0.9/0.8 parse as DECIMAL literals; double * decimal promotes the
        # literal to double — same tree as the previous lit(0.9) form.
        "spend * 0.9 AS net_media_cost",
        "spend * 0.8 AS net_net_media_cost",
    )

"""Quoting of names and constants in the SQL-string expression builders, and
a guard that keeps unquoted interpolation out of the package."""

from __future__ import annotations

import ast
import hashlib
from pathlib import Path

from pyspark.sql import Row

from taico_data_integration_spark.llm import text
from taico_data_integration_spark.ops import facebook
from taico_data_integration_spark.ops.transforms import SURROGATE_NULL, surrogate_key_sql
from taico_data_integration_spark.quoting import ident, lit

PACKAGE = Path(__file__).resolve().parents[1] / "taico_data_integration_spark"


def test_ident_and_lit_escape():
    assert ident("a`b") == "`a``b`"
    assert lit("l'") == "'l\\''"
    assert lit("a\\b") == "'a\\\\b'"


def test_stopword_with_quote_flows_through_language_builders(spark, monkeypatch):
    monkeypatch.setitem(text.STOPWORDS, "fr", [*text.STOPWORDS["fr"], "l'"])
    df = spark.createDataFrame(
        [Row(doc_id=1, text="l' l' l' chat"), Row(doc_id=2, text="the cat and the dog")]
    )
    staged = {r.doc_id: r.detected_lang for r in text.with_language(df, keep_cols=("doc_id",)).collect()}
    single = {
        r.doc_id: r.v
        for r in df.selectExpr("doc_id", f"{text.detect_language_sql('text')} AS v").collect()
    }
    assert staged == single == {1: "fr", 2: "en"}


def test_surrogate_key_over_backtick_column_matches_md5(spark):
    name = "we`ird"
    df = spark.createDataFrame([("x", None), ("y", "z")], [name, "b"])
    want = [
        hashlib.md5(f"x-{SURROGATE_NULL}".encode()).hexdigest(),
        hashlib.md5(b"y-z").hexdigest(),
    ]
    got = [r.k for r in df.selectExpr(f"{surrogate_key_sql(name, 'b')} AS k").collect()]
    assert got == want


def test_case_arm_with_quote_round_trips(spark, monkeypatch):
    monkeypatch.setattr(facebook, "OBJECTIVE_TO_MEDIA_TYPE", {"CONVERSIONS": "Buyer's Ad"})
    monkeypatch.setattr(facebook, "KNOWN_CLUSTERS", ("O'Brien",))
    ads = spark.createDataFrame(
        [
            Row(
                ad_id="ad_1", campaign_id="campaign_id_1", date_start="2024-01-02",
                objective="CONVERSIONS", clicks="3", impressions="10", unique_clicks="2",
                spend="1,50", conversion_values="2,00", created_time="2024-01-02 10:00:00",
                account_name="Account 1", account_id="1", optimization_goal="O'Brien",
            )
        ]
    )
    campaigns = spark.createDataFrame([Row(id="fb_1", name="Campaign 1")])
    row = facebook.fb_ads_transform(ads, campaigns).collect()[0]
    assert (row.media_type, row.media_cluster) == ("Buyer's Ad", "O'Brien")


# --- guard: no unquoted interpolation into Spark SQL ----------------------
#
# Flags an f-string piece ending in a backtick or a single quote right
# before a ``{...}`` field, i.e. a name or constant spliced into SQL text
# without quoting.ident / quoting.lit. DuckDB oracle SQL (the reference
# implementations the correctness gate compares against) is exempt: module
# constants named ``*_SQL``/``*_CTE`` and the oracle helpers listed below.

_ORACLE_HELPERS = {("queries/llm.py", "_hits_sql"), ("queries/retail.py", "_sk")}


def _unquoted_fields(tree: ast.AST) -> list[ast.JoinedStr]:
    hits = []
    for node in ast.walk(tree):
        if not isinstance(node, ast.JoinedStr):
            continue
        for prev, cur in zip(node.values, node.values[1:]):
            if (
                isinstance(prev, ast.Constant)
                and isinstance(prev.value, str)
                and prev.value.endswith(("`", "'"))
                and isinstance(cur, ast.FormattedValue)
            ):
                hits.append(node)
                break
    return hits


def _exempt_nodes(tree: ast.Module, rel: str) -> list[ast.stmt]:
    out: list[ast.stmt] = []
    for stmt in tree.body:
        if isinstance(stmt, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id.endswith(("_SQL", "_CTE")) for t in stmt.targets
        ):
            out.append(stmt)
        elif isinstance(stmt, ast.FunctionDef) and (rel, stmt.name) in _ORACLE_HELPERS:
            out.append(stmt)
    return out


def _violations() -> list[str]:
    found = []
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        if rel == "quoting.py":
            continue
        tree = ast.parse(path.read_text(), filename=str(path))
        exempt = {id(n) for stmt in _exempt_nodes(tree, rel) for n in _unquoted_fields(stmt)}
        found += [f"{rel}:{n.lineno}" for n in _unquoted_fields(tree) if id(n) not in exempt]
    return found


def test_no_unquoted_interpolation_into_spark_sql():
    assert _violations() == []


def test_guard_flags_an_unquoted_field():
    bad = ast.parse("expr = f\"coalesce(`{col}`, 'x')\"\nq = f\"a = '{v}'\"\nok = f\"{ident(c)}\"\n")
    assert [n.lineno for n in _unquoted_fields(bad)] == [1, 2]

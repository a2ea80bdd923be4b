"""Lookup table unit tests: JSON-file loading (reference table format),
registry miss/reload/stub semantics, sparse as-of edges, and literal-map
enrichment checked against a broadcast-join reference."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from rsyslog_spark.lookup import LookupRegistry, LookupTable, enrich_join
from rsyslog_spark.pipeline import ROLE_DIM, ROLE_SCHEMA, TOOL_DIM, TOOL_SCHEMA


def _probe(spark, col_expr, vals, typ="string"):
    df = spark.createDataFrame([(v,) for v in vals], f"k {typ}")
    return [r["out"] for r in df.select(col_expr.alias("out")).collect()]


class TestJsonFile:
    def test_reference_format(self, spark, tmp_path):
        # rsyslog lookup_table file shape (lookup.c:429-448)
        doc = {
            "version": 1,
            "nomatch": "unknown",
            "type": "string",
            "table": [
                {"index": "bash", "value": "exec"},
                {"index": "search", "value": "read"},
            ],
        }
        p = tmp_path / "tools.json"
        p.write_text(json.dumps(doc))
        t = LookupTable.from_json_file("tools", str(p))
        got = _probe(spark, t.lookup_expr(F.col("k")),
                     ["bash", "search", "nope"])
        assert got == ["exec", "read", "unknown"]


class TestRegistry:
    def test_missing_table_marker(self, spark):
        reg = LookupRegistry()
        got = _probe(spark, reg.lookup("nope", F.col("k")), ["x"])
        assert got == ["TABLE-NOT-FOUND"]

    def test_reload_and_stub(self, spark):
        reg = LookupRegistry().add(
            LookupTable("t", "string", {"a": "1"}, nomatch="nm")
        )
        reg.reload("t", LookupTable("t", "string", {"a": "2"}, nomatch="nm"))
        assert _probe(spark, reg.lookup("t", F.col("k")), ["a"]) == ["2"]
        # failed reload -> stubbed table returns the stub for every key
        # (lookup.h:28, lookupKey_stub lookup.c:306-309)
        reg.reload("t", None, stub="STUB")
        assert _probe(spark, reg.lookup("t", F.col("k")), ["a", "z"]) == [
            "STUB", "STUB"]


class TestSparseAsOf:
    def test_largest_leq_and_below_smallest(self, spark):
        t = LookupTable(
            "s", "sparseArray", {0: "low", 100: "mid", 500: "high"},
            nomatch="none",
        )
        got = _probe(
            spark, t.asof_expr(F.col("k")), [-5, 0, 99, 100, 499, 500, 10**9],
            typ="long",
        )
        assert got == ["none", "low", "low", "mid", "mid", "high", "high"]


def broadcast_enrich_join(fact, dim, on, nomatch=None):
    """Reference formulation of ``enrich_join``: a broadcast hash left
    equi-join against the dimension as a DataFrame, then the per-column
    nomatch defaults (lookup.h:95)."""
    out = fact.join(F.broadcast(dim), on=on, how="left")
    for col, default in (nomatch or {}).items():
        out = out.withColumn(col, F.coalesce(F.col(col), F.lit(default)))
    return out


class TestEnrichDifferential:
    """Literal-map enrichment equals the broadcast join, row for row and
    type for type, on the fixture with tool/role values rewritten to cover
    a null tool, an empty-string tool (a real key), and unknown keys."""

    @staticmethod
    def _fact(parsed):
        i = F.col("i")
        return parsed.withColumn(
            "tool",
            F.when(i % 7 == 0, F.lit(None).cast("string"))
            .when(i % 7 == 1, "")
            .when(i % 7 == 2, "no-such-tool")
            .otherwise(F.col("tool")),
        ).withColumn(
            "role",
            F.when(i % 5 == 0, "no-such-role")
            .when(i % 5 == 1, F.lit(None).cast("string"))
            .otherwise(F.col("role")),
        )

    @staticmethod
    def _both(spark, fact, tool_nomatch, role_nomatch):
        lit = enrich_join(fact, TOOL_DIM, TOOL_SCHEMA, nomatch=tool_nomatch)
        lit = enrich_join(lit, ROLE_DIM, ROLE_SCHEMA, nomatch=role_nomatch)
        ref = broadcast_enrich_join(
            fact, spark.createDataFrame(TOOL_DIM, TOOL_SCHEMA), "tool",
            tool_nomatch)
        ref = broadcast_enrich_join(
            ref, spark.createDataFrame(ROLE_DIM, ROLE_SCHEMA), "role",
            role_nomatch)
        return lit, ref

    def _assert_equal(self, lit, ref):
        # the join moves its key columns to the front; compare by name
        assert sorted(lit.dtypes) == sorted(ref.dtypes)
        cols = sorted(lit.columns)
        got = lit.select(cols).orderBy("i").collect()
        want = ref.select(cols).orderBy("i").collect()
        assert len(got) == len(want) == lit.count()
        assert got == want

    def test_flagship_nomatch(self, spark, parsed):
        fact = self._fact(parsed)
        lit, ref = self._both(spark, fact,
                              {"tool_class": "unknown", "risk": "0"},
                              {"sink_group": "unknown"})
        self._assert_equal(lit, ref)
        # risk keeps the coalesce's widened type
        assert dict(lit.dtypes)["risk"] == "bigint"
        seen = {
            (r["tool"], r["tool_class"], r["risk"])
            for r in lit.select("tool", "tool_class", "risk").collect()
        }
        assert (None, "unknown", 0) in seen
        assert ("", "none", 0) in seen
        assert ("no-such-tool", "unknown", 0) in seen
        roles = {
            (r["role"], r["sink_group"])
            for r in lit.select("role", "sink_group").collect()
        }
        assert ("no-such-role", "unknown") in roles
        assert (None, "unknown") in roles

    def test_without_nomatch_misses_are_null(self, spark, parsed):
        fact = self._fact(parsed)
        lit, ref = self._both(spark, fact, {"tool_class": "unknown"}, None)
        self._assert_equal(lit, ref)
        miss = lit.filter(F.col("tool") == "no-such-tool").select(
            "risk", "sink_group").distinct().collect()
        assert all(r["risk"] is None for r in miss)
        assert dict(lit.dtypes)["risk"] == "int"

"""Lookup tables — the engine's join operator (SURVEY §2.6).

Reference: runtime/lookup.c (1052 LoC), table types runtime/lookup.h:25-33.
Tables are small, in-memory, hot-reloadable dimension data; per-table
``nomatch`` default (lookup.h:95). The Spark-idiomatic mapping:

- ``string`` (exact hash/bsearch, lookup.c:312-328,448)  -> literal MAP
  probe in generated code (``literal_map``; no join, no broadcast).
- ``array``  (dense uint offset, lookup.c:330-349)        -> same.
- ``sparseArray`` (largest key <= lookup key, bsearch_lte,
  lookup.c:351-389) -> AS-OF lookup. Spark has no native as-of join; for
  the (tiny dim) x (huge fact) shape the right plan is NOT a range join
  (O(n*m) blowup) but a constant CASE chain — we compile the sorted
  boundaries into a ``width_bucket``-style expression so the probe stays
  in whole-stage codegen with zero shuffle.
- ``stubbed`` (lookup.h:28, lookupKey_stub :306-309)      -> lit(stub).
- multi-column dimensions (``enrich_join``) -> the same literal MAP.

``lookup(name, key)`` function semantics (rainerscript.c:2486-2528):
missing table -> "TABLE-NOT-FOUND"; no match -> table's nomatch value.
``reload_lookup_table`` (ruleset.c:551-569) ≙ re-reading the dimension
between batch runs — trivially supported because the dim is re-resolved
at pipeline compile time.
"""

from __future__ import annotations

import json

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

TABLE_NOT_FOUND = "TABLE-NOT-FOUND"


def literal_map(pairs) -> Column:
    """Constant MAP from ``(key, value)`` pairs (values may be Columns):
    the table lives in the plan, as the reference's in-process hash
    (lookup.c:429-448)."""
    return F.create_map(*[F.lit(x) for kv in pairs for x in kv])


class LookupTable:
    """One named lookup table (string / array / sparseArray / stubbed)."""

    def __init__(
        self,
        name: str,
        kind: str,
        mapping: dict | list[tuple] | None = None,
        nomatch: str = "",
        stub: str | None = None,
    ):
        if kind not in ("string", "array", "sparseArray", "stubbed"):
            raise ValueError(kind)
        self.name = name
        self.kind = kind
        self.nomatch = nomatch
        self.stub = stub
        if kind == "sparseArray":
            items = sorted(dict(mapping or {}).items())
            self.keys = [int(k) for k, _ in items]
            self.vals = [v for _, v in items]
        else:
            self.mapping = dict(mapping or {})

    @classmethod
    def from_json_file(cls, name: str, path: str, nomatch: str = ""):
        """Reference tables load from JSON files (lookup.c:429-448)."""
        with open(path) as fh:
            doc = json.load(fh)
        table = doc.get("table", doc)
        kind = doc.get("type", "string")
        mapping = {e["index"]: e["value"] for e in table} if isinstance(table, list) else table
        return cls(name, kind, mapping, nomatch=doc.get("nomatch", nomatch))

    # -- scalar-expression probes (broadcast-free, codegen'd) -------------

    def lookup_expr(self, key: Column) -> Column:
        """Compile ``lookup(name, key)`` into a constant-map probe."""
        if self.kind == "stubbed":
            return F.lit(self.stub if self.stub is not None else self.nomatch)
        if self.kind == "sparseArray":
            return self.asof_expr(key)
        if not self.mapping:
            return F.lit(self.nomatch)
        m = literal_map((str(k), v) for k, v in self.mapping.items())
        return F.coalesce(
            F.element_at(m, key.cast("string")), F.lit(self.nomatch)
        )

    def asof_expr(self, key: Column) -> Column:
        """sparseArray probe: value of the LARGEST entry key <= lookup key
        (bsearch_lte, lookup.c:351-389); below smallest -> nomatch."""
        if not self.keys:
            return F.lit(self.nomatch)
        k = key.cast("long")
        expr = F.lit(self.nomatch)
        # ascending CASE chain == binary-search result; constant-folded
        for kk, vv in zip(self.keys, self.vals):
            expr = F.when(k >= kk, F.lit(vv)).otherwise(expr)
        return expr


class LookupRegistry:
    """Named tables; missing table -> TABLE-NOT-FOUND
    (rainerscript.c:2506-2510)."""

    def __init__(self):
        self.tables: dict[str, LookupTable] = {}

    def add(self, table: LookupTable) -> "LookupRegistry":
        self.tables[table.name] = table
        return self

    def lookup(self, name: str, key: Column) -> Column:
        t = self.tables.get(name)
        if t is None:
            return F.lit(TABLE_NOT_FOUND)
        return t.lookup_expr(key)

    def reload(self, name: str, table: LookupTable | None, stub: str | None = None):
        """reload_lookup_table analog (ruleset.c:551-569): swap or stub."""
        if table is not None:
            self.tables[name] = table
        elif name in self.tables and stub is not None:
            old = self.tables[name]
            self.tables[name] = LookupTable(name, "stubbed", nomatch=old.nomatch, stub=stub)


def enrich_join(
    fact: DataFrame,
    rows: list[tuple],
    schema: str,
    nomatch: dict[str, str] | None = None,
) -> DataFrame:
    """Left equi-join enrichment by an in-memory dimension, compiled to
    ONE literal map ``key -> struct(values)``: no scan, broadcast or shuffle.

    ``rows`` are keyed by their first field, which matches the fact column
    of the same name; ``schema`` is their DDL (``"tool string, tool_class
    string, risk int"``). Misses are null, then ``nomatch`` fills
    per-column defaults (the reference's per-table nomatch, lookup.h:95)."""
    fields = [f.split(None, 1) for f in schema.split(",")]
    (key, key_type), values = fields[0], fields[1:]
    probe = F.element_at(literal_map(
        (F.lit(r[0]).cast(key_type),
         F.struct(*[F.lit(v).cast(t).alias(n) for v, (n, t) in zip(r[1:], values)]))
        for r in rows), F.col(key))
    out = fact.withColumns({n: probe[n] for n, _ in values})
    for col, default in (nomatch or {}).items():
        out = out.withColumn(col, F.coalesce(F.col(col), F.lit(default)))
    return out


def asof_enrich(
    fact: DataFrame,
    boundaries: list[tuple[int, str]],
    key: str | Column,
    out: str,
    nomatch: str = "",
) -> DataFrame:
    """As-of enrichment against a sorted boundary list (sparseArray).

    Compiled to a constant expression — O(log n) conceptually, O(n)
    CASE chain physically, but n is dim-size (tiny) and the fact side
    never shuffles. At 10^12 rows this is the only sane plan."""
    t = LookupTable("_asof", "sparseArray", dict(boundaries), nomatch=nomatch)
    k = F.col(key) if isinstance(key, str) else key
    return fact.withColumn(out, t.asof_expr(k))

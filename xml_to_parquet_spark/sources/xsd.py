"""XSD → Spark schema, with the reference's document-shaping rules.

The reference (convert_xml_to_parquet.py:86-144, 227) decodes XML against an
XSD via a custom xmlschema converter; we instead compile the XSD once on the
driver with Spark's own ``XSDToSchema`` (public Spark 4.x class,
org.apache.spark.sql.execution.datasources.xml.XSDToSchema), then rewrite
the resulting StructType to the reference's observable output shape:

  * attributes named ``<element>@<attr>`` and placed FIRST in each struct
    (reference: attr_prefix = local_name + "@", convert_xml_to_parquet.py:94;
    xmlschema emits attributes before child elements)
  * xs:decimal → double (json_decoder, convert_xml_to_parquet.py:41-42)
  * xs:date / xs:dateTime → string "yyyy-MM-dd HH:mm:ss.SSS"
    (convert_xml_to_parquet.py:43-44; golden README.md:120)
  * xs:integer family → long; field order = XSD document order
  * one top-level column named after the root element
    (convert_xml_to_parquet.py:141-144)

Compiling once on the driver fixes the reference's per-task XSD recompile
(convert_xml_to_parquet.py:272-274): at 100 TB / millions of files the
schema is a broadcast constant, not per-file work.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

ATTR_PREFIX = "_"  # Spark XML default attributePrefix
DATE_FMT = "yyyy-MM-dd HH:mm:ss.SSS"


class UnsupportedXsdType(ValueError):
    """Raised for XSD constructs the reference documents as unsupported
    (xs:union — README.md:22: 'A parquet column can only support a single
    data type')."""


def _check_no_union(xsd_text: str) -> None:
    # [\s/>] so the bare self-closing form `<xs:union/>` is also caught —
    # without the '/' it slipped past this guard to whatever downstream
    # error XSDToSchema produces instead of the clear message here
    if re.search(r"<(?:\w+:)?union[\s/>]", xsd_text):
        raise UnsupportedXsdType(
            "xs:union is not supported: a parquet column can only hold a single type"
        )


def load_xsd_struct(spark: SparkSession, xsd: str) -> T.StructType:
    """Compile XSD text (or a path to an .xsd file) to the raw Spark schema
    of all global elements, in XSD document order.

    An argument that is neither an existing file nor XSD text (markup
    starting with ``<``) raises ``FileNotFoundError`` naming the path,
    instead of reaching the XSD parser as malformed schema text."""
    if os.path.exists(xsd):
        with open(xsd) as fh:
            xsd = fh.read()
    elif not xsd.lstrip().startswith("<"):
        raise FileNotFoundError(f"XSD file not found: {xsd}")
    _check_no_union(xsd)
    jschema = spark._jvm.org.apache.spark.sql.execution.datasources.xml.XSDToSchema.read(xsd)
    return T.StructType.fromJson(_json_loads(jschema.json()))


def _json_loads(text: str):
    import json

    return json.loads(text)


def root_element(schema: T.StructType, root: str | None = None) -> tuple[str, T.DataType]:
    """Pick the document root element from the global-element schema.

    The reference discovers the root from the XML's first start event
    (convert_xml_to_parquet.py:196-201); statically we take the requested
    name, or the first global element with complex (struct) type.
    """
    if root is not None:
        for f in schema.fields:
            if f.name == root:
                return f.name, f.dataType
        raise KeyError(f"root element {root!r} not found in XSD")
    for f in schema.fields:
        if isinstance(f.dataType, T.StructType):
            return f.name, f.dataType
    # degenerate schema: single simple global element
    f = schema.fields[0]
    return f.name, f.dataType


def physical_type(dt: T.DataType) -> T.DataType:
    """Map XSD logical types to the reference's physical Parquet types.

    decimal(p,0) (xs:integer family) → long; decimal(p,s>0) (xs:decimal) →
    double; containers recurse. Dates/timestamps stay temporal at read time
    and are formatted to strings by ``rebuild_expr`` so Spark still parses
    the XML text natively.
    """
    if isinstance(dt, T.DecimalType):
        return T.LongType() if dt.scale == 0 else T.DoubleType()
    if isinstance(dt, T.StructType):
        return T.StructType(
            [T.StructField(f.name, physical_type(f.dataType), True) for f in dt.fields]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(physical_type(dt.elementType), True)
    return dt


# ---------------------------------------------------------------------------
# include/exclude path pruning (reference operators #6/#7,
# convert_xml_to_parquet.py:278-301 build, :196-224 apply)
# ---------------------------------------------------------------------------


def _split_paths(paths) -> list[tuple[str, ...]]:
    if not paths:
        return []
    if isinstance(paths, str):
        paths = paths.split(",")
    return [tuple(p for p in path.strip().split("/") if p) for path in paths]


def prune_schema(
    root_name: str,
    dt: T.DataType,
    includes,
    excludes,
) -> T.DataType:
    """Apply include/exclude path semantics to the root element's schema.

    Include path /a/b/c: keep the full subtree at c, plus — for every
    ancestor on the path — that ancestor's attributes but none of its other
    children (reference prunes non-active subtrees during iterparse while
    attributes of surviving elements are kept; golden README.md:168 keeps
    purchaseOrder@orderDate). Exclude path /a/b: drop the subtree at b
    (README.md:176-178). Excludes are applied after includes.

    Pruning the *schema* before the read is the Spark-native pushdown: the
    XML parser skips elements not in the schema, so — like the reference —
    pruned subtrees are never decoded.
    """
    inc = [p[1:] for p in _split_paths(includes) if p and p[0] == root_name]
    exc = [p[1:] for p in _split_paths(excludes) if p and p[0] == root_name]
    out = dt
    if inc:
        out = _apply_includes(out, inc)
    for e in exc:
        if e:
            out = _apply_exclude(out, e)
    return out


def _apply_includes(dt: T.DataType, paths: list[tuple[str, ...]]) -> T.DataType:
    """Keep attributes + the union of include paths."""
    if not isinstance(dt, (T.StructType, T.ArrayType)):
        return dt
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_apply_includes(dt.elementType, paths), True)
    fields = []
    for f in dt.fields:
        if f.name.startswith(ATTR_PREFIX):
            fields.append(f)
            continue
        hit = [p for p in paths if p and p[0] == f.name]
        if not hit:
            continue
        if any(len(p) == 1 for p in hit):
            fields.append(f)  # terminal include: whole subtree survives
        else:
            fields.append(
                T.StructField(f.name, _apply_includes(f.dataType, [p[1:] for p in hit]), True)
            )
    return T.StructType(fields)


def _apply_exclude(dt: T.DataType, path: tuple[str, ...]) -> T.DataType:
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_apply_exclude(dt.elementType, path), True)
    if not isinstance(dt, T.StructType):
        return dt
    fields = []
    for f in dt.fields:
        if f.name != path[0]:
            fields.append(f)
        elif len(path) > 1:
            fields.append(T.StructField(f.name, _apply_exclude(f.dataType, path[1:]), True))
        # len(path) == 1 and name matches → drop the field
    return T.StructType(fields)


# ---------------------------------------------------------------------------
# output-shape rebuild (reference §1.4 rules: attr rename+front, date→string)
# ---------------------------------------------------------------------------


def _field_expr(col: Column, dt: T.DataType, elem_name: str) -> Column:
    if isinstance(dt, (T.DateType, T.TimestampType)):
        return F.date_format(col, DATE_FMT)
    if isinstance(dt, T.StructType):
        return rebuild_expr(col, dt, elem_name)
    if isinstance(dt, T.ArrayType):
        inner = dt.elementType
        if isinstance(inner, (T.StructType, T.DateType, T.TimestampType)):
            return F.transform(col, lambda x: _field_expr(x, inner, elem_name))
        return col
    return col


def rebuild_expr(col: Column, dt: T.StructType, elem_name: str) -> Column:
    """Rebuild a struct column to the reference's output shape: attributes
    first (renamed ``elem@attr``), then elements in XSD order, temporal
    values formatted as strings. Pure Column expressions — stays inside
    whole-stage codegen, no UDFs."""
    attrs = []
    elems = []
    for f in dt.fields:
        child = col.getField(f.name)
        if f.name.startswith(ATTR_PREFIX):
            out_name = f"{elem_name}@{f.name[len(ATTR_PREFIX):]}"
            expr = child
            if isinstance(f.dataType, (T.DateType, T.TimestampType)):
                expr = F.date_format(child, DATE_FMT)
            attrs.append(expr.alias(out_name))
        else:
            elems.append(_field_expr(child, f.dataType, f.name).alias(f.name))
    return F.struct(*(attrs + elems))


def output_schema(dt: T.DataType, elem_name: str) -> T.DataType:
    """The schema ``rebuild_expr`` produces, for tests/documentation."""
    if isinstance(dt, (T.DateType, T.TimestampType)):
        return T.StringType()
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(output_schema(dt.elementType, elem_name), True)
    if not isinstance(dt, T.StructType):
        return dt
    attrs, elems = [], []
    for f in dt.fields:
        if f.name.startswith(ATTR_PREFIX):
            nm = f"{elem_name}@{f.name[len(ATTR_PREFIX):]}"
            t = (
                T.StringType()
                if isinstance(f.dataType, (T.DateType, T.TimestampType))
                else f.dataType
            )
            attrs.append(T.StructField(nm, t, True))
        else:
            elems.append(T.StructField(f.name, output_schema(f.dataType, f.name), True))
    return T.StructType(attrs + elems)


def xsd_to_spark_schema(
    spark: SparkSession,
    xsd: str,
    root: str | None = None,
    xpaths=None,
    excludepaths=None,
) -> tuple[str, T.DataType, T.DataType]:
    """Full pipeline: XSD → (root name, read schema, output schema).

    ``read schema`` is what we hand to ``spark.read.format("xml")`` (pruned,
    physical types, Spark ``_attr`` attribute names); ``output schema`` is
    the reference-parity shape after ``rebuild_expr``.
    """
    raw = load_xsd_struct(spark, xsd)
    name, dt = root_element(raw, root)
    dt = physical_type(dt)
    dt = prune_schema(name, dt, xpaths, excludepaths)
    return name, dt, output_schema(dt, name)

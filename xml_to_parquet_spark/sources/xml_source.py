"""XML → nested-Parquet conversion, Spark-first.

Reproduces the observable semantics of the reference pipeline
(convert_xml_to_parquet.py:159-539): each XML document becomes one row with
a single root-named struct column shaped per SURVEY.md §1.4 (attributes as
``elem@attr`` first, xs:decimal → double, dates → "yyyy-MM-dd HH:mm:ss.SSS"
strings, include/exclude path pruning pushed into the parse), optionally a
``file_info`` sibling struct (convert_xml_to_parquet.py:228-229), written to
Parquet with the reference's output naming (:489-508).

Scale design: one ``spark.read.format("xml")`` job covers millions of files
(each file is a split; Spark's XML reader is StAX-streaming per record, the
same O(document) memory as the reference's iterparse). Schema compiling
happens once on the driver, and so does the file index. The compat mode
(``convert``: one .parquet file per input, like the reference) is one read
and one partitioned write per call instead of 4 jobs per file: on 4 cores
that took the per-file step of ``perfbench`` ``conversion_mix`` (3 small
documents and one of 6000 items) from 1.95 to 0.72 CPU seconds, median of
10 runs. The scale path is ``convert_to_dataset`` — a single partitioned
parquet dataset keyed by source file.
"""

from __future__ import annotations

import glob
import hashlib
import logging
import os
import shutil
import tempfile
from typing import Iterable
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xml_to_parquet_spark.sources import containers as _containers
from xml_to_parquet_spark.sources.xsd import (
    DATE_FMT,
    load_xsd_struct,
    physical_type,
    prune_schema,
    rebuild_expr,
    root_element,
)

_logger = logging.getLogger(__name__)

_XML_OPTIONS = {
    # match reference semantics: empty element / empty text → null
    # (convert_xml_to_parquet.py:102-104)
    "nullValue": "",
    "attributePrefix": "_",
    "mode": "PERMISSIVE",
}


def _compile(spark, xsd, root, xpaths, excludepaths):
    raw = load_xsd_struct(spark, xsd)
    name, dt = root_element(raw, root)
    dt = physical_type(dt)
    dt = prune_schema(name, dt, xpaths, excludepaths)
    return name, dt


def _local_path(uri):
    """A file source's path URI (``file:/a%20b+c.xml``) as a local path
    (``/a b+c.xml``); ``url_decode`` alone would turn the literal ``+`` into
    a space."""
    return F.url_decode(
        F.regexp_replace(F.regexp_replace(uri, "^file:(//)?", ""), r"\+", "%2B")
    )


_NS_DECL_RE = r'''\s+xmlns(:[A-Za-z0-9_.-]+)?\s*=\s*("[^"]*"|'[^']*')'''
_NS_PREFIX_RE = r"(</?)[A-Za-z0-9_.-]+:"


def read_xml_documents(
    spark: SparkSession,
    paths: str | list[str],
    xsd: str,
    root: str | None = None,
    xpaths=None,
    excludepaths=None,
    file_info: bool = False,
    source_col: bool = False,
    strip_namespaces: bool = False,
    mode: str = "PERMISSIVE",
) -> DataFrame:
    """Read plain / .gz XML files (operators #1/#2) into reference-shaped
    rows: one row per file, single struct column named after the root
    element, plus ``file_info`` {filename, modified, size} when requested
    (convert_xml_to_parquet.py:386-393; .gz decompression is transparent via
    Hadoop codecs, :361-383).

    ``strip_namespaces=True`` reproduces the reference's namespace handling
    (tags split on '}', decode with process_namespaces=False —
    convert_xml_to_parquet.py:198, 227: all names become local names):
    documents are read whole-file as text, namespace declarations and
    prefixes removed, then parsed with ``from_xml`` against the same
    schema. Spark's rowTag path (the default) requires the root tag to
    match literally and keeps prefixed names.

    ``mode="DROPMALFORMED"`` drops a malformed document and also an
    unreadable file (a truncated ``.gz``) instead of failing the read:
    neither becomes a row. ``source_col`` adds ``_src``, the input's file
    name."""
    if isinstance(paths, str):
        paths = [paths]
    name, dt = _compile(spark, xsd, root, xpaths, excludepaths)
    options = {**_XML_OPTIONS, "mode": mode}
    read_options = {"ignoreCorruptFiles": "true"} if mode == "DROPMALFORMED" else {}
    if strip_namespaces:
        raw = spark.read.options(**read_options).text(paths, wholetext=True).select(
            F.regexp_replace(
                F.regexp_replace("value", _NS_DECL_RE, ""), _NS_PREFIX_RE, r"$1"
            ).alias("xml"),
            F.col("_metadata").alias("_metadata"),
        )
        df = raw.select(
            F.from_xml("xml", dt, options).alias("_doc"), "_metadata"
        ).select("_doc.*", "_metadata")
    else:
        reader = spark.read.format("xml").options(rowTag=name, **options, **read_options)
        df = reader.schema(dt).load(paths)
    cols = [rebuild_expr(F.struct(*[F.col(f.name) for f in dt.fields]), dt, name).alias(name)]
    file_name = F.element_at(F.split(_local_path(F.col("_metadata.file_path")), "/"), -1)
    if file_info:
        cols.append(
            F.struct(
                file_name.alias("filename"),
                F.date_format(F.col("_metadata.file_modification_time"), DATE_FMT).alias(
                    "modified"
                ),
                F.col("_metadata.file_size").alias("size"),
            ).alias("file_info")
        )
    if source_col:
        cols.append(file_name.alias("_src"))
    return df.select(*cols)


def read_xml_documents_stream(
    spark: SparkSession,
    path: str,
    xsd: str,
    root: str | None = None,
    xpaths=None,
    excludepaths=None,
) -> DataFrame:
    """Structured-Streaming variant of ``read_xml_documents``: watch a
    directory for arriving XML files and emit reference-shaped rows
    continuously (micro-batches). This is the continuous-ingestion upgrade
    of the reference's batch CLI loop (convert_xml_to_parquet.py:487-535):
    new files become new rows with exactly-once file tracking, and the
    same pruned explicit schema pushes include/exclude-path projection
    into the streaming parse.

    Returns a streaming DataFrame; pair with ``writeStream.format(
    "parquet")`` + checkpoint for an incremental conversion pipeline."""
    name, dt = _compile(spark, xsd, root, xpaths, excludepaths)
    df = (
        spark.readStream.format("xml")
        .options(rowTag=name, **_XML_OPTIONS)
        .schema(dt)
        .load(path)
    )
    return df.select(
        rebuild_expr(
            F.struct(*[F.col(f.name) for f in dt.fields]), dt, name
        ).alias(name)
    )


def read_xml_archives(
    spark: SparkSession,
    paths: str | list[str],
    xsd: str,
    kind: str,
    root: str | None = None,
    xpaths=None,
    excludepaths=None,
    file_info: bool = False,
    drop_malformed: bool = False,
    parse_parallelism: int | None = None,
) -> DataFrame:
    """Read XML members of tar.gz / zip archives (operators #3/#4) into
    reference-shaped rows. Extraction is distributed (binaryFile +
    mapInPandas); XML text is parsed JVM-side via ``from_xml``. Adds hidden
    ``_src``/``_member`` columns for per-member output naming.

    ``drop_malformed=True`` mirrors the reference's decode-error handling
    for archive members (convert_xml_to_parquet.py:231-236): a member whose
    XML fails to decode is dropped (from_xml under PERMISSIVE yields an
    all-null struct for it) instead of becoming an all-null row.

    ``parse_parallelism``: each archive is ONE binaryFile row, so without
    it a single huge archive extracts AND parses on one core. Setting it
    repartitions the extracted member text before ``from_xml``, paying one
    shuffle of raw text to spread the parse (the expensive part) across
    the cluster — the right trade whenever members-per-archive >> archives."""
    if isinstance(paths, str):
        paths = [paths]
    name, dt = _compile(spark, xsd, root, xpaths, excludepaths)
    members = _containers.expand_archives(spark, paths, kind)
    if parse_parallelism:
        members = members.repartition(parse_parallelism)
    parsed = members.withColumn(
        name, F.from_xml(F.col("xml"), dt, _XML_OPTIONS)
    )
    if drop_malformed:
        any_field = None
        for f in dt.fields:
            c = F.col(f"{name}.{f.name}").isNotNull()
            any_field = c if any_field is None else (any_field | c)
        parsed = parsed.filter(F.col(name).isNotNull() & any_field)
    cols = [rebuild_expr(F.col(name), dt, name).alias(name)]
    if file_info:
        info_fields = (
            _containers.TAR_INFO_SCHEMA if kind == "tar" else _containers.ZIP_INFO_SCHEMA
        )
        names = [c.split()[0] for c in info_fields.split(", ")]
        cols.append(F.struct(*[F.col(n) for n in names]).alias("file_info"))
    cols += [F.col("src").alias("_src"), F.col("member").alias("_member")]
    return parsed.select(*cols)


# ---------------------------------------------------------------------------
# conversion drivers (reference operators #11/#12/#13)
# ---------------------------------------------------------------------------


def _expand_inputs(inputs: Iterable[str]) -> list[str]:
    """Glob-expand + dedupe, like the reference driver
    (convert_xml_to_parquet.py:464-475)."""
    if isinstance(inputs, str):
        inputs = [inputs]
    out: set[str] = set()
    for pattern in inputs:
        matches = glob.glob(pattern)
        out.update(matches if matches else [pattern])
    return sorted(out)


def output_base(input_file: str, target_path: str | None = None) -> str:
    """Reference output naming (convert_xml_to_parquet.py:489-508): strip
    .gz/.tar/.zip/.xml suffixes in order, then resolve against target dir
    (or the input's own dir)."""
    path, base = os.path.split(os.path.realpath(input_file))
    for suffix in (".gz", ".tar", ".zip", ".xml"):
        if base.endswith(suffix):
            base = base[: -len(suffix)]
    return os.path.join(target_path or path, base)


class ConvertResult(list):
    """``convert``'s output files; ``skipped`` lists the inputs that were not
    wholly converted: no output, or an archive member that was not written."""

    skipped: list[str]


def convert(
    spark: SparkSession,
    inputs: Iterable[str],
    xsd: str,
    target_path: str | None = None,
    root: str | None = None,
    xpaths=None,
    excludepaths=None,
    file_info: bool = False,
    delete_xml: bool = False,
) -> ConvertResult:
    """Reference-compatible conversion driver: one .parquet file per input
    XML (or per archive member), same naming as convert_xml_to_parquet.py.
    Returns the output files written. Inputs that produce none (malformed,
    unreadable or missing) are logged and skipped, as the reference does
    (:231-236); so is an archive with a member that could not be written,
    though its other members are kept. ``delete_xml`` removes only inputs
    that were not skipped.

    The reference's multiprocess pool (operator #12, :477-485, :510-524)
    becomes Spark's scheduler, and the cost is per call, not per file: each
    input kind (plain/.gz, tar.gz, zip) is one read and one write
    partitioned by input (and member) into a staging directory (under
    ``target_path``, else beside the inputs); each partition's single part
    file is then renamed to its reference name. A failed batch is logged
    and the call returns what it wrote.
    """
    if target_path and not os.path.isdir(target_path):
        raise FileNotFoundError(f"invalid target_path: {target_path}")
    files = sorted({os.path.abspath(f) for f in _expand_inputs(inputs)})
    _logger.info("Processing %d files", len(files))
    batches: dict[str, list[str]] = {}
    for f in filter(os.path.isfile, files):
        kind = "tar" if f.endswith(".tar.gz") else "zip" if f.endswith(".zip") else "xml"
        batches.setdefault(kind, []).append(f)
    outputs: dict[str, list[str]] = {}
    failed: set[str] = set()
    for kind, batch in batches.items():
        staging_dir = target_path or os.path.dirname(batch[0])
        try:
            with tempfile.TemporaryDirectory(prefix="xml2pq_", dir=staging_dir) as staging:
                _convert_batch(spark, kind, batch, staging, outputs, failed, xsd,
                               target_path, root, xpaths, excludepaths, file_info)
        except Exception:  # reference swallows errors and logs (:231-236)
            _logger.exception("failed to convert %d %s inputs", len(batch), kind)
    result = ConvertResult(out for f in files for out in outputs.get(f, []))
    result.skipped = [f for f in files if f not in outputs or f in failed]
    for f in result.skipped:
        _logger.error("skipping %s: not converted", f)
    if delete_xml:
        for f in outputs.keys() - failed:
            os.remove(f)
    return result


def _convert_batch(spark, kind, batch, staging, outputs, failed, xsd, target_path, *read_args):
    """One read and one write of every input of one kind; the partition key
    is the md5 of the input's local path, which the driver computes too.
    Adds each written file to ``outputs[input]``, and to ``failed`` each
    input with an output that could not be moved into place."""
    if kind == "xml":
        df = read_xml_documents(spark, batch, xsd, *read_args, mode="DROPMALFORMED")
        keys, uri = ["_path"], F.col("_metadata.file_path")
    else:
        df = read_xml_archives(spark, batch, xsd, kind, *read_args, drop_malformed=True)
        keys, uri = ["_src", "_member"], F.col("_src")
    df = df.withColumn(keys[0], F.md5(_local_path(uri)))
    df.write.mode("overwrite").partitionBy(*keys).parquet(staging)
    by_key = {hashlib.md5(os.fsencode(f)).hexdigest(): f for f in batch}
    for part in sorted(glob.glob(os.path.join(staging, *["*"] * len(keys), "*.parquet"))):
        key, *member = [
            unquote(d.split("=", 1)[1]) for d in os.path.relpath(part, staging).split(os.sep)[:-1]
        ]
        src = by_key[key]
        base = output_base(src, target_path)
        if member:
            out = f"{base}.{member[0]}.parquet"
        elif src.endswith(".gz"):
            out = f"{base}.{os.path.basename(src)[:-3]}.parquet"
        else:
            out = f"{base}.xml.parquet"
        try:
            shutil.move(part, out)
        except OSError:  # e.g. a member in a sub-directory of the archive
            _logger.exception("failed to write %s", out)
            failed.add(src)
            continue
        outputs.setdefault(src, []).append(out)


def convert_to_dataset(
    spark: SparkSession,
    inputs: Iterable[str],
    xsd: str,
    target: str,
    root: str | None = None,
    xpaths=None,
    excludepaths=None,
    file_info: bool = False,
) -> None:
    """Scale path: ONE Spark job converts every input into a single
    partitioned parquet dataset (source file recorded as a column). This is
    the shape you want at 100 TB — a million tiny per-file parquet outputs
    is an anti-pattern; a partitioned dataset keeps file counts sane and
    lets downstream reads prune by source. Malformed and unreadable inputs
    become no row, as ``convert`` skips them."""
    files = _expand_inputs(inputs)
    df = read_xml_documents(
        spark, files, xsd, root, xpaths, excludepaths, file_info, source_col=True,
        mode="DROPMALFORMED",
    )
    df.write.mode("overwrite").parquet(target)


def convert_archives_to_dataset(
    spark: SparkSession,
    inputs: Iterable[str],
    xsd: str,
    kind: str,
    target: str,
    root: str | None = None,
    xpaths=None,
    excludepaths=None,
    file_info: bool = False,
    parse_parallelism: int | None = None,
) -> None:
    """Scale path for archives: ONE Spark job expands every tar.gz/zip
    member (executor-side, binaryFile + mapInPandas — no driver loop, no
    per-member collect) and writes a single parquet dataset with the
    source archive and member name as columns: a 100k-member archive set
    converts with zero driver round-trips, and downstream reads can filter
    on _src/_member with ordinary predicates. For few-archives/many-members
    inputs pass ``parse_parallelism`` to spread the XML parse across cores
    (see ``read_xml_archives``)."""
    files = _expand_inputs(inputs)
    df = read_xml_archives(
        spark, files, xsd, kind, root, xpaths, excludepaths, file_info,
        drop_malformed=True, parse_parallelism=parse_parallelism,
    ).withColumn("_src", F.element_at(F.split(_local_path(F.col("_src")), "/"), -1))
    df.write.mode("overwrite").parquet(target)

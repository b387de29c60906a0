"""Distributed tar.gz / zip container expansion (reference operators #3/#4,
convert_xml_to_parquet.py:303-359).

The reference iterates archive members in-process; Spark-first, we read the
archives as ``binaryFile`` rows and expand members inside ``mapInPandas``,
so at 100 TB each archive is one task and extraction runs on executors with
no driver involvement. Corrupt zips are skipped with a log, matching the
reference's ``testzip()`` guard (convert_xml_to_parquet.py:331-333); a
corrupt or truncated tar.gz is skipped the same way.
"""

from __future__ import annotations

import io
import logging
import os
import tarfile
import zlib
from collections.abc import Iterator
from zipfile import BadZipFile, ZipFile

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

_logger = logging.getLogger(__name__)

# member metadata fields, matching the reference's file_info dicts:
# tar: TarInfo.get_info() + {"tarfile": basename}  (convert_xml_to_parquet.py:310-314)
# zip: {filename, date_time, compress_size, zipfile} (convert_xml_to_parquet.py:339-347)
TAR_INFO_SCHEMA = (
    "name string, mode bigint, uid bigint, gid bigint, size bigint, mtime bigint, "
    "chksum bigint, type string, linkname string, uname string, gname string, "
    "devmajor bigint, devminor bigint, tarfile string"
)
ZIP_INFO_SCHEMA = (
    "filename string, date_time array<int>, compress_size bigint, zipfile string"
)

_MEMBER_COLS = ["src", "member", "xml"]


def _expand_tar(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in it:
        rows = []
        for path, content in zip(pdf["path"], pdf["content"]):
            try:
                rows += _tar_members(path, content)
            except (tarfile.TarError, EOFError, OSError, zlib.error):
                _logger.info("Tar File is Corrupt:%s", path)
        yield pd.DataFrame(
            rows,
            columns=_MEMBER_COLS
            + [c.split()[0] for c in TAR_INFO_SCHEMA.split(", ")],
        )


def _tar_members(path: str, content: bytes) -> list[dict]:
    """Every file member of one tar archive; raises on a corrupt archive, so
    a truncated one gives no rows at all, like a corrupt zip."""
    base = os.path.basename(path)
    rows = []
    with tarfile.open(fileobj=io.BytesIO(bytes(content)), mode="r") as tf:
        for member in tf.getmembers():
            if not member.isfile():
                continue
            info = member.get_info()
            fh = tf.extractfile(member)
            rows.append(
                {
                    "src": path,
                    "member": member.name,
                    "xml": fh.read().decode("utf-8", errors="replace"),
                    "name": info["name"],
                    "mode": info["mode"],
                    "uid": info["uid"],
                    "gid": info["gid"],
                    "size": info["size"],
                    "mtime": int(info["mtime"]),
                    "chksum": info["chksum"],
                    "type": (
                        info["type"].decode()
                        if isinstance(info["type"], bytes)
                        else str(info["type"])
                    ),
                    "linkname": info["linkname"],
                    "uname": info["uname"],
                    "gname": info["gname"],
                    "devmajor": info["devmajor"],
                    "devminor": info["devminor"],
                    "tarfile": base,
                }
            )
    return rows


def _expand_zip(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in it:
        rows = []
        for path, content in zip(pdf["path"], pdf["content"]):
            base = os.path.basename(path)
            try:
                zf = ZipFile(io.BytesIO(bytes(content)), "r")
                if zf.testzip():
                    _logger.info("Zip File is Corrupt:%s", path)
                    continue
            except BadZipFile:
                _logger.info("Zip File is Corrupt:%s", path)
                continue
            for zi in zf.infolist():
                if zi.is_dir():
                    continue
                with zf.open(zi.filename) as fh:
                    rows.append(
                        {
                            "src": path,
                            "member": zi.filename,
                            "xml": fh.read().decode("utf-8", errors="replace"),
                            "filename": zi.filename,
                            "date_time": list(zi.date_time),
                            "compress_size": zi.compress_size,
                            "zipfile": base,
                        }
                    )
        yield pd.DataFrame(
            rows,
            columns=_MEMBER_COLS
            + [c.split()[0] for c in ZIP_INFO_SCHEMA.split(", ")],
        )


def expand_archives(spark: SparkSession, paths: list[str], kind: str) -> DataFrame:
    """Read tar/zip archives distributed; returns one row per member with
    columns (src, member, xml, <file_info fields>)."""
    binary = spark.read.format("binaryFile").load(paths)
    if kind == "tar":
        fn, info_schema = _expand_tar, TAR_INFO_SCHEMA
    elif kind == "zip":
        fn, info_schema = _expand_zip, ZIP_INFO_SCHEMA
    else:
        raise ValueError(f"unknown archive kind {kind!r}")
    schema = f"src string, member string, xml string, {info_schema}"
    return binary.select("path", "content").mapInPandas(fn, schema=schema)

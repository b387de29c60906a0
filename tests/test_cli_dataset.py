"""CLI scale-path surface (VERDICT r3 #7 / r4 #6): ``--dataset`` converts
many inputs — including multi-member archives — into ONE partitioned
parquet dataset in one Spark job, instead of the reference-compat
one-parquet-per-input loop.
"""

from __future__ import annotations

import io
import shutil
import tarfile

from tests.conftest import REF_XML, REF_XSD
from xml_to_parquet_spark.cli import _detect_archive_format, build_parser, main


def _make_tar(path, n=5):
    body = open(REF_XML, "rb").read()
    with tarfile.open(path, "w:gz") as tf:
        for i in range(n):
            ti = tarfile.TarInfo(name=f"po_{i}.xml")
            ti.size = len(body)
            tf.addfile(ti, io.BytesIO(body))


def test_detect_archive_format():
    assert _detect_archive_format(["a/b.tar.gz"]) == "tar"
    assert _detect_archive_format(["x.TGZ"]) == "tar"
    assert _detect_archive_format(["x.zip"]) == "zip"
    assert _detect_archive_format(["x.xml", "y.xml"]) is None


def test_parser_accepts_dataset_flags():
    args = build_parser().parse_args(
        ["-x", REF_XSD, "--dataset", "/tmp/out", "--archive-format", "tar",
         "--parse-parallelism", "8", "in.tar.gz"]
    )
    assert args.dataset == "/tmp/out"
    assert args.archive_format == "tar"
    assert args.parse_parallelism == 8
    assert args.input_files == ["in.tar.gz"]


def test_cli_dataset_from_archive(spark, tmp_path):
    """--dataset on a multi-member tar.gz → one dataset, one row per
    member, executor-side expansion (format auto-detected)."""
    tar = tmp_path / "batch.tar.gz"
    out = tmp_path / "ds"
    _make_tar(str(tar), n=5)
    rc = main(
        ["-x", REF_XSD, "--dataset", str(out), "--parse-parallelism", "4",
         str(tar)]
    )
    assert rc == 0
    df = spark.read.parquet(str(out))
    assert df.count() == 5
    assert "purchaseOrder" in df.columns or any(
        c.startswith("purchaseOrder") for c in df.columns
    )


def test_cli_dataset_from_plain_xml(spark, tmp_path):
    """--dataset on plain .xml inputs routes to convert_to_dataset."""
    src = tmp_path / "in"
    out = tmp_path / "ds"
    src.mkdir()
    for i in range(3):
        shutil.copy(REF_XML, src / f"{i}.xml")
    rc = main(["-x", REF_XSD, "--dataset", str(out), str(src / "*.xml")])
    assert rc == 0
    assert spark.read.parquet(str(out)).count() == 3


def test_detect_mixed_batch_errors():
    """Mixed --dataset batches must fail on the driver with a clear
    message (ADVICE r5), never route uniformly to one archive reader."""
    import pytest

    with pytest.raises(SystemExit, match="mix file kinds"):
        _detect_archive_format(["a.tar.gz", "b.zip"])
    with pytest.raises(SystemExit, match="mix file kinds"):
        _detect_archive_format(["a.tar.gz", "plain.xml"])
    # uniform batches unchanged
    assert _detect_archive_format(["a.zip", "b.ZIP"]) == "zip"
    assert _detect_archive_format(["a.tgz", "b.tar.gz", "c.tar"]) == "tar"

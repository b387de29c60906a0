"""Golden parity tests for the XML→Parquet conversion surface.

Golden rows are the reference's documented outputs (its README.md:120,
:168, :178) — the de-facto golden files per SURVEY.md §5. The input pair
is the vendored W3C Primer purchase order in ``tests/fixtures/``
(FIXTURES.md §F1).
"""

import gzip
import json
import logging
import os
import shutil
import tarfile
import uuid
import zipfile

import pytest
from pyspark.sql import functions as F

from tests.conftest import REF_XML, REF_XSD
from xml_to_parquet_spark import convert, read_xml_documents
from xml_to_parquet_spark.sources.xml_source import output_base, read_xml_archives
from xml_to_parquet_spark.sources.xsd import UnsupportedXsdType, load_xsd_struct

GOLDEN_FULL = json.loads(
    '{"purchaseOrder":{"purchaseOrder@orderDate":"1999-10-20 00:00:00.000",'
    '"shipTo":{"shipTo@country":"US","name":"Alice Smith","street":"123 Maple Street",'
    '"city":"Mill Valley","state":"CA","zip":90952.0},'
    '"billTo":{"billTo@country":"US","name":"Robert Smith","street":"8 Oak Avenue",'
    '"city":"Old Town","state":"PA","zip":95819.0},'
    '"comment":"Hurry, my lawn is going wild!",'
    '"items":{"item":[{"item@partNum":"872-AA","productName":"Lawnmower","quantity":1,'
    '"USPrice":148.95,"comment":"Confirm this is electric","shipDate":null},'
    '{"item@partNum":"926-AA","productName":"Baby Monitor","quantity":1,"USPrice":39.98,'
    '"comment":null,"shipDate":"1999-05-21 00:00:00.000"}]}}}'
)
GOLDEN_INCLUDE = {
    "purchaseOrder": {
        "purchaseOrder@orderDate": GOLDEN_FULL["purchaseOrder"]["purchaseOrder@orderDate"],
        "items": GOLDEN_FULL["purchaseOrder"]["items"],
    }
}
GOLDEN_EXCLUDE = {
    "purchaseOrder": {
        k: v
        for k, v in GOLDEN_FULL["purchaseOrder"].items()
        if k not in ("comment", "items")
    }
}


def _row_json(df):
    return json.loads(
        df.select(F.to_json(F.struct("*"), {"ignoreNullFields": "false"}).alias("j"))
        .collect()[0]["j"]
    )


def test_full_convert_matches_reference_golden(spark):
    df = read_xml_documents(spark, REF_XML, REF_XSD)
    assert _row_json(df) == GOLDEN_FULL


def test_include_path_matches_reference_golden(spark):
    df = read_xml_documents(spark, REF_XML, REF_XSD, xpaths="/purchaseOrder/items/item")
    assert _row_json(df) == GOLDEN_INCLUDE


def test_exclude_paths_match_reference_golden(spark):
    df = read_xml_documents(
        spark, REF_XML, REF_XSD, excludepaths="/purchaseOrder/comment,/purchaseOrder/items"
    )
    assert _row_json(df) == GOLDEN_EXCLUDE


def test_output_parquet_schema(spark):
    df = read_xml_documents(spark, REF_XML, REF_XSD)
    root = df.schema["purchaseOrder"].dataType
    assert [f.name for f in root.fields] == [
        "purchaseOrder@orderDate",
        "shipTo",
        "billTo",
        "comment",
        "items",
    ]
    ship = root["shipTo"].dataType
    assert [f.name for f in ship.fields] == ["shipTo@country", "name", "street", "city", "state", "zip"]
    assert ship["zip"].dataType.simpleString() == "double"
    item = root["items"].dataType["item"].dataType.elementType
    assert [f.name for f in item.fields] == [
        "item@partNum",
        "productName",
        "quantity",
        "USPrice",
        "comment",
        "shipDate",
    ]
    assert item["quantity"].dataType.simpleString() == "bigint"
    assert item["shipDate"].dataType.simpleString() == "string"


def test_empty_element_becomes_null(spark, tmp_path):
    xml = open(REF_XML).read().replace(
        "<comment>Hurry, my lawn is going wild!</comment>", "<comment/>"
    )
    p = tmp_path / "empty.xml"
    p.write_text(xml)
    df = read_xml_documents(spark, str(p), REF_XSD)
    row = _row_json(df)
    assert row["purchaseOrder"]["comment"] is None


def test_multi_file_read_one_row_each(spark, tmp_path):
    for i in range(3):
        shutil.copy(REF_XML, tmp_path / f"{i}.xml")
    df = read_xml_documents(spark, str(tmp_path / "*.xml"), REF_XSD)
    assert df.count() == 3


def test_gzip_input(spark, tmp_path):
    gz = tmp_path / "PurchaseOrder.xml.gz"
    with open(REF_XML, "rb") as fin, gzip.open(gz, "wb") as fout:
        fout.write(fin.read())
    df = read_xml_documents(spark, str(gz), REF_XSD)
    assert _row_json(df) == GOLDEN_FULL


def test_zip_archive(spark, tmp_path):
    zp = tmp_path / "orders.zip"
    with zipfile.ZipFile(zp, "w") as zf:
        zf.write(REF_XML, "a.xml")
        zf.write(REF_XML, "b.xml")
    df = read_xml_archives(spark, str(zp), REF_XSD, "zip", file_info=True)
    rows = df.orderBy("_member").collect()
    assert len(rows) == 2
    assert rows[0]["_member"] == "a.xml"
    fi = rows[0]["file_info"].asDict()
    assert fi["filename"] == "a.xml"
    assert fi["zipfile"] == "orders.zip"
    doc = json.loads(
        df.filter(F.col("_member") == "a.xml")
        .select(F.to_json(F.struct("purchaseOrder"), {"ignoreNullFields": "false"}))
        .collect()[0][0]
    )
    assert doc == GOLDEN_FULL


def test_tar_archive(spark, tmp_path):
    tp = tmp_path / "orders.tar.gz"
    with tarfile.open(tp, "w:gz") as tf:
        tf.add(REF_XML, "x.xml")
        tf.add(REF_XML, "y.xml")
    df = read_xml_archives(spark, str(tp), REF_XSD, "tar", file_info=True)
    rows = df.orderBy("_member").collect()
    assert len(rows) == 2
    assert rows[0]["file_info"]["tarfile"] == "orders.tar.gz"


def test_corrupt_zip_skipped(spark, tmp_path):
    bad = tmp_path / "bad.zip"
    bad.write_bytes(b"PK\x03\x04 this is not really a zip file")
    df = read_xml_archives(spark, str(bad), REF_XSD, "zip")
    assert df.count() == 0


def test_union_xsd_rejected(spark, tmp_path):
    xsd = """<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">
      <xs:element name="r"><xs:simpleType><xs:union memberTypes="xs:int xs:string"/>
      </xs:simpleType></xs:element></xs:schema>"""
    p = tmp_path / "u.xsd"
    p.write_text(xsd)
    with pytest.raises(UnsupportedXsdType):
        load_xsd_struct(spark, str(p))
    # the bare self-closing spelling must hit the SAME clear guard, not
    # whatever XSDToSchema does downstream
    bare = """<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">
      <xs:element name="r"><xs:simpleType><xs:union/>
      </xs:simpleType></xs:element></xs:schema>"""
    p2 = tmp_path / "u2.xsd"
    p2.write_text(bare)
    with pytest.raises(UnsupportedXsdType):
        load_xsd_struct(spark, str(p2))
    # a missing path is reported as such, not parsed as XSD text
    with pytest.raises(FileNotFoundError, match="no_such.xsd"):
        load_xsd_struct(spark, str(tmp_path / "no_such.xsd"))


def test_output_naming():
    assert output_base("/a/b/PurchaseOrder.xml", "/t").endswith("/t/PurchaseOrder")
    assert output_base("/a/x.xml.gz", "/t").endswith("/t/x")
    assert output_base("/a/x.tar.gz", "/t").endswith("/t/x")
    assert output_base("/a/x.zip", "/t").endswith("/t/x")


def test_convert_writes_one_parquet_per_input(spark, tmp_path):
    src = tmp_path / "in"
    out = tmp_path / "out"
    src.mkdir()
    out.mkdir()
    for i in range(2):
        shutil.copy(REF_XML, src / f"{i}.xml")
    written = convert(spark, str(src / "*.xml"), REF_XSD, target_path=str(out))
    assert sorted(os.path.basename(w) for w in written) == ["0.xml.parquet", "1.xml.parquet"]
    back = spark.read.parquet(written[0])
    assert _row_json(back) == GOLDEN_FULL


def test_file_info_plain(spark):
    df = read_xml_documents(spark, REF_XML, REF_XSD, file_info=True)
    fi = df.select("file_info").collect()[0][0].asDict()
    assert fi["filename"] == "PurchaseOrder.xml"
    assert fi["size"] == os.path.getsize(REF_XML)


def test_large_document_many_items(spark, tmp_path):
    """Reference claim: O(document)-memory streaming parse handles very
    large files (README.md:14, block_size knob README.md:24). Build a
    ~4 MB purchase order with 20k items and convert it — row count 1,
    items list complete and order-preserved."""
    head, tail = open(REF_XML).read().split("<items>")
    item = """
    <item partNum="%05d-AB"><productName>Widget %d</productName>
      <quantity>%d</quantity><USPrice>%d.99</USPrice></item>"""
    n = 20000
    big = head + "<items>" + "".join(item % (i, i, (i % 9) + 1, i) for i in range(n)) + "</items></purchaseOrder>"
    p = tmp_path / "big.xml"
    p.write_text(big)
    df = read_xml_documents(spark, str(p), REF_XSD)
    assert df.count() == 1
    items = df.select(
        F.size("purchaseOrder.items.item").alias("n"),
        F.col("purchaseOrder.items.item")[0]["item@partNum"].alias("first"),
        F.col("purchaseOrder.items.item")[n - 1]["productName"].alias("last"),
    ).collect()[0]
    assert items["n"] == n
    assert items["first"] == "00000-AB"
    assert items["last"] == f"Widget {n - 1}"


def test_malformed_xml_skipped_not_written(spark, tmp_path):
    """Reference behavior for undecodable XML: log the error, skip the
    file, write NOTHING (convert_xml_to_parquet.py:231-236) — not an
    all-null parquet."""
    bad = tmp_path / "bad.xml"
    bad.write_text("<purchaseOrder><unclosed>")
    out = tmp_path / "out"
    out.mkdir()
    written = convert(spark, [str(bad)], REF_XSD, target_path=str(out))
    assert written == []
    assert list(out.iterdir()) == []


def test_wildcard_include_path_caveat(spark):
    """SURVEY.md §2.1 include-path `*` caveat: the reference CLI advertises
    `/path/include/*` but a trailing `*` is treated as an ordinary path
    component that matches no real tag, so only the ancestor chain survives
    with an EMPTY subtree (convert_xml_to_parquet.py:283-292) — while a
    plain path keeps its whole subtree. We reproduce the observable
    behavior and document it here rather than silently 'fixing' it."""
    df = read_xml_documents(
        spark, REF_XML, REF_XSD, xpaths="/purchaseOrder/items/*"
    )
    doc = _row_json(df)["purchaseOrder"]
    assert doc["items"] == {}  # ancestor survives, subtree empty
    assert doc["purchaseOrder@orderDate"] is not None  # attrs kept
    assert "shipTo" not in doc  # non-included siblings pruned
    # contrast: the plain path keeps the full subtree (golden README:168)
    full = read_xml_documents(
        spark, REF_XML, REF_XSD, xpaths="/purchaseOrder/items/item"
    )
    assert _row_json(full) == GOLDEN_INCLUDE


def test_malformed_gz_skipped_not_written(spark, tmp_path):
    """A malformed .gz input must hit the same log-and-skip path as plain
    .xml (convert_xml_to_parquet.py:231-236), not produce an all-null
    parquet."""
    bad = tmp_path / "bad.xml.gz"
    with gzip.open(bad, "wt") as fh:
        fh.write("<purchaseOrder><unclosed>")
    out = tmp_path / "out"
    out.mkdir()
    written = convert(spark, [str(bad)], REF_XSD, target_path=str(out))
    assert written == []
    assert list(out.iterdir()) == []


def test_malformed_archive_member_skipped(spark, tmp_path):
    """An undecodable member inside a zip is dropped (reference skips the
    failing decode, convert_xml_to_parquet.py:231-236); good members still
    convert."""
    zp = tmp_path / "mixed.zip"
    with zipfile.ZipFile(zp, "w") as zf:
        zf.write(REF_XML, "good.xml")
        zf.writestr("bad.xml", "this is not xml at all <<<>>>")
    out = tmp_path / "out"
    out.mkdir()
    written = convert(spark, [str(zp)], REF_XSD, target_path=str(out))
    assert len(written) == 1
    assert written[0].endswith("mixed.good.xml.parquet")


def test_namespaced_xml_strips_to_local_names(spark, tmp_path):
    """Reference strips namespaces entirely (split on '}',
    process_namespaces=False — convert_xml_to_parquet.py:198,227);
    strip_namespaces=True reproduces that for prefixed documents."""
    ns = open(REF_XML).read().replace(
        "<purchaseOrder", "<po:purchaseOrder xmlns:po='http://example.com/po'", 1
    ).replace("</purchaseOrder>", "</po:purchaseOrder>")
    p = tmp_path / "ns.xml"
    p.write_text(ns)
    df = read_xml_documents(spark, str(p), REF_XSD, strip_namespaces=True)
    assert _row_json(df) == GOLDEN_FULL


def test_xsd_choice_branches(spark, tmp_path):
    """xs:choice: both branches become nullable fields; each document
    carries a value in exactly the branch it used. Design note: the
    reference's physical schema is data-dependent (absent elements vanish
    from the per-file parquet because the JSON intermediate has no key);
    this engine always emits the full XSD-derived schema with nulls —
    stable columns across files, which is what a lake needs (SURVEY §1.5:
    explicit schemas, never inference)."""
    xsd = """<?xml version="1.0"?>
<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">
  <xs:element name="msg">
    <xs:complexType>
      <xs:sequence>
        <xs:element name="id" type="xs:integer"/>
        <xs:choice>
          <xs:element name="email" type="xs:string"/>
          <xs:element name="phone" type="xs:integer"/>
        </xs:choice>
      </xs:sequence>
    </xs:complexType>
  </xs:element>
</xs:schema>"""
    (tmp_path / "s.xsd").write_text(xsd)
    (tmp_path / "a.xml").write_text("<msg><id>1</id><email>a@b.c</email></msg>")
    (tmp_path / "b.xml").write_text("<msg><id>2</id><phone>555</phone></msg>")
    df = read_xml_documents(spark, str(tmp_path / "*.xml"), str(tmp_path / "s.xsd"))
    rows = {r["msg"]["id"]: r["msg"].asDict() for r in df.collect()}
    assert rows[1]["email"] == "a@b.c" and rows[1]["phone"] is None
    assert rows[2]["phone"] == 555 and rows[2]["email"] is None


def test_nested_repeated_with_attrs_at_depth(spark, tmp_path):
    """List-inside-list with attributes at both depths: the per-element
    `elem@attr` rename, attr-first ordering, and decimal→double coercion
    must hold at every nesting level (the rebuild expression recurses
    through array<struct<array<struct<...>>>>)."""
    xsd = """<?xml version="1.0"?>
<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">
  <xs:element name="lib">
    <xs:complexType><xs:sequence>
      <xs:element name="shelf" minOccurs="0" maxOccurs="unbounded">
        <xs:complexType><xs:sequence>
          <xs:element name="book" minOccurs="0" maxOccurs="unbounded">
            <xs:complexType><xs:sequence>
              <xs:element name="title" type="xs:string"/>
              <xs:element name="price" type="xs:decimal"/>
            </xs:sequence>
            <xs:attribute name="isbn" type="xs:string"/>
            </xs:complexType>
          </xs:element>
        </xs:sequence>
        <xs:attribute name="label" type="xs:string"/>
        </xs:complexType>
      </xs:element>
    </xs:sequence></xs:complexType>
  </xs:element>
</xs:schema>"""
    xml = (
        '<lib><shelf label="A"><book isbn="x1"><title>T1</title><price>9.5</price></book>'
        '<book isbn="x2"><title>T2</title><price>3.25</price></book></shelf>'
        '<shelf label="B"><book isbn="y1"><title>T3</title><price>7</price></book></shelf></lib>'
    )
    (tmp_path / "s.xsd").write_text(xsd)
    (tmp_path / "d.xml").write_text(xml)
    df = read_xml_documents(spark, str(tmp_path / "d.xml"), str(tmp_path / "s.xsd"))
    got = _row_json(df)
    assert got == {
        "lib": {
            "shelf": [
                {
                    "shelf@label": "A",
                    "book": [
                        {"book@isbn": "x1", "title": "T1", "price": 9.5},
                        {"book@isbn": "x2", "title": "T2", "price": 3.25},
                    ],
                },
                {
                    "shelf@label": "B",
                    "book": [{"book@isbn": "y1", "title": "T3", "price": 7.0}],
                },
            ]
        }
    }


def test_simple_content_with_attribute(spark, tmp_path):
    """Attributed simple-content element (<price currency=\"USD\">9.5</price>):
    text survives as `price@VALUE` beside `price@currency`. Documented
    divergence: the reference constructs its converter with text_key=None
    (convert_xml_to_parquet.py:61), which would serialize the text under a
    JSON null key — unusable as a parquet column name; its own fixtures
    never exercise this case. We keep the value under a real name."""
    xsd = """<?xml version="1.0"?>
<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">
  <xs:element name="item">
    <xs:complexType><xs:sequence>
      <xs:element name="price">
        <xs:complexType><xs:simpleContent>
          <xs:extension base="xs:decimal">
            <xs:attribute name="currency" type="xs:string"/>
          </xs:extension>
        </xs:simpleContent></xs:complexType>
      </xs:element>
    </xs:sequence></xs:complexType>
  </xs:element>
</xs:schema>"""
    (tmp_path / "s.xsd").write_text(xsd)
    (tmp_path / "d.xml").write_text('<item><price currency="USD">9.5</price></item>')
    df = read_xml_documents(spark, str(tmp_path / "d.xml"), str(tmp_path / "s.xsd"))
    got = _row_json(df)
    assert got == {"item": {"price": {"price@VALUE": 9.5, "price@currency": "USD"}}}


def test_convert_and_dataset_paths_agree(spark, tmp_path):
    """The compat path (one parquet per input) and the scale path (one
    partitioned dataset) must produce identical document sets for the
    same inputs."""
    from xml_to_parquet_spark.sources.xml_source import convert_to_dataset

    src = tmp_path / "in"
    out1 = tmp_path / "per_file"
    out2 = tmp_path / "dataset"
    src.mkdir()
    out1.mkdir()
    for i in range(3):
        shutil.copy(REF_XML, src / f"{i}.xml")
    written = convert(spark, str(src / "*.xml"), REF_XSD, target_path=str(out1))
    assert len(written) == 3
    convert_to_dataset(spark, str(src / "*.xml"), REF_XSD, str(out2))
    per_file = spark.read.parquet(*written)
    dataset = spark.read.parquet(str(out2)).drop("_src")
    assert dataset.count() == 3
    a = sorted(r[0] for r in per_file.select(F.to_json(F.struct("*"))).collect())
    b = sorted(r[0] for r in dataset.select(F.to_json(F.struct("*"))).collect())
    assert a == b


def _jobs(spark, fn) -> int:
    """Spark jobs ``fn`` runs, counted by the status tracker under a job group."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _truncated_gz(path):
    with open(REF_XML, "rb") as fin:
        path.write_bytes(gzip.compress(fin.read())[:200])


def test_dataset_path_drops_malformed_inputs(spark, tmp_path):
    """A truncated or non-XML input becomes no dataset row, as ``convert``
    skips it (convert_xml_to_parquet.py:231-236), not an all-null row."""
    from xml_to_parquet_spark.sources.xml_source import convert_to_dataset

    src = tmp_path / "in"
    src.mkdir()
    for i in range(2):
        shutil.copy(REF_XML, src / f"{i}.xml")
    body = open(REF_XML).read()
    (src / "truncated.xml").write_text(body[: len(body) // 2])
    _truncated_gz(src / "truncated.xml.gz")
    (src / "notes.txt").write_text("not xml at all\n")
    convert_to_dataset(spark, str(src / "*"), REF_XSD, str(tmp_path / "ds"))
    rows = spark.read.parquet(str(tmp_path / "ds")).collect()
    assert sorted(r["_src"] for r in rows) == ["0.xml", "1.xml"]
    assert all(r["purchaseOrder"] is not None for r in rows)


def test_corrupt_input_is_isolated(spark, tmp_path, caplog):
    """A truncated .xml.gz beside a good .xml in one call: the good file is
    written, the bad one logged and skipped (and not deleted), and no
    staging directory is left behind."""
    src = tmp_path / "in"
    out = tmp_path / "out"
    src.mkdir()
    out.mkdir()
    shutil.copy(REF_XML, src / "good.xml")
    _truncated_gz(src / "bad.xml.gz")
    with caplog.at_level(logging.ERROR):
        written = convert(spark, str(src / "*"), REF_XSD, target_path=str(out), delete_xml=True)
    assert written == [str(out / "good.xml.parquet")]
    assert written.skipped == [str(src / "bad.xml.gz")]
    assert "bad.xml.gz" in caplog.text
    assert sorted(os.listdir(out)) == ["good.xml.parquet"]
    assert sorted(os.listdir(src)) == ["bad.xml.gz"]
    assert _row_json(spark.read.parquet(written[0])) == GOLDEN_FULL


AWKWARD_NAMES = ["a b.xml", "50%41.xml", "k=v.xml", "no#frag.xml", "x+y.xml", "café.xml"]


def test_awkward_file_names(spark, tmp_path):
    """Path characters that URIs and partition directories escape (space,
    ``%``, ``=``, ``#``, ``+``, non-ASCII) still map each input to its
    reference-named output and its own file name."""
    src = tmp_path / "in"
    out = tmp_path / "out"
    src.mkdir()
    out.mkdir()
    for name in AWKWARD_NAMES:
        shutil.copy(REF_XML, src / name)
    written = convert(spark, str(src / "*.xml"), REF_XSD, target_path=str(out))
    assert sorted(written) == sorted(str(out / f"{n[:-4]}.xml.parquet") for n in AWKWARD_NAMES)
    assert written.skipped == []
    for path in written:
        assert _row_json(spark.read.parquet(path)) == GOLDEN_FULL
    df = read_xml_documents(spark, str(src / "*.xml"), REF_XSD, file_info=True, source_col=True)
    rows = df.select("file_info.filename", "_src").collect()
    assert sorted(r[0] for r in rows) == sorted(r[1] for r in rows) == sorted(AWKWARD_NAMES)


def test_read_builds_without_listing_job(spark, tmp_path):
    """Above 32 paths Spark lists files with a distributed job unless the
    session keeps listing on the driver; a local session does."""
    for i in range(40):
        shutil.copy(REF_XML, tmp_path / f"{i}.xml")
    paths = sorted(str(p) for p in tmp_path.glob("*.xml"))
    assert _jobs(spark, lambda: read_xml_documents(spark, paths, REF_XSD)) == 0


def test_convert_job_count_does_not_grow_with_inputs(spark, tmp_path):
    """``convert`` costs a fixed number of Spark jobs per call, not per file."""
    jobs = {}
    for n in (2, 10):
        src = tmp_path / f"in{n}"
        out = tmp_path / f"out{n}"
        src.mkdir()
        out.mkdir()
        for i in range(n):
            shutil.copy(REF_XML, src / f"{i}.xml")
        written = []
        jobs[n] = _jobs(
            spark, lambda: written.extend(convert(spark, str(src / "*.xml"), REF_XSD, str(out)))
        )
        assert len(written) == n
    assert jobs[10] == jobs[2]


def test_cli_reports_converted_and_skipped(spark, tmp_path, caplog):
    from xml_to_parquet_spark.cli import main

    shutil.copy(REF_XML, tmp_path / "good.xml")
    (tmp_path / "bad.xml").write_text("<purchaseOrder><unclosed>")
    out = tmp_path / "out"
    out.mkdir()
    with caplog.at_level(logging.INFO):
        rc = main(["-x", REF_XSD, "-t", str(out), str(tmp_path / "good.xml"), str(tmp_path / "bad.xml")])
    assert rc == 0
    assert "converted 1, skipped 1" in caplog.text


def test_convert_mixed_kinds_in_one_call(spark, tmp_path):
    """Plain, tar.gz and zip inputs of one call each get their reference
    names; a member that cannot be named (it sits in a sub-directory of the
    archive) is logged without losing its siblings, and its archive is
    reported as skipped and kept by ``delete_xml``."""
    src = tmp_path / "in"
    out = tmp_path / "out"
    src.mkdir()
    out.mkdir()
    shutil.copy(REF_XML, src / "plain.xml")
    with tarfile.open(src / "t.tar.gz", "w:gz") as tf:
        tf.add(REF_XML, "x.xml")
        tf.add(REF_XML, "sub/y.xml")
    with zipfile.ZipFile(src / "z.zip", "w") as zf:
        zf.write(REF_XML, "m 1.xml")
    written = convert(spark, str(src / "*"), REF_XSD, target_path=str(out), delete_xml=True)
    assert sorted(os.path.basename(w) for w in written) == [
        "plain.xml.parquet", "t.x.xml.parquet", "z.m 1.xml.parquet"
    ]
    assert written.skipped == [str(src / "t.tar.gz")]
    assert os.listdir(src) == ["t.tar.gz"]
    for path in written:
        assert _row_json(spark.read.parquet(path)) == GOLDEN_FULL


def test_corrupt_tar_is_isolated(spark, tmp_path, caplog):
    """A truncated tar.gz beside a good one in one call: the good archive's
    members are written and the bad archive is logged and skipped."""
    src = tmp_path / "in"
    out = tmp_path / "out"
    src.mkdir()
    out.mkdir()
    for name in ("good", "bad"):
        with tarfile.open(src / f"{name}.tar.gz", "w:gz") as tf:
            for i in range(3):
                tf.add(REF_XML, f"m{i}.xml")
    data = (src / "bad.tar.gz").read_bytes()
    (src / "bad.tar.gz").write_bytes(data[: len(data) // 2])
    with caplog.at_level(logging.INFO):
        written = convert(spark, str(src / "*"), REF_XSD, target_path=str(out))
    assert sorted(os.path.basename(w) for w in written) == [
        f"good.m{i}.xml.parquet" for i in range(3)
    ]
    assert written.skipped == [str(src / "bad.tar.gz")]
    assert "bad.tar.gz" in caplog.text
    for path in written:
        assert _row_json(spark.read.parquet(path)) == GOLDEN_FULL

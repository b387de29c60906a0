"""Self-test of the benchmark's correctness checks: each check passes on a
correct output and fails on a corrupted one. No Spark session: the outputs
are Parquet files built with pyarrow in the shape the converter writes (the
module still imports pyspark and the program, through ``checks`` and
``scripts/check_oracle.py``).

    python3 -m pytest perfbench/test_checks.py -q
"""

from __future__ import annotations

import os
import random
import xml.etree.ElementTree as ET

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import checks
import inputs


def _ts(d: str | None) -> str | None:
    return None if d is None else f"{d} 00:00:00.000"


def _address(el) -> dict:
    tag = el.tag
    return {
        f"{tag}@country": el.get("country"),
        **{k: el.findtext(k) for k in ("name", "street", "city", "state")},
        "zip": float(el.findtext("zip")),
    }


def reference_row(data: bytes) -> dict:
    """The reference-shaped struct of one document, built with xml.etree."""
    root = ET.fromstring(data)
    return {
        "purchaseOrder@orderDate": _ts(root.get("orderDate")),
        "shipTo": _address(root.find("shipTo")),
        "billTo": _address(root.find("billTo")),
        "comment": root.findtext("comment"),
        "items": {
            "item": [
                {
                    "item@partNum": it.get("partNum"),
                    "productName": it.findtext("productName"),
                    "quantity": int(it.findtext("quantity")),
                    "USPrice": float(it.findtext("USPrice")),
                    "comment": it.findtext("comment"),
                    "shipDate": _ts(it.findtext("shipDate")),
                }
                for it in root.findall("./items/item")
            ]
        },
    }


@pytest.fixture()
def docs():
    rng = random.Random(7)
    made = [inputs.purchase_order(rng, f"po_{i:05d}.xml", rng.randint(1, 20)) for i in range(6)]
    return [(rec, reference_row(data)) for data, rec in made]


def _po_type(usprice=pa.float64()) -> pa.DataType:
    """The converter's output struct, fields in the order it writes them."""

    def address(tag):
        return pa.struct([(f"{tag}@country", pa.string()), *((k, pa.string()) for k in ("name", "street", "city", "state")), ("zip", pa.float64())])

    item = pa.struct([("item@partNum", pa.string()), ("productName", pa.string()), ("quantity", pa.int64()),
                      ("USPrice", usprice), ("comment", pa.string()), ("shipDate", pa.string())])
    return pa.struct([("purchaseOrder@orderDate", pa.string()), ("shipTo", address("shipTo")),
                      ("billTo", address("billTo")), ("comment", pa.string()),
                      ("items", pa.struct([("item", pa.list_(item))]))])


def _write(path: str, rows: list[dict], po_type=None, **key_cols: list[str]) -> None:
    table = pa.table({"purchaseOrder": pa.array(rows, po_type or _po_type()), **key_cols})
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def _dataset(tmp_path, docs, drop=None, perturb=None) -> str:
    rows, names = [], []
    for rec, row in docs:
        if rec.name == drop:
            continue
        if rec.name == perturb:
            row = {**row, "items": {"item": [{**row["items"]["item"][0], "quantity": row["items"]["item"][0]["quantity"] + 1}] + row["items"]["item"][1:]}}
        rows.append(row)
        names.append(rec.name)
    out = str(tmp_path / "ds")
    _write(f"{out}/part-0.parquet", rows, _src=names)
    return out


def test_dataset_check_passes_on_correct_output(tmp_path, docs):
    out = checks.check_dataset(_dataset(tmp_path, docs), {r.name: r for r, _ in docs}, ("_src",))
    assert out.attempted == len(docs) and not out.missing and not out.wrong


def test_dataset_check_fails_on_dropped_row(tmp_path, docs):
    out = checks.check_dataset(_dataset(tmp_path, docs, drop=docs[2][0].name), {r.name: r for r, _ in docs}, ("_src",))
    assert out.missing == {docs[2][0].name}


def test_dataset_check_fails_on_perturbed_quantity(tmp_path, docs):
    name = docs[1][0].name
    out = checks.check_dataset(_dataset(tmp_path, docs, perturb=name), {r.name: r for r, _ in docs}, ("_src",))
    assert set(out.wrong) == {name} and "quantity" in out.wrong[name]


def test_dataset_check_fails_on_decimal_written_as_string(tmp_path, docs):
    rec, row = docs[0]
    bad = {**row, "items": {"item": [{**it, "USPrice": str(it["USPrice"])} for it in row["items"]["item"]]}}
    _write(str(tmp_path / "ds/part-0.parquet"), [bad], _po_type(pa.string()), _src=[rec.name])
    out = checks.check_dataset(str(tmp_path / "ds"), {rec.name: rec}, ("_src",))
    assert "USPrice" in out.wrong[rec.name]


def test_archive_check_fails_on_missing_member(tmp_path, docs):
    expected = {f"orders.tar.gz/{r.name}": r for r, _ in docs}
    kept = docs[:-1]
    _write(str(tmp_path / "ar/part-0.parquet"), [row for _, row in kept],
           _src=["orders.tar.gz"] * len(kept), _member=[r.name for r, _ in kept])
    out = checks.check_dataset(str(tmp_path / "ar"), expected, ("_src", "_member"))
    assert out.missing == {f"orders.tar.gz/{docs[-1][0].name}"} and not out.wrong


def test_per_file_check(tmp_path, docs):
    expected = {r.name: r for r, _ in docs}
    out_dir = tmp_path / "pf"
    for rec, row in docs:
        _write(str(out_dir / f"{rec.name[:-4]}.xml.parquet"), [row])
    assert not checks.check_per_file(str(out_dir), expected).wrong

    # wrong per-file output name: the input's file is missing, a stray one appears
    name = docs[3][0].name
    os.rename(out_dir / f"{name[:-4]}.xml.parquet", out_dir / f"{name[:-4]}.parquet")
    out = checks.check_per_file(str(out_dir), expected)
    assert out.missing == {name} and f"{name[:-4]}.parquet" in out.wrong


def test_query_check_fails_on_one_changed_value():
    oracle = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.25, 2.0]})
    assert checks.check_query("q", oracle.copy(), oracle) is None
    changed = oracle.copy()
    changed.loc[1, "v"] = 1.26
    assert "values differ" in checks.check_query("q", changed, oracle)
    assert "rows" in checks.check_query("q", oracle.iloc[:2], oracle)

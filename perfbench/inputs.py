"""Seeded inputs for the benchmark workloads.

Every generator takes a ``random.Random`` or a seed and writes files under a
directory the caller owns; the same seed always gives byte-identical inputs.
PurchaseOrder documents follow ``PurchaseOrder.xsd`` (the W3C XML Schema
Primer purchase order). Each generator returns the generator's own record of
every document, which the checks compare with what the converter wrote.
"""

from __future__ import annotations

import io
import os
import random
import tarfile
import xml.etree.ElementTree as ET
import zipfile
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq


@dataclass(frozen=True)
class DocRecord:
    """What one PurchaseOrder document holds, as the checks compare it."""

    name: str  # file or archive-member name
    order_date: str  # yyyy-MM-dd
    items: int
    quantity: int  # sum over items
    usprice_cents: int  # sum over items, in cents (exact)
    parts: tuple[str, ...]  # sorted partNum multiset


_FIRST = ["Alice", "Robert", "Maria", "Chen", "Priya", "Tomas", "Aiko", "Omar"]
_LAST = ["Smith", "Jones", "Garcia", "Wang", "Patel", "Novak", "Sato", "Haddad"]
_STREETS = ["Maple Street", "Oak Avenue", "Pine Road", "Elm Court", "Cedar Lane"]
_CITIES = ["Mill Valley", "Old Town", "Springfield", "Riverside", "Fairview"]
_STATES = ["CA", "PA", "NY", "TX", "WA", "OR"]
_PRODUCTS = ["Lawnmower", "Baby Monitor", "Lamp", "Kettle", "Desk", "Drill", "Radio"]
_COMMENTS = ["Confirm this is electric", "Gift wrap", "Leave at the door", "Fragile"]


def _date(rng: random.Random) -> str:
    return f"{rng.randint(1995, 2005)}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"


def _address(rng: random.Random, tag: str) -> str:
    return (
        f'<{tag} country="US"><name>{rng.choice(_FIRST)} {rng.choice(_LAST)}</name>'
        f"<street>{rng.randint(1, 9999)} {rng.choice(_STREETS)}</street>"
        f"<city>{rng.choice(_CITIES)}</city><state>{rng.choice(_STATES)}</state>"
        f"<zip>{rng.randint(10000, 99999)}</zip></{tag}>"
    )


def purchase_order(rng: random.Random, name: str, n_items: int) -> tuple[bytes, DocRecord]:
    """One PurchaseOrder document with ``n_items`` items and its record."""
    order_date = _date(rng)
    parts, qty, cents = [], 0, 0
    out = [
        f'<?xml version="1.0"?>\n<purchaseOrder orderDate="{order_date}">',
        _address(rng, "shipTo"),
        _address(rng, "billTo"),
        f"<comment>order {name}</comment><items>",
    ]
    for _ in range(n_items):
        part = f"{rng.randint(0, 999):03d}-{chr(65 + rng.randint(0, 25))}{chr(65 + rng.randint(0, 25))}"
        q = rng.randint(1, 99)
        c = rng.randint(100, 99999)
        parts.append(part)
        qty += q
        cents += c
        out.append(
            f'<item partNum="{part}"><productName>{rng.choice(_PRODUCTS)}</productName>'
            f"<quantity>{q}</quantity><USPrice>{c // 100}.{c % 100:02d}</USPrice>"
        )
        if rng.random() < 0.3:
            out.append(f"<comment>{rng.choice(_COMMENTS)}</comment>")
        if rng.random() < 0.5:
            out.append(f"<shipDate>{_date(rng)}</shipDate>")
        out.append("</item>")
    out.append("</items></purchaseOrder>\n")
    rec = DocRecord(name, order_date, n_items, qty, cents, tuple(sorted(parts)))
    return "".join(out).encode(), rec


def etree_record(name: str, data: bytes) -> DocRecord:
    """Read a document's record back with the stdlib parser, independently
    of the generator's bookkeeping."""
    root = ET.fromstring(data)
    items = root.findall("./items/item")
    cents = 0
    for it in items:
        whole, _, frac = it.findtext("USPrice").partition(".")
        cents += int(whole) * 100 + int(frac.ljust(2, "0"))
    return DocRecord(
        name,
        root.get("orderDate"),
        len(items),
        sum(int(it.findtext("quantity")) for it in items),
        cents,
        tuple(sorted(it.get("partNum") for it in items)),
    )


def _small_items(rng: random.Random) -> int:
    return rng.randint(1, 20)


def write_documents(
    rng: random.Random, out_dir: str, n_small: int, n_large: int = 0, large_items: int = 0
) -> list[DocRecord]:
    """``n_small`` documents of 1-20 items plus ``n_large`` documents of
    ``large_items`` items, one file each; records are re-read with
    ``xml.etree`` and must agree with the generator's."""
    os.makedirs(out_dir)
    records = []
    sizes = [_small_items(rng) for _ in range(n_small)] + [large_items] * n_large
    for i, n in enumerate(sizes):
        name = f"po_{i:05d}.xml" if i < n_small else f"large_{i - n_small:02d}.xml"
        data, rec = purchase_order(rng, name, n)
        with open(os.path.join(out_dir, name), "wb") as fh:
            fh.write(data)
        if etree_record(name, data) != rec:
            raise RuntimeError(f"generator record disagrees with xml.etree for {name}")
        records.append(rec)
    return records


def write_archives(rng: random.Random, out_dir: str, members: int) -> dict[str, list[DocRecord]]:
    """One tar.gz and one zip of ``members`` small documents each. The
    expected member list is read back with ``tarfile`` / ``zipfile``."""
    os.makedirs(out_dir)
    tar_path = os.path.join(out_dir, "orders.tar.gz")
    zip_path = os.path.join(out_dir, "orders.zip")
    made: dict[str, list[DocRecord]] = {}
    with tarfile.open(tar_path, "w:gz") as tf:
        made[tar_path] = []
        for i in range(members):
            name = f"tar/po_{i:05d}.xml"
            data, rec = purchase_order(rng, name, _small_items(rng))
            info = tarfile.TarInfo(name)
            info.size, info.mtime = len(data), 946684800
            tf.addfile(info, io.BytesIO(data))
            made[tar_path].append(rec)
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as zf:
        made[zip_path] = []
        for i in range(members):
            name = f"zip/po_{i:05d}.xml"
            data, rec = purchase_order(rng, name, _small_items(rng))
            zf.writestr(zipfile.ZipInfo(name, (2000, 1, 1, 0, 0, 0)), data)
            made[zip_path].append(rec)
    expected = {tar_path: [], zip_path: []}
    with tarfile.open(tar_path, "r:gz") as tf:
        for m in tf.getmembers():
            expected[tar_path].append(etree_record(m.name, tf.extractfile(m).read()))
    with zipfile.ZipFile(zip_path) as zf:
        for n in zf.namelist():
            expected[zip_path].append(etree_record(n, zf.read(n)))
    if expected != made:
        raise RuntimeError("archive members read back differ from the generator's records")
    return expected


# ---------------------------------------------------------------------------
# TPC-H-like tables for the query mix (same names, columns and parquet
# types as the tables the registry's queries read)
# ---------------------------------------------------------------------------

_WORDS = (
    "scan column window order sort part agg value line key join merge group query a "
    "vector hash slow stream filter fast the batch spark table small data big customer row"
).split()


def _days(rng: np.random.Generator, n: int, start: str, end: str) -> np.ndarray:
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    d = lo + rng.integers(0, (hi - lo).astype(int) + 1, n)
    return d.astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def write_tables(seed: int, out_dir: str) -> None:
    """The ten tables the registry reads (6000 lineitems)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir)
    n_cust, n_supp, n_part, n_ord, n_li = 150, 10, 200, 1500, 6000
    n_ev, n_users, n_docs, n_vec = 1000, 15, 500, 500
    i32, i64 = np.int32, np.int64
    tables = {
        "region": pd.DataFrame(
            {
                "r_regionkey": np.arange(5, dtype=i32),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        "nation": pd.DataFrame(
            {
                "n_nationkey": np.arange(25, dtype=i32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": (np.arange(25) % 5).astype(i32),
            }
        ),
        "customer": pd.DataFrame(
            {
                "c_custkey": np.arange(n_cust, dtype=i64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": rng.integers(0, 25, n_cust).astype(i32),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": rng.choice(
                    ["FURNITURE", "MACHINERY", "BUILDING", "HOUSEHOLD", "AUTOMOBILE"], n_cust
                ),
            }
        ),
        "supplier": pd.DataFrame(
            {
                "s_suppkey": np.arange(n_supp, dtype=i64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": rng.integers(0, 25, n_supp).astype(i32),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
        "part": pd.DataFrame(
            {
                "p_partkey": np.arange(n_part, dtype=i64),
                "p_name": [
                    f"{a} {b}"
                    for a, b in zip(
                        rng.choice(["cold", "small", "large", "blue", "old", "new", "hot"], n_part),
                        rng.choice(["widget", "bolt", "rod", "anvil", "ring", "gizmo", "plate", "gear"], n_part),
                    )
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": rng.choice(["ECONOMY", "PROMO", "LARGE", "MEDIUM", "STANDARD", "SMALL"], n_part),
                "p_size": rng.integers(1, 51, n_part).astype(i32),
                "p_retailprice": np.round(900 + np.arange(n_part) % 1000 * 0.1, 2),
            }
        ),
        "orders": pd.DataFrame(
            {
                "o_orderkey": np.arange(n_ord, dtype=i64),
                "o_custkey": rng.integers(0, n_cust, n_ord).astype(i64),
                "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
                "o_totalprice": _money(rng, 1000, 500000, n_ord),
                "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
                "o_orderpriority": rng.choice(
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
                ),
            }
        ),
        "lineitem": pd.DataFrame(
            {
                "l_orderkey": rng.integers(0, n_ord, n_li).astype(i64),
                "l_partkey": rng.integers(0, n_part, n_li).astype(i64),
                "l_suppkey": rng.integers(0, n_supp, n_li).astype(i64),
                "l_linenumber": rng.integers(1, 8, n_li).astype(i32),
                "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
                "l_extendedprice": _money(rng, 900, 105000, n_li),
                "l_discount": rng.integers(0, 11, n_li) / 100.0,
                "l_tax": rng.integers(0, 9, n_li) / 100.0,
                "l_returnflag": rng.choice(["N", "R", "A"], n_li),
                "l_linestatus": rng.choice(["O", "F"], n_li),
                "l_shipdate": _days(rng, n_li, "1995-01-02", "2001-11-04"),
            }
        ),
        "events": pd.DataFrame(
            {
                "event_id": np.arange(n_ev, dtype=i64),
                "ts": np.datetime64("2024-01-01", "us")
                + np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev)).astype("timedelta64[us]"),
                "user_id": rng.integers(0, n_users, n_ev).astype(i64),
                "event_type": rng.choice(["click", "purchase", "error", "signup", "view"], n_ev),
                "value": np.round(rng.exponential(50.0, n_ev), 2),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
            }
        ),
    }
    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.06:  # near-duplicate of an earlier doc
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = "dup"
        else:
            words = list(rng.choice(_WORDS, int(rng.integers(10, 90))))
        texts.append(" ".join(words))
    tables["documents"] = pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=i64),
            "text": texts,
            "lang": rng.choice(["en", "en", "fr", "es", "zh", "de"], n_docs),
            "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=i64),
        }
    )
    labels = rng.integers(0, 10, n_vec)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] + rng.normal(0, 0.6, (n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pd.DataFrame(
        {"vec_id": np.arange(n_vec, dtype=i64), "embedding": list(vecs), "label": labels.astype(i32)}
    )
    for name, df in tables.items():
        pq.write_table(pa.Table.from_pandas(df, preserve_index=False), os.path.join(out_dir, f"{name}.parquet"))


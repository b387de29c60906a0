"""Correctness checks on what the converter and the queries wrote.

Conversion outputs are read back with pyarrow (not Spark) and compared with
the records of ``inputs``; query results are compared with their DuckDB twin
using the canonicalisation of ``scripts/check_oracle.py``. Every check
returns an ``Outcome``: documents (or queries) whose output is missing count
as failed operations, those whose output is present but wrong make the run
incorrect.
"""

from __future__ import annotations

import os
import re
import sys
from dataclasses import dataclass, field

import pyarrow.parquet as pq
import pyarrow.types as pt

from inputs import DocRecord

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(_ROOT, "scripts"))
import check_oracle  # noqa: E402

ROOT = "purchaseOrder"
_TS = re.compile(r"^\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}\.\d{3}$")


@dataclass
class Outcome:
    attempted: int = 0
    missing: set[str] = field(default_factory=set)  # failed operations
    wrong: dict[str, str] = field(default_factory=dict)  # key -> what is wrong

    def add(self, other: Outcome) -> None:
        self.attempted += other.attempted
        self.missing |= other.missing
        self.wrong.update(other.wrong)


def _shape_problem(table) -> str | None:
    """The reference's shape rules: ``elem@attr`` attribute names, decimals
    as doubles, the root struct named after the root element."""
    schema = table.schema
    if ROOT not in schema.names:
        return f"no {ROOT} column in {schema.names}"
    po = schema.field(ROOT).type
    names = [po.field(i).name for i in range(po.num_fields)]
    if names[0] != f"{ROOT}@orderDate":
        return f"first field of {ROOT} is {names[0]!r}, not {ROOT}@orderDate"
    ship = po.field("shipTo").type
    if ship.field(0).name != "shipTo@country" or not pt.is_float64(ship.field("zip").type):
        return "shipTo is not shaped shipTo@country ... zip:double"
    item = po.field("items").type.field("item").type.value_type
    if item.field(0).name != "item@partNum":
        return f"first item field is {item.field(0).name!r}, not item@partNum"
    if not pt.is_float64(item.field("USPrice").type):
        return f"USPrice is {item.field('USPrice').type}, not double"
    return None


def _doc_problem(po: dict, rec: DocRecord) -> str | None:
    if po is None:
        return "null document"
    od = po.get(f"{ROOT}@orderDate")
    if od is None or not _TS.match(od) or od[:10] != rec.order_date:
        return f"orderDate {od!r}, expected {rec.order_date} 00:00:00.000"
    items = (po.get("items") or {}).get("item") or []
    if len(items) != rec.items:
        return f"{len(items)} items, expected {rec.items}"
    qty = sum(it["quantity"] for it in items)
    if qty != rec.quantity:
        return f"quantity sum {qty}, expected {rec.quantity}"
    cents = sum(round(it["USPrice"] * 100) for it in items)
    if cents != rec.usprice_cents:
        return f"USPrice sum {cents / 100}, expected {rec.usprice_cents / 100}"
    parts = tuple(sorted(it["item@partNum"] for it in items))
    if parts != rec.parts:
        return "partNum multiset differs"
    for it in items:
        if it.get("shipDate") is not None and not _TS.match(it["shipDate"]):
            return f"shipDate {it['shipDate']!r} is not yyyy-MM-dd HH:mm:ss.SSS"
    return None


def check_rows(rows: list[tuple[str, dict]], expected: dict[str, DocRecord], table=None) -> Outcome:
    """``rows`` are (key, purchaseOrder struct) pairs read from the output;
    ``expected`` maps each input's key to its record. One row per input,
    with the input's values, and the items in equal to the items out."""
    out = Outcome(attempted=len(expected))
    shape = _shape_problem(table) if table is not None else None
    seen: dict[str, int] = {}
    for key, po in rows:
        seen[key] = seen.get(key, 0) + 1
        if key not in expected:
            out.wrong[key] = "row for no input"
            continue
        problem = shape or _doc_problem(po, expected[key])
        if problem:
            out.wrong[key] = problem
    for key in expected:
        if key not in seen:
            out.missing.add(key)
        elif seen[key] > 1:
            out.wrong[key] = f"{seen[key]} rows"
    items_in = sum(r.items for r in expected.values())
    items_out = sum(len(((po or {}).get("items") or {}).get("item") or []) for _, po in rows)
    if items_in != items_out and not out.wrong and not out.missing:
        out.wrong["<total>"] = f"{items_out} items out, {items_in} in"
    return out


def check_dataset(path: str, expected: dict[str, DocRecord], key_cols: tuple[str, ...]) -> Outcome:
    """A partitioned dataset written by ``convert_to_dataset`` (key ``_src``)
    or ``convert_archives_to_dataset`` (key ``_src``/``_member``)."""
    table = pq.read_table(path)
    cols = [table.column(c).to_pylist() for c in key_cols]
    keys = ["/".join(parts) for parts in zip(*cols)]
    return check_rows(list(zip(keys, table.column(ROOT).to_pylist())), expected, table)


def check_per_file(out_dir: str, expected: dict[str, DocRecord]) -> Outcome:
    """``convert``'s compat outputs: exactly one ``<stem>.xml.parquet`` per
    input file, each holding that input's single row."""
    rows, table = [], None
    want = {f"{name[: -len('.xml')]}.xml.parquet": name for name in expected}
    extra = Outcome()
    for fname in sorted(os.listdir(out_dir)):
        if fname not in want:
            extra.wrong[fname] = "output file for no input"
            continue
        table = pq.read_table(os.path.join(out_dir, fname))
        rows += [(want[fname], po) for po in table.column(ROOT).to_pylist()]
    out = check_rows(rows, expected, table)
    out.wrong.update(extra.wrong)
    return out


def check_query(name: str, spark_df, oracle_df) -> str | None:
    """None when the Spark result matches the DuckDB twin: same columns,
    row count, dtype families and canonical values."""
    s_cols = sorted(map(str.lower, spark_df.columns))
    o_cols = sorted(map(str.lower, oracle_df.columns))
    if s_cols != o_cols:
        return f"{name}: columns {s_cols} != {o_cols}"
    if len(spark_df) != len(oracle_df):
        return f"{name}: {len(spark_df)} rows, oracle {len(oracle_df)}"
    bad = check_oracle._dtype_mismatches(spark_df, oracle_df)
    if bad:
        return f"{name}: dtype family mismatch {bad}"
    if check_oracle._canon(spark_df) != check_oracle._canon(oracle_df):
        return f"{name}: values differ from the oracle"
    return None

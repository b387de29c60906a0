"""Registry-WIDE physical-plan smell gate (complements the per-op pins
in tests/test_plans.py, which cover only the queries someone thought to
pin): every registered AND staged query's returned plan is swept for
the two patterns that are never right at 100 TB —

  * ``CartesianProduct``: an unbounded all-pairs join. Bounded
    broadcast-NLJ devices (grid joins, threshold broadcasts) are fine
    and NOT flagged — Spark only falls back to CartesianProduct when
    neither side is broadcastable, which at scale means a shuffle of
    |A|x|B| rows.
  * ``BatchEvalPython`` (row-at-a-time Python UDF): every Python
    crossing in this engine is Arrow-batched (``ArrowEvalPython`` /
    ``mapInPandas`` / ``BatchEvalPythonUDTF``); a plain ``F.udf`` that
    sneaks in costs ~10-100x on the hot path and fails here instead of
    on a cluster.

A third sweep (r15, institutionalizing VERDICT r14 #2) covers
UNPARTITIONED WindowExec — a window with no PARTITION BY executes on
one reducer, the single-partition bottleneck the sharded packing twin
was built to retire. A fourth (r16, VERDICT r15 #8's "second plan-smell
dimension") covers SortAggregate — a per-partition sort where
HashAggregate would stream; see _SORT_AGGREGATE_ALLOWLIST. A fifth
(r16, R17_PLAN item 3) is the SCAN-WIDTH sweep: no op may read the
full width of a wide base table unless reviewed — column pruning must
reach the FileScan; see _FULL_WIDTH_SCAN_ALLOWLIST. A sixth (r16) is
the DATA-SIZED BROADCAST sweep: no broadcast HINT may force an
unreduced fact-table relation; see _DATA_SIZED_BROADCAST_ALLOWLIST. Unlike the two smells above it is not always
wrong: a window over a provably BOUNDED input (a vocabulary grid, a
bucket summary, a beam, a manifest) never sees data-sized rows. So the
sweep requires every unpartitioned window to hold a reviewed
justification in ``_UNPARTITIONED_WINDOW_ALLOWLIST`` — a new operator
that adds one without a bound argument fails here instead of on a
cluster.

Barriers: operators that cut lineage through ``materialize()`` serve
only their POST-barrier plan, but the subtree behind each barrier still
executes. The registry smell sweep therefore builds every operator
inside ``materialize.record_barriers()`` and checks the served plan plus
every recorded ``materialize()`` input plan; the unpartitioned-window
sweep still inspects served plans only. The sweep is one
test (not a 300-way parametrize) so a full run costs one pass over the
registry at the smallest SF; it asserts an empty violation list and
prints every offender on failure.
"""

from __future__ import annotations

import os
import re
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from xml_to_parquet_spark.materialize import record_barriers
from xml_to_parquet_spark.registry import STAGED, load_all

SF_DIR = os.environ.get("XTPS_SMELL_SF", "/root/testdata/sf0.001")

# BatchEvalPythonUDTF is the UDTF exec node (its lateral-join shape is
# pinned in test_plans.py) — only the plain row-at-a-time scalar-UDF
# node `BatchEvalPython [...]` is a smell, so the match must not catch
# the UDTF node's prefix.
_UDF_SMELL_RE = re.compile(r"\bBatchEvalPython\b(?!UDTF)")
_UDF_SMELL = "BatchEvalPython"

_SMELL_ALLOWLIST: dict[str, set[str]] = {
    # name -> smells allowed, each with a reason reviewed at add time.
    # Empty today: no registered or staged op needs a CartesianProduct
    # or a row-at-a-time Python UDF. Additions require a docstring in
    # the op justifying the bound.
}

# Unpartitioned-WindowExec allowlist: name -> the reviewed bound that
# makes a one-reducer window acceptable. Two legitimate classes only:
#   (a) tiny-scale SEMANTIC CROSS-CHECKS whose scale path exists as a
#       sibling op (the global packers vs curate_pack_sharded);
#   (b) windows whose INPUT is provably bounded — a grid, a summary, a
#       beam, a manifest — never the data itself.
# curate_pack_sharded is deliberately NOT here: its packing window is
# shard-partitioned (tests/test_pack_sharded.py pins that).
_UNPARTITIONED_WINDOW_ALLOWLIST: dict[str, str] = {
    # (a) global packers — documented tiny-scale cross-checks; the
    # sharded twin is the 100 TB path (VERDICT r14 #2, shipped r15)
    "curate_pack_sequences": "global packer; scale path = curate_pack_sharded",
    "curate_pack_chunks": "global packer; scale path = curate_pack_sharded",
    "curate_pack_bpe": "global packer; scale path = curate_pack_sharded",
    "curate_pipeline": "composed demo of the global packer",
    # (b) bounded-input windows
    "dq_chisq_independence": "cross-tab grid (event_type x status, <=15 rows)",
    "dq_mutual_information": "same cross-tab grid as chisq (<=15 rows)",
    "dq_runs_test": "calendar day-grid (one row per day)",
    "timeseries_theil_sen": "calendar day-grid; pair fan-out is grid^2",
    "graph_modularity": "community-grid total (communities << nodes)",
    "lake_compaction_plan": "manifest rows (file count), never data",
    "pareto_frontier": "B-row bucket summary (scale_patterns device)",
    "q15_top_supplier": "global max over the supplier-level aggregate",
    "sim_hnsw_beam": "beam rows <= B*(K0+1), broadcast-scored",
    "sim_recall_at_k": "query-set grid (fixed query count)",
    "text_collocations_pmi": "Heaps-bounded bigram vocabulary grid",
    "text_textrank": "rank decoration over the TakeOrdered top-K"
    " (<= TR_TOP_K = 30 rows since r16-opt; was the full Heaps-bounded"
    " rank vector)",
}


# SortAggregate allowlist (r16, the second registry-wide dimension
# VERDICT r15 #8 called for): SortAggregate sorts every partition before
# aggregating — at 100 TB that is a per-partition sort of the full
# fanout where HashAggregate would stream it. It appears whenever an
# aggregate's buffer is not mutable-fixed-width (struct/array-typed
# buffers), which codegen HashAggregate cannot update in place. The
# r15 graph_harmonic_landmarks word-packing win (bitmap buffer →
# bit_or longs, SortAggregate → HashAggregate, ~20%) shows these are
# sometimes fixable, so every occurrence needs a reviewed reason:
# either the rewrite was measured-and-rejected or the input is bounded.
# The struct-keyed entries are the struct-ORDERING-KEY min_by/max_by
# argmin device — the struct key itself forces the sort (measured r16:
# carrying only a scalar value keeps BOTH SortAggregates and adds a
# join; A/B in sim_kmeans_update's docstring) — and all stay map-side
# combinable, so the exchange carries one partial row per group.
_SORT_AGGREGATE_ALLOWLIST: dict[str, str] = {
    "sim_kmeans_update": "struct-keyed argmin (min_by) over the K-fanout;"
    " rewrite measured-and-rejected r16 (docstring A/B)",
    "sim_pq_train": "same struct-keyed argmin per (vector, subspace);"
    " fanout bounded by M subspaces x K codewords",
    "dedup_semdedup": "struct-keyed argmax keeper pick over in-cluster"
    " pairs; fanout bounded by the cluster-blocking contract",
    "sim_pipeline": "composes the assignment/prune argmin stages above"
    " (same device, 4 subtree repetitions documented)",
    "sim_centroid_assign": "origin of the struct-keyed argmin device;"
    " K-fanout bounded, exchange = one partial per vector",
    "sim_pq_adc": "struct-keyed argmin per (vector, subspace); fanout"
    " bounded by M x K lookup-table rows",
    "timeseries_resample_ohlc": "struct-ordered min_by/max_by open/close;"
    " exchange stays grid-sized (docstring scale note, plan-pinned)",
    "agg_bitmap_distinct": "bitmap_construct_agg's binary buffer is not"
    " (Object)HashAggregate-eligible; docstring exec note points"
    " sort-hostile fan-outs at the word-packed bit_or variant",
    "agg_theta_setops": "theta-sketch binary buffer; KB-sized mergeable"
    " state is the whole point (map-side combinable)",
    # the entries below sit behind materialize() barriers (seen through
    # record_barriers)
    "graph_label_propagation": "per-round struct-keyed argmax (min_by over"
    " (-cnt, lbl)) in each LPA round; one row per node, state never"
    " node x node",
    "graph_modularity": "scores graph_label_propagation's clustering; same"
    " per-round struct-keyed min_by, one row per node",
    "pareto_frontier": "per-price argmax max(struct(size, n_parts)) (step"
    " 2); at most one row per distinct price",
}


# Scan-width sweep (r16, R17_PLAN depth item 3 pulled forward — the
# third registry-wide dimension): column pruning that never reaches the
# FileScan is invisible in row counts and only hurts at 100 TB — a
# 16-column lineitem scan behind a 4-column aggregation reads 4x the
# bytes it needs. For every FileSourceScanExec over one of the WIDE base
# tables (>= _WIDE_SCAN_MIN_COLS columns; the narrow dims region/nation/
# supplier/embeddings are excluded — reading all 2-4 columns of those is
# usually the op's actual projection, not a pruning failure), a
# requiredSchema as wide as the table itself is a violation unless a
# reviewed reason says the op genuinely consumes every column. The r16
# discovery sweep (scripts/scan_width_sweep.py) found ZERO wide-table
# full-width scans across all 302 registered ops, so the allowlist
# starts — and should stay — empty.
_WIDE_SCAN_MIN_COLS = 5
_FULL_WIDTH_SCAN_ALLOWLIST: dict[str, str] = {}

# Data-sized broadcast sweep (r16, fourth dimension): an EXPLICIT
# F.broadcast() hint on a side that is a FACT-table relation
# (cardinality grows with SF) with no aggregation/limit reducing it
# FORCES a data-sized broadcast at any scale — works at sf0.1, OOMs the
# driver at 100 TB. Catalyst AUTO-broadcasts are deliberately NOT
# flagged: they are statistics-driven and re-plan to shuffle joins when
# the side outgrows the threshold (the r16 physical-plan prototype
# flagged 91 of those before this was understood — all noise). The
# fixed/sublinear dims (tables.BROADCAST_TABLES) are fine to broadcast
# by contract; an Aggregate/Limit between relation and hint bounds the
# broadcast by group/limit cardinality (its bound is reviewed by the
# docstring discipline). Detection walks the OPTIMIZED LOGICAL plan —
# the hint lives on the Join node there; the physical BroadcastExchange
# is only inserted in the executed plan and a sparkPlan-based detector
# false-cleans everything.
# Every current entry broadcasts a KEY-RANGE-bounded slice of the
# embeddings table: `vec_id < N_QUERIES` (8) / `< N_CENTROIDS` /
# `< PQ_K` are literal ranges over the dense-from-0 vec_id, so their
# cardinality is CONSTANT at any SF — a bound the structural reducer
# walk cannot see (it is a Filter, not an Aggregate). The TPC-H ops
# that broadcast SF-LINEAR customer/part were NOT allowlisted — their
# hints were removed instead (statistics decide; r16).
_DATA_SIZED_BROADCAST_ALLOWLIST: dict[str, str] = {
    "dedup_semdedup": "centroid slice: vec_id < K, fixed rows at any SF",
    "sim_ann_lsh": "query set: vec_id < N_QUERIES (8 rows at any SF)",
    "sim_centroid_assign": "centroid slice: vec_id < N_CENTROIDS, fixed",
    "sim_ivf": "query set + centroid slice, both key-range fixed",
    "sim_ivf_persist": "query set + centroid slice, both key-range fixed",
    "sim_ivfpq_search": "query set + codebook slices, key-range fixed",
    "sim_kmeans_update": "centroid slice: vec_id < N_CENTROIDS, fixed",
    "sim_mips_topk": "query set: vec_id < N_QUERIES, fixed",
    "sim_pipeline": "composes the query-set/centroid slices above",
    "sim_pq_adc": "codebook (M x K rows) + query set, key-range fixed",
    "sim_pq_train": "codebook seed: vec_id < PQ_K, fixed",
    "sim_quantized_topk": "query set: vec_id < N_QUERIES, fixed",
    "sim_random_projection": "projection seed slice, key-range fixed",
    "sim_recall_at_k": "query set: vec_id < N_QUERIES, fixed",
    "sim_silhouette": "centroid slice: vec_id < N_CENTROIDS, fixed",
    "sim_topk_cosine": "query set: vec_id < N_QUERIES (8 rows at any SF)",
    "sim_two_stage_rerank": "query set: vec_id < N_QUERIES, fixed",
    "sim_diversity_mmr": "query set: vec_id < N_QUERIES, fixed (the"
    " candidate pool behind its materialize() barrier)",
}

_LOGICAL_REDUCERS = {"Aggregate", "GlobalLimit", "LocalLimit"}


def _fact_tables():
    from xml_to_parquet_spark.tables import BROADCAST_TABLES, TABLE_NAMES

    return [t for t in TABLE_NAMES if t not in BROADCAST_TABLES]


def _unreduced_fact_rels(node, reduced=False):
    cname = node.getClass().getSimpleName()
    if cname in _LOGICAL_REDUCERS:
        reduced = True
    hits = []
    if cname == "LogicalRelation" and not reduced:
        try:
            loc = node.relation().location().rootPaths().apply(0).toString()
        except Exception:  # noqa: BLE001 — non-file relations have no location
            loc = ""
        path = loc.removeprefix("file:").rstrip("/")
        for t in _fact_tables():
            if path.endswith(f"/{t}.parquet"):
                hits.append(t)
    ch = node.children()
    for i in range(ch.size()):
        hits += _unreduced_fact_rels(ch.apply(i), reduced)
    return hits


def _data_sized_broadcasts(jqe) -> list[str]:
    """Fact tables under an explicit broadcast HINT with no reducer in
    between, from the optimized logical plan."""
    hits = []
    stack = [jqe.optimizedPlan()]
    while stack:
        node = stack.pop()
        if node.getClass().getSimpleName() == "Join":
            hint = node.hint().toString()
            ch = node.children()
            if "leftHint=(strategy=broadcast" in hint:
                hits += _unreduced_fact_rels(ch.apply(0))
            if "rightHint=(strategy=broadcast" in hint:
                hits += _unreduced_fact_rels(ch.apply(1))
        ch = node.children()
        for i in range(ch.size()):
            stack.append(ch.apply(i))
        try:  # scalar/EXISTS subquery plans can carry hints too
            sq = node.subqueries()
            for i in range(sq.size()):
                stack.append(sq.apply(i))
        except Exception:  # noqa: BLE001
            pass
    return hits


def _base_table_widths(spark):
    from xml_to_parquet_spark.tables import TABLE_NAMES

    widths = {}
    for t in TABLE_NAMES:
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(p):
            widths[t] = len(spark.read.parquet(p).schema)
    return widths


def _file_scans(jplan):
    """[(root_path, n_required_fields)] for every FileSourceScanExec under
    the pre-AQE physical plan, including subquery/broadcast subtrees.
    Walking the JVM tree (not the toString) avoids the 100-char metadata
    truncation that makes ReadSchema unparseable for wide tables."""
    out = []
    stack = [jplan]
    while stack:
        node = stack.pop()
        if node.getClass().getSimpleName() == "FileSourceScanExec":
            out.append(
                (
                    node.relation().location().rootPaths().apply(0).toString(),
                    node.requiredSchema().size(),
                )
            )
        ch = node.children()
        for i in range(ch.size()):
            stack.append(ch.apply(i))
        try:
            sq = node.subqueries()
            for i in range(sq.size()):
                stack.append(sq.apply(i))
        except Exception:  # noqa: BLE001 — not every node exposes subqueries
            pass
    return out


def _wide_full_width_scans(jplan, widths) -> list[str]:
    from xml_to_parquet_spark.tables import TABLE_NAMES

    hits = []
    base = os.path.abspath(SF_DIR)
    for loc, n_read in _file_scans(jplan):
        path = loc.removeprefix("file:")
        if not path.startswith(base):
            continue  # fixture/scratch outputs are the op's own layout
        for t in TABLE_NAMES:
            if path.rstrip("/").endswith(f"/{t}.parquet"):
                full = widths.get(t, 0)
                if full >= _WIDE_SCAN_MIN_COLS and n_read >= full:
                    hits.append(f"{t} (read {n_read}/{full} cols)")
    return hits


def _unpartitioned_window_specs(plan: str) -> list[str]:
    """Every windowspecdefinition in ``plan`` with NO partition columns
    (all leading args are `col ASC/DESC ...` orderings, or none at all
    — a frame-only grid-total window)."""
    out = []
    for m in re.finditer(r"windowspecdefinition\(", plan):
        i = m.end()
        depth, j = 1, i
        while depth:
            if plan[j] == "(":
                depth += 1
            elif plan[j] == ")":
                depth -= 1
            j += 1
        head = plan[i : j - 1].split("specifiedwindowframe")[0].rstrip(", ")
        args, d, cur = [], 0, ""
        for ch in head:
            if ch == "(":
                d += 1
            elif ch == ")":
                d -= 1
            if ch == "," and d == 0:
                args.append(cur.strip())
                cur = ""
            else:
                cur += ch
        if cur.strip():
            args.append(cur.strip())
        if not [a for a in args if " ASC" not in a and " DESC" not in a]:
            out.append(head[:80] or "<frame-only>")
    return out


def test_scan_width_detector_fires_on_unpruned_plan(spark):
    """Negative control: the detector must FLAG a genuinely full-width
    wide-table scan and must NOT flag a pruned one — otherwise the sweep
    below is a rubber stamp."""
    if not os.path.isdir(SF_DIR):
        pytest.skip(f"{SF_DIR} missing")
    widths = _base_table_widths(spark)
    li = os.path.join(SF_DIR, "lineitem.parquet")
    full = spark.read.parquet(li)  # select * — nothing pruned
    hits = _wide_full_width_scans(
        full._jdf.queryExecution().sparkPlan(), widths
    )
    assert hits and hits[0].startswith("lineitem")
    pruned = full.groupBy("l_returnflag").count()
    assert not _wide_full_width_scans(
        pruned._jdf.queryExecution().sparkPlan(), widths
    )


def test_broadcast_detector_fires_on_data_sized_broadcast(spark):
    """Negative control: an explicit broadcast() of a filtered-but-
    unaggregated lineitem slice must be flagged; an aggregated (grid-
    sized) broadcast of the same table must not."""
    if not os.path.isdir(SF_DIR):
        pytest.skip(f"{SF_DIR} missing")
    from pyspark.sql import functions as F

    li = spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet"))
    orders = spark.read.parquet(os.path.join(SF_DIR, "orders.parquet"))
    bad = orders.join(
        F.broadcast(li.filter(F.col("l_quantity") > 10).select("l_orderkey")),
        orders["o_orderkey"] == F.col("l_orderkey"),
    )
    assert _data_sized_broadcasts(bad._jdf.queryExecution())
    good = orders.join(
        F.broadcast(
            li.groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("n"))
        ),
        F.lit(True),
        "left",
    )
    assert not _data_sized_broadcasts(good._jdf.queryExecution())
    auto = orders.join(  # statistics-driven broadcast: re-plans at scale
        li.select("l_orderkey", "l_quantity"),
        orders["o_orderkey"] == F.col("l_orderkey"),
    )
    assert not _data_sized_broadcasts(auto._jdf.queryExecution())


def test_unpartitioned_windows_all_justified(spark):
    if not os.path.isdir(SF_DIR):
        pytest.skip(f"{SF_DIR} missing")
    queries = dict(load_all())
    queries.update({name: qd for name, qd in STAGED.items()})
    violations: list[str] = []
    seen: set[str] = set()
    for name, qd in sorted(queries.items()):
        try:
            plan = (
                qd.fn(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
            )
        except Exception as e:  # noqa: BLE001 — report, don't abort the sweep
            violations.append(f"{name}: plan build failed: {e!r:.200}")
            continue
        specs = _unpartitioned_window_specs(plan)
        if specs:
            seen.add(name)
            if name not in _UNPARTITIONED_WINDOW_ALLOWLIST:
                violations.append(
                    f"{name}: unpartitioned WindowExec ({specs[0]}) — add a "
                    "reviewed bound to _UNPARTITIONED_WINDOW_ALLOWLIST or "
                    "partition the window"
                )
    assert not violations, "\n".join(violations)
    # the allowlist must not rot: an entry whose op no longer has an
    # unpartitioned window should be removed (its justification is dead)
    stale = sorted(set(_UNPARTITIONED_WINDOW_ALLOWLIST) - seen)
    assert not stale, f"allowlist entries with no unpartitioned window: {stale}"


def test_no_plan_smells_across_entire_registry(spark):
    if not os.path.isdir(SF_DIR):
        pytest.skip(f"{SF_DIR} missing")
    queries = dict(load_all())
    queries.update({name: qd for name, qd in STAGED.items()})
    violations: list[str] = []
    seen_sort_agg: set[str] = set()
    seen_full_width: set[str] = set()
    seen_fat_broadcast: set[str] = set()
    widths = _base_table_widths(spark)
    for name, qd in sorted(queries.items()):
        try:
            # the served plan plus every materialize() input plan: smells
            # behind a barrier still execute, the served plan only shows
            # the checkpoint scan that replaced them
            with record_barriers() as jqes:
                df = qd.fn(spark, SF_DIR)
            jqes = [df._jdf.queryExecution(), *jqes]
            plan = "\n".join(j.executedPlan().toString() for j in jqes)
            wide_scans = [
                h for j in jqes for h in _wide_full_width_scans(j.sparkPlan(), widths)
            ]
            fat_broadcasts = [h for j in jqes for h in _data_sized_broadcasts(j)]
        except Exception as e:  # noqa: BLE001 — report, don't abort the sweep
            violations.append(f"{name}: plan build failed: {e!r:.200}")
            continue
        if wide_scans:
            seen_full_width.add(name)
            if name not in _FULL_WIDTH_SCAN_ALLOWLIST:
                violations.append(
                    f"{name}: full-width wide-table scan ({wide_scans[0]}) — "
                    "column pruning did not reach the FileScan; project the "
                    "needed columns or add a reviewed reason to "
                    "_FULL_WIDTH_SCAN_ALLOWLIST"
                )
        if fat_broadcasts:
            seen_fat_broadcast.add(name)
            if name not in _DATA_SIZED_BROADCAST_ALLOWLIST:
                violations.append(
                    f"{name}: broadcast HINT over an unreduced "
                    f"{fat_broadcasts[0]} relation — a forced data-sized "
                    "broadcast OOMs at scale; drop the hint (statistics "
                    "decide), aggregate/limit the side, or add a reviewed "
                    "bound to _DATA_SIZED_BROADCAST_ALLOWLIST"
                )
        allowed = _SMELL_ALLOWLIST.get(name, set())
        if "CartesianProduct" in plan and "CartesianProduct" not in allowed:
            violations.append(f"{name}: CartesianProduct in plan")
        if _UDF_SMELL_RE.search(plan) and _UDF_SMELL not in allowed:
            violations.append(f"{name}: row-at-a-time Python UDF in plan")
        if "SortAggregate" in plan:
            seen_sort_agg.add(name)
            if name not in _SORT_AGGREGATE_ALLOWLIST:
                violations.append(
                    f"{name}: SortAggregate in plan — non-fixed-width "
                    "aggregate buffer; rewrite to a hash-aggregable form "
                    "(the harmonic_landmarks word-packing precedent) or "
                    "add a reviewed reason to _SORT_AGGREGATE_ALLOWLIST"
                )
    assert not violations, "\n".join(violations)
    stale = sorted(set(_SORT_AGGREGATE_ALLOWLIST) - seen_sort_agg)
    assert not stale, f"SortAggregate allowlist entries with none in plan: {stale}"
    stale_fw = sorted(set(_FULL_WIDTH_SCAN_ALLOWLIST) - seen_full_width)
    assert not stale_fw, f"full-width-scan allowlist with no such scan: {stale_fw}"
    stale_bc = sorted(set(_DATA_SIZED_BROADCAST_ALLOWLIST) - seen_fat_broadcast)
    assert not stale_bc, f"broadcast allowlist with no hinted broadcast: {stale_bc}"

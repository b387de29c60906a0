"""The benchmark's workloads: ``conversion_mix`` and ``query_mix``.

Each workload makes its inputs and expected results from a seed (no Spark),
names the steps of one pass over the program's public calls (``steps``: a
conversion path or a query each), checks the pass's output (``check``), and
in traced mode runs the same pass split into the layers it crosses, timing
each call from outside (``run_traced``).
"""

from __future__ import annotations

import glob
import logging
import os
import random
import shutil
import statistics
import time

import checks
import inputs

HERE = os.path.dirname(os.path.abspath(__file__))
XSD = os.path.join(HERE, "PurchaseOrder.xsd")

_log = logging.getLogger("perfbench")


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(m: dict, key: str, groups, group: str, fn):
    """Run ``fn`` under job group ``group``; add its wall time to ``m[key]``."""
    with groups.call(group):
        t0 = time.perf_counter()
        result = fn()
        m[key] = m.get(key, 0.0) + time.perf_counter() - t0
    return result


def _output_stats(path: str) -> tuple[int, int]:
    files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    return len(files), sum(os.path.getsize(f) for f in files)


def _missing_all(expected) -> checks.Outcome:
    return checks.Outcome(attempted=len(expected), missing=set(expected))


class DatasetSmallFiles:
    """120 small documents through ``convert_to_dataset`` (the CLI's
    ``--dataset`` path): per-file work, file listing and split packing."""

    N_FILES = 120

    def prepare(self, seed: int, work: str, cpus: int) -> None:
        self.in_dir, self.out = f"{work}/in", f"{work}/out"
        records = inputs.write_documents(random.Random(seed), self.in_dir, self.N_FILES)
        self.expected = {r.name: r for r in records}

    def clear(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)

    def run(self, spark) -> None:
        from xml_to_parquet_spark import convert_to_dataset

        convert_to_dataset(spark, [f"{self.in_dir}/*.xml"], XSD, self.out)

    def check(self) -> checks.Outcome:
        if not os.path.isdir(self.out):
            return _missing_all(self.expected)
        return checks.check_dataset(self.out, self.expected, ("_src",))

    def run_traced(self, spark, groups, label: str) -> dict[str, float]:
        from xml_to_parquet_spark import read_xml_documents

        m: dict[str, float] = {}
        files = sorted(glob.glob(f"{self.in_dir}/*.xml"))
        df = _timed(m, "xml_source.build_s", groups, f"{label}:build",
                    lambda: read_xml_documents(spark, files, XSD, source_col=True))
        m["xml_source.build_tasks"] = groups.tasks[f"{label}:build"]
        _timed(m, "xml_source.parse_s", groups, f"{label}:parse", lambda: _noop(df))
        _timed(m, "xml_source.convert_s", groups, f"{label}:convert", lambda: self.run(spark))
        m["parquet.write_s"] = m["xml_source.convert_s"] - m["xml_source.build_s"] - m["xml_source.parse_s"]
        m["dataset.output_files"], m["output.bytes"] = _output_stats(self.out)
        return m


class PerFileMixedSizes:
    """A reference-style batch through ``convert`` (the CLI default, one
    Parquet file per input): three small documents and one of 6000 items."""

    N_SMALL, N_LARGE, LARGE_ITEMS = 3, 1, 6000

    def prepare(self, seed: int, work: str, cpus: int) -> None:
        self.in_dir, self.out = f"{work}/in", f"{work}/out"
        records = inputs.write_documents(
            random.Random(seed), self.in_dir, self.N_SMALL, self.N_LARGE, self.LARGE_ITEMS
        )
        self.expected = {r.name: r for r in records}

    def clear(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)
        os.makedirs(self.out)

    def run(self, spark) -> None:
        from xml_to_parquet_spark import convert

        convert(spark, [f"{self.in_dir}/*.xml"], XSD, target_path=self.out)

    def check(self) -> checks.Outcome:
        return checks.check_per_file(self.out, self.expected)

    def run_traced(self, spark, groups, label: str) -> dict[str, float]:
        from xml_to_parquet_spark import convert

        m: dict[str, float] = {}
        small, large, jobs = [], [], 0
        for path in sorted(glob.glob(f"{self.in_dir}/*.xml")):
            group = f"{label}:{os.path.basename(path)}"
            t = {}
            _timed(t, "s", groups, group, lambda: convert(spark, [path], XSD, target_path=self.out))
            (large if os.path.basename(path).startswith("large_") else small).append(t["s"])
            jobs += groups.jobs[group]
        m["compat.small_file_s"] = statistics.median(small)
        m["compat.large_doc_s"] = statistics.median(large)
        m["compat.jobs_per_file"] = jobs / (len(small) + len(large))
        m["xml_source.convert_s"] = sum(small) + sum(large)
        m["dataset.output_files"], m["output.bytes"] = _output_stats(self.out)
        return m


class ArchiveMembers:
    """A tar.gz and a zip of 600 members each through
    ``convert_archives_to_dataset``: Python-worker extraction, the
    ``parse_parallelism`` shuffle and ``from_xml``."""

    MEMBERS = 600  # per archive

    def prepare(self, seed: int, work: str, cpus: int) -> None:
        self.cpus = cpus
        made = inputs.write_archives(random.Random(seed), f"{work}/in", self.MEMBERS)
        self.tar, self.zip = sorted(made, key=lambda p: not p.endswith(".tar.gz"))
        self.outs = {self.tar: f"{work}/out_tar", self.zip: f"{work}/out_zip"}
        self.expected = {
            path: {f"{os.path.basename(path)}/{r.name}": r for r in recs} for path, recs in made.items()
        }

    def clear(self) -> None:
        for out in self.outs.values():
            shutil.rmtree(out, ignore_errors=True)

    def _convert(self, spark, path: str) -> None:
        from xml_to_parquet_spark import convert_archives_to_dataset

        kind = "tar" if path == self.tar else "zip"
        convert_archives_to_dataset(spark, [path], XSD, kind, self.outs[path], parse_parallelism=self.cpus)

    def run(self, spark) -> None:
        for path in (self.tar, self.zip):
            self._convert(spark, path)

    def check(self) -> checks.Outcome:
        out = checks.Outcome()
        for path, expected in self.expected.items():
            if os.path.isdir(self.outs[path]):
                out.add(checks.check_dataset(self.outs[path], expected, ("_src", "_member")))
            else:
                out.add(_missing_all(expected))
        return out

    def run_traced(self, spark, groups, label: str) -> dict[str, float]:
        from xml_to_parquet_spark.sources import containers
        from xml_to_parquet_spark.sources.xml_source import read_xml_archives

        m: dict[str, float] = {}
        for path, kind in ((self.tar, "tar"), (self.zip, "zip")):
            key = f"containers.expand_{kind}_s"
            _timed(m, key, groups, f"{label}:expand_{kind}",
                   lambda: _noop(containers.expand_archives(spark, [path], kind)))
            _timed(m, "xml_source.archive_parse_s", groups, f"{label}:parse_{kind}",
                   lambda: _noop(read_xml_archives(spark, [path], XSD, kind, drop_malformed=True,
                                                   parse_parallelism=self.cpus)))
            m["xml_source.archive_parse_s"] -= m[key]
            _timed(m, "xml_source.convert_s", groups, f"{label}:convert_{kind}",
                   lambda: self._convert(spark, path))
        files, size = zip(*(_output_stats(o) for o in self.outs.values()))
        m["dataset.output_files"], m["output.bytes"] = sum(files), sum(size)
        return m


class QueryMix:
    """Registry queries on seeded TPC-H-like tables, each checked against
    its DuckDB twin SQL run on the same parquet files."""

    name = "query_mix"
    PASS_S = 6.0  # warm pass wall time on the reference machine
    QUERIES = [
        "q3_shipping_priority",
        "window_rank",
        "dedup_minhash_lsh",
        "pagerank_fixed",
        "udf_cogrouped_pandas",
        "stream_tumbling_window",
    ]

    def prepare(self, seed: int, work: str, cpus: int) -> None:
        import duckdb
        from xml_to_parquet_spark.registry import load_all
        from xml_to_parquet_spark.tables import TABLE_NAMES

        self.sf = f"{work}/tables"
        inputs.write_tables(seed, self.sf)
        registry = load_all()
        self.fns = {q: registry[q].fn for q in self.QUERIES}
        with duckdb.connect() as con:
            for t in TABLE_NAMES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf}/{t}.parquet'")
            self.oracle = {q: con.execute(registry[q].oracle).df() for q in self.QUERIES}
        self.results: dict = {}

    def clear(self) -> None:
        self.results = {}

    def _query(self, spark, q: str, build=None, run=None):
        try:
            df = build(lambda: self.fns[q](spark, self.sf)) if build else self.fns[q](spark, self.sf)
            self.results[q] = run(df.toPandas) if run else df.toPandas()
        except Exception:
            _log.exception("query %s failed", q)

    def steps(self) -> dict:
        return {q: (lambda spark, q=q: self._query(spark, q)) for q in self.QUERIES}

    def check(self) -> checks.Outcome:
        out = checks.Outcome(attempted=len(self.QUERIES))
        for q in self.QUERIES:
            if q not in self.results:
                out.missing.add(q)
            elif (problem := checks.check_query(q, self.results[q], self.oracle[q])) is not None:
                out.wrong[q] = problem
        return out

    def run_traced(self, spark, groups, label: str) -> dict[str, float]:
        from xml_to_parquet_spark.materialize import record_barriers

        m: dict[str, float] = {}
        for q in self.QUERIES:
            with record_barriers() as plans:
                self._query(
                    spark, q,
                    build=lambda f: _timed(m, f"query.{q}.build_s", groups, f"{label}:{q}:build", f),
                    run=lambda f: _timed(m, f"query.{q}.run_s", groups, f"{label}:{q}:run", f),
                )
            m[f"query.{q}.barriers"] = len(plans)
        m["materialize.barriers"] = sum(m[f"query.{q}.barriers"] for q in self.QUERIES)
        return m


class ConversionMix:
    """One pass runs the three conversion paths on their own inputs: a
    small-file dataset, a per-file compat batch and two archives."""

    name = "conversion_mix"
    PASS_S = 4.5  # warm pass wall time on the reference machine

    def __init__(self) -> None:
        self.parts = {"dataset": DatasetSmallFiles(), "per_file": PerFileMixedSizes(), "archives": ArchiveMembers()}

    def prepare(self, seed: int, work: str, cpus: int) -> None:
        for i, (key, part) in enumerate(self.parts.items()):
            part.prepare(seed * 3 + i, f"{work}/{key}", cpus)

    def clear(self) -> None:
        for part in self.parts.values():
            part.clear()

    def steps(self) -> dict:
        return {key: part.run for key, part in self.parts.items()}

    def check(self) -> checks.Outcome:
        out = checks.Outcome()
        for key, part in self.parts.items():
            o = part.check()
            out.attempted += o.attempted
            out.missing |= {f"{key}:{k}" for k in o.missing}
            out.wrong.update({f"{key}:{k}": v for k, v in o.wrong.items()})
        return out

    def run_traced(self, spark, groups, label: str) -> dict[str, float]:
        m: dict[str, float] = {}
        for key, part in self.parts.items():
            for k, v in part.run_traced(spark, groups, f"{label}:{key}").items():
                m[k] = m.get(k, 0.0) + v
        return m


WORKLOADS = {w.name: w for w in (ConversionMix, QueryMix)}

"""Benchmark command: one workload, one seed, one fresh process.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The run generates its inputs from the seed,
starts Spark at local[<cores>], does one untimed warm-up pass, then times
``max(3, round(--seconds / PASS_S))`` whole passes, ``PASS_S`` being the
workload's warm pass time on the reference machine, and checks every pass's
output. Each step of a pass (a conversion path or a query) is timed on its
own; ``cpu_s`` adds up each step's lowest CPU time over the timed passes,
leaving out the JVM's JIT compiler threads. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the run also writes
Spark's event log, runs each pass split into its layers, and reports the
per-layer metrics. Everything the run writes lives in one directory under
``.perfbench_tmp/`` that is removed at the end.
"""

from __future__ import annotations

import argparse
import json
import logging
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import procs  # noqa: E402

_log = logging.getLogger("perfbench")

WARMUP_PASSES = 1
# procs.cpu_probe_s() on the reference machine
PROBE_REF_S = 0.005

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def _report(section: str, values: dict[str, float]) -> dict:
    """Exactly the metrics BENCHMARK.json lists under ``section``, in its
    order and with its units."""
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in SPEC[section]}


def _check_spec_queries(queries: list[str]) -> None:
    listed = {m["name"].split(".")[1] for m in SPEC["per_layer"] if m["name"].startswith("query.")}
    if listed != set(queries):
        raise SystemExit(f"BENCHMARK.json lists per-query metrics for {sorted(listed)}, "
                         f"the query mix runs {sorted(queries)}")


def _spark_defaults(work: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        from sparktrace import EVENT_LOG_CONF

        os.makedirs(f"{work}/eventlog")
        conf |= EVENT_LOG_CONF | {"spark.eventLog.dir": f"file://{work}/eventlog"}
    return conf


def _isolate(work: str, trace: bool, cpus: int) -> None:
    """Point every file Spark, the JVM, the workers and the operators write
    into ``work``, before the JVM starts."""
    for d in ("conf", "tmp", "local", "scratch"):
        os.makedirs(f"{work}/{d}")
    with open(f"{work}/conf/spark-defaults.conf", "w") as fh:
        for k, v in _spark_defaults(work, trace).items():
            fh.write(f"{k} {v}\n")
    os.environ.update(
        SPARK_CONF_DIR=f"{work}/conf",
        SPARK_LOCAL_DIRS=f"{work}/local",
        XTPS_SCRATCH_ROOT=f"{work}/scratch",
        TMPDIR=f"{work}/tmp",
        SPARK_GRAFT_CPUS=str(cpus),
        PYTHONPATH=os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
    )
    tempfile.tempdir = None  # re-read TMPDIR


def _stop_spark(spark) -> None:
    """Stop the session and the JVM behind it (``SparkSession.stop`` leaves
    the gateway JVM running until the driver exits)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


class Run:
    def __init__(self, workload, seed: int, seconds: float, trace: bool) -> None:
        self.w, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.cpus = len(os.sched_getaffinity(0))
        self.attempted = self.failed = 0
        self.wrong: dict[str, str] = {}
        self.passes: list[dict[str, float]] = []  # timed passes only

    def _run_steps(self, spark) -> dict[str, float]:
        """One untraced pass, each step timed on its own (wall and CPU)."""
        m: dict[str, float] = {}
        for name, step in self.w.steps().items():
            cpu0 = self.p.cpu()
            t0 = time.perf_counter()
            step(spark)
            m[f"step.{name}.wall_s"] = time.perf_counter() - t0
            cpu1 = self.p.cpu()
            m[f"step.{name}.cpu_s"] = sum(cpu1[k] - cpu0[k] for k in cpu1 if k != "jit")
        return m

    def _pass(self, spark, label: str) -> dict[str, float]:
        self.w.clear()
        cpu0 = self.p.cpu()
        t0 = time.perf_counter()
        if self.trace:
            m = self.w.run_traced(spark, self.groups, label)
        else:
            m = self._run_steps(spark)
        m["wall_s"] = time.perf_counter() - t0
        cpu1 = self.p.cpu()
        for k in cpu0:
            m[f"cpu.{k}_s"] = cpu1[k] - cpu0[k]
        m["cpu_s"] = sum(cpu1[k] - cpu0[k] for k in cpu1 if k != "jit")
        self.p.sample_memory()
        t0 = time.perf_counter()
        outcome = self.w.check()
        m["check_s"] = time.perf_counter() - t0
        self.attempted += outcome.attempted
        self.failed += len(outcome.missing)
        self.wrong.update({f"{label}:{k}": v for k, v in outcome.wrong.items()})
        if outcome.missing or outcome.wrong:
            _log.error("pass %s: %d missing %s, wrong %s", label, len(outcome.missing),
                       sorted(outcome.missing)[:5], dict(list(outcome.wrong.items())[:5]))
        m["ops"] = outcome.attempted
        _log.info("pass %s: %.3f s wall, %.2f s cpu + %.2f s jit, %d ops; steps (wall/cpu s): %s",
                  label, m["wall_s"], m["cpu_s"], m["cpu.jit_s"], m["ops"],
                  " ".join(f"{k[5:-7]} {v:.3f}/{m[k[:-6] + 'cpu_s']:.2f}" for k, v in m.items()
                           if k.startswith("step.") and k.endswith(".wall_s")))
        return m

    def execute(self, work: str) -> dict:
        t = time.perf_counter()
        self.w.prepare(self.seed, f"{work}/data", self.cpus)
        gen_s = time.perf_counter() - t

        from xml_to_parquet_spark import get_spark, xsd_to_spark_schema
        import workloads

        layers: dict[str, float] = {}
        t = time.perf_counter()
        spark = get_spark("perfbench")
        layers["session.start_s"] = time.perf_counter() - t
        try:
            self.p = procs.ProgramProcesses()
            if self.trace:
                from sparktrace import JobGroups

                self.groups = JobGroups(spark.sparkContext)
            layers["xsd.compile_s"] = 0.0
            if self.w.name != "query_mix":
                t = time.perf_counter()
                xsd_to_spark_schema(spark, workloads.XSD)
                layers["xsd.compile_s"] = time.perf_counter() - t
            t = time.perf_counter()
            # the first pass still compiles (3-5x a warm pass) and CPU per pass
            # keeps falling for several passes after it; checks are not set-up
            check_s = sum(self._pass(spark, f"pb:w{i}")["check_s"] for i in range(WARMUP_PASSES))
            layers["warmup_s"] = time.perf_counter() - t - check_s
            setup_s = procs.seconds_since_process_start() - gen_s - check_s
            # a fixed count: CPU per pass still falls slowly here, so a count
            # set by the clock would let runs on a faster host time later,
            # cheaper passes and amplify the host's drift
            probes = [procs.cpu_probe_s()]
            for i in range(max(3, round(self.seconds / self.w.PASS_S))):
                self.passes.append(self._pass(spark, f"pb:{i}"))
                probes.append(procs.cpu_probe_s())
            layers["host.probe_s"] = statistics.mean(probes)
            _log.info("host probe: %s s", " ".join(f"{p:.5f}" for p in probes))
            peak_rss_mb = self.p.peak_rss_mb()
        finally:
            _stop_spark(spark)
            alive = self.p.wait_ended(timeout=60) if hasattr(self, "p") else []
        if alive:
            for pid in alive:
                os.kill(pid, signal.SIGKILL)
            raise RuntimeError(f"processes still alive 60 s after the session stopped: {alive}")

        med = {k: statistics.median(m[k] for m in self.passes) for k in self.passes[0]}
        if not self.trace:
            # each step at its best over the timed passes: a neighbour's burst
            # on a shared host slows some steps of some passes, never speeds one
            cpu_s = sum(min(m[f"step.{s}.cpu_s"] for m in self.passes) for s in self.w.steps())
            _log.info("cpu_s %.3f s on this host, probe %.5f s", cpu_s, layers["host.probe_s"])
            # in seconds of a CPU that runs the probe in PROBE_REF_S
            return _report("end_to_end", {"setup_s": setup_s, "cpu_s": cpu_s * PROBE_REF_S / layers["host.probe_s"]})
        layers["memory.peak_rss_mb"] = peak_rss_mb
        layers["ops_per_s"] = med["ops"] / med["wall_s"]
        return self._layer_metrics(work, layers, med)

    def _layer_metrics(self, work: str, layers: dict, med: dict) -> dict:
        from sparktrace import read_event_log

        names = [m["name"] for m in SPEC["per_layer"]]
        values = dict.fromkeys(names, 0.0)
        values.update(layers)
        values.update({k: v for k, v in med.items() if k in values})
        timed = [f"pb:{i}" for i in range(len(self.passes))]

        def in_timed(group: str) -> bool:
            return any(group.startswith(label + ":") for label in timed)

        events = read_event_log(f"{work}/eventlog")
        n = len(self.passes)
        for k in (n.removeprefix("stage.") for n in names if n.startswith("stage.")):
            values[f"stage.{k}"] = sum(t[k] for g, t in events.items() if in_timed(g)) / n
        log_tasks = sum(t["tasks"] for g, t in events.items() if in_timed(g))
        tracker_tasks = sum(c for g, c in self.groups.tasks.items() if in_timed(g))
        values["spark.tasks"] = tracker_tasks / n
        jvm_cpu = sum(m["cpu.jvm_s"] for m in self.passes)
        if log_tasks != tracker_tasks:
            self.wrong["trace"] = f"status tracker saw {tracker_tasks} tasks, event log {log_tasks}"
        if values["stage.cpu_s"] * n > jvm_cpu:
            self.wrong["trace"] = f"executor CPU {values['stage.cpu_s'] * n:.2f} s > JVM CPU {jvm_cpu:.2f} s"
        _log.info("traced: %d tasks in both status tracker and event log: %s", tracker_tasks,
                  log_tasks == tracker_tasks)
        return _report("per_layer", values)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    logging.basicConfig(stream=sys.stderr, format="%(asctime)s %(name)s %(message)s")
    _log.setLevel(logging.INFO)

    # fails here, before anything is written, where the program is absent
    import pyspark  # noqa: F401
    import xml_to_parquet_spark  # noqa: F401
    import workloads

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    _check_spec_queries(workloads.QueryMix.QUERIES)
    os.makedirs(os.path.join(ROOT, ".perfbench_tmp"), exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=os.path.join(ROOT, ".perfbench_tmp"))
    run = Run(workloads.WORKLOADS[args.workload](), args.seed, args.seconds, bool(args.trace))
    try:
        _isolate(work, run.trace, run.cpus)
        metrics = run.execute(work)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for k, v in list(run.wrong.items())[:20]:
        _log.error("wrong output: %s: %s", k, v)
    print(json.dumps({
        "correct": not run.wrong,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""adlspark benchmark: times one workload through the engine's public
entry points and prints one JSON result line.

    python3 perfbench/run.py --workload lake_cycle --seed 1 --seconds 30 --trace 0

Workloads: ``lake_cycle`` and ``llm_curation`` (README.md).
With ``--trace 0`` the result carries the end-to-end metrics; with
``--trace 1`` the per-layer metrics, and the spans of the run are written
to ``perfbench/traces/``. Run from the root of a checkout: the engine is
imported from ``./adlspark``. All inputs, Spark scratch space and
temporary files live in a private directory under ``.perfbench_run/``
that the run removes at its end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("lake_cycle", "llm_curation")
CORES = 4
SHUFFLE_PARTITIONS = "8"
# The engine's default 8g heap let the JVM's resident set wander between
# 3.0 and 5.0 GB from run to run; the inputs need far less.
DRIVER_MEM = "2g"
# layers: the registry-owning modules, plus the two the lake cycle calls
MODULES = [
    "ops.aggs", "ops.joins", "ops.windows", "ops.timeseries", "ops.functions",
    "ops.subqueries", "ops.setops", "ops.filters", "ops.sorts", "ops.scans",
    "ops.udfs", "ops.lake", "ops.quality", "llm.dedup", "llm.similarity",
    "llm.graph", "llm.text", "llm.vocab", "llm.multimodal", "streaming.streams",
    "io.ingest", "catalog",
]
STAGE_TOTALS = [
    "stages", "stages_skipped", "tasks", "executor_run_s", "executor_cpu_s",
    "gc_s", "input_mb", "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
    "python_start_s", "python_init_s", "python_run_s",
]
MB = 2.0**20


def _isolate(run_dir: str) -> None:
    """Point every scratch location of Python, the JVM and Spark into the
    run's private directory (set before pyspark starts the JVM)."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["ADLSPARK_SHUFFLE_PARTITIONS"] = SHUFFLE_PARTITIONS
    os.environ["ADLSPARK_DRIVER_MEM"] = DRIVER_MEM


class Tracer:
    """Spans held in memory, written out once at the end of the run."""

    def __init__(self, t0: float) -> None:
        self.t0 = t0
        self.spans: list[dict] = []

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> int:
        self.spans.append({
            "id": len(self.spans), "parent": parent, "name": name,
            "start": round(start - self.t0, 6), "end": round(end - self.t0, 6),
            **attrs,
        })
        return len(self.spans) - 1

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


class StreamCounter:
    """Micro-batch totals from a StreamingQueryListener (traced runs)."""

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        counter = self
        self.batches = self.rows = 0
        self.batch_s = 0.0
        self.seen = time.monotonic()

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                counter.batches += 1
                counter.rows += p.numInputRows
                counter.batch_s += p.batchDuration / 1000.0
                counter.seen = time.monotonic()

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                counter.seen = time.monotonic()

        self.listener = Listener()
        spark.streams.addListener(self.listener)

    def settle(self, quiet: float = 0.3, limit: float = 3.0) -> tuple[int, int, float]:
        """Totals once no event arrived for ``quiet`` seconds (events are
        delivered asynchronously)."""
        end = time.monotonic() + limit
        while time.monotonic() < end and time.monotonic() - self.seen < quiet:
            time.sleep(0.05)
        return self.batches, self.rows, self.batch_s


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, run_dir: str) -> None:
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.run_dir = run_dir
        self.t0 = time.monotonic()
        self.tracer = Tracer(self.t0)
        self.records: list[dict] = []
        self.mismatches: list[str] = []
        self.n_op = 0

    # -- set-up -----------------------------------------------------------

    def start(self) -> None:
        """Start the session while a second thread writes the seeded inputs
        and runs the oracles in DuckDB: the two do not depend on each
        other, and the second ends inside the first."""
        from concurrent.futures import ThreadPoolExecutor

        import probes
        from adlspark.session import build_spark, configure

        self.proc = probes.ProcTree()
        with ThreadPoolExecutor(1) as pool:
            inputs = pool.submit(self.prepare_inputs)
            t = time.monotonic()
            self.spark = build_spark("adlspark-perfbench", master=f"local[{CORES}]")
            configure(self.spark)
            self.spark.sparkContext.setLogLevel("ERROR")
            self.session_start_s = time.monotonic() - t
            self.tracer.add("session.start", t, time.monotonic(), None)
            self.tracer.add("inputs", *inputs.result(), None)
        self.ctx.spark = self.spark
        if self.trace:
            self.stats = probes.SparkStats(self.spark)
            self.streams = StreamCounter(self.spark)

    def prepare_inputs(self) -> tuple[float, float]:
        """Write the inputs, open DuckDB over them and run the oracles;
        returns the start and end of that work."""
        import duckdb

        import datagen
        from workloads import Context, make_batches

        t = time.monotonic()
        sf_dir = os.path.join(self.run_dir, "sf")
        tables = datagen.write_tables(self.seed, sf_dir)
        self.con = duckdb.connect()
        for name in tables:
            path = os.path.join(sf_dir, f"{name}.parquet")
            self.con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        self.ctx = Context(sf_dir, self.con)
        if self.workload == "lake_cycle":
            self.raw_dir = os.path.join(self.run_dir, "raw")
            self.batches = make_batches(tables, self.seed, self.raw_dir)
        self.ctx.prefetch_oracles(self.keys())
        return t, time.monotonic()

    def warm(self) -> None:
        """First-use costs paid before the measured pass, as ``bench.py``
        pays them: the first job, the parquet reader, the first Python
        worker and the full worker pool. (A whole warm-up pass of the
        workload would double a run's length; see README.md.)"""
        t = time.monotonic()
        spark = self.spark
        region = spark.read.parquet(os.path.join(self.ctx.sf_dir, "region.parquet"))
        region.groupBy("r_name").count().collect()
        region.mapInPandas(lambda it: it, region.schema).count()
        par = spark.sparkContext.defaultParallelism
        spark.range(0, par, 1, par).mapInPandas(lambda it: it, "id long").count()
        self.session_warm_s = time.monotonic() - t
        self.tracer.add("session.warm", t, time.monotonic(), None)

    # -- passes -----------------------------------------------------------

    def pass_ops(self, index: int) -> list:
        """The pass's operations, in a fixed order: in a first pass after
        start-up the order decides which operation pays each shared
        first-use cost, and a seeded order moved op_p50_s by 18 % between
        seeds. The seed varies the data only."""
        from workloads import lake_pass

        if self.workload == "llm_curation":
            return [self.ctx.key_op(k) for k in self.keys()]
        return lake_pass(self.ctx, self.batches, self.raw_dir, self.pass_dir(index), self.keys())

    def keys(self) -> list[str]:
        """The registry keys of a pass, in order."""
        from workloads import ANALYTICS, LAKE_KEYS, LLM_CURATION

        return LLM_CURATION if self.workload == "llm_curation" else LAKE_KEYS + ANALYTICS

    def pass_dir(self, index: int) -> str:
        return os.path.join(self.run_dir, f"pass{index + 1}")

    def run_pass(self, index: int) -> None:
        ops = self.pass_ops(index)
        start = time.monotonic()
        span = self.tracer.add(f"pass {index}", start, start, None) if self.trace else None
        for op in ops:
            self.run_op(op, index, span)
        if self.trace:
            self.tracer.spans[span]["end"] = round(time.monotonic() - self.t0, 6)
        self.proc.note_peak()
        if self.workload == "lake_cycle":
            shutil.rmtree(self.pass_dir(index), ignore_errors=True)

    def run_op(self, op, index: int, span: int | None) -> None:
        import probes
        from pyspark.sql import DataFrame

        sc = self.spark.sparkContext
        self.n_op += 1
        group = f"perfbench-{self.n_op}"
        if self.trace:
            sc.setJobGroup(group, op.name)
        rec = {"name": op.name, "module": op.module, "pass": index, "failed": False}
        cpu0 = self.proc.sample()
        t0 = time.monotonic()
        try:
            out = op.call()
            t1 = time.monotonic()
            if isinstance(out, DataFrame):
                out.write.format("noop").mode("overwrite").save()
            t2 = time.monotonic()
        except Exception as exc:  # an operation that raises counts as failed
            t1 = t2 = time.monotonic()
            rec.update(failed=True, error=f"{type(exc).__name__}: {str(exc)[:300]}")
            out = None
        cpu1 = self.proc.sample()
        if self.trace:
            sc.setJobGroup("perfbench-checks", "output checks")
            rec["spark"] = self.stats.group(group)
            s = self.tracer.add(op.name, t0, t2, span, module=op.module)
            self.tracer.add("build", t0, t1, s)
            self.tracer.add("execute", t1, t2, s)
        rec.update(build_s=t1 - t0, exec_s=t2 - t1, wall_s=t2 - t0, cpu=probes.delta(cpu0, cpu1))
        t3 = time.monotonic()
        if not rec["failed"]:
            try:
                reason = op.check(out)
            except Exception as exc:  # a check that cannot run rejects the output
                reason = f"check raised {type(exc).__name__}: {str(exc)[:300]}"
            if reason:
                rec.update(failed=True, error=reason)
                self.mismatches.append(f"{op.name}: {reason}")
        if self.trace:
            self.tracer.add("check", t3, time.monotonic(), s)
        if rec["failed"]:
            print(f"perfbench: {op.name} failed: {rec['error']}", file=sys.stderr)
        else:
            print(f"perfbench: {op.name} {rec['wall_s']:.4f} s", file=sys.stderr)
        self.records.append(rec)

    # -- the run ----------------------------------------------------------

    def run(self) -> dict:
        import probes

        self.start()
        self.warm()
        setup_s = probes.process_start_s()
        if self.trace:
            stream0 = self.streams.settle()
        # whole passes, at least one, while one more pass of the median
        # length so far still fits in --seconds of operation time
        n_pass = 0
        while n_pass == 0 or self.fits_another_pass():
            self.run_pass(n_pass)
            n_pass += 1
        if self.trace:
            stream1 = self.streams.settle()
        self.proc.note_peak()
        result = {
            "correct": not self.mismatches,
            "attempted": len(self.records),
            "failed": sum(r["failed"] for r in self.records),
        }
        if self.trace:
            metrics = self.layer_metrics(self.records, n_pass, stream0, stream1)
            bad = metrics["all.executor_cpu_s"]["value"] > metrics["proc.jvm_cpu_s"]["value"]
            if bad:
                print("perfbench: executor CPU exceeds the JVM's CPU", file=sys.stderr)
                result["correct"] = False
            self.tracer.write(os.path.join(HERE, "traces", f"{self.workload}-seed{self.seed}.json"))
        else:
            metrics = self.end_to_end(self.records, setup_s)
        result["metrics"] = metrics
        return result

    def fits_another_pass(self) -> bool:
        passes = self._per_pass(self.records, lambda r: r["wall_s"])
        return sum(passes) + statistics.median(passes) <= self.seconds

    def stop(self) -> None:
        """Stop every streaming query and the session, then wait until the
        JVM and its Python workers have exited."""
        import probes
        from pyspark import SparkContext

        spark = getattr(self, "spark", None)
        if spark is not None:
            for q in spark.streams.active:
                q.stop()
            spark.stop()
        gateway = SparkContext._gateway
        jvm = getattr(gateway, "proc", None)  # the Popen pyspark launched
        if jvm is not None:
            jvm.stdin.close()  # the gateway server exits on end of input
            try:
                jvm.wait(timeout=60)
            except subprocess.TimeoutExpired:
                jvm.kill()
                jvm.wait()
        probes.ProcTree().wait_for_children(timeout=30)
        con = getattr(self, "con", None)
        if con is not None:
            con.close()

    # -- metrics ----------------------------------------------------------

    @staticmethod
    def _per_pass(records: list[dict], value) -> list[float]:
        by_pass: dict[int, float] = {}
        for r in records:
            by_pass[r["pass"]] = by_pass.get(r["pass"], 0.0) + value(r)
        return [by_pass[p] for p in sorted(by_pass)]

    def end_to_end(self, measured: list[dict], setup_s: float) -> dict:
        ok = [r["wall_s"] for r in measured if not r["failed"]] or [0.0]
        med = statistics.median
        values = {
            "setup_s": (setup_s, "s"),
            "wall_s": (med(self._per_pass(measured, lambda r: r["wall_s"])), "s"),
            "cpu_s": (med(self._per_pass(
                measured, lambda r: r["cpu"]["driver"] + r["cpu"]["jvm"] + r["cpu"]["pyworker"]
            )), "s"),
            "op_p50_s": (hd_quantile(ok, 0.5), "s"),
            "op_p90_s": (hd_quantile(ok, 0.9), "s"),
            "peak_rss_mb": (self.proc.peak_mb(), "MB"),
            "written_mb": (med(self._per_pass(measured, lambda r: r["cpu"]["write_bytes"] / MB)), "MB"),
        }
        return {k: {"value": v, "unit": u} for k, (v, u) in values.items()}

    def layer_metrics(self, measured, n_pass, stream0, stream1) -> dict:
        out: dict[str, tuple[float, str]] = {}

        def total(select, value) -> float:
            return sum(value(r) for r in measured if select(r)) / n_pass

        for m in MODULES:
            mine = lambda r, m=m: r["module"] == m  # noqa: E731
            out[f"{m}.build_s"] = (total(mine, lambda r: r["build_s"]), "s")
            out[f"{m}.exec_s"] = (total(mine, lambda r: r["exec_s"]), "s")
            out[f"{m}.jobs"] = (total(mine, lambda r: r["spark"]["jobs"]), "count")
            out[f"{m}.shuffle_mb"] = (total(mine, lambda r: r["spark"]["shuffle_write_mb"]), "MB")
        every = lambda r: True  # noqa: E731
        for k in STAGE_TOTALS:
            unit = "count" if k in ("stages", "stages_skipped", "tasks") else k.rsplit("_", 1)[1]
            out[f"all.{k}"] = (total(every, lambda r, k=k: r["spark"][k]), "MB" if unit == "mb" else unit)
        for role in ("driver", "jvm", "pyworker"):
            out[f"proc.{role}_cpu_s"] = (total(every, lambda r, role=role: r["cpu"][role]), "s")
            out[f"proc.{role}_rss_mb"] = (self.proc.peak_mb(role), "MB")
        for name, prefix in (
            ("io.ingest.ingest_s", "ingest:"),
            ("catalog.entry_s", "catalog.entry_for:"),
            ("catalog.append_s", "catalog.append_entries"),
            ("catalog.search_s", "catalog.search_tokens"),
        ):
            out[name] = (total(lambda r, p=prefix: r["name"].startswith(p), lambda r: r["wall_s"]), "s")
        out["streaming.batches"] = ((stream1[0] - stream0[0]) / n_pass, "count")
        out["streaming.input_rows"] = ((stream1[1] - stream0[1]) / n_pass, "count")
        out["streaming.batch_s"] = ((stream1[2] - stream0[2]) / n_pass, "s")
        out["session.start_s"] = (self.session_start_s, "s")
        out["session.warm_s"] = (self.session_warm_s, "s")
        out["traced.wall_s"] = (
            statistics.median(self._per_pass(measured, lambda r: r["wall_s"])), "s"
        )
        return {k: {"value": v, "unit": u} for k, (v, u) in out.items()}


def hd_quantile(values: list[float], p: float) -> float:
    """Harrell-Davis estimate of the ``p``-quantile: the order statistics
    weighted by how much of a Beta(p(n+1), (1-p)(n+1)) distribution falls
    in each one's 1/n slot. On a run's 20-odd operation times it moves
    less between runs than the one or two order statistics a plain
    sample quantile reads."""
    import numpy as np

    x = np.sort(values)
    n = len(x)
    a, b = p * (n + 1), (1 - p) * (n + 1)
    # Beta density at the midpoints of 100 cells per slot (finite even
    # where a or b is below 1), summed per slot
    mid = (np.arange(100 * n) + 0.5) / (100 * n)
    pdf = mid ** (a - 1) * (1 - mid) ** (b - 1)
    weights = pdf.reshape(n, 100).sum(axis=1)
    return float(weights @ x / weights.sum())


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "adlspark", "registry.py")):
        print(f"perfbench: no adlspark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    run_dir = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    _isolate(run_dir)
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace), run_dir)
    try:
        result = bench.run()
    finally:
        bench.stop()
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

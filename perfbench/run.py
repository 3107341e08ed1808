#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload batch_sql --seed 1 --seconds 5 --trace 0

Phases, in order:

1. inputs: generate (or reuse from ``perfbench/.cache``) the tables, and
   the DuckDB oracle's answers over them; not part of any metric;
2. set-up, once and cold: launch the JVM and build the engine's Spark
   session, create the lake table through the CDC sink (delivery 0)
   and its aggregate view (``lake.py``);
3. check: run every catalog query once, outside the timed loop, and
   compare its full result with the oracle's (or with a digest pinned
   in ``pinned.json``). This is also every query's first, cold run.
   ``setup_s`` is the CPU time of phases 2 and 3;
4. timed loop: one client, closed loop, whole passes over the
   operations in a fixed order; a new pass starts only while less than
   ``--seconds`` have passed. A pass is every catalog query, each timed
   through a full-result ``noop`` sink with its row count (from an
   ``Observation`` on that write) checked, then one lake block: a
   seeded delivery drained by the sink, the view refresh, a
   compaction and four LakeSQL reads, each read compared with the
   replay once its timer has stopped;
5. verify: compare the whole lake table and view with the replay;
6. report: human-readable tables, then one JSON line (the last line of
   stdout). ``--trace 0`` reports the gated end-to-end metrics
   (``setup_s``; ``cpu_s_per_op``, over the first timed pass) and prints
   the loop's wall-clock figures beside them. ``--trace 1`` records
   spans and reports the per-layer metrics instead, plus the tracing
   overhead against the untraced run of the same workload and seed, if
   one ran.

Everything the run writes stays under ``perfbench/``: the input cache,
per-run scratch space (removed at exit) and ``perfbench/.results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
from typing import Callable, NamedTuple

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import datagen, stats  # noqa: E402
from perfbench.lake import Lake, LakeSpec  # noqa: E402
from perfbench.trace import (  # noqa: E402
    ProcStats,
    Tracer,
    spark_counters,
    spark_window_metrics,
    steal_s,
)

DRIVER_MEM = "2g"  # explicit, well below the RAM of a small shared box
PINNED = os.path.join(HERE, "pinned.json")


class Workload(NamedTuple):
    sf: float  # input scale
    queries: list[str]  # catalog names, one pass visits each once
    lake: LakeSpec


# Query sets and scales are sized so that one run (JVM launch, set-up,
# the cold check pass, one timed pass) takes well under a minute on a
# 4-core box; see README.md for what each set leaves out.
WORKLOADS: dict[str, Workload] = {
    # the paper's A1 query plus join, shuffle, window and as-of shapes,
    # and CDC deliveries of orders: JVM planning, joins and exchanges,
    # almost no Python outside the lake's driver-side commits
    "batch_sql": Workload(0.05, [
        "a1_top5_7day_sum", "tpch_q3_shipping_priority",
        "tpch_q18_large_orders", "tpch_q21_waiting_supplier",
        "window_top3_per_cust", "sessionize_30m", "asof_join_ticks",
    ], LakeSpec("orders", "o_orderkey", "o_orderpriority", "o_totalprice",
                400, 120, 20)),
    # the LLM-data operators: Python workers, Arrow and driver-side
    # catalog builders, little shuffle; the corpus takes CDC deliveries
    "llm_corpus": Workload(0.01, [
        "dedup_minhash_lsh", "similarity_pairs_lsh", "text_lm_perplexity",
        "dedup_semantic", "text_langid", "similarity_knn", "corpus_select",
    ], LakeSpec("documents", "doc_id", "lang", "n_chars", 40, 12, 4)),
}

# one lake block per pass, in this order
LAKE_OPS = ["lake.deliver", "lake.refresh", "lake.compact", "lake.read_agg",
            "lake.read_point", "lake.read_asof", "lake.read_view"]


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--pin", action="store_true",
        help="record the digests of queries without an oracle into "
        "pinned.json (after a deliberate change of inputs), then exit",
    )
    return ap.parse_args(argv)


def pass_order(queries: list[str]) -> list[str]:
    """The catalog queries in a fixed order, then the lake block. An
    operation's CPU time depends on what ran before it in the JVM (the
    JIT compiles what is hot), so a fixed order keeps runs comparable;
    the seed varies the lake's data instead."""
    return sorted(queries) + LAKE_OPS


class Bench:
    def __init__(self, args):
        self.args = args
        self.tracer = Tracer(bool(args.trace))
        self.work = os.path.join(HERE, ".work", str(os.getpid()))
        self.spark = None
        self.proc: ProcStats | None = None
        self.failures: list[str] = []
        self.checks = 0
        self.workload = WORKLOADS[args.workload]

    # -- set-up ------------------------------------------------------------

    def environment(self) -> None:
        """Pin parallelism, memory and every scratch path before the
        engine's session module reads them."""
        os.makedirs(self.work, exist_ok=True)
        ncpu = len(os.sched_getaffinity(0))
        os.environ["SPARK_GRAFT_CPUS"] = str(ncpu)
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
        os.environ["TMPDIR"] = self.work
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        os.environ["PYSPARK_PYTHON"] = sys.executable
        # the JVM that spark-submit runs first to build the driver's
        # command line would leave hsperfdata in /tmp
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        self.ncpu = ncpu

    def session_conf(self) -> dict[str, str]:
        return {
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # hsperfdata would go to /tmp regardless of java.io.tmpdir
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={self.work} -XX:-UsePerfData",
        }

    def setup_session(self) -> None:
        """Launch the JVM and build the engine's session."""
        from aws_etl_project2_fiap_spark.session import build_session

        with self.tracer.span("session", "build_session"):
            self.spark = build_session(
                app_name="perfbench", extra_conf=self.session_conf()
            )

    def setup_lake(self) -> None:
        """Create the lake table through the CDC sink (delivery 0) and
        its aggregate view, and open a LakeSQL session on both."""
        from aws_etl_project2_fiap_spark.io import matview as MV
        from aws_etl_project2_fiap_spark.io import versioned as V
        from aws_etl_project2_fiap_spark.lakesql import LakeSQL

        lake = self.lake = Lake(
            self.workload.lake, self.data, self.work, self.args.seed
        )
        lake.land_base()
        self.sink_schema = lake.sink_schema(self.spark)
        self.drain()
        lake.record(V.current_version(lake.table))
        spec = lake.spec
        with self.tracer.span("matview", "create_aggregate_view"):
            MV.create_aggregate_view(
                self.spark, lake.table, lake.view, [spec.group],
                {"n": ("count", None), "total": ("sum", spec.measure)},
            )
        self.lk = LakeSQL(self.spark, {"lake": lake.table})
        self.lk.register("lake_view", lake.view, view=True)
        self.bytes0 = lake.bytes_on_disk()
        self.delivered0 = lake.delivered_bytes

    def drain(self) -> None:
        from aws_etl_project2_fiap_spark.streaming.sinks import cdc_apply_sink
        from aws_etl_project2_fiap_spark.streaming.sources import file_source

        lake = self.lake
        with self.tracer.span("sinks", "cdc_apply_sink"):
            cdc_apply_sink(
                file_source(self.spark, lake.landing, self.sink_schema),
                lake.table, [lake.spec.key], lake.checkpoint,
                op_col="_op", order_col="seq",
            ).awaitTermination()

    # -- operations --------------------------------------------------------

    def operations(self) -> dict[str, object]:
        from aws_etl_project2_fiap_spark.workload import CATALOG, COMPONENTS

        defs = {**CATALOG, **COMPONENTS}
        return {name: defs[name] for name in self.workload.queries}

    def inputs(self, ops) -> tuple[str, dict[str, int], dict[str, dict]]:
        """The data dir, each query's expected row count (the oracle's,
        else the pinned one) and the pinned digests."""
        oracles = {n: qd.oracle for n, qd in ops.items() if qd.oracle}
        data, rows, self.data_digest = datagen.ensure(
            os.path.join(HERE, ".cache"), self.workload.sf, oracles
        )
        pinned = {}
        if os.path.exists(PINNED):
            with open(PINNED) as fh:
                pinned = json.load(fh).get(self.data_digest, {})
        for n in ops:
            if n not in rows and n in pinned:
                rows[n] = pinned[n]["rows"]
        return data, rows, pinned

    def check(self, ops, pinned) -> dict[str, dict]:
        """Run each catalog query once and compare its whole result:
        with the oracle's canonical result where there is one, else
        with the pinned digest. Also every query's cold first run."""
        got = {}
        for name, qd in ops.items():
            self.checks += 1
            try:
                with self.tracer.span("check", name):
                    pdf = qd.spark(self.spark, self.data).toPandas()
                canon = stats.canon_frame(pdf)
            except Exception:
                traceback.print_exc()
                self.failures.append(f"check {name}: error")
                continue
            got[name] = {"digest": stats.digest(canon),
                         "rows": len(canon["rows"])}
            if qd.oracle:
                with open(datagen.oracle_path(self.data, name)) as fh:
                    ok = stats.same_result(canon, json.load(fh))
                if not ok:
                    self.failures.append(f"check {name}: differs from oracle")
            elif name not in pinned:
                self.failures.append(f"check {name}: nothing pinned")
            elif got[name] != pinned[name]:
                self.failures.append(
                    f"check {name}: got {got[name]} want {pinned[name]}"
                )
        return got

    def timed(self, i: int, name: str, fn: Callable[[], dict]) -> dict:
        """Time one operation: wall clock and the driver's CPU around
        ``fn`` only; Spark's figures for every job it ran are read
        after the clocks stop."""
        start = spark_counters(self.spark)
        c0 = time.process_time()
        t0 = time.perf_counter()
        with self.tracer.span("bench", name, op=i):
            rec = fn()
        t1 = time.perf_counter()
        c1 = time.process_time()
        rec.update(name=name, s=t1 - t0, py_cpu_s=c1 - c0)
        rec["spark"] = spark_window_metrics(self.spark, start)
        return rec

    def query_op(self, i: int, name: str, qd, want_rows: int | None) -> dict:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        obs = Observation(f"perfbench-{i}")

        def run():
            t0 = time.perf_counter()
            with self.tracer.span("workload", name, op=i):
                df = qd.spark(self.spark, self.data)
            t1 = time.perf_counter()
            with self.tracer.span("exec", name, op=i):
                df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format(
                    "noop"
                ).mode("overwrite").save()
            return {"build_s": t1 - t0, "exec_s": time.perf_counter() - t1}

        rec = self.timed(i, name, run)
        rec["rows"] = obs.get["rows"]
        rec["ok"] = want_rows is None or rec["rows"] == want_rows
        rec["kind"] = "query"
        return rec

    def lake_op(self, i: int, name: str) -> dict:
        """One operation of the lake block; reads are compared with the
        replay after their timer stops."""
        from aws_etl_project2_fiap_spark.io import matview as MV
        from aws_etl_project2_fiap_spark.io import versioned as V

        lake = self.lake
        if name == "lake.deliver":
            rows = lake.land_next()  # the producer's side: not timed
            v0 = V.current_version(lake.table)
            rec = self.timed(i, name, lambda: self.drain() or {})
            v1 = V.current_version(lake.table)
            lake.record(v1)
            rec.update(kind="commit", rows=rows, ok=v1 > v0)
            return rec
        if name == "lake.refresh":
            def refresh():
                with self.tracer.span("matview", "refresh_aggregate_view"):
                    return {"out": MV.refresh_aggregate_view(
                        self.spark, lake.view)}
            rec = self.timed(i, name, refresh)
            rec.update(kind="commit", ok=rec.pop("out")["to_version"]
                       == V.current_version(lake.table))
            return rec
        if name == "lake.compact":
            b0 = lake.bytes_on_disk()

            def compact():
                with self.tracer.span("versioned", "compact_table"):
                    return {"out": V.compact_table(self.spark, lake.table)}
            rec = self.timed(i, name, compact)
            rec.pop("out")
            lake.record(V.current_version(lake.table))
            rec.update(kind="compact", ok=True,
                       rewritten_b=lake.bytes_on_disk() - b0)
            return rec
        if name == "lake.read_agg":
            sql, want = lake.agg_sql(), lake.agg()
        elif name == "lake.read_point":
            key = lake.point_key()
            sql, want = lake.point_sql(key), lake.expected_point(key)
        elif name == "lake.read_asof":
            v = lake.older_version()
            sql, want = lake.agg_sql(v), lake.aggs[v]
        else:
            sql, want = "SELECT * FROM lake_view", lake.agg()

        def read():
            t0 = time.perf_counter()
            with self.tracer.span("lakesql", "sql", op=i):
                df = self.lk.sql(sql)
            t1 = time.perf_counter()
            with self.tracer.span("exec", name, op=i):
                pdf = df.toPandas()
            return {"plan_s": t1 - t0, "exec_s": time.perf_counter() - t1,
                    "pdf": pdf}
        rec = self.timed(i, name, read)
        pdf = rec.pop("pdf")
        rec.update(kind="read", rows=len(pdf), ok=stats.same_result(
            stats.canon_frame(pdf), stats.canon_frame(want)))
        return rec

    def timed_loop(self, ops, rows: dict[str, int]) -> tuple[list[dict], float, list[dict]]:
        """Whole passes until ``--seconds`` have passed. Returns the op
        log, the wall time and the /proc CPU sample at the start and
        after each pass."""
        log: list[dict] = []
        i = 0
        cpu = [self.proc.sample()]
        t_loop = time.perf_counter()
        while True:
            for name in pass_order(list(ops)):
                i += 1
                try:
                    if name in ops:
                        rec = self.query_op(i, name, ops[name], rows.get(name))
                    else:
                        rec = self.lake_op(i, name)
                except Exception:
                    traceback.print_exc()
                    rec = {"name": name, "ok": False, "error": True}
                rec["pass"] = len(cpu)
                if not rec["ok"]:
                    self.failures.append(f"op {i} {name}: {rec}")
                log.append(rec)
            cpu.append(self.proc.sample())
            if time.perf_counter() - t_loop >= self.args.seconds:
                break
        wall = time.perf_counter() - t_loop
        return log, wall, cpu

    def verify_lake(self) -> None:
        """The whole table and the view against the replay."""
        from aws_etl_project2_fiap_spark.io import matview as MV
        from aws_etl_project2_fiap_spark.io import versioned as V

        lake = self.lake
        for what, df, want in (
            ("table", V.read_table(self.spark, lake.table), lake.state),
            ("view", MV.read_aggregate_view(self.spark, lake.view), lake.agg()),
        ):
            self.checks += 1
            if not stats.same_result(stats.canon_frame(df.toPandas()),
                                     stats.canon_frame(want)):
                self.failures.append(f"lake {what} differs from the replay")

    def sentinel(self) -> dict[str, float]:
        """Fixed CPU probe: count a JVM range RDD (no IO, no Python
        workers, no SQL, so nothing the engine configures). Its wall
        time shows a host that steals CPU, its executor CPU time a host
        whose CPUs run slower, e.g. under a busy hyperthread sibling.
        Medians of three."""
        walls, cpus = [], []
        for _ in range(3):
            start = spark_counters(self.spark)
            t0 = time.perf_counter()
            self.spark.sparkContext._jsc.sc().range(
                0, 600_000_000, 1, self.ncpu
            ).count()
            walls.append(time.perf_counter() - t0)
            cpus.append(spark_window_metrics(self.spark, start)["cpu_ns"] / 1e9)
        return {"wall_s": stats.median(walls), "cpu_s": stats.median(cpus)}

    def shutdown(self) -> None:
        """Stop Spark and the JVM it launched, and wait for both."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None
        shutil.rmtree(self.work, ignore_errors=True)

    # -- main --------------------------------------------------------------

    def run(self) -> dict:
        self.environment()
        ops = self.operations()
        self.data, rows, pinned = self.inputs(ops)
        t_inputs = time.perf_counter()
        c_inputs = time.process_time()

        from pyspark import SparkContext

        self.setup_session()
        self.proc = ProcStats(SparkContext._gateway.proc.pid)
        t_session = time.perf_counter()
        self.setup_lake()
        t_lake = time.perf_counter()
        got = self.check(ops, pinned)
        if self.args.pin:
            return {"pin": got}
        # the JVM and the workers started after t_inputs: all their CPU
        # so far is set-up
        cpu = self.proc.sample()
        setup_cpu = (time.process_time() - c_inputs + cpu["jvm"]
                     + cpu["pyworker"])
        t_setup = time.perf_counter()
        sentinel = self.sentinel()
        steal0 = steal_s()
        log, wall, cpu = self.timed_loop(ops, rows)
        steal = steal_s() - steal0
        lake = self.lake
        files_live, live_b = lake.live_bytes()
        disk_b = lake.bytes_on_disk()
        self.verify_lake()
        pass1 = [r for r in log if r.get("pass") == 1]
        return {
            "setup_cpu_s": setup_cpu, "setup_wall_s": t_setup - t_inputs,
            "session_s": t_session - t_inputs, "lake_setup_s": t_lake - t_session,
            "check_s": t_setup - t_lake, "steal_s": steal, "log": log,
            "wall": wall, "cpu": {k: cpu[-1][k] - cpu[0][k] for k in cpu[0]},
            # a faster machine or engine fits more passes, and later
            # passes are warmer: the gated CPU figure is the first's
            "pass1": {
                "ops": len(pass1),
                "executor_s": sum(r["spark"]["cpu_ns"] for r in pass1 if "spark" in r) / 1e9,
                "driver_py_s": sum(r.get("py_cpu_s", 0.0) for r in pass1),
                "pyworker_s": cpu[1]["pyworker"] - cpu[0]["pyworker"],
            },
            "lake": {
                "files_live": files_live, "live_mb": live_b / 2**20,
                "disk_mb": disk_b / 2**20,
                # both since set-up: the check pass's delivery and the
                # timed ones
                "written_mb": (disk_b - self.bytes0) / 2**20,
                "delivered_mb": (lake.delivered_bytes - self.delivered0) / 2**20,
                "deliveries": lake.seq,
            },
            "sentinel": sentinel, "peak_rss_mb": self.proc.peak_rss_mb(),
            "inputs_s": t_inputs - T_START,
        }


def end_to_end(res: dict) -> tuple[dict, dict]:
    """The gated end-to-end metrics, and the wall-clock figures of the
    timed loop, which are printed but not gated (README.md says why)."""
    log = [r for r in res["log"] if r.get("ok")]
    lat = [r["s"] for r in log if r["kind"] in ("query", "read")]
    commits = [r["s"] for r in log if r["kind"] == "commit"]
    deliveries = sum(1 for r in log if r["name"] == "lake.deliver")
    tail, pct, n = stats.tail(lat)
    p1 = res["pass1"]
    metrics = {
        "setup_s": (res["setup_cpu_s"], "s"),
        "cpu_s_per_op": (
            (p1["executor_s"] + p1["driver_py_s"] + p1["pyworker_s"])
            / p1["ops"], "s",
        ),
    }
    lk = res["lake"]
    return metrics, {
        "queries_per_min": 60.0 * len(log) / res["wall"],
        "query_p50_s": stats.median(lat),
        "query_tail_s": tail, "tail_percentile": pct, "n": n,
        # a delivery is visible once drained and folded into the view
        "commit_s": sum(commits) / deliveries,
        "write_amp": lk["written_mb"] / lk["delivered_mb"],
        "space_amp": lk["disk_mb"] / lk["live_mb"],
    }


def _med(log: list[dict], kind: str, key: str = "s", name: str | None = None) -> float:
    return stats.median([r[key] for r in log if r["kind"] == kind
                         and (name is None or r["name"] == name)])


def per_layer(res: dict, spans: list[dict], ncpu: int) -> tuple[dict, dict]:
    """Per-layer metrics of a traced run, per timed operation: medians
    for span times, means for counts, bytes and CPU."""
    log = [r for r in res["log"] if r.get("ok")]
    n = len(log)
    sp = {k: sum(r["spark"][k] for r in log) for k in log[0]["spark"]}
    run_wall = sum(r["s"] for r in log)
    build = [s["end"] - s["start"] for s in spans if s["layer"] == "session"]
    compacts = [r for r in log if r["kind"] == "compact"]
    lk = res["lake"]
    mb = 1024.0 * 1024.0
    return {
        "session.build_s": (stats.median(build), "s"),
        "workload.build_s": (_med(log, "query", "build_s"), "s"),
        "workload.exec_s": (_med(log, "query", "exec_s"), "s"),
        "sinks.drain_s": (_med(log, "commit", name="lake.deliver"), "s"),
        "sinks.rows": (stats.median([r["rows"] for r in log
                                     if r["name"] == "lake.deliver"]), "count"),
        "matview.refresh_s": (_med(log, "commit", name="lake.refresh"), "s"),
        "versioned.compact_s": (_med(log, "compact"), "s"),
        "versioned.compact_rewritten_mb": (
            sum(r["rewritten_b"] for r in compacts) / mb / len(compacts), "MB"),
        "versioned.bytes_written_mb": (
            lk["written_mb"] / lk["deliveries"], "MB"),
        "versioned.files_live": (lk["files_live"], "count"),
        "lakesql.plan_s": (_med(log, "read", "plan_s"), "s"),
        "lakesql.exec_s": (_med(log, "read", "exec_s"), "s"),
        "spark.jobs": (sp["jobs"] / n, "count"),
        "spark.stages": (sp["stages"] / n, "count"),
        "spark.tasks": (sp["tasks"] / n, "count"),
        "spark.shuffle_write_mb": (sp["shuffle_write_b"] / mb / n, "MB"),
        "spark.input_mb": (sp["input_b"] / mb / n, "MB"),
        "spark.executor_cpu_s": (sp["cpu_ns"] / 1e9 / n, "s"),
        "spark.slot_util": (sp["run_ms"] / 1e3 / (run_wall * ncpu), "ratio"),
        "spark.gc_s": (sp["gc_ms"] / 1e3 / n, "s"),
        "proc.jvm_cpu_s": (res["cpu"]["jvm"] / n, "s"),
        "proc.jit_cpu_s": (res["cpu"]["jit"] / n, "s"),
        "proc.python_cpu_s": (
            (res["cpu"]["driver"] + res["cpu"]["pyworker"]) / n, "s"
        ),
        "proc.peak_rss_mb": (res["peak_rss_mb"]["total"], "MB"),
    }, sp


def summarize(args, bench: Bench, res: dict) -> dict:
    """Everything a run measured, as the JSON artifact it leaves in
    ``.results/`` (written before anything is printed)."""
    e2e, wall = end_to_end(res)
    log = res["log"]
    per_op: dict[str, list[float]] = {}
    for r in log:
        if r.get("ok"):
            per_op.setdefault(r["name"], []).append(r["s"])
    art = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "wall_s": res["wall"], "ncpu": bench.ncpu,
        "attempted": len(log) + bench.checks, "failures": bench.failures,
        "end_to_end": {k: v for k, (v, _u) in e2e.items()},
        "units": {k: u for k, (_v, u) in e2e.items()}, "wall": wall,
        "inputs_s": res["inputs_s"], "setup_wall_s": res["setup_wall_s"],
        "session_s": res["session_s"], "lake_setup_s": res["lake_setup_s"],
        "check_s": res["check_s"], "pass1": res["pass1"], "lake": res["lake"],
        "sentinel": res["sentinel"], "steal_s": res["steal_s"],
        "peak_rss_mb": res["peak_rss_mb"], "cpu_s": res["cpu"],
        "per_op_s": {k: stats.median(v) for k, v in per_op.items()},
        "per_op_n": {k: len(v) for k, v in per_op.items()},
        "log": log,
    }
    stem = os.path.join(HERE, ".results", f"{args.workload}-seed{args.seed}")
    os.makedirs(os.path.dirname(stem), exist_ok=True)
    if args.trace:
        spans = bench.tracer.spans
        layers, sp = per_layer(res, spans, bench.ncpu)
        n = sum(1 for r in log if r.get("ok"))
        art.update(
            per_layer={k: v for k, (v, _u) in layers.items()},
            units={**art["units"], **{k: u for k, (_v, u) in layers.items()}},
            self_time_s=stats.self_times(
                [s for s in spans if s["op"] is not None]
            ),
            spill_mb=sp["spill_b"] / 2**20, ops=n,
        )
        try:
            with open(f"{stem}-trace0.json") as fh:
                base = json.load(fh)
            art["tracing_overhead"] = {
                **{k: v - base["end_to_end"][k]
                   for k, v in art["end_to_end"].items()},
                **{k: art["wall"][k] - base["wall"][k]
                   for k in ("queries_per_min", "query_p50_s")},
            }
        except (OSError, ValueError, KeyError):
            art["tracing_overhead"] = None
        bench.tracer.dump(f"{stem}-spans.json")
    with open(f"{stem}-trace{args.trace}.json", "w") as fh:
        json.dump(art, fh, indent=1, default=str)
    return art


def print_text(art: dict) -> None:
    failed = len(art["failures"])
    units = art["units"]
    print(f"workload {art['workload']} seed {art['seed']} trace "
          f"{art['trace']}: {len(art['log'])} timed ops in "
          f"{art['wall_s']:.2f} s, {art['attempted'] - len(art['log'])} "
          f"output checks, {failed} failed (failed_ratio "
          f"{failed / art['attempted']:.4f})")
    for f in art["failures"]:
        print(f"  FAILED {f}")
    print(f"inputs {art['inputs_s']:.2f} s (not in setup_s); set-up "
          f"{art['setup_wall_s']:.2f} s wall: session {art['session_s']:.2f}"
          f", lake table and view {art['lake_setup_s']:.2f}, check pass "
          f"{art['check_s']:.2f}")
    sen = art["sentinel"]
    print(f"sentinel (fixed CPU probe) before the loop: wall {sen['wall_s']:.3f}"
          f" s, executor CPU {sen['cpu_s']:.3f} s; host "
          f"steal during loop {art['steal_s']:.2f} CPU-s of "
          f"{art['wall_s'] * art['ncpu']:.1f}")
    print("end-to-end:")
    for k, v in art["end_to_end"].items():
        print(f"  {k:18s} {v:12.4f} {units[k]}")
    p1 = art["pass1"]
    print(f"  cpu_s_per_op over {p1['ops']} ops = executor "
          f"{p1['executor_s']:.3f} + driver Python {p1['driver_py_s']:.3f}"
          f" + Python workers {p1['pyworker_s']:.3f} CPU-s")
    w = art["wall"]
    print("wall clock of the timed loop (not gated):")
    print(f"  {'queries_per_min':18s} {w['queries_per_min']:12.4f} 1/min")
    print(f"  {'query_p50_s':18s} {w['query_p50_s']:12.4f} s")
    print(f"  {'query_tail_s':18s} {w['query_tail_s']:12.4f} s  "
          f"(p{w['tail_percentile']:.1f}, n={w['n']})")
    print(f"  {'commit_s':18s} {w['commit_s']:12.4f} s  (drain + refresh "
          "per delivery)")
    print(f"  write_amp {w['write_amp']:.3f}, space_amp {w['space_amp']:.3f}"
          f" ({art['lake']['files_live']} live files)")
    print("  peak RSS, summed per process (MB): " + ", ".join(
        f"{k} {v:.1f}" for k, v in art["peak_rss_mb"].items()))
    print("per operation (median s, n):")
    for name in sorted(art["per_op_s"]):
        print(f"  q.{name}.s {art['per_op_s'][name]:.4f} "
              f"n={art['per_op_n'][name]}")
    if not art["trace"]:
        return
    n = art["ops"]
    print("per-layer self time over the timed loop (s total, s per op):")
    for layer, v in sorted(art["self_time_s"].items(), key=lambda kv: -kv[1]):
        print(f"  {layer:10s} {v:10.3f} {v / n:10.4f}")
    print("per-layer metrics:")
    for k, v in art["per_layer"].items():
        print(f"  {k:32s} {v:12.4f} {units[k]}")
    cpu = art["cpu_s"]
    print(f"  (proc.python_cpu_s = driver {cpu['driver'] / n:.4f} + Python "
          f"workers {cpu['pyworker'] / n:.4f} s per op; spill total "
          f"{art['spill_mb']:.3f} MB)")
    if art["tracing_overhead"] is None:
        print("tracing overhead: no untraced run of this workload and seed "
              "to compare with")
    else:
        print("tracing overhead (traced - untraced, same seed):")
        for k, v in art["tracing_overhead"].items():
            print(f"  {k:18s} {v:+12.4f}")


def result_line(art: dict) -> dict:
    names = art["per_layer"] if art["trace"] else art["end_to_end"]
    values = {**art["end_to_end"], **art.get("per_layer", {})}
    return {
        "correct": not art["failures"],
        "attempted": art["attempted"],
        "failed": len(art["failures"]),
        "metrics": {
            k: {"value": values[k], "unit": art["units"][k]} for k in names
        },
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    # the engine must be importable from the checkout before any work
    import aws_etl_project2_fiap_spark.workload  # noqa: F401

    bench = Bench(args)
    try:
        res = bench.run()
    finally:
        bench.shutdown()
    if args.pin:
        pins = {}
        if os.path.exists(PINNED):
            with open(PINNED) as fh:
                pins = json.load(fh)
        ops = bench.operations()
        new = {n: d for n, d in res["pin"].items() if not ops[n].oracle}
        if new:
            pins.setdefault(bench.data_digest, {}).update(new)
            with open(PINNED, "w") as fh:
                json.dump(pins, fh, indent=1, sort_keys=True)
        print(f"pinned {sorted(new)} into {PINNED}")
        return 0
    art = summarize(args, bench, res)
    print_text(art)
    print(json.dumps(result_line(art)), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

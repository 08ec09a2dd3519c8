"""The traced run: per-layer numbers for one workload.

Passes alternate untraced and traced. A traced pass wraps each operation
in spans (op -> build -> load / ensure_* asset probe, then plan, then
collect), reads Spark's status store before and after, and counts the
jobs each span launched. Per-operation numbers are means over the traced
operations.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
from contextlib import ExitStack

from layers import ExecCounters, Tracer

ENGINE = "bigdata_infra_cs489_spark"
PROBE_COPIES = 20  # documents table repeats in the functions probe
PROBE_PARTITIONS = 4


def _engine_bindings():
    """(module, attribute, span name) for every engine-module binding of
    ``sources.tables.load`` and of the ``ensure_*`` standing-asset calls."""
    from bigdata_infra_cs489_spark.sources import tables

    out = []
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not mod_name.startswith(ENGINE + "."):
            continue
        for attr, val in vars(mod).items():
            if val is tables.load:
                out.append((mod, attr, "load"))
            elif (
                attr.startswith("ensure_")
                and callable(val)
                and getattr(val, "__module__", "").startswith(ENGINE + ".")
            ):
                out.append((mod, attr, "ensure"))
    return out


class LayerRun:
    def __init__(self, bench):
        self.bench = bench
        sc = bench.spark.sparkContext
        self.tracer = Tracer(sc)
        self.counters = ExecCounters(sc)
        self.bindings = _engine_bindings()
        self.exec = {k: 0 for k, _ in ExecCounters.FIELDS}
        self.new_asset_dirs = 0

    def traced_pass(self, pass_no: int) -> dict:
        bench = self.bench
        index_root = bench.index_root
        first_span = len(self.tracer.spans)
        with ExitStack() as stack:
            for mod, attr, name in self.bindings:
                stack.enter_context(self.tracer.wrap(mod, attr, name))
            dirs = set(os.listdir(index_root))
            before = self.counters.snapshot()
            bench.tracer = self.tracer
            try:
                p = bench.run_pass(pass_no)
            finally:
                bench.tracer = None
            after = self.counters.snapshot()
        self.tracer.count_jobs(self.tracer.spans[first_span:])
        for k, v in ExecCounters.delta(before, after).items():
            self.exec[k] += v
        self.new_asset_dirs += len(set(os.listdir(index_root)) - dirs)
        return p

    def _functions_probe(self) -> dict[str, float]:
        """Task seconds of one scan of the documents table, repeated
        PROBE_COPIES times, evaluating only tokenize or only h8."""
        from pyspark.sql import functions as F

        from bigdata_infra_cs489_spark.functions.hashing import h8
        from bigdata_infra_cs489_spark.functions.text import tokenize
        from bigdata_infra_cs489_spark.sources.tables import load

        spark = self.bench.spark
        docs = load(spark, self.bench.data_dir, "documents").select("text")
        rows = spark.range(0, PROBE_COPIES, numPartitions=PROBE_PARTITIONS).crossJoin(
            F.broadcast(docs)
        )
        out = {}
        for name, expr in (
            ("functions.tokenize_task_s", F.size(tokenize("text"))),
            ("functions.h8_task_s", h8(F.col("text")) % 1000),
        ):
            before = self.counters.snapshot()
            rows.select(F.sum(expr)).collect()
            after = self.counters.snapshot()
            out[name] = ExecCounters.delta(before, after)["task_ms"] / 1e3
        return out

    def metrics(self, setup: dict, passes: list[dict], gen_s: float) -> dict:
        from tools.profile_query import plan_shape

        spans = self.tracer.spans
        kids: dict[int, list[dict]] = {}
        for s in spans:
            kids.setdefault(s["parent"], []).append(s)

        def jobs(s) -> int:
            return s["jobs"] + sum(jobs(c) for c in kids.get(s["id"], ()))

        def dur(s) -> float:
            return s["end"] - s["start"]

        def named(name):
            return [s for s in spans if s["name"] == name]

        by_id = {s["id"]: s for s in spans}
        n = len(named("op"))
        traced = [p for p in passes if p["traced"]]
        untraced = [p for p in passes if not p["traced"]]
        shapes = [plan_shape(r["plan"]) for p in traced for r in p["results"] if r["plan"]]
        probes = [
            s for s in named("ensure")
            if s["parent"] is None or by_id[s["parent"]]["name"] != "ensure"
        ]
        task_s = self.exec["task_ms"] / 1e3
        traced_wall = sum(p["wall"] for p in traced)
        input_bytes = sum(
            os.path.getsize(os.path.join(self.bench.data_dir, f))
            for f in os.listdir(self.bench.data_dir)
            if f.endswith(".parquet")
        )

        m = {
            "data.gen_s": (gen_s, "s"),
            "session.start_s": (setup["session_start_s"], "s"),
            "sources.load_s": (sum(map(dur, named("load"))) / n, "s"),
            "sources.load_jobs": (sum(map(jobs, named("load"))) / n, "count"),
        }
        m.update({k: (v, "s") for k, v in self._functions_probe().items()})
        m.update({
            "operators.build_s": (sum(map(dur, named("build"))) / n, "s"),
            "operators.build_jobs": (sum(map(jobs, named("build"))) / n, "count"),
            "operators.asset_build_s": (setup["asset_build_s"], "s"),
            "operators.asset_hit_ratio": (
                (len(probes) - self.new_asset_dirs) / len(probes) if probes else 0.0,
                "ratio",
            ),
            "operators.asset_bytes": (setup["asset_bytes"], "bytes"),
            "operators.asset_bytes_per_input_byte": (
                setup["asset_bytes"] / input_bytes, "ratio"
            ),
            "plans.plan_s": (sum(map(dur, named("plan"))) / n, "s"),
            "plans.exchanges": (
                statistics.fmean(
                    s["hash_exchange"] + s["range_exchange"] + s["rr_exchange"]
                    + s["single_exchange"] for s in shapes
                ),
                "count",
            ),
            "plans.broadcast_joins": (statistics.fmean(s["bhj"] for s in shapes), "count"),
            "plans.python_stages": (statistics.fmean(s["py_eval"] for s in shapes), "count"),
            "exec.prime_s": (self.bench.prime_s, "s"),
            "exec.collect_s": (sum(map(dur, named("collect"))) / n, "s"),
            "exec.jobs": (sum(map(jobs, named("op"))) / n, "count"),
            "exec.tasks": (self.exec["tasks"] / n, "count"),
            "exec.failed_tasks": (self.exec["failed_tasks"] / n, "count"),
            "exec.task_s": (task_s / n, "s"),
            "exec.gc_s": (self.exec["gc_ms"] / 1e3 / n, "s"),
            "exec.shuffle_write_mb": (self.exec["shuffle_write_b"] / 2**20 / n, "MB"),
            "exec.shuffle_read_mb": (self.exec["shuffle_read_b"] / 2**20 / n, "MB"),
            "exec.core_busy_ratio": (
                task_s / (traced_wall * int(os.environ["SPARK_GRAFT_CPUS"])), "ratio"
            ),
        })
        # Per-kind medians as the clients see them. Kinds differ between
        # workloads (request kinds, query names), so the metrics are the
        # slowest and fastest kind; all of them go to the log.
        lats: dict[str, list[float]] = {}
        for p in passes:
            for r in p["results"]:
                lats.setdefault(r["op"].kind, []).append(r["lat"])
        kind_p50 = {k: statistics.median(v) * 1e3 for k, v in lats.items()}
        print(
            "[perfbench] p50 ms by kind: "
            + " ".join(f"{k}={v:.0f}" for k, v in sorted(kind_p50.items())),
            file=sys.stderr,
        )
        m["client.slowest_kind_p50_ms"] = (max(kind_p50.values()), "ms")
        m["client.fastest_kind_p50_ms"] = (min(kind_p50.values()), "ms")
        m["trace.overhead_ratio"] = (
            statistics.median(p["wall"] for p in traced)
            / statistics.median(p["wall"] for p in untraced),
            "ratio",
        )
        return m

    def write_spans(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.tracer.spans:
                f.write(json.dumps(s) + "\n")

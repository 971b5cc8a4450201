"""The traced pass: spans around the engine's public calls, Spark status
counters per operation, and the Spark-free and fixed-cost probes.

Every per-layer metric is measured from outside the engine: wrappers swapped
onto module attributes time the calls, and the probes call the same public
functions the Spark tasks call, in this process.
"""

from __future__ import annotations

import os
import time
from statistics import median

import numpy as np
import pyarrow.parquet as pq

from orc_spark import deletes, pipeline, stripe
from orc_spark.warehouse import Warehouse

from .sparkstats import GroupStats
from .tracing import Tracer
from .workloads import KEY, Runner, Table

COLUMNS = ("doc_id", "tokens", "n_tok", "source")

# (owner, attribute, span name): the public calls each layer is timed around
TARGETS = [
    (pipeline, "encode_table", "pipeline.encode_table"),
    (pipeline, "decode_table", "pipeline.decode_table"),
    (pipeline, "verify_roundtrip", "pipeline.verify_roundtrip"),
    (pipeline, "plan_scan_files", "plan.plan_scan_files"),
    (deletes, "delete_where", "deletes.delete_where"),
    (deletes, "upsert", "deletes.upsert"),
    (deletes, "_write_delete_files", "deletes.write_delete_files"),
    (deletes, "load_delete_keys", "deletes.load_delete_keys"),
    (deletes, "count_delete_keys", "deletes.count_delete_keys"),
    (Warehouse, "commit", "warehouse.commit"),
    (Warehouse, "read_manifest", "warehouse.read_manifest"),
    (Warehouse, "_log_commit", "warehouse.commit_log"),
    (Warehouse, "commit_log", "warehouse.commit_log"),
]

# status counters kept per operation: op -> metric prefix
COUNTED = {"encode": "encode", "upsert": "upsert", "scan": "scan", "format": "datasource"}


class TracedRunner(Runner):
    """A Runner whose operations record spans and per-job-group counters."""

    def __init__(self, spark, work_dir: str, tracer: Tracer):
        super().__init__(spark, work_dir)
        self.tracer = tracer
        self.groups = GroupStats(spark)
        self.counters: dict[str, list[dict]] = {}
        self.roots: dict[str, list] = {}
        self.prune: list[dict] = []
        self.plan_s: list[float] = []
        self.counter_s = 0.0  # wall time spent reading counters, inside the ops

    def call(self, op, fn):
        with self.tracer.span(f"op.{op}") as root:
            t0 = time.perf_counter()
            token = self.groups.start(op)
            self.counter_s += time.perf_counter() - t0
            try:
                return fn()
            finally:
                t0 = time.perf_counter()
                self.counters.setdefault(op, []).append(self.groups.finish(token))
                self.counter_s += time.perf_counter() - t0
                self.roots.setdefault(op, []).append(root)

    def format_count(self, wh):
        # the count the untraced op runs, with its planning timed first
        q = self.spark.read.format("tokstripe").load(wh).groupBy().count()
        t0 = time.perf_counter()
        q._jdf.queryExecution().executedPlan()
        self.plan_s.append(time.perf_counter() - t0)
        return q.collect()[0][0]

    def lookup(self, wh, key):
        pm: dict = {}
        rows = pipeline.decode_table(
            self.spark, wh, snapshot="u", predicate=(KEY, [key]), prune_metrics=pm,
        ).collect()
        self.prune.append({
            k: (v.value if hasattr(v, "value") else v) for k, v in pm.items()
        })
        return rows


PROBE_REPS = 2  # each Spark probe reports the median of this many calls


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def _median_s(fn, reps: int = PROBE_REPS) -> float:
    return median(_timed(fn) for _ in range(reps))


def kernel_probe(files: list[str]) -> dict[str, float]:
    """Spark-free, single-thread: decode and re-encode every committed
    stripe column by column, run the executor decode kernel over all files,
    and count the chooser's distinct plans per column."""
    out: dict[str, float] = {f"stripe.{k}_s.{c}": 0.0 for k in ("encode", "decode") for c in COLUMNS}
    plans: dict[str, set] = {c: set() for c in COLUMNS}
    tables = [pq.read_table(f, columns=["blob", "footer"]) for f in files]
    for tbl in tables:
        for blob, fj in zip(tbl.column("blob").to_pylist(), tbl.column("footer").to_pylist()):
            footer = stripe.footer_from_json(fj)
            for c in COLUMNS:
                t0 = time.perf_counter()
                rb = stripe.decode_stripe(blob, footer, columns=[c])
                t1 = time.perf_counter()
                stripe.encode_stripe(rb)
                t2 = time.perf_counter()
                out[f"stripe.decode_s.{c}"] += t1 - t0
                out[f"stripe.encode_s.{c}"] += t2 - t1
                meta = footer["columns"][c]
                plans[c].add((meta.get("encoding"), tuple(
                    (s["kind"], s.get("codec"), s.get("fsst"), s["comp"])
                    for s in meta["streams"]
                )))
    t0 = time.perf_counter()
    for tbl in tables:
        for batch in tbl.to_batches():
            for _ in pipeline.decode_blob_batches([batch], [], list(COLUMNS), list(COLUMNS)):
                pass
    out["scan.kernel_s"] = time.perf_counter() - t0
    for c in COLUMNS:
        out[f"chooser.choice.{c}"] = float(len(plans[c]))
    return out


def _noop(batches):
    for _ in batches:
        pass
    yield from ()


def fixed_cost_probe(spark, files: list[str]) -> dict[str, float]:
    """The Spark floor under a decode: a mapInArrow that decodes nothing,
    and a plain count, over the same blob files."""
    def noop():
        spark.read.parquet(*files).select("blob", "footer").mapInArrow(_noop, "x long").count()

    def plain():
        spark.read.parquet(*files).count()

    return {
        "scan.noop_mapinarrow_s": _median_s(noop),
        "scan.plain_count_s": _median_s(plain),
    }


def verify_probe(spark, table: Table, wh: str) -> dict[str, float]:
    """The two digest passes verify_roundtrip runs inside one job, timed
    apart: the input's row digest and a decode plus its digest."""
    from pyspark.sql import functions as F

    def digest(df):
        df.select(pipeline.row_digest(df.columns).alias("_rd")).agg(F.max("_rd")).collect()

    return {
        "verify.digest_input_s": _median_s(lambda: digest(table.df)),
        "verify.decode_s": _median_s(lambda: digest(pipeline.decode_table(spark, wh, snapshot="b"))),
    }


def key_scan_probe(spark, table: Table, wh: str) -> float:
    """The pruned key scan delete_where writes out, run on its own."""
    return _median_s(lambda: pipeline.decode_table(
        spark, wh, snapshot="b", columns=[KEY], predicate=(KEY, table.delete_keys),
    ).distinct().count())


def span_cost_s(n: int = 20_000) -> float:
    """Wall time one span-recording wrapper adds to a call: an empty
    function called `n` times wrapped and `n` times bare, median of three."""
    def empty():
        return None

    wrapped = Tracer().wrap(empty, "probe")
    return median(
        (_timed(lambda: [wrapped() for _ in range(n)])
         - _timed(lambda: [empty() for _ in range(n)])) / n
        for _ in range(3)
    )


def layer_metrics(runner: TracedRunner, rounds, table: Table, wh: str) -> dict[str, float]:
    """Per-layer metrics from the traced rounds and the probes. Figures of
    an operation are medians over its calls in the traced rounds."""
    tr = runner.tracer
    m: dict[str, float] = {
        # wall time tracing adds to one round, timed directly: the spans it
        # records at their measured cost, and the counter reads
        "trace.overhead_s": (len(tr.spans) * span_cost_s() + runner.counter_s) / len(rounds),
    }

    def op_self(op: str, span: str) -> float:
        """Median over calls of `op` of the summed self time of `span`."""
        return median([
            tr.self_totals(tr.in_trace(root)).get(span, 0.0)
            for root in runner.roots.get(op, [])
        ])

    for op, prefix in COUNTED.items():
        rows = runner.counters.get(op, [])
        for k in ("jobs", "tasks", "executor_cpu_s", "python_worker_s",
                  "shuffle_write_bytes", "python_to_jvm_bytes"):
            m[f"{prefix}.{k}"] = median([r[k] for r in rows])
    m["encode.self_s"] = op_self("encode", "pipeline.encode_table")
    m["upsert.self_s"] = op_self("upsert", "deletes.upsert")
    m["datasource.plan_s"] = median(runner.plan_s)
    m["plan.plan_scan_files_s"] = op_self("lookup", "plan.plan_scan_files")
    all_roots = [r for roots in runner.roots.values() for r in roots]
    for k in ("commit", "read_manifest", "commit_log"):
        # per round: these run inside many operations
        m[f"warehouse.{k}_s"] = sum(
            tr.self_totals(tr.in_trace(r)).get(f"warehouse.{k}", 0.0) for r in all_roots
        ) / max(1, len(runner.roots.get("encode", [])))
    m["deletes.write_delete_files_s"] = op_self("delete", "deletes.write_delete_files")
    m["deletes.load_delete_keys_s"] = op_self("mor", "deletes.load_delete_keys")
    m["deletes.count_delete_keys_s"] = op_self("mor", "deletes.count_delete_keys")
    m["deletes.inline_mask"] = float(any(
        s.name == "deletes.load_delete_keys"
        for r in runner.roots.get("mor", []) for s in tr.in_trace(r)
    ))
    # pruning per point lookup, averaged over the traced lookups
    pr = runner.prune
    n = max(1, len(pr))
    total = median([p.get("files_total", 0) for p in pr])
    m["plan.files_total"] = total
    m["plan.files_range_pruned"] = sum(p.get("files_pruned", 0) for p in pr) / n
    m["plan.files_bloom_pruned"] = sum(p.get("files_bloom_pruned", 0) for p in pr) / n
    m["plan.stripes_seen"] = sum(p.get("stripes_seen", 0) for p in pr) / n
    m["plan.stripes_skipped"] = sum(p.get("stripes_skipped", 0) for p in pr) / n
    read = total - m["plan.files_range_pruned"] - m["plan.files_bloom_pruned"]
    m["plan.files_read_ratio"] = read / total if total else 0.0

    files = Warehouse(wh).committed_files("b")
    m.update(kernel_probe(files))
    m.update(fixed_cost_probe(runner.spark, files))
    scan_wall = median([t for r in rounds for t in r.times.get("scan", [])])
    m["scan.noop_share"] = m["scan.noop_mapinarrow_s"] / scan_wall if scan_wall else 0.0
    m.update(verify_probe(runner.spark, table, wh))
    verify_wall = median([t for r in rounds for t in r.times.get("verify", [])])
    m["verify.diff_s"] = verify_wall - m["verify.digest_input_s"] - m["verify.decode_s"]
    m["deletes.key_scan_s"] = key_scan_probe(runner.spark, table, wh)
    return m


def membw_gbs(mib: int = 64, reps: int = 5) -> float:
    """Single-thread copy bandwidth (read + write bytes per second), best of
    `reps`, in GB/s."""
    a = np.ones(mib << 17)
    b = np.empty_like(a)
    best = min(_timed(lambda: np.copyto(b, a)) for _ in range(reps))
    return 2 * a.nbytes / best / 1e9


def steal_s() -> float:
    """Cumulative CPU time this VM's vCPUs waited for the host (steal)."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def liborc_write_s(table: Table, path: str) -> float:
    """pyarrow.orc (liborc) write of the same input, the reference writer's
    settings as BASELINE.md measured them."""
    from pyarrow import orc

    return _timed(lambda: orc.write_table(
        table.arrow, path, compression="uncompressed",
        dictionary_key_size_threshold=0.8,
    ))

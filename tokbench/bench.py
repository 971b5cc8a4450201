"""One benchmark run: set up, warm up, measure a window of rounds, report."""

from __future__ import annotations

import os
import shutil
import statistics
import time

from . import layers
from .metrics import PER_LAYER, summary as _summary
from .tracing import Tracer
from .workloads import (
    MIN_ROUNDS, OPS, SETTLED_SMALL, WARMUP_DOCS, WORKLOADS, Runner, bind,
    make_table,
)


def end_to_end(rounds, table, setup_s: float) -> dict[str, float]:
    times = {op: [t for r in rounds for t in r.times.get(op, [])] for op in OPS}

    def med(op):
        return statistics.median(times[op]) if times[op] else 0.0

    def rate(op):
        return table.n_tokens / med(op) if times[op] else 0.0

    return {
        "setup_s": setup_s,
        "encode_tok_per_s": rate("encode"),
        "scan_tok_per_s": rate("scan"),
        "format_scan_tok_per_s": rate("format"),
        "verify_s": med("verify"),
        "bytes_per_token": (table.enc_bytes or 0) / table.n_tokens,
        # one delete_where + upsert pair per round: each alone spread more
        # than a tenth run to run (README.md), so only the pair is bounded
        "mutate_commit_s": statistics.median([
            sum(r.times["delete"]) + sum(r.times["upsert"])
            for r in rounds if "delete" in r.times and "upsert" in r.times
        ]) if times["upsert"] else 0.0,
        "mor_scan_s": med("mor"),
        "lookup_p50_ms": 1e3 * med("lookup"),
    }


def run(spark, build: str, workload: str, seed: int, seconds: float,
        traced: bool, t_start: float, spark_s: float) -> dict:
    """Returns {'attempted', 'failed', 'metrics'}; prints the run summary."""
    work = os.path.join(build, f"run-{os.getpid()}")
    inputs = os.path.join(build, "inputs")
    phases = {"session.get_spark_s": spark_s}
    try:
        t0 = time.perf_counter()
        docs, salt = WORKLOADS[workload]
        table = make_table(inputs, docs, seed, salt)
        tiny = make_table(inputs, WARMUP_DOCS, seed, salt=1)
        phases["setup.input_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        bind(spark, table)
        bind(spark, tiny)
        phases["setup.prime_s"] = time.perf_counter() - t0

        runner = Runner(spark, work)
        t0 = time.perf_counter()
        # the small round pays the first-call costs; a full-size round
        # then settles what only a full-size call settles (README.md)
        warmups = [
            runner.round(tiny, 1000, warm=table),
            runner.round(table, 1001, skip=SETTLED_SMALL),
        ]
        phases["session.warmup_s"] = time.perf_counter() - t0
        # the seeded inputs are cached across runs, so only the run that
        # makes them pays for it: keep that out of setup_s
        setup_s = time.perf_counter() - t_start - phases["setup.input_s"]

        # a traced run traces every round of its window; the last round's
        # warehouse is kept for the probes
        tracer = Tracer()
        window = layers.TracedRunner(spark, work, tracer) if traced else runner
        rounds = []
        t_w, steal0 = time.perf_counter(), layers.steal_s()
        while True:
            if traced and rounds:
                shutil.rmtree(window.last_warehouse, ignore_errors=True)
            with tracer.patched(layers.TARGETS if traced else []):
                rounds.append(window.round(table, len(rounds), keep=traced))
            elapsed = time.perf_counter() - t_w
            typical = statistics.median(r.wall for r in rounds)
            if len(rounds) >= MIN_ROUNDS and elapsed + typical > seconds:
                break
        window_s = time.perf_counter() - t_w
        steal = layers.steal_s() - steal0

        all_rounds = warmups + rounds
        attempted = sum(r.attempted for r in all_rounds)
        failed = sum(r.failed for r in all_rounds)
        host = {
            "host.membw_gbs": layers.membw_gbs(),
            "host.liborc_write_s": layers.liborc_write_s(table, os.path.join(work, "liborc.orc")),
            "host.window_steal_s": steal,
        }
        _summary("setup", {"setup_s": setup_s, **phases})
        _summary("curve", {
            op: {
                "warmup": [w.times.get(op, []) for w in warmups],
                "timed": [r.times.get(op, []) for r in rounds],
            } for op in OPS
        })
        _summary("window", {
            "workload": workload, "seed": seed, "n_docs": table.n_docs, "salt": salt,
            "n_tokens": table.n_tokens, "files": table.n_files,
            "enc_bytes": table.enc_bytes, "rounds": len(rounds), "traced": traced,
            "window_s": window_s,
            "samples": {op: sum(len(r.times.get(op, [])) for r in rounds) for op in OPS},
        })
        _summary("host", host)
        for r in all_rounds:
            for e in r.errors:
                _summary("error", e)

        if not traced:
            return {"attempted": attempted, "failed": failed,
                    "metrics": end_to_end(rounds, table, setup_s)}
        metrics = {**phases, **host}
        try:
            metrics.update(layers.layer_metrics(window, rounds, table, window.last_warehouse))
        except Exception as e:  # noqa: BLE001 - a failed probe is a failed op
            attempted += 1
            failed += 1
            _summary("error", f"probe: {type(e).__name__}: {e}"[:300])
        tracer.dump(os.path.join(build, f"trace-{workload}-{seed}.jsonl"))
        return {"attempted": attempted, "failed": failed,
                "metrics": {k: metrics.get(k, 0.0) for k in PER_LAYER}}
    finally:
        shutil.rmtree(work, ignore_errors=True)

"""Metric names and units; BENCHMARK.json lists the same names and units."""

from __future__ import annotations

import json

# name -> unit; every workload prints all of these
END_TO_END = {
    "setup_s": "s",
    "encode_tok_per_s": "tok/s",
    "scan_tok_per_s": "tok/s",
    "format_scan_tok_per_s": "tok/s",
    "verify_s": "s",
    "bytes_per_token": "B/tok",
    "mutate_commit_s": "s",
    "mor_scan_s": "s",
    "lookup_p50_ms": "ms",
}


def _per_layer_units() -> dict[str, str]:
    units = {
        "session.get_spark_s": "s", "session.warmup_s": "s",
        "setup.input_s": "s", "setup.prime_s": "s",
        "encode.self_s": "s", "upsert.self_s": "s",
        "scan.kernel_s": "s", "scan.noop_mapinarrow_s": "s",
        "scan.plain_count_s": "s", "scan.noop_share": "ratio",
        "datasource.plan_s": "s",
        "verify.digest_input_s": "s", "verify.decode_s": "s", "verify.diff_s": "s",
        "plan.plan_scan_files_s": "s", "plan.files_total": "count",
        "plan.files_range_pruned": "count", "plan.files_bloom_pruned": "count",
        "plan.stripes_seen": "count", "plan.stripes_skipped": "count",
        "plan.files_read_ratio": "ratio",
        "warehouse.commit_s": "s", "warehouse.read_manifest_s": "s",
        "warehouse.commit_log_s": "s",
        "deletes.key_scan_s": "s", "deletes.write_delete_files_s": "s",
        "deletes.load_delete_keys_s": "s", "deletes.count_delete_keys_s": "s",
        "deletes.inline_mask": "count",
        "trace.overhead_s": "s", "host.membw_gbs": "GB/s", "host.liborc_write_s": "s",
        "host.window_steal_s": "s",
    }
    counter_units = {
        "jobs": "count", "tasks": "count", "executor_cpu_s": "s",
        "python_worker_s": "s", "shuffle_write_bytes": "B", "python_to_jvm_bytes": "B",
    }
    for prefix in ("encode", "upsert", "scan", "datasource"):
        for k, u in counter_units.items():
            units[f"{prefix}.{k}"] = u
    for col in ("doc_id", "tokens", "n_tok", "source"):
        units[f"stripe.encode_s.{col}"] = "s"
        units[f"stripe.decode_s.{col}"] = "s"
        units[f"chooser.choice.{col}"] = "count"
    return units


PER_LAYER = _per_layer_units()


def summary(tag: str, obj) -> None:
    print(f"# {tag} {json.dumps(obj, default=float)}", flush=True)

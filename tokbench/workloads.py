"""Workload inputs and the closed-loop round every workload runs.

One client issues each operation after the previous one returns. A round
encodes the table into a fresh warehouse, scans it, reads it through the
`tokstripe` format, verifies it, then deletes, upserts, reads it merged and
looks up keys, so every end-to-end metric gets one sample (lookups get
LOOKUPS_PER_ROUND) per round on every workload. The workloads differ in
how much data one call carries; see README.md for why.
"""

from __future__ import annotations

import os
import shutil
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from orc_spark import deletes, pipeline
from orc_spark.fixtures import VOCAB, tokens_arrow

STRIPE_TOKENS = 4_000_000
KEY = "doc_id"

# workload -> (docs, salt buckets). ingest_scan is the sf0.1 table of
# bench.py and BASELINE.md: 20k docs, 8.11M tokens at seed 42, 5 sources x 8
# salt buckets = 40 files. stream_ingest is one micro-batch of
# streaming.encode_stream: that corpus arriving as ten 2k-doc files, one
# file per trigger (read_tokens_stream's max_files=1), encoded with
# encode_stream's salt_buckets=8 and 4M-token stripes, so also 40 files.
WORKLOADS = {"ingest_scan": (20_000, 8), "stream_ingest": (2_000, 8)}
# warm-up table: every job shape at little cost, one file per source (salt
# 1), since 40 files cost a 500-doc table as much per call as a full one
WARMUP_DOCS = 500
# flat after the small warm-up round (the curve in README.md), so the
# full-size warm-up round leaves them out
SETTLED_SMALL = ("format", "lookup")
MIN_ROUNDS = 2  # every metric is a median of at least this many calls

N_DELETE = 200
N_UPDATE = 100
N_INSERT = 100
LOOKUP_KINDS = ("live", "deleted", "updated", "inserted", "absent")
LOOKUPS_PER_KIND = 1
LOOKUPS_PER_ROUND = LOOKUPS_PER_KIND * len(LOOKUP_KINDS)

OPS = ("encode", "scan", "format", "verify", "delete", "upsert", "mor", "lookup")


def _key(i: int) -> str:
    return f"doc-{i:010d}"


def _row(tbl: pa.Table, i: int) -> tuple:
    return (
        tbl.column(KEY)[i].as_py(),
        tuple(tbl.column("tokens")[i].values.to_numpy().tolist()),
        tbl.column("n_tok")[i].as_py(),
        tbl.column("source")[i].as_py(),
    )


@dataclass
class Table:
    """One seeded input with its fixed mutation frame and lookup answers."""

    n_docs: int
    seed: int
    salt: int
    path: str
    arrow: pa.Table
    n_tokens: int
    delete_keys: list[str]
    upsert_path: str
    expected: dict[str, tuple | None]  # lookup key -> row after the upsert
    by_kind: dict[str, list[str]]
    df: object = None
    upsert_df: object = None
    enc_bytes: int | None = None  # first encode of the run; later must match
    n_files: int | None = None

    @property
    def mor_rows(self) -> int:
        return self.n_docs - N_DELETE + N_INSERT

    def lookup_keys(self, round_no: int) -> list[tuple[str, str]]:
        """LOOKUPS_PER_KIND keys of every kind, different each round."""
        rng = np.random.default_rng([self.seed, round_no])
        return [
            (kind, keys[j])
            for kind in LOOKUP_KINDS
            for keys in [self.by_kind[kind]]
            for j in rng.choice(len(keys), LOOKUPS_PER_KIND, replace=False)
        ]


def _cached_parquet(path: str, build) -> None:
    if not os.path.exists(path):
        tmp = f"{path}.tmp-{os.getpid()}"
        # many row groups so the input scan splits into several tasks
        pq.write_table(build(), tmp, row_group_size=8192)
        os.replace(tmp, path)


def make_table(input_dir: str, n_docs: int, seed: int, salt: int) -> Table:
    """Build (or reuse, cached per (n_docs, seed)) the table and its fixed
    mutation inputs: N_DELETE deleted keys, an upsert frame of N_UPDATE
    existing keys and N_INSERT new keys with tokens shifted by one (so a
    stale read shows), and the lookup answers after delete + upsert."""
    os.makedirs(input_dir, exist_ok=True)
    path = os.path.join(input_dir, f"tokens-{n_docs}-s{seed}.parquet")
    _cached_parquet(path, lambda: tokens_arrow(n_docs, seed))
    tbl = pq.read_table(path)
    rng = np.random.default_rng([seed, n_docs])
    picked = rng.choice(n_docs, N_DELETE + N_UPDATE + N_INSERT, replace=False)
    dele, upd, src = np.split(picked, [N_DELETE, N_DELETE + N_UPDATE])
    ins_ids = [_key(n_docs + j) for j in range(N_INSERT)]

    def shifted(idx, ids):
        part = tbl.take(pa.array(idx))
        lists = part.column("tokens").combine_chunks()
        vals = pc.add(lists.values, 1)
        vals = pc.cast(pc.if_else(pc.greater_equal(vals, VOCAB), 0, vals), pa.int32())
        part = part.set_column(
            1, "tokens", pa.ListArray.from_arrays(lists.offsets, vals)
        )
        if ids is not None:
            part = part.set_column(0, KEY, pa.array(ids, pa.string()))
        return part

    upsert_path = os.path.join(input_dir, f"upsert-{n_docs}-s{seed}.parquet")
    _cached_parquet(
        upsert_path,
        lambda: pa.concat_tables([shifted(upd, None), shifted(src, ins_ids)]),
    )
    frame = pq.read_table(upsert_path)

    gone = set(dele.tolist()) | set(upd.tolist())
    live = [i for i in rng.permutation(n_docs) if i not in gone][:50]
    by_kind = {
        "live": [_key(i) for i in live],
        "deleted": [_key(i) for i in dele],
        "updated": [_key(i) for i in upd],
        "inserted": ins_ids,
        "absent": [_key(n_docs + N_INSERT + 1000 + j) for j in range(50)],
    }
    expected: dict[str, tuple | None] = {}
    for k in by_kind["live"]:
        expected[k] = _row(tbl, int(k[4:]))
    for k in by_kind["deleted"] + by_kind["absent"]:
        expected[k] = None
    for j in range(frame.num_rows):
        expected[frame.column(KEY)[j].as_py()] = _row(frame, j)
    return Table(
        n_docs=n_docs, seed=seed, salt=salt, path=path, arrow=tbl,
        n_tokens=int(pc.sum(tbl.column("n_tok")).as_py()),
        delete_keys=sorted(by_kind["deleted"]), upsert_path=upsert_path,
        expected=expected, by_kind=by_kind,
    )


SCHEMA = "doc_id string, tokens array<int>, n_tok int, source string"


def bind(spark, table: Table) -> None:
    # an explicit schema skips Spark's footer-sampling job per read
    table.df = spark.read.schema(SCHEMA).parquet(table.path)
    table.upsert_df = spark.read.schema(SCHEMA).parquet(table.upsert_path)


class CheckFailed(Exception):
    pass


@dataclass
class Round:
    """Per-operation wall times of one round, in seconds."""

    times: dict[str, list[float]] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    wall: float = 0.0
    lock: threading.Lock = field(default_factory=threading.Lock, repr=False)


class Runner:
    """Runs rounds; `call` runs every timed operation (the traced pass
    overrides it)."""

    def __init__(self, spark, work_dir: str):
        self.spark = spark
        self.work_dir = work_dir

    def timed(self, rnd: Round, op: str, fn, check):
        """Run and time one operation, then check its result with
        `check(out) -> (ok, what)`. An engine error or a failed check counts
        as a failed operation and ends the round."""
        with rnd.lock:
            rnd.attempted += 1
        try:
            t0 = time.perf_counter()
            out = self.call(op, fn)
            elapsed = time.perf_counter() - t0
            ok, what = check(out)
            if not ok:
                raise CheckFailed(what)
        except Exception as e:  # noqa: BLE001 - any failure fails the op
            with rnd.lock:
                rnd.failed += 1
                rnd.errors.append(f"{op}: {type(e).__name__}: {e}"[:300])
            raise
        with rnd.lock:
            rnd.times.setdefault(op, []).append(elapsed)
        return out

    def call(self, op: str, fn):
        return fn()

    def round(self, table: Table, round_no: int, keep: bool = False,
              warm: Table | None = None, skip: tuple = ()) -> Round:
        """One round on a fresh warehouse, removed afterwards unless `keep`
        (the traced pass probes the last one). Timed rounds are closed loop.

        `warm` makes this the first untimed warm-up round, for that table:
        `table` is then a small one, every stage runs its independent
        operations at once to pay first-call costs in less time, and the
        first stage also encodes `warm` itself, whose first full-size call
        is the slowest of the run (the warm-up curve in README.md).
        `skip` leaves out the named operations."""
        rnd = Round()
        wh = os.path.join(self.work_dir, f"wh-{round_no}")
        shutil.rmtree(wh, ignore_errors=True)
        stages = self._stages(table, wh, round_no)
        if warm is not None:
            stages[0] += self._stages(warm, f"{wh}-full", round_no)[0]
        stages = [kept for st in stages if (kept := [s for s in st if s[0] not in skip])]
        t0 = time.perf_counter()
        try:
            for stage in stages:
                if warm is not None:
                    with ThreadPoolExecutor(len(stage)) as pool:
                        futs = [pool.submit(self.timed, rnd, *step) for step in stage]
                    for f in futs:
                        f.result()
                else:
                    for step in stage:
                        self.timed(rnd, *step)
        except Exception:  # noqa: BLE001 - already counted by timed()
            pass
        rnd.wall = time.perf_counter() - t0
        shutil.rmtree(f"{wh}-full", ignore_errors=True)
        if not keep:
            shutil.rmtree(wh, ignore_errors=True)
        self.last_warehouse = wh
        return rnd

    def _stages(self, t: Table, wh: str, round_no: int) -> list[list[tuple]]:
        """The round's (op, fn, check) steps, grouped into stages whose steps
        do not depend on each other. The format scan reads the table's
        current snapshot, so it must finish before the delete moves it."""
        spark, n = self.spark, t.n_docs

        def encoded(m):
            parts = m["partitions"].values()
            rows = sum(p["n_rows"] for p in parts)
            toks = sum(p["n_tokens"] for p in parts)
            enc = sum(p["enc_bytes"] for p in parts)
            if t.enc_bytes is None:
                t.enc_bytes, t.n_files = enc, len(m["partitions"])
            return (
                (rows, toks, enc) == (n, t.n_tokens, t.enc_bytes),
                f"encoded rows/tokens/bytes {(rows, toks, enc)}",
            )

        def rows_are(want):
            return lambda got: (got == want, f"{got} rows, want {want}")

        def lookup(kind, key):
            want = [] if t.expected[key] is None else [t.expected[key]]
            return ("lookup", lambda: [
                (r[KEY], tuple(r["tokens"]), r["n_tok"], r["source"])
                for r in self.lookup(wh, key)
            ], lambda got: (got == want, f"lookup of {kind} key {key}: {len(got)} rows"))

        return [
            [("encode", lambda: pipeline.encode_table(
                spark, t.df, wh, snapshot="b", salt_buckets=t.salt,
                stripe_tokens=STRIPE_TOKENS,
            ), encoded)],
            [
                ("scan", lambda: pipeline.decode_table(
                    spark, wh, snapshot="b",
                ).count(), rows_are(n)),
                ("format", lambda: self.format_count(wh), rows_are(n)),
                ("verify", lambda: pipeline.verify_roundtrip(
                    t.df, pipeline.decode_table(spark, wh, snapshot="b"),
                ), lambda res: (res["ok"], f"verify_roundtrip {res}")),
            ],
            [("delete", lambda: deletes.delete_where(
                spark, wh, (KEY, t.delete_keys), snapshot="b", dest="d",
            )["n_deleted"], rows_are(N_DELETE))],
            [("upsert", lambda: deletes.upsert(
                spark, wh, t.upsert_df, snapshot="d", dest="u", salt_buckets=t.salt,
            )["n_upserted"], rows_are(N_UPDATE + N_INSERT))],
            [
                ("mor", lambda: pipeline.decode_table(
                    spark, wh, snapshot="u",
                ).count(), rows_are(t.mor_rows)),
                *(lookup(kind, key) for kind, key in t.lookup_keys(round_no)),
            ],
        ]

    def format_count(self, wh: str) -> int:
        return self.spark.read.format("tokstripe").load(wh).count()

    def lookup(self, wh: str, key: str):
        return pipeline.decode_table(
            self.spark, wh, snapshot="u", predicate=(KEY, [key]),
        ).collect()

"""Seeded change-log generator for the CDC benchmark.

One process builds one workload's input from ``--seed``: it simulates a
source database (tables, transactions, a live key set), turns every change
into a typed event, encodes the events with the engine's public wire
encoders (``pgoutput.build_*``, ``protowire.build_*``, ``pgtypes.ENCODERS``)
and writes the log as ord-ordered parquet segments with strictly increasing
mtimes -- the log contract of ``pgcapture_spark/sources/feed.py``.  The
program under test receives only the files under ``log/`` (plus the initial
target snapshot and, for ``dblog``, the source images a DBLog dump reads).

The expected target states are computed here too, by
``reference.fold_by_segment`` over the typed events -- code that shares
nothing with the engine's apply path.

Usage::

    python3 perfbench/generate.py --workload trickle --seed 7 --out DIR

Layout of ``DIR``::

    log/seg-00000.parquet ...   the change log, one file per segment
    warm/seg-00000.parquet ...  the warm-up log: the first transactions, re-cut
    snapshot/<table>.parquet    initial target snapshot (trickle, bulk)
    dumps/chunk-<k>.parquet     source image at dump chunk k's injection point
    expected/<name>.parquet     reference states (see meta.json)
    meta.json                   sizes, segment kinds, chunk plan
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import random
import sys

_HERE = os.path.dirname(os.path.abspath(__file__))
for _p in (_HERE, os.path.dirname(_HERE)):  # perfbench/, then the repo root
    if _p not in sys.path:
        sys.path.insert(0, _p)

import reference  # noqa: E402

# (column, pg type oid) -- the wire schemas; the first column is the key
CUSTOMER = [
    ("c_custkey", 20),
    ("c_name", 25),
    ("c_nationkey", 23),
    ("c_acctbal", 701),
    ("c_mktsegment", 1043),
]
ORDERS = [
    ("o_orderkey", 20),
    ("o_custkey", 20),
    ("o_orderstatus", 25),
    ("o_totalprice", 701),
    ("o_orderdate", 1114),
    ("o_orderpriority", 25),
]
SCHEMAS = {"customer": CUSTOMER, "orders": ORDERS}

# Input sizes per workload (per round; a run draws one input per round).
#   tables:   initial rows per source table
#   txs:      transactions in the log
#   segments: log segments (one trigger each on trickle/dblog)
#   warm:     (segments, transactions) of the untimed warm-up log, a prefix
#             of the first stream segment
WORKLOADS: dict[str, dict] = {
    "trickle": {
        "tables": {"customer": 2000},
        "txs": 600,
        "segments": 6,
        "warm": (2, 40),
        "keys": "zipf",
    },
    "bulk": {
        "tables": {"customer": 2000, "orders": 6000},
        "txs": 8000,
        "segments": 4,
        "warm": (1, 300),
        "keys": "uniform",
    },
    "dblog": {
        "tables": {"customer": 6000},
        "txs": 3000,
        "segments": 6,
        "chunks": 4,
        "warm": (2, 200),
        "keys": "uniform",
    },
}

DUMP_BUCKETS = 64  # operators.backfill chunking: bucket = key % 64
REL_OID = 16385
_PG_EPOCH_2024_US = 757_382_400_000_000  # 2024-01-01 in PG-epoch microseconds
_TX_SIZES = (1, 1, 2, 3, 4)  # changes per transaction
_SEGS = ("SEG0", "SEG1", "SEG2", "SEG3", "SEG4")
_STATUS = ("O", "F", "P")
_PRIO = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


# ------------------------------------------------------------ source model


class Source:
    """The simulated primary: live rows per table and a seeded RNG. Every
    change it emits is one a real Postgres could have logged: DELETE and
    UPDATE only touch live keys, INSERT only new keys, and a column is left
    out of an UPDATE (unchanged TOAST) only when its value did not change."""

    def __init__(self, rng: random.Random, sizes: dict[str, int], zipf: bool):
        self.rng = rng
        self.zipf = zipf
        self.rows: dict[str, dict[int, list]] = {}
        self.order: dict[str, list[int]] = {}
        self.next_key: dict[str, int] = {}
        for t, n in sizes.items():
            self.rows[t] = {}
            for k in range(1, n + 1):
                self.rows[t][k] = self._new_row(t, k)
            keys = list(range(1, n + 1))
            rng.shuffle(keys)  # zipf rank order: hot keys spread over buckets
            self.order[t] = keys
            self.next_key[t] = n + 1

    def _new_row(self, t: str, k: int) -> list:
        r = self.rng
        if t == "customer":
            return [
                k,
                f"Customer#{k:09d}",
                r.randrange(25),
                round(r.uniform(-999.99, 9999.99), 2),
                r.choice(_SEGS),
            ]
        day = dt.datetime(1992, 1, 1) + dt.timedelta(days=r.randrange(2400))
        return [
            k,
            r.randrange(1, 150_000),
            r.choice(_STATUS),
            round(r.uniform(850.0, 550_000.0), 2),
            day,
            r.choice(_PRIO),
        ]

    def pick(self, t: str) -> int:
        keys = self.order[t]
        if self.zipf:
            while True:
                i = int(self.rng.paretovariate(1.1)) - 1  # rank 0 is hottest
                if i < len(keys):
                    return keys[i]
        return keys[self.rng.randrange(len(keys))]

    def insert(self, t: str) -> tuple:
        k = self.next_key[t]
        self.next_key[t] += 1
        row = self._new_row(t, k)
        self.rows[t][k] = row
        self.order[t].append(k)
        return ("INSERT", t, list(row), [n for n, _ in SCHEMAS[t]])

    def delete(self, t: str, k: int) -> tuple:
        del self.rows[t][k]
        self.order[t].remove(k)
        return ("DELETE", t, [k] + [None] * (len(SCHEMAS[t]) - 1), [SCHEMAS[t][0][0]])

    def update(self, t: str, k: int) -> tuple:
        """Change 1-2 columns; NULL one now and then; leave the TOAST-able
        column (c_name / o_orderdate, o_custkey) out when it did not change."""
        r = self.rng
        row = self.rows[t][k]
        new = list(row)
        if t == "customer":
            for c in r.sample((1, 2, 3, 4), r.choice((1, 2))):
                if c == 1:
                    new[1] = f"Customer#{k:09d}#v{r.randrange(1000)}"
                elif c == 2:
                    new[2] = r.randrange(25)
                elif c == 3:
                    new[3] = round(r.uniform(-999.99, 9999.99), 2)
                else:
                    new[4] = None if r.random() < 0.3 else r.choice(_SEGS)
            toast = {1} if new[1] == row[1] and r.random() < 0.5 else set()
        else:
            for c in r.sample((1, 2, 3, 5), r.choice((1, 2))):
                if c == 1:
                    new[1] = r.randrange(1, 150_000)
                elif c == 2:
                    new[2] = r.choice(_STATUS)
                elif c == 3:
                    new[3] = round(r.uniform(850.0, 550_000.0), 2)
                else:
                    new[5] = None if r.random() < 0.3 else r.choice(_PRIO)
            toast = {4}  # o_orderdate never changes: always unchanged TOAST
            if new[1] == row[1] and r.random() < 0.5:
                toast.add(1)
        self.rows[t][k] = new
        names = [n for n, _ in SCHEMAS[t]]
        present = [n for i, n in enumerate(names) if i not in toast]
        vals = [None if i in toast else v for i, v in enumerate(new)]
        return ("UPDATE", t, vals, present)

    def transaction(self, tables: list[str], n: int) -> list[tuple]:
        """``n`` changes. Classes: updates (most), delete, insert, and
        insert-then-update of the same new key (two changes)."""
        r = self.rng
        out = []
        while len(out) < n:
            t = r.choice(tables)
            x = r.random()
            if x < 0.70:
                out.append(self.update(t, self.pick(t)))
            elif x < 0.80 and len(self.order[t]) > 1:
                out.append(self.delete(t, self.pick(t)))
            elif x < 0.92 or len(out) == n - 1:
                out.append(self.insert(t))
            else:
                ins = self.insert(t)
                out.append(ins)
                out.append(self.update(t, ins[2][0]))
        return out

    def snapshot(self, t: str) -> list[list]:
        return [list(self.rows[t][k]) for k in sorted(self.rows[t])]


# ------------------------------------------------------------------ events


def build_log(workload: str, seed: int):
    """The whole input of one workload as plain Python: initial snapshots,
    typed segments (lists of event dicts, delivery order) and, for dblog,
    the source images at each dump injection point."""
    spec = WORKLOADS[workload]
    rng = random.Random(f"{workload}:{seed}")
    tables = list(spec["tables"])
    src = Source(rng, spec["tables"], spec["keys"] == "zipf")
    initial = {t: src.snapshot(t) for t in tables}
    n_seg, n_tx = spec["segments"], spec["txs"]
    n_chunks = spec.get("chunks", 0)
    segments: list[dict] = []
    dumps: list[dict] = []
    lsn = 1000
    per_seg = n_tx // n_seg
    for s in range(n_seg):
        events = []
        # a fixed multiset of transaction sizes: every seed logs the same
        # number of changes per segment
        sizes = [_TX_SIZES[i % len(_TX_SIZES)] for i in range(per_seg)]
        rng.shuffle(sizes)
        for size in sizes:
            lsn += 1 + rng.randrange(3)
            commit_us = _PG_EPOCH_2024_US + lsn * 1000
            for seq, (op, t, vals, present) in enumerate(src.transaction(tables, size), 1):
                events.append(
                    {"lsn": lsn, "seq": seq, "ord": lsn * 100 + seq,
                     "commit_us": commit_us, "op": op, "table": t,
                     "vals": vals, "present": present}
                )
        segments.append({"kind": "stream", "events": events})
        # dblog: after stream segment s, chunk s covers its share of buckets
        if s < n_chunks:
            width = DUMP_BUCKETS // n_chunks
            lo, hi = s * width, (s + 1) * width - 1
            t = tables[0]
            image = src.snapshot(t)
            dumps.append({"table": t, "lo": lo, "hi": hi, "dump_id": s + 1,
                          "rows": image})
            names = [n for n, _ in SCHEMAS[t]]
            segments.append({
                "kind": "chunk",
                "chunk": len(dumps) - 1,
                # what operators.backfill.dump_chunk emits for this image
                "events": [
                    {"lsn": 0, "seq": s + 1, "ord": 1, "commit_us": None,
                     "op": "UPDATE", "table": t, "vals": row, "present": names}
                    for row in image if lo <= row[0] % DUMP_BUCKETS <= hi
                ],
            })
    final = {t: src.snapshot(t) for t in tables}
    return initial, segments, dumps, final


# ---------------------------------------------------------------- encoding


def _pgoutput_frames(segments: list[dict]) -> list[list[tuple]]:
    from pgcapture_spark.functions import pgoutput
    from pgcapture_spark.functions.pgtypes import ENCODERS

    def tup(vals, present):
        out = []
        for (name, oid), v in zip(CUSTOMER, vals):
            if name not in present:
                out.append(("u", None))
            elif v is None:
                out.append(("n", None))
            else:
                out.append(("b", ENCODERS[oid](v)))
        return out

    rel = pgoutput.build_relation(
        REL_OID, "public", "customer", "d",
        [(n, o, n == CUSTOMER[0][0]) for n, o in CUSTOMER],
    )
    out = []
    for i, seg in enumerate(segments):
        rows = [(0, 0, -1, rel)] if i == 0 else []
        for tx in _by_tx(seg["events"]):
            lsn, cus = tx[0]["lsn"], tx[0]["commit_us"]
            rows.append((lsn, 0, lsn * 100, pgoutput.build_begin(lsn, cus, lsn % 2**32)))
            for e in tx:
                if e["op"] == "DELETE":
                    old = [("b", ENCODERS[20](e["vals"][0]))] + [("n", None)] * 4
                    data = pgoutput.build_row_change("D", REL_OID, None, old)
                else:
                    data = pgoutput.build_row_change(
                        e["op"][0], REL_OID, tup(e["vals"], e["present"])
                    )
                rows.append((lsn, e["seq"], e["ord"], data))
            rows.append((lsn, 99, lsn * 100 + 99, pgoutput.build_commit(lsn, lsn + 1, cus)))
        out.append(rows)
    return out


def _proto_messages(segments: list[dict]) -> list[list[tuple]]:
    from pgcapture_spark.functions import protowire as pw
    from pgcapture_spark.functions.pgtypes import ENCODERS

    out = []
    for seg in segments:
        rows = []
        for tx in _by_tx(seg["events"]):
            lsn, cus = tx[0]["lsn"], tx[0]["commit_us"]
            rows.append((lsn, 0, lsn * 100, pw.build_begin(lsn, cus, lsn % 2**32)))
            for e in tx:
                schema = SCHEMAS[e["table"]]
                if e["op"] == "DELETE":
                    key, oid = schema[0]
                    old = [pw.build_field(key, oid, ENCODERS[oid](e["vals"][0]))]
                    data = pw.build_change("DELETE", "public", e["table"], [], old)
                else:
                    new = [
                        pw.build_field(n, o, None if v is None else ENCODERS[o](v))
                        for (n, o), v in zip(schema, e["vals"])
                        if n in e["present"]
                    ]
                    data = pw.build_change(e["op"], "public", e["table"], new)
                rows.append((lsn, e["seq"], e["ord"], data))
            rows.append((lsn, 99, lsn * 100 + 99, pw.build_commit(lsn, lsn + 1, cus)))
        out.append(rows)
    return out


def _by_tx(events: list[dict]) -> list[list[dict]]:
    txs: list[list[dict]] = []
    for e in events:
        if txs and txs[-1][0]["lsn"] == e["lsn"]:
            txs[-1].append(e)
        else:
            txs.append([e])
    return txs


# ------------------------------------------------------------------ output


def _wire_table(rows: list[tuple]):
    import pyarrow as pa

    return pa.table({
        "lsn": pa.array([r[0] for r in rows], pa.int64()),
        "seq": pa.array([r[1] for r in rows], pa.int32()),
        "ord": pa.array([r[2] for r in rows], pa.int64()),
        "data": pa.array([r[3] for r in rows], pa.binary()),
    })


def _arrow_type(oid: int):
    import pyarrow as pa

    return {20: pa.int64(), 23: pa.int32(), 701: pa.float64(),
            1114: pa.timestamp("us")}.get(oid, pa.string())


def rows_table(table: str, rows: list[list]):
    """Rows of one table as an Arrow table with the wire schema's types."""
    import pyarrow as pa

    schema = SCHEMAS[table]
    return pa.table({
        n: pa.array([r[i] for r in rows], _arrow_type(o))
        for i, (n, o) in enumerate(schema)
    })


def _typed_table(events: list[dict]):
    """The typed feed ``streaming.pipeline.apply_stream`` consumes -- the
    column layout ``operators.backfill.dump_chunk`` emits."""
    import pyarrow as pa

    cols = {
        "lsn": pa.array([e["lsn"] for e in events], pa.int64()),
        "seq": pa.array([e["seq"] for e in events], pa.int32()),
        "ord": pa.array([e["ord"] for e in events], pa.int64()),
        "op": pa.array([e["op"] for e in events], pa.string()),
    }
    for i, (n, o) in enumerate(CUSTOMER):
        cols[n] = pa.array([e["vals"][i] for e in events], _arrow_type(o))
    cols["present"] = pa.array([",".join(e["present"]) for e in events], pa.string())
    return pa.table(cols)


def _write(table, path: str) -> None:
    import pyarrow.parquet as pq

    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def segment_path(out: str, sub: str, idx: int) -> str:
    return os.path.join(out, sub, f"seg-{idx:05d}.parquet")


MTIME_BASE = 1_600_000_000.0


def stamp_mtime(path: str, idx: int) -> None:
    """Segment ``idx`` gets mtime base + 10*idx: strictly increasing in
    delivery order, because the file source admits the oldest file first
    (sources/feed.py)."""
    t = MTIME_BASE + 10 * idx
    os.utime(path, (t, t))


def generate(workload: str, seed: int, out: str) -> dict:
    """Write one workload's input under ``out`` and return its meta dict."""
    spec = WORKLOADS[workload]
    initial, segments, dumps, final = build_log(workload, seed)
    tables = list(spec["tables"])
    n_warm, warm_txs = spec["warm"]
    txs = _by_tx(segments[0]["events"])[:warm_txs]
    cut = -(-len(txs) // n_warm)
    warm = [{"kind": "stream", "events": [e for tx in txs[i:i + cut] for e in tx]}
            for i in range(0, len(txs), cut)]
    for sub, segs in (("log", segments), ("warm", warm)):
        if workload == "trickle":
            encoded = _pgoutput_frames(segs)
        elif workload == "bulk":
            encoded = _proto_messages(segs)
        else:
            encoded = [None if s["kind"] == "chunk" else s["events"] for s in segs]
        # chunk slots are left for the engine's dump_chunk (run.py)
        for i, rows in enumerate(encoded):
            if rows is None:
                continue
            p = segment_path(out, sub, i)
            _write(_typed_table(rows) if workload == "dblog" else _wire_table(rows), p)
            stamp_mtime(p, i)
        if sub == "log":
            messages = sum(len(r) for r in encoded if r is not None)
    if workload != "dblog":
        for t in tables:
            _write(rows_table(t, initial[t]), os.path.join(out, "snapshot", f"{t}.parquet"))
    for k, d in enumerate(dumps):
        _write(rows_table(d["table"], d["rows"]), os.path.join(out, "dumps", f"chunk-{k}.parquet"))

    # reference states, folded from the typed events alone; the DBLog target
    # starts empty and is read back as of every batch, the others at the end
    start = {t: {} if workload == "dblog" else {r[0]: r for r in initial[t]} for t in tables}
    states = reference.fold_by_segment(start, [s["events"] for s in segments], SCHEMAS)
    named = ({f"asof-{b:05d}": st for b, st in enumerate(states)}
             if workload == "dblog" else {"final": states[-1]})
    expected: dict[str, str] = {}
    for name, st in named.items():
        for t in tables:
            rel = f"expected/{name}-{t}.parquet"
            _write(rows_table(t, reference.rows_of(st[t])), os.path.join(out, rel))
            expected[f"{name}-{t}"] = rel
    meta = {
        "workload": workload,
        "seed": seed,
        "tables": tables,
        "segments": [s["kind"] for s in segments],
        "chunks": [
            {"segment": i, "path": f"dumps/chunk-{s['chunk']}.parquet",
             **{k: dumps[s["chunk"]][k] for k in ("table", "lo", "hi", "dump_id")}}
            for i, s in enumerate(segments) if s["kind"] == "chunk"
        ],
        "events": sum(len(s["events"]) for s in segments),
        "dump_rows": sum(len(s["events"]) for s in segments if s["kind"] == "chunk"),
        "messages": messages,
        "expected": expected,
        # source truth at the end of the log: the reference must reach it
        "source_rows": {t: len(final[t]) for t in tables},
    }
    with open(os.path.join(out, "meta.json"), "w") as f:
        json.dump(meta, f, indent=1, sort_keys=True)
    return meta


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--out", required=True)
    a = ap.parse_args(argv)
    meta = generate(a.workload, a.seed, a.out)
    print(json.dumps({k: meta[k] for k in ("events", "messages")}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

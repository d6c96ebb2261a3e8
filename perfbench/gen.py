"""Seeded input generators for the benchmark.

Everything here is pure Python/NumPy/Arrow: the program under test receives
only the generated inputs. The same seed gives byte-identical inputs.

- `ChangeStream`: a stateful stream of change events (insert/update/delete)
  over a table `items(id bigint pk, k int, v bigint, s text)` that starts
  from a seeded snapshot. It tracks which keys are live, so every update and
  delete hits a live row and every insert a dead or new one.
- `wal_batch`: encodes a batch of events as pgoutput WAL messages
  (Relation, Begin/Commit, Insert/Update/Delete), commit-aligned, over
  several replication slots.
- `changelog_batch`: the same events as pre-decoded changelog rows.
- `query_tables`: the TPC-H-like, events, documents and embeddings tables the
  query mix reads.

The pgoutput layouts follow the public protocol description
(PostgreSQL "Logical Replication Message Formats"):
  'B' Begin    : final_lsn u64, commit_ts i64 (us since 2000-01-01), xid u32
  'C' Commit   : flags u8, commit_lsn u64, end_lsn u64, commit_ts i64
  'R' Relation : oid u32, namespace cstr, relname cstr, replident u8,
                 ncols u16, [flags u8, colname cstr, type_oid u32, typmod i32]
  'I' Insert   : oid u32, 'N', TupleData
  'U' Update   : oid u32, 'N', TupleData
  'D' Delete   : oid u32, 'K', TupleData (key columns set, others null)
  TupleData    : ncols u16, per column 'n' | 't' len u32 + text bytes
"""

from __future__ import annotations

import json
import struct

import numpy as np
import pyarrow as pa

TABLE_NS, TABLE_NAME, TABLE_OID = "public", "items", 16385
COLUMNS = ("id", "k", "v", "s")
# type oids: int8, int4, int8, text
_COL_TYPES = (20, 23, 20, 25)
N_GROUPS = 64  # cardinality of the view dimension `k`

# first commit timestamp of every stream; commits are 1 ms apart
_T0_US = 1_700_000_000 * 1_000_000
_PG_EPOCH_US = 946_684_800 * 1_000_000  # 2000-01-01 in unix micros

EVENT_SCHEMA = pa.schema([
    ("seq", pa.int64()), ("kind", pa.string()), ("id", pa.int64()),
    ("k", pa.int32()), ("v", pa.int64()), ("s", pa.string()),
])
ROW_SCHEMA = pa.schema([
    ("id", pa.int64()), ("k", pa.int32()), ("v", pa.int64()), ("s", pa.string()),
])


def _s_of(seq: int) -> str:
    return f"s{(seq * 2654435761) % 4294967296:08x}"


def snapshot(seed: int, n_rows: int) -> pa.Table:
    """The seeded initial table: ids 0..n_rows-1."""
    rng = np.random.default_rng([seed, 1])
    ids = np.arange(n_rows, dtype=np.int64)
    return pa.table({
        "id": ids,
        "k": rng.integers(0, N_GROUPS, n_rows).astype(np.int32),
        "v": rng.integers(0, 1_000_000, n_rows),
        "s": [_s_of(-1 - i) for i in range(n_rows)],
    }, schema=ROW_SCHEMA)


class ChangeStream:
    """Seeded change events over a table that starts at `snapshot(seed, n)`.

    Each event picks a key: a brand-new id with probability `p_new`, else a
    hot key with probability `hot_frac` (from `n_hot` keys fixed by the
    seed), else a uniform id among those ever issued. A live key gets an
    update, or a delete with probability `p_del`; a dead key is re-inserted.
    Events carry a global sequence number that fixes their LWW order."""

    def __init__(self, seed: int, n_rows: int, p_new: float = 0.15,
                 p_del: float = 0.15, hot_frac: float = 0.0, n_hot: int = 0):
        self.seed = seed
        self.p_new, self.p_del, self.hot_frac = p_new, p_del, hot_frac
        self.live = bytearray(b"\x01") * n_rows
        self.next_id = n_rows
        self.seq = 0
        self.batches = 0
        self.hot = (np.random.default_rng([seed, 2])
                    .choice(n_rows, size=n_hot, replace=False)
                    if n_hot else np.zeros(0, dtype=np.int64))

    def next_batch(self, n_events: int) -> pa.Table:
        rng = np.random.default_rng([self.seed, 3, self.batches])
        self.batches += 1
        u_new = rng.random(n_events)
        u_hot = rng.random(n_events)
        u_key = rng.random(n_events)
        u_del = rng.random(n_events)
        ks = rng.integers(0, N_GROUPS, n_events)
        vs = rng.integers(0, 1_000_000, n_events)
        hot_pick = (rng.integers(0, len(self.hot), n_events)
                    if len(self.hot) else None)
        seqs, kinds, ids = [], [], []
        live = self.live
        for i in range(n_events):
            if u_new[i] < self.p_new:
                key = self.next_id
                self.next_id += 1
                live.append(0)
            elif hot_pick is not None and u_hot[i] < self.hot_frac:
                key = int(self.hot[hot_pick[i]])
            else:
                key = int(u_key[i] * self.next_id)
            if live[key]:
                if u_del[i] < self.p_del:
                    kind = "delete"
                    live[key] = 0
                else:
                    kind = "update"
            else:
                kind = "insert"
                live[key] = 1
            seqs.append(self.seq)
            self.seq += 1
            kinds.append(kind)
            ids.append(key)
        return pa.table({
            "seq": seqs, "kind": kinds, "id": ids,
            "k": ks.astype(np.int32), "v": vs,
            "s": [_s_of(q) for q in seqs],
        }, schema=EVENT_SCHEMA)


def commit_us(seq: int, xact_size: int) -> int:
    """Unix-micros commit time of the transaction holding event `seq`."""
    return _T0_US + (seq // xact_size) * 1000


# -- pgoutput encoding ---------------------------------------------------------

def _cstr(s: str) -> bytes:
    return s.encode() + b"\x00"


def enc_relation() -> bytes:
    b = (b"R" + struct.pack(">I", TABLE_OID) + _cstr(TABLE_NS) + _cstr(TABLE_NAME)
         + struct.pack(">BH", ord("d"), len(COLUMNS)))
    for name, oid in zip(COLUMNS, _COL_TYPES):
        b += struct.pack(">B", 1 if name == "id" else 0) + _cstr(name)
        b += struct.pack(">Ii", oid, -1)
    return b


def enc_begin(final_lsn: int, ts_unix_us: int, xid: int) -> bytes:
    return b"B" + struct.pack(">QqI", final_lsn, ts_unix_us - _PG_EPOCH_US, xid)


def enc_commit(lsn: int, ts_unix_us: int) -> bytes:
    return b"C" + struct.pack(">BQQq", 0, lsn, lsn, ts_unix_us - _PG_EPOCH_US)


def _enc_tuple(vals) -> bytes:
    b = struct.pack(">H", len(vals))
    for v in vals:
        if v is None:
            b += b"n"
        else:
            raw = v.encode()
            b += b"t" + struct.pack(">I", len(raw)) + raw
    return b


def enc_dml(kind: str, row: tuple) -> bytes:
    rid, k, v, s = row
    if kind == "delete":
        return (b"D" + struct.pack(">I", TABLE_OID) + b"K"
                + _enc_tuple((str(rid), None, None, None)))
    tag = b"I" if kind == "insert" else b"U"
    return (tag + struct.pack(">I", TABLE_OID) + b"N"
            + _enc_tuple((str(rid), str(k), str(v), s)))


WAL_SCHEMA = pa.schema([("slot", pa.string()), ("lsn", pa.int64()),
                        ("payload", pa.binary())])


def wal_batch(events: pa.Table, n_slots: int, xact_size: int,
              with_relation: bool) -> pa.Table:
    """pgoutput messages for `events`: transaction j (events j*xact_size ..)
    goes to slot j % n_slots. LSNs are global and follow event order, so the
    decoder's (commit_ts, lsn) order is the generator's `seq` order."""
    cols = events.to_pydict()
    slots, lsns, payloads = [], [], []

    def emit(slot, lsn, p):
        slots.append(slot)
        lsns.append(lsn)
        payloads.append(p)

    if with_relation:
        rel = enc_relation()
        for j in range(n_slots):
            emit(f"slot{j}", 0, rel)
    n = len(cols["seq"])
    i = 0
    while i < n:
        seq0 = cols["seq"][i]
        x = seq0 // xact_size
        slot = f"slot{x % n_slots}"
        end = i
        while end < n and cols["seq"][end] // xact_size == x:
            end += 1
        ts = commit_us(seq0, xact_size)
        # event seq q has lsn 4q+2; Begin/Commit bracket the transaction
        begin_lsn = 4 * seq0 + 1
        commit_lsn = 4 * cols["seq"][end - 1] + 3
        emit(slot, begin_lsn, enc_begin(commit_lsn, ts, 1000 + x))
        for r in range(i, end):
            row = (cols["id"][r], cols["k"][r], cols["v"][r], cols["s"][r])
            emit(slot, 4 * cols["seq"][r] + 2, enc_dml(cols["kind"][r], row))
        emit(slot, commit_lsn, enc_commit(commit_lsn, ts))
        i = end
    return pa.table({"slot": slots, "lsn": lsns, "payload": payloads},
                    schema=WAL_SCHEMA)


CHANGELOG_ARROW = pa.schema([
    ("_kind", pa.string()), ("_checkpoint_id", pa.int64()),
    ("_commit_ts", pa.timestamp("us", tz="UTC")), ("_txid", pa.int64()),
    ("_src_table", pa.string()), ("_dst_table", pa.string()),
    ("_data", pa.string()), ("_old_data", pa.string()),
    ("_unchanged_cols", pa.list_(pa.string())),
])


def changelog_batch(events: pa.Table, xact_size: int, dst: str) -> pa.Table:
    """`events` as pre-decoded changelog rows (the CdcPipeline input shape):
    same checkpoints and commit times the WAL path would decode."""
    cols = events.to_pydict()
    kinds, cks, cts, txids, datas, olds = [], [], [], [], [], []
    for r in range(len(cols["seq"])):
        q = cols["seq"][r]
        kinds.append(cols["kind"][r])
        cks.append(4 * q + 2)
        cts.append(commit_us(q, xact_size))
        txids.append(1000 + q // xact_size)
        img = json.dumps({"id": cols["id"][r], "k": cols["k"][r],
                          "v": cols["v"][r], "s": cols["s"][r]})
        if cols["kind"][r] == "delete":
            datas.append(None)
            olds.append(json.dumps({"id": cols["id"][r]}))
        else:
            datas.append(img)
            olds.append(None)
    n = len(kinds)
    return pa.table({
        "_kind": kinds, "_checkpoint_id": cks,
        "_commit_ts": pa.array(cts, pa.int64()).cast(pa.timestamp("us", tz="UTC")),
        "_txid": txids, "_src_table": [dst] * n, "_dst_table": [dst] * n,
        "_data": datas, "_old_data": olds, "_unchanged_cols": [None] * n,
    }, schema=CHANGELOG_ARROW)


# -- query-mix tables ----------------------------------------------------------

_WORDS = ("key agg row scan slow fast table value part hash merge batch spark "
          "a the line sort window order data column join small customer query "
          "big filter group vector stream lake index shard page cache log").split()
_FLAGS = ("A", "N", "R")
_PRIOS = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_SEGS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_EVENT_TYPES = ("click", "view", "signup", "error", "purchase")
_LANGS = ("en", "zh", "de", "fr", "es")


def query_tables(seed: int, n_orders: int) -> dict[str, pa.Table]:
    """Seeded tables with the column layout the declared queries read.
    `n_orders` sets the scale: lineitem holds about 4 rows per order."""
    rng = np.random.default_rng([seed, 10])
    n_cust = max(n_orders // 10, 25)
    n_li = 4 * n_orders
    day = np.datetime64("1995-01-01", "us")
    orders = pa.table({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders),
        "o_orderstatus": rng.choice(np.array(["F", "O", "P"]), n_orders),
        "o_totalprice": np.round(rng.uniform(900, 500_000, n_orders), 2),
        "o_orderdate": day + rng.integers(0, 2500, n_orders) * np.timedelta64(1, "D"),
        "o_orderpriority": rng.choice(np.array(_PRIOS), n_orders),
    })
    customer = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": rng.choice(np.array(_SEGS), n_cust),
    })
    nation = pa.table({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    flags = rng.choice(np.array(_FLAGS), n_li)
    lineitem = pa.table({
        "l_orderkey": rng.integers(0, n_orders, n_li),
        "l_partkey": rng.integers(0, max(n_orders // 8, 10), n_li),
        "l_suppkey": rng.integers(0, 100, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": flags,
        "l_linestatus": np.where(rng.random(n_li) < 0.5, "O", "F"),
        "l_shipdate": day + rng.integers(0, 2500, n_li) * np.timedelta64(1, "D"),
    })
    n_ev = 2 * n_orders // 3
    n_users = max(n_ev // 60, 10)
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    ev_ts = t0 + np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_ev)) * np.timedelta64(1, "us")
    events = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ev_ts,
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": rng.choice(np.array(_EVENT_TYPES), n_ev),
        "value": np.round(rng.uniform(0, 50, n_ev), 2),
        "props": [json.dumps({"k": int(x)}) for x in rng.integers(0, 100, n_ev)],
    })
    n_docs = max(n_orders // 30, 50)
    texts = []
    for i in range(n_docs):
        r = i % 10
        if r == 3 and i >= 10:  # exact duplicate of an earlier document
            texts.append(texts[i - 7])
        elif r == 7 and i >= 10:  # near duplicate: one word swapped
            words = texts[i - 5].split()
            words[len(words) // 2] = _WORDS[int(rng.integers(len(_WORDS)))]
            texts.append(" ".join(words))
        else:
            n_w = int(rng.integers(20, 90))
            texts.append(" ".join(rng.choice(np.array(_WORDS), n_w)))
    documents = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(np.array(_LANGS), n_docs),
        "source": [f"src{i % 7}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    n_vec = min(n_docs, 200)
    emb = rng.normal(0, 0.15, (n_vec, 64)).astype(np.float32)
    embeddings = pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vec).astype(np.int32),
    })
    return {"orders": orders, "customer": customer, "nation": nation,
            "lineitem": lineitem, "events": events, "documents": documents,
            "embeddings": embeddings}


"""Unit tests for the benchmark's own logic (no Spark needed).

Run from the repository root: python3 -m pytest perfbench -q
"""

from __future__ import annotations

import io
import json
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import gen  # noqa: E402
from perfbench.oracle import CHECK_SQL, LwwState, oracle_hash, result_hash  # noqa: E402
from perfbench.trace import Span, self_times, tail_percentile  # noqa: E402


def _span(sid, start, end, parent=None):
    return Span(sid, f"s{sid}", start, parent, "op", end=end)


# -- self-time arithmetic --------------------------------------------------------

def test_self_time_subtracts_nested_children():
    spans = [_span(0, 0.0, 10.0), _span(1, 1.0, 3.0, 0), _span(2, 4.0, 8.0, 0),
             _span(3, 5.0, 6.0, 2)]
    st = self_times(spans)
    assert st == pytest.approx({0: 4.0, 1: 2.0, 2: 3.0, 3: 1.0})
    # self times of a tree add up to the root's duration
    assert sum(st.values()) == pytest.approx(10.0)


def test_self_time_merges_overlapping_children_and_clips_to_parent():
    spans = [_span(0, 0.0, 10.0), _span(1, 2.0, 5.0, 0), _span(2, 4.0, 7.0, 0),
             _span(3, 9.0, 12.0, 0)]
    # covered: [2, 7] and [9, 10] -> 6 s of 10
    assert self_times(spans)[0] == pytest.approx(4.0)


def test_self_time_without_children_is_duration():
    assert self_times([_span(0, 1.5, 2.0)]) == pytest.approx({0: 0.5})


# -- tail percentile rule -----------------------------------------------------------

def test_tail_needs_eleven_samples():
    assert tail_percentile([1.0] * 10) is None
    v, pct, n = tail_percentile([float(x) for x in range(11)])
    assert (v, n) == (0.0, 11)
    assert pct == pytest.approx(100 / 11)


def test_tail_leaves_exactly_ten_samples_beyond():
    values = [float(x) for x in range(100, 0, -1)]  # unsorted input
    v, pct, n = tail_percentile(values)
    assert (v, pct, n) == (90.0, 90.0, 100)
    assert sum(x > v for x in values) == 10


# -- generators -----------------------------------------------------------------------

def _wal_bytes(seed: int) -> bytes:
    stream = gen.ChangeStream(seed, 1000, hot_frac=0.8, n_hot=50)
    buf = io.BytesIO()
    for b in range(3):
        pq.write_table(gen.wal_batch(stream.next_batch(500), 2, 20, b == 0), buf)
        pq.write_table(gen.changelog_batch(stream.next_batch(200), 20, "t"), buf)
    return buf.getvalue()


def test_same_seed_same_bytes_other_seed_differs():
    assert _wal_bytes(7) == _wal_bytes(7)
    assert _wal_bytes(7) != _wal_bytes(8)
    a = gen.query_tables(7, 600)
    b = gen.query_tables(7, 600)
    c = gen.query_tables(8, 600)
    assert all(a[t].equals(b[t]) for t in a)
    assert not all(a[t].equals(c[t]) for t in a)


def test_change_stream_is_consistent_with_liveness():
    stream = gen.ChangeStream(3, 100, p_new=0.2, p_del=0.3)
    live = set(range(100))
    for _ in range(5):
        for kind, key in zip(*stream.next_batch(300).select(["kind", "id"]).to_pydict().values()):
            if kind == "insert":
                assert key not in live
                live.add(key)
            else:
                assert key in live
                if kind == "delete":
                    live.remove(key)


def test_wal_decodes_to_the_generated_events():
    """The program's own pgoutput decoder reads back exactly what was
    encoded: kinds, keys, values, and an LSN order equal to the seq order."""
    from peerdb_spark.sources.pgoutput import PgOutputDecoder

    ev = gen.ChangeStream(5, 200).next_batch(300)
    wal = gen.wal_batch(ev, 2, 7, with_relation=True).to_pydict()
    rows = []
    for slot in ("slot0", "slot1"):
        msgs = [(lsn, p) for s, lsn, p in zip(wal["slot"], wal["lsn"], wal["payload"])
                if s == slot]
        rows += PgOutputDecoder().decode_all(msgs)
    rows.sort(key=lambda r: (r["_commit_ts"], r["_checkpoint_id"]))
    want = ev.to_pylist()
    assert [r["_kind"] for r in rows] == [e["kind"] for e in want]
    for r, e in zip(rows, want):
        img = json.loads(r["_old_data"] if e["kind"] == "delete" else r["_data"])
        assert img["id"] == str(e["id"])
        if e["kind"] != "delete":
            assert (img["k"], img["v"], img["s"]) == (str(e["k"]), str(e["v"]), e["s"])
        assert r["_dst_table"] == "public.items"


# -- correctness checks catch planted errors ------------------------------------------

def _expected_state():
    snap = gen.snapshot(11, 500)
    stream = gen.ChangeStream(11, 500)
    state = LwwState(snap)
    for _ in range(3):
        state.apply(stream.next_batch(200))
    return state


def test_lww_fold_matches_itself_and_catches_a_planted_wrong_row():
    state = _expected_state()
    good = state.con.execute("SELECT * FROM state").arrow()
    assert state.diff_rows(good) == 0
    rows = good.to_pylist()
    rows[17] = {**rows[17], "v": rows[17]["v"] + 1}
    bad = pa.Table.from_pylist(rows, schema=good.schema)
    assert state.diff_rows(bad) == 2  # one unexpected row, one missing
    # the reader's aggregate sees it too
    state.con.register("bad_in", bad)
    assert state.con.execute(f"SELECT {CHECK_SQL} FROM bad_in").fetchone() != state.check_row()
    extra = pa.concat_tables([good, good.slice(3, 1)])
    assert state.diff_rows(extra) == 1
    state.close()


def test_lww_fold_applies_last_writer():
    snap = pa.table({"id": [1, 2], "k": [0, 0], "v": [10, 20], "s": ["a", "b"]},
                    schema=gen.ROW_SCHEMA)
    state = LwwState(snap)
    state.apply(pa.table({
        "seq": [0, 1, 2, 3], "kind": ["update", "delete", "insert", "update"],
        "id": [1, 2, 3, 1], "k": [1, 1, 1, 2], "v": [11, 0, 30, 12],
        "s": ["x", "y", "z", "w"]}, schema=gen.EVENT_SCHEMA))
    got = sorted(tuple(r.values()) for r in
                 state.con.execute("SELECT * FROM state").arrow().to_pylist())
    assert got == [(1, 2, 12, "w"), (3, 1, 30, "z")]
    state.close()


def test_query_hash_catches_a_planted_wrong_row():
    import duckdb

    con = duckdb.connect()
    sql = "SELECT range AS a, range * 0.5::DOUBLE AS b FROM range(5)"
    rows = [(i, i * 0.5) for i in range(5)]
    assert result_hash(["a", "b"], rows[::-1]) == oracle_hash(con, sql)
    assert result_hash(["b", "a"], [(b, a) for a, b in rows]) == oracle_hash(con, sql)
    rows[2] = (2, 1.5)
    assert result_hash(["a", "b"], rows) != oracle_hash(con, sql)
    con.close()

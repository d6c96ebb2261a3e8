"""Property-based check of the normalize merge: arbitrary I/U/D workloads must
converge to the same state as a sequential dict replay (the reference's
convergence-equality oracle pattern, flow/e2e/test_utils.go)."""

import datetime as dt

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from peerdb_spark import normalize as N

TS = dt.datetime(2024, 1, 1)

ops = st.lists(
    st.tuples(
        st.sampled_from(["insert", "update", "delete"]),
        st.integers(min_value=1, max_value=6),  # pk — small range forces collisions
        st.one_of(st.none(), st.text(alphabet="abc", max_size=3)),
    ),
    min_size=0,
    max_size=25,
)
base_rows = st.dictionaries(
    st.integers(min_value=1, max_value=6),
    st.one_of(st.none(), st.text(alphabet="xyz", max_size=3)),
    max_size=4,
)


def replay(base: dict, events: list) -> dict:
    """Sequential reference semantics: upsert on insert/update, remove on
    delete (delete of absent key is a no-op)."""
    state = dict(base)
    for kind, pk, val in events:
        if kind == "delete":
            state.pop(pk, None)
        else:
            state[pk] = val
    return state


@settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(base=base_rows, events=ops)
def test_merge_matches_sequential_replay(spark, base, events):
    dest = (
        spark.createDataFrame(
            [(k, v) for k, v in base.items()], "id long, val string"
        )
        if base
        else None
    )
    chg_rows = [
        {
            "_kind": kind,
            "_checkpoint_id": i,
            "_commit_ts": TS + dt.timedelta(seconds=i),
            "_txid": i,
            "_dst_table": "t",
            "_unchanged_cols": None,
            "id": pk,
            "val": val,
        }
        for i, (kind, pk, val) in enumerate(events)
    ]
    if not chg_rows:
        return
    chg = spark.createDataFrame(
        chg_rows,
        "id long, val string, _kind string, _checkpoint_id long, _commit_ts timestamp,"
        "_txid long, _dst_table string, _unchanged_cols array<string>",
    )
    got = {r["id"]: r["val"] for r in N.merge_changes(dest, chg, ["id"]).collect()}
    assert got == replay(base, events)


# --- PK-changing updates (normalize.split_pk_updates) ----------------------
# Ops now include ("move", old_pk, new_pk, val): an update whose old image
# carries a different primary key. Reference semantics
# (flow/connectors/clickhouse/normalize_query.go:180-214): the old-pk row is
# deleted, the new image upserts under the new pk.

move_ops = st.lists(
    st.one_of(
        st.tuples(
            st.sampled_from(["insert", "update", "delete"]),
            st.integers(min_value=1, max_value=6),
            st.one_of(st.none(), st.text(alphabet="abc", max_size=3)),
        ),
        st.tuples(
            st.just("move"),
            st.tuples(
                st.integers(min_value=1, max_value=6),
                st.integers(min_value=1, max_value=6),
            ),
            st.one_of(st.none(), st.text(alphabet="abc", max_size=3)),
        ),
    ),
    min_size=1,
    max_size=25,
)


def replay_with_moves(base: dict, events: list) -> dict:
    state = dict(base)
    for kind, key, val in events:
        if kind == "delete":
            state.pop(key, None)
        elif kind == "move":
            old_pk, new_pk = key
            if old_pk != new_pk:
                state.pop(old_pk, None)
            state[new_pk] = val
        else:
            state[key] = val
    return state


@settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(base=base_rows, events=move_ops)
def test_merge_with_pk_updates_matches_replay(spark, base, events):
    dest = (
        spark.createDataFrame(
            [(k, v) for k, v in base.items()], "id long, val string"
        )
        if base
        else None
    )
    chg_rows = []
    for i, (kind, key, val) in enumerate(events):
        if kind == "move":
            old_pk, new_pk = key
            chg_rows.append(
                {
                    "_kind": "update",
                    "_checkpoint_id": i,
                    "_commit_ts": TS + dt.timedelta(seconds=i),
                    "_txid": i,
                    "_dst_table": "t",
                    "_unchanged_cols": None,
                    "_old": {"id": old_pk, "val": None},
                    "id": new_pk,
                    "val": val,
                }
            )
        else:
            chg_rows.append(
                {
                    "_kind": kind,
                    "_checkpoint_id": i,
                    "_commit_ts": TS + dt.timedelta(seconds=i),
                    "_txid": i,
                    "_dst_table": "t",
                    "_unchanged_cols": None,
                    "_old": None,
                    "id": key,
                    "val": val,
                }
            )
    chg = spark.createDataFrame(
        chg_rows,
        "id long, val string, _kind string, _checkpoint_id long, _commit_ts timestamp,"
        "_txid long, _dst_table string, _unchanged_cols array<string>,"
        "_old struct<id: long, val: string>",
    )
    got = {r["id"]: r["val"] for r in N.merge_changes(dest, chg, ["id"]).collect()}
    assert got == replay_with_moves(base, events)


# --- Heavy churn against a model of the reference MERGE --------------------
# 10 changes per key for keys 1..30, a TOAST-unchanged `x` on every 5th
# checkpoint, and a final delete for every 7th key. The destination omits
# keys 5, 7 and 21, so the batch also carries an unmatched TOAST winner and
# two unmatched deletes.

CHURN_SCHEMA = (
    "id long, v string, x double, _kind string, _checkpoint_id long,"
    "_commit_ts timestamp, _txid long, _dst_table string, _unchanged_cols array<string>"
)
CHURN_DEST = {i: (f"old{i}", float(i)) for i in range(1, 50) if i not in (5, 7, 21)}


def _churn_rows() -> list[dict]:
    rows = []
    ck = 0
    for rep in range(10):
        for pk in range(1, 31):
            ck += 1
            kind = "delete" if (pk % 7 == 0 and rep == 9) else ("insert" if rep == 0 else "update")
            rows.append(
                {
                    "_kind": kind, "_checkpoint_id": ck,
                    "_commit_ts": TS + dt.timedelta(seconds=ck), "_txid": ck,
                    "_dst_table": "t", "_unchanged_cols": ["x"] if ck % 5 == 0 else None,
                    "id": pk, "v": f"new{pk}r{rep}", "x": None if ck % 5 == 0 else float(ck),
                }
            )
    return rows


def reference_merge(dest: dict, rows: list[dict], soft: bool) -> dict:
    """pk -> (v, x) in hard mode, (v, x, deleted) in soft mode: the batch's
    LWW winner per key; a TOAST-unchanged column of a matched winner takes
    the destination value; a matched delete drops the row (hard) or flags
    it keeping the destination values (soft); an unmatched delete is a
    no-op (hard) or a tombstone INSERT of the source values (soft)."""
    winners = {}
    for r in sorted(rows, key=lambda r: (r["_commit_ts"], r["_checkpoint_id"])):
        winners[r["id"]] = r
    out = {k: (v, x, False) for k, (v, x) in dest.items()}
    for pk, w in winners.items():
        matched = pk in dest
        if w["_kind"] == "delete":
            if soft:
                out[pk] = (*(dest[pk] if matched else (w["v"], w["x"])), True)
            else:
                out.pop(pk, None)
            continue
        v, x = w["v"], w["x"]
        if matched and "x" in (w["_unchanged_cols"] or ()):
            x = dest[pk][1]
        out[pk] = (v, x, False)
    return out if soft else {k: r[:2] for k, r in out.items()}


def _churn(spark):
    rows = _churn_rows()
    dest = spark.createDataFrame(
        [(k, v, x) for k, (v, x) in CHURN_DEST.items()], "id long, v string, x double"
    )
    return dest, spark.createDataFrame(rows, CHURN_SCHEMA), rows


def test_heavy_churn_merge_hard_delete(spark):
    dest, chg, rows = _churn(spark)
    got = {r["id"]: (r["v"], r["x"]) for r in N.merge_changes(dest, chg, ["id"]).collect()}
    assert got == reference_merge(CHURN_DEST, rows, soft=False)


def test_heavy_churn_merge_soft_delete(spark):
    dest, chg, rows = _churn(spark)
    out = N.merge_changes(dest, chg, ["id"], soft_delete_col="_del")
    got = {r["id"]: (r["v"], r["x"], r["_del"]) for r in out.collect()}
    assert got == reference_merge(CHURN_DEST, rows, soft=True)


def test_heavy_churn_merge_bootstrap(spark):
    _, chg, rows = _churn(spark)
    got = {r["id"]: (r["v"], r["x"]) for r in N.merge_changes(None, chg, ["id"]).collect()}
    assert got == reference_merge({}, rows, soft=False)

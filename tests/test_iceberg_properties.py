"""Property-based certification of nested schema evolution: ANY
sequence of rename/add/promote/drop ops applied to the span struct
after data was written must resolve old rows by field id exactly as
the op log predicts (rename carries values, add null-fills, promote
widens, drop removes without resurfacing)."""

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from medcat_spark.sources.iceberg import IcebergTable

# op codes interpreted against the CURRENT struct state; invalid ops
# (duplicate name, nothing to drop) are skipped deterministically
OPS = st.lists(
    st.sampled_from(["rename_a", "rename_back", "add", "promote_a",
                     "drop_b", "drop_then_readd_b"]),
    min_size=1, max_size=5)

ROWS = [("d0", [(1, "x"), (2, None)]),
        ("d1", None),
        ("d2", []),
        ("d3", [(None, "y")])]
SCHEMA = "doc_id string, spans array<struct<a:int,b:string>>"


def _apply_ops(t: IcebergTable, ops):
    """Run ops against the table; mirror them on a name-map + field set
    so the test can compute the expected read of the ORIGINAL rows."""
    a_name, b_present, added, a_long = "a", True, [], False
    for op in ops:
        if op == "rename_a":
            if a_name == "a":
                t.rename_column(f"spans.element.{a_name}", "a2")
                a_name = "a2"
        elif op == "rename_back":
            if a_name == "a2":
                t.rename_column("spans.element.a2", "a")
                a_name = "a"
        elif op == "add":
            nm = f"c{len(added)}"
            from pyspark.sql import types as T
            t.add_column(f"spans.element.{nm}", T.StringType())
            added.append(nm)
        elif op == "promote_a":
            if not a_long:
                t.promote_column(f"spans.element.{a_name}")
                a_long = True
        elif op == "drop_b":
            if b_present:
                t.drop_column("spans.element.b")
                b_present = False
        elif op == "drop_then_readd_b":
            if b_present:
                from pyspark.sql import types as T
                t.drop_column("spans.element.b")
                t.add_column("spans.element.b", T.StringType())
                b_present = True
                added.append("b")  # re-added NAME = fresh field: null
    return a_name, b_present, added


def _expected(a_name, b_present, added, rows=ROWS):
    out = {}
    for doc_id, spans in rows:
        if spans is None:
            out[doc_id] = None
            continue
        exp = []
        for sp in spans:
            if sp is None:
                exp.append(None)
                continue
            a, b = sp
            d = {a_name: a}
            if b_present and "b" not in added:
                d["b"] = b
            elif b_present:
                d["b"] = None          # re-added name, fresh id
            for nm in added:
                if nm != "b":
                    d[nm] = None
            exp.append(d)
        out[doc_id] = exp
    return out


@pytest.mark.usefixtures("spark")
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(ops=OPS)
def test_nested_evolution_any_op_sequence(spark, tmp_path_factory, ops):
    df = spark.createDataFrame(ROWS, SCHEMA)
    loc = str(tmp_path_factory.mktemp("prop") / "t")
    t = IcebergTable.create(loc, df.schema)
    t.append_dataframe(df)
    a_name, b_present, added = _apply_ops(t, ops)
    got = {}
    for r in t.to_df(spark).collect():
        if r.spans is None:
            got[r.doc_id] = None
        else:
            got[r.doc_id] = [None if sp is None else sp.asDict()
                             for sp in r.spans]
    assert got == _expected(a_name, b_present, added)


# row-level ops on a (k, v) table; each commits at most one snapshot
# (a delete that matches nothing commits none)
ROW_OPS = st.lists(
    st.tuples(st.sampled_from(["append", "delete_where",
                               "delete_positions", "upsert"]),
              st.integers(0, 3)),
    min_size=1, max_size=3)


def _run_row_op(spark, t: IcebergTable, step: int, op: str, k: int):
    from pyspark.sql import functions as F
    if op == "append":
        t.append_dataframe(spark.createDataFrame(
            [(k, f"a{step}"), (k + 1, f"a{step}")], "k int, v string"))
    elif op == "delete_where":
        t.delete_where(spark, F.col("k") == k, equality_cols=["k"])
    elif op == "delete_positions":
        t.delete_where_positions(spark, F.col("k") == k)
    else:
        t.upsert_dataframe(spark, spark.createDataFrame(
            [(k, f"u{step}")], "k int, v string"), key_cols=["k"])


@pytest.mark.usefixtures("spark")
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(ops=ROW_OPS)
# a key deleted, then upserted: the upsert's equality delete must not
# emit the row the first delete already removed
@example(ops=[("delete_where", 1), ("upsert", 1)])
def test_changelog_agrees_with_time_travel(spark, tmp_path_factory, ops):
    """For every pair of snapshots i < j, as multisets: the DELETE rows
    of changelog(i, j) are rows of to_df(i), and to_df(j) = to_df(i) -
    DELETE + INSERT; over a range with no delete, incremental_read(i, j)
    is the INSERT rows."""
    from collections import Counter
    loc = str(tmp_path_factory.mktemp("cdc") / "t")
    base = spark.createDataFrame(
        [(0, "x"), (1, "x"), (1, "y"), (2, "x")], "k int, v string")
    t = IcebergTable.create(loc, base.schema)
    t.append_dataframe(base)
    for step, (op, k) in enumerate(ops):
        _run_row_op(spark, t, step, op, k)
    t = IcebergTable.load(loc)
    snaps = t.snapshots()
    rows = [Counter(tuple(r) for r in
                    t.to_df(spark, snapshot_id=s["snapshot-id"]).collect())
            for s in snaps]
    for i, si in enumerate(snaps):
        for j in range(i + 1, len(snaps)):
            sj = snaps[j]["snapshot-id"]
            cl = t.changelog(spark, si["snapshot-id"], sj).collect()
            ins = Counter((r.k, r.v) for r in cl
                          if r._change_type == "INSERT")
            dels = Counter((r.k, r.v) for r in cl
                           if r._change_type == "DELETE")
            assert not dels - rows[i], (ops, i, j)
            assert rows[i] - dels + ins == rows[j], (ops, i, j)
            if all(s["summary"]["operation"] == "append"
                   for s in snaps[i + 1:j + 1]):
                inc = t.incremental_read(spark, si["snapshot-id"], sj)
                assert Counter(tuple(r) for r in inc.collect()) == ins


def test_bucket_transform_vectorized_matches_scalar():
    """The numpy murmur3 used by the bucket write path must equal the
    scalar spec implementation bit-for-bit over the int64 range."""
    import struct

    import numpy as np

    from medcat_spark.sources.iceberg import (bucket_value, murmur3_32,
                                              murmur3_32_long_np)
    vals = [0, 1, -1, 34, 2**31 - 1, -2**31, 2**62, -2**62,
            -2**63, 2**63 - 1, 123456789]
    h = murmur3_32_long_np(np.array(vals, dtype=np.int64))
    for i, v in enumerate(vals):
        assert int(h[i]) == murmur3_32(struct.pack("<q", v))
        assert (int(h[i]) & 0x7FFFFFFF) % 16 == bucket_value(v, 16, "long")

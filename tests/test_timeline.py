"""Patient concept streams (reference datasets/patient_concept_stream.py)."""

import pytest

from medcat_spark.functions.timeline import (patient_concept_streams,
                                             patient_stream_tokens)


@pytest.fixture(scope="module")
def frames(spark):
    ann = spark.createDataFrame(
        [("d1", "C1"), ("d1", "C2"), ("d2", "C1"), ("d3", "C3"),
         ("d4", "C1"), ("d5", "C9")],
        "doc_id string, cui string")
    meta = spark.createDataFrame(
        [("d1", "P1", 10, 30), ("d2", "P1", 5, 30), ("d3", "P1", 400, 31),
         ("d4", "P2", 7, 62), ("d5", "P9", 1, 20)],
        "doc_id string, patient_id string, ts int, age int")
    return ann, meta


def test_stream_order_counts_first_ts(spark, frames):
    ann, meta = frames
    rows = {r["patient_id"]: r["stream"]
            for r in patient_concept_streams(ann, meta).collect()}
    p1 = [(x["first_ts"], x["cui"], x["cnt"], x["age"])
          for x in rows["P1"]]
    # C1 appears in d1(ts10) and d2(ts5) -> cnt 2, first_ts 5, age at 5
    assert p1 == [(5, "C1", 2, 30), (10, "C2", 1, 30), (400, "C3", 1, 31)]
    assert [(x["cui"], x["cnt"]) for x in rows["P2"]] == [("C1", 1)]


def test_age_markers_injected_like_reference(spark, frames):
    """The reference generator (patient_concept_stream.py:84-93): emit
    str(age) whenever age increases, then the cui."""
    ann, meta = frames
    st = patient_concept_streams(ann, meta)
    toks = {r["patient_id"]: r["stream_tokens"]
            for r in patient_stream_tokens(st).collect()}
    # P1: age 30 -> marker, C1, C2 (same age), age 31 -> marker, C3
    assert toks["P1"] == ["30", "C1", "C2", "31", "C3"]
    assert toks["P2"] == ["62", "C1"]
    assert toks["P9"] == ["20", "C9"]


def test_no_udf_in_plan(spark, frames):
    """Stream assembly stays JVM-side: no Python eval nodes."""
    ann, meta = frames
    plan = patient_stream_tokens(
        patient_concept_streams(ann, meta))._jdf \
        .queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "MapInPandas" not in plan
    assert "MapInArrow" not in plan

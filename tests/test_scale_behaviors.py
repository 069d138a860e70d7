"""Scale-behavior invariants: salted repartitioning spreads hot doc_id
prefixes, and annotation output is partition-count invariant."""

from pyspark.sql import functions as F

from medcat_spark.config import EngineConfig
from medcat_spark.pipeline import annotate, broadcast_model, salted_repartition


def test_salted_repartition_spreads_hot_prefix(spark):
    """north_rule: explicit salted repartition on doc_id prefixes — a
    single hot prefix (hot source/date) must land on many partitions,
    not one."""
    docs = spark.createDataFrame(
        [(f"hot_{i:05d}", "x") for i in range(2000)],
        "doc_id string, text string")
    parts = (salted_repartition(docs, 16, prefix_len=4, salt=8)
             .select(F.spark_partition_id().alias("p"))
             .distinct().count())
    assert parts >= 6, f"hot prefix stuck on {parts} partitions"
    # deterministic: same input -> identical partition assignment
    a = (salted_repartition(docs, 16).select(
        "doc_id", F.spark_partition_id().alias("p")).collect())
    b = (salted_repartition(docs, 16).select(
        "doc_id", F.spark_partition_id().alias("p")).collect())
    assert {(r["doc_id"], r["p"]) for r in a} == \
           {(r["doc_id"], r["p"]) for r in b}


def test_annotate_partition_invariance(spark, docs_df, fixture_models):
    """The same corpus annotated at different parallelism produces the
    identical annotation set (resume/retry safety)."""
    cdb, vocab = fixture_models
    bc = broadcast_model(spark, cdb, vocab, EngineConfig())
    key = ["doc_id", "start", "end", "cui", "detected_name"]
    a = {tuple(r) for r in annotate(docs_df, bc, num_partitions=2)
         .select(*key).collect()}
    b = {tuple(r) for r in annotate(docs_df, bc, num_partitions=11)
         .select(*key).collect()}
    assert a == b and a


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_new_operator_plans_are_scale_safe(spark, docs_df, fixture_models):
    """Plan-shape invariants for the round-2 operators: broadcast joins
    for model-sized sides, no cartesian products, no recomputed
    annotate branches."""
    from medcat_spark.functions import similarity as simf
    from medcat_spark.functions.deid import deid_text
    from medcat_spark.functions.ner_model import (ner_fixture_model,
                                                  score_table, tag_spans)
    from medcat_spark.triples import cooccurrence_triples

    docs = spark.createDataFrame(
        [(str(i), "spark merge the table scan row") for i in range(50)],
        "doc_id string, text string")

    # token tagger: the score table must come in as a broadcast join and
    # the whole scoring path stays JVM-side (no *InPandas / MapInArrow)
    m = ner_fixture_model()
    spans = tag_spans(docs, m, score_table(spark, m))
    p = _plan(spans)
    assert "BroadcastHashJoin" in p
    assert "InPandas" not in p and "BatchEvalPython" not in p
    assert "MapInArrow" not in p

    # deid splice: also all-JVM
    p2 = _plan(deid_text(docs, spans.selectExpr(
        "doc_id", "start", "end", "label AS cui")))
    assert "InPandas" not in p2 and "CartesianProduct" not in p2
    assert "MapInArrow" not in p2

    # LSH near-dup: bucket join, never a cartesian product
    import numpy as np
    rng = np.random.RandomState(3)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in rng.uniform(-1, 1, 8)]) for i in range(64)],
        "vec_id long, embedding array<float>")
    p3 = _plan(simf.pairwise_cosine_lsh(emb, probe_dims=4, n_flips=1))
    assert "CartesianProduct" not in p3

    # co-occurrence: annotate executes once (checkpointed scan: exactly
    # one Python kernel node, the annotate MapInArrow)
    cdb, vocab = fixture_models
    from medcat_spark.config import EngineConfig
    from medcat_spark.pipeline import annotate, broadcast_model
    bc = broadcast_model(spark, cdb, vocab, EngineConfig())
    cooc = cooccurrence_triples(annotate(docs_df, bc))
    assert _plan(cooc).count("MapInPandas") == 0
    assert _plan(cooc).count("MapInArrow") == 1

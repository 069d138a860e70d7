"""End-to-end Spark pipeline: interleaved docs → annotations → triples,
checked against the driver-side exact kernel run per document (the
'reference semantics' oracle), plus the P/R gate and the span-sequence
invariant (BASELINE.json input_hint)."""

import math

import pytest
from pyspark.sql import functions as F

from medcat_spark.config import EngineConfig
from medcat_spark.core.annotate import annotate_document
from medcat_spark.core.docs import reconstruct_text, spans_signature
from medcat_spark.fixtures import fixture_documents
from medcat_spark.pipeline import (LINEAGE_SCHEMA, annotate,
                                   annotate_with_lineage, broadcast_model)
from medcat_spark.stats import overall_stats
from medcat_spark.triples import cooccurrence_triples, mention_triples


@pytest.fixture(scope="module")
def bc(spark, fixture_models):
    cdb, vocab = fixture_models
    return broadcast_model(spark, cdb, vocab, EngineConfig())


@pytest.fixture(scope="module")
def ann(spark, docs_df, bc):
    return annotate(docs_df, bc, num_partitions=6).cache()


def exact_annotations(fixture_models):
    """Driver-side per-doc run of the same kernel = golden annotations."""
    cdb, vocab = fixture_models
    cfg = EngineConfig()
    rows = []
    for doc in fixture_documents(60):
        text = reconstruct_text(doc["spans"])
        ents, _ = annotate_document(text, cdb, vocab, cfg)
        for e in ents:
            rows.append((doc["doc_id"], e.start, e.cui, e.detected_name,
                         round(e.context_similarity, 9)))
    return set(rows)


def test_spark_matches_exact_kernel(ann, fixture_models):
    got = {(r["doc_id"], r["start"], r["cui"], r["detected_name"],
            round(r["context_similarity"], 9)) for r in ann.collect()}
    want = exact_annotations(fixture_models)
    assert got == want


def test_pr_gate_095(spark, ann, fixture_models):
    """The BASELINE gate: P/R >= 0.95 vs reference-semantics annotations
    (exact match here, but asserted through the A4 join machinery)."""
    gold_rows = [(d, s, c) for (d, s, c, _, _) in exact_annotations(fixture_models)]
    gold = spark.createDataFrame(gold_rows, "doc_id string, start int, cui string")
    stats = overall_stats(ann, gold)
    assert stats["precision"] >= 0.95 and stats["recall"] >= 0.95, stats
    assert stats["fp"] == 0 and stats["fn"] == 0


def test_null_spans_row_gives_no_annotations(spark, docs_df, bc, ann):
    """A NULL ``spans`` row follows the NULL ``text`` rule: it gives no
    annotation rows, and every other row's annotations are unchanged."""
    null_row = spark.createDataFrame([("null-doc", None)], docs_df.schema)
    got = annotate(docs_df.unionByName(null_row), bc, num_partitions=6)

    def keys(df):
        return sorted((r["doc_id"], r["start"], r["cui"],
                       r["context_similarity"]) for r in df.collect())
    assert keys(got) == keys(ann)


def test_null_doc_id_row_gives_no_annotations(spark, bc):
    """A NULL ``doc_id`` row follows the NULL ``text`` rule: it gives no
    annotation rows (not rows under the string 'None')."""
    text = reconstruct_text(fixture_documents(1)[0]["spans"])
    docs = spark.createDataFrame([(None, text), ("d1", text)],
                                 "doc_id string, text string")
    got = annotate(docs, bc).groupBy("doc_id").count().collect()
    assert [r["doc_id"] for r in got] == ["d1"] and got[0]["count"] > 0


def test_annotations_nonempty_and_schema(ann):
    assert ann.count() > 50
    names = set(ann.columns)
    assert {"doc_id", "ent_id", "cui", "detected_name", "source_value",
            "start", "end", "context_similarity", "span_idx",
            "span_offset"} <= names


def test_span_sequence_invariant(spark, docs_df, bc):
    """Pipeline must not disturb the spans column: signature equality on
    (kind, text, media_ref, order) before and after passing through."""
    before = {r["doc_id"]: spans_signature([s.asDict() for s in r["spans"]])
              for r in docs_df.collect()}
    # round-trip through the same repartition the annotate path uses
    from medcat_spark.pipeline import salted_repartition
    after_df = salted_repartition(docs_df, 6)
    after = {r["doc_id"]: spans_signature([s.asDict() for s in r["spans"]])
             for r in after_df.collect()}
    assert before == after


def test_annotation_span_coords(ann, docs_df):
    """Every annotation inside a text span maps back to (span_idx, offset)
    whose substring equals source_value."""
    docs = {r["doc_id"]: [s.asDict() for s in r["spans"]]
            for r in docs_df.collect()}
    for r in ann.collect():
        spans = docs[r["doc_id"]]
        si, so = r["span_idx"], r["span_offset"]
        assert si >= 0, "annotation fell outside text spans"
        frag = spans[si]["text"][so:so + (r["end"] - r["start"])]
        # multi-span entities may extend past one span; prefix must match
        assert r["source_value"].startswith(frag[:len(r["source_value"])])


def test_mention_triples(ann):
    t = mention_triples(ann, distinct=True)
    rows = t.collect()
    assert all(r["subj"].startswith("doc:") and r["obj"].startswith("cui:")
               and r["pred"] == "mentions" for r in rows)
    assert len(rows) == ann.select("doc_id", "cui").distinct().count()


def test_cooccurrence_triples(ann):
    co = cooccurrence_triples(ann).collect()
    assert co, "fixture docs contain co-occurring concepts"
    for r in co:
        assert r["subj"] < r["obj"]  # a < b canonical order
        assert r["pred"] == "cooccurs_with"
        assert r["n_docs"] >= 1


def test_lineage_metrics(spark, docs_df, bc):
    ann, lineage = annotate_with_lineage(docs_df, bc, num_partitions=6)
    ann.count()
    lm = lineage().collect()
    assert sum(r["n_docs"] for r in lm) == 60 - _docs_without_entities(spark, docs_df, bc)
    assert all(r["n_annotations"] > 0 for r in lm)


def _distinct_lineage(ann):
    """The lineage definition with ``countDistinct`` over the annotations
    tagged with their task partition (``spark_partition_id`` runs in the
    annotate kernel's stage): the rows lineage must equal, but for the
    timing column."""
    return (ann.withColumn("part_id", F.spark_partition_id())
            .groupBy("part_id")
            .agg(F.min("doc_id").alias("doc_id_min"),
                 F.max("doc_id").alias("doc_id_max"),
                 F.countDistinct("doc_id").alias("n_docs"),
                 F.count("*").alias("n_annotations")))


def test_lineage_parity_with_distinct_count(spark, docs_df, bc):
    """Per ``part_id``, the lineage rows the annotate kernel gathers
    (``annotate_with_lineage``) equal the countDistinct definition
    except for the timing column, over 6 partitions and a duplicated
    doc_id, and have the LINEAGE_SCHEMA that roots already written
    hold."""
    dup = docs_df.orderBy("doc_id").limit(1)
    docs = docs_df.unionByName(dup)
    ann_p = annotate(docs, bc, num_partitions=6)
    want = {r["part_id"]: r for r in _distinct_lineage(ann_p).collect()}
    assert len(want) > 1
    assert ann_p.where(F.col("doc_id") == dup.first()["doc_id"]).count() > 0

    ann, lineage = annotate_with_lineage(docs, bc, num_partitions=6)
    n_ann = ann.count()
    got_df = lineage()
    assert got_df.schema == LINEAGE_SCHEMA
    got = {r["part_id"]: r for r in got_df.collect()}
    assert got.keys() == want.keys()
    for pid, r in got.items():
        keys = ("doc_id_min", "doc_id_max", "n_docs", "n_annotations")
        assert [r[k] for k in keys] == [want[pid][k] for k in keys]
        assert 0 < r["avg_row_cost_us"] < math.inf
    assert sum(r["n_annotations"] for r in want.values()) == n_ann


def _docs_without_entities(spark, docs_df, bc) -> int:
    ann = annotate(docs_df, bc)
    with_ents = ann.select("doc_id").distinct().count()
    return docs_df.count() - with_ents


def test_project_output_full(spark, ann, fixture_models):
    """P5 projection with type names and meta-annotations joined in
    (the reference's _doc_to_out output surface, cat.py:1729-1795)."""
    from medcat_spark.pipeline import project_output
    cdb, _ = fixture_models
    concepts = spark.createDataFrame(
        [(c, cdb.cui2preferred_name.get(c), sorted(cdb.cui2type_ids.get(c, [])),
          sorted(cdb.addl_info["cui2ontologies"].get(c, [])))
         for c in cdb.cui2names],
        "cui string, preferred_name string, type_ids array<string>, "
        "ontologies array<string>")
    type_names = spark.createDataFrame(
        [("T047", "Disease or Syndrome"), ("T109", "Organic Chemical")],
        "type_id string, type_name string")
    meta = ann.select("doc_id", "start", "cui",
                      __import__("pyspark").sql.functions.lit("Negation")
                      .alias("meta_name"),
                      __import__("pyspark").sql.functions.lit("present")
                      .alias("value"))
    out = project_output(ann, concepts, type_names=type_names, meta=meta)
    rows = out.where("cui = 'C0003'").collect()
    assert rows
    # reference cdb.py:344-346: preferred raw name = raw_name of the LAST
    # prepared name version of the first P row ('Heart attack|Myocardial
    # infarction' -> 'Myocardial infarction')
    assert rows[0]["pretty_name"] == "Myocardial infarction"
    assert rows[0]["types"] == ["Disease or Syndrome"]
    assert rows[0]["meta_anns"]["Negation"] == "present"

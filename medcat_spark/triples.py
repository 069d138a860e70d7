"""A3 + §1.5: (subj, pred, obj) triple materialization from annotations.

The reference emits per-doc entity dicts (cat.py:1729-1795); the KG
consumer-side ops (north_star) are:
  * doc-entity triples   (doc:X, 'mentions', cui:Y)
  * entity co-occurrence (cui:A, 'cooccurs_with', cui:B) per doc
  * relation triples     (ent1_cui, label, ent2_cui) — RelCAT dict shape
    (medcat/rel_cat.py:596-609)

Scale notes: co-occurrence is the skew hotspot (a handful of hot CUIs
appear in >30% of docs).  The plan below (a) reduces to DISTINCT
(doc_id, cui) before the self-join, (b) self-joins on doc_id where
cardinality is bounded by entities-per-doc (not corpus size), and
(c) leaves the final groupBy(cui_a, cui_b) to AQE skew handling with
map-side partial aggregation — no driver-side loops anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def mention_triples(ann: DataFrame, distinct: bool = False) -> DataFrame:
    """(doc:<doc_id>, 'mentions', cui:<CUI>) — one row per mention, or
    distinct per (doc, cui)."""
    t = ann.select(
        F.concat(F.lit("doc:"), F.col("doc_id")).alias("subj"),
        F.lit("mentions").alias("pred"),
        F.concat(F.lit("cui:"), F.col("cui")).alias("obj"),
        F.col("doc_id"),
    )
    return t.distinct() if distinct else t


def cooccurrence_triples(ann: DataFrame, materialize: bool = True) -> DataFrame:
    """(cui:A, 'cooccurs_with', cui:B, n_docs) for A < B.

    DISTINCT-then-self-join keeps the join input minimal; the heavy
    groupBy benefits from partial (map-side) aggregation and AQE
    skew-split.  Equivalent SQL shape: SURVEY §2.7 A3.

    The per-doc pair expansion is a collect_set + in-array combination
    (codegen higher-order exprs): ONE scan of ``ann``, one shuffle
    bounded by (doc, cui) distinct pairs, one pair aggregation — the
    former distinct + self-join shape cost two extra shuffles and
    scanned ``ann`` through two plan branches (the reason the old
    ``materialize`` flag had to localCheckpoint).  Per-doc arrays are
    bounded by entities-per-doc, so no row ever exceeds that envelope.

    ``materialize`` is a no-op, kept because ``bench.py`` and
    ``perfbench`` still pass it; the single-scan plan does not
    duplicate the upstream annotate stage, so there is no lineage to
    truncate (no ``localCheckpoint``).
    """
    per_doc = (ann.select("doc_id", "cui")
               .groupBy("doc_id")
               .agg(F.sort_array(F.collect_set("cui")).alias("cuis")))
    cuis = F.col("cuis")
    pairs = per_doc.select(F.explode(F.flatten(F.transform(
        cuis,
        lambda x, i: F.transform(
            F.slice(cuis, i + F.lit(2), F.size(cuis)),
            lambda y: F.struct(x.alias("cui_a"), y.alias("cui_b")))
    ))).alias("p")).select("p.cui_a", "p.cui_b")
    return (pairs.groupBy("cui_a", "cui_b")
            .agg(F.count("*").alias("n_docs"))
            .select(F.concat(F.lit("cui:"), F.col("cui_a")).alias("subj"),
                    F.lit("cooccurs_with").alias("pred"),
                    F.concat(F.lit("cui:"), F.col("cui_b")).alias("obj"),
                    F.col("n_docs")))


def canonicalize(ann: DataFrame, cui2group: DataFrame) -> DataFrame:
    """O2: remap cui → group id where a mapping exists
    (postprocessing.py:12-14 map_ents_to_groups) via broadcast join."""
    g = cui2group.select(F.col("cui").alias("_cui"), F.col("group"))
    return (ann.join(F.broadcast(g), ann["cui"] == g["_cui"], "left")
            .withColumn("cui", F.coalesce(F.col("group"), F.col("cui")))
            .drop("_cui", "group"))


def relation_triples(relations: DataFrame) -> DataFrame:
    """Relation triples from a RelCAT-shaped relations DataFrame
    (columns ent1_cui, relation, ent2_cui, confidence, doc_id —
    rel_cat.py:596-609).  The neural classifier itself is out of the
    CDB+Vocab parity contract (SURVEY §2.11); see
    medcat_spark.functions.relations for the deterministic stand-in."""
    return relations.select(
        F.concat(F.lit("cui:"), F.col("ent1_cui")).alias("subj"),
        F.col("relation").alias("pred"),
        F.concat(F.lit("cui:"), F.col("ent2_cui")).alias("obj"),
        F.col("confidence"), F.col("doc_id"))

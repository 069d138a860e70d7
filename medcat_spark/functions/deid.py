"""De-identification operators (reference medcat/utils/ner/deid.py +
medcat/utils/ner/helpers.py:8-17 replace_entities_in_text).

The reference's DeID pipeline = TransformersNER detecting PHI spans +
``replace_entities_in_text``: entities applied right-to-left, each span
replaced by ``[<concept name>]``, or ``[*****]`` (span-length stars)
when redacting.

Here the replacement is a pure JVM-side fold (no Python in the path):
annotations are collected per doc as a struct array, sorted by start
DESCENDING, and ``F.aggregate`` splices each span out of the running
text — right-to-left application keeps earlier offsets valid exactly
like the reference loop.  The PHI *detector* is pluggable: any
annotations DataFrame works (dictionary NER here; a transformer tagger
drops into the same contract — see functions/ner_model.py for the
trained token-classifier analogue).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from medcat_spark import worker

_BIG = 1 << 30  # substring 'rest of string' length


def deid_text(docs: DataFrame, ann: DataFrame,
              name_map: Optional[DataFrame] = None,
              redact: bool = False, text_col: str = "text") -> DataFrame:
    """→ (doc_id, deid_text): every annotated span replaced by
    ``[<label>]`` (label = preferred name via ``name_map(cui, label)``,
    else the CUI — reference helpers.py:12-16 get_cui_name), or
    ``[***]`` stars of span length when ``redact``.

    Overlapping spans behave like the reference (later replacements may
    splice into earlier ones); feed O1-resolved annotations for the
    standard non-overlapping case.
    """
    a = ann.select(F.col("doc_id").cast("string").alias("doc_id"),
                   "start", "end", "cui")
    if name_map is not None:
        m = name_map.select("cui", F.col("label").alias("_label"))
        a = (a.join(F.broadcast(m), "cui", "left")
             .withColumn("label", F.coalesce("_label", "cui")).drop("_label"))
    else:
        a = a.withColumn("label", F.col("cui"))

    if redact:
        repl = lambda e: F.repeat(F.lit("*"), (e["end"] - e["start"]).cast("int"))
    else:
        repl = lambda e: e["label"]

    ents = (a.groupBy("doc_id")
            .agg(F.reverse(F.array_sort(F.collect_list(
                F.struct("start", "end", "label")))).alias("ents")))
    src = docs.select(F.col("doc_id").cast("string").alias("doc_id"),
                      F.col(text_col).alias("text"))
    joined = src.join(ents, "doc_id", "left")
    spliced = F.aggregate(
        F.coalesce("ents", F.array().cast(
            "array<struct<start:int,end:int,label:string>>")),
        F.col("text"),
        lambda acc, e: F.concat(
            F.substring(acc, 1, e["start"]),
            F.lit("["), repl(e), F.lit("]"),
            F.substring(acc, e["end"] + 1, F.lit(_BIG))))
    return joined.select("doc_id", spliced.alias("deid_text"))


def match_rules(docs: DataFrame, rules, name_map: Optional[DataFrame] = None,
                text_col: str = "text") -> DataFrame:
    """Regex-rule PHI matching (reference utils/ner/deid.py:193-243
    match_rules): every match of every ``(pattern, cui)`` rule over
    every doc → (doc_id, start, end, cui, source_value, acc=1.0) — the
    same relation the model tagger emits, so the two sources merge.

    Patterns are compiled once per task and run inside one
    ``worker.kernel`` (positions of ALL matches are not expressible
    with built-in regexp functions); rule lists are PHI-catalog-sized
    (dozens), so the per-batch loop is rules x docs.
    """
    rule_list = [(str(p), str(c)) for p, c in rules]

    def body(batches):
        import re
        compiled = [(re.compile(p, flags=re.M), c) for p, c in rule_list]
        for rows in batches:
            out = {"doc_id": [], "start": [], "end": [], "cui": [],
                   "source_value": [], "acc": []}
            for row in rows:
                if row["doc_id"] is None:
                    continue   # a NULL doc_id gives no rows
                text = row["text"] or ""
                for rx, cui in compiled:
                    for m in rx.finditer(text):
                        out["doc_id"].append(row["doc_id"])
                        out["start"].append(m.start())
                        out["end"].append(m.end())
                        out["cui"].append(cui)
                        out["source_value"].append(m.group())
                        out["acc"].append(1.0)
            yield out

    src = docs.select(F.col("doc_id").cast("string").alias("doc_id"),
                      F.col(text_col).alias("text"))
    schema = ("doc_id string, start int, end int, cui string, "
              "source_value string, acc double")
    matched = src.mapInArrow(worker.kernel(schema, body), schema=schema)
    if name_map is not None:
        matched = (matched.join(F.broadcast(name_map), "cui", "left")
                   .withColumnRenamed("label", "pretty_name"))
    return matched


def merge_rule_preds(model_preds: DataFrame, rule_matches: DataFrame,
                     accept_preds: bool = True) -> DataFrame:
    """Merge model and rule PHI predictions (reference merge_preds,
    utils/ner/deid.py:267-...): where a rule match OVERLAPS a model
    span on the same doc, keep the model's (``accept_preds=True``,
    the default) or the rule's (False).  Non-overlapping rows from both
    sides always survive.

    Pure DataFrame: one range-overlap anti-join decides the losing
    side; both inputs carry (doc_id, start, end, cui).
    """
    cols = ["doc_id", "start", "end", "cui"]
    mp = model_preds.select(*cols)
    rm = rule_matches.select(*cols)
    loser, winner = (rm, mp) if accept_preds else (mp, rm)
    overlap = (F.col("a.doc_id") == F.col("b.doc_id")) \
        & (F.col("a.start") < F.col("b.end")) \
        & (F.col("b.start") < F.col("a.end"))
    kept_loser = (loser.alias("a")
                  .join(winner.alias("b"), overlap, "left_anti"))
    return winner.unionByName(kept_loser).distinct()

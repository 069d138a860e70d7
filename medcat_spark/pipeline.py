"""The annotation job: documents DataFrame → annotations DataFrame.

Spark lifecycle (SURVEY §3.1-3.2): ``docs → salted repartition →
mapInArrow(annotate_batch) → annotation rows → broadcast-joined
projections → triple aggregation → snapshot write``.  The reference's
multiprocessing machinery (cat.py:1304-1470) maps 1:1 onto Spark:
partitions ≈ char-budget batches, executors ≈ worker processes, Arrow
batches ≈ inner batches, snapshot commits ≈ pickle parts.

The CDB+Vocab model is broadcast once (a few GB for full UMLS — the
reference needs ≥5 GB per worker process too, cat.py:1354-1355) and
materialized lazily once per Python worker via a module-level cache.
"""

from __future__ import annotations

import time
from typing import Optional, Tuple

from pyspark import TaskContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, DoubleType, IntegerType, LongType,
                               StringType, StructField, StructType)

from medcat_spark import worker
from medcat_spark.config import EngineConfig
from medcat_spark.core.annotate import annotate_document
from medcat_spark.core.docs import char_to_span, reconstruct_text, span_index
from medcat_spark.core.model import CdbModel, VocabModel
from medcat_spark.core.normalizer import SpellChecker

ANNOTATION_SCHEMA = StructType([
    StructField("doc_id", StringType()),
    StructField("ent_id", IntegerType()),
    StructField("cui", StringType()),
    StructField("detected_name", StringType()),
    StructField("source_value", StringType()),
    StructField("start", IntegerType()),
    StructField("end", IntegerType()),
    StructField("context_similarity", DoubleType()),
    StructField("span_idx", IntegerType()),      # interleaved-doc coords
    StructField("span_offset", IntegerType()),
    StructField("part_id", IntegerType()),       # lineage: task partition
    StructField("batch_us", LongType()),         # lineage: per-batch cost
])

# Executor-side lazy model cache: one deserialize per Python worker
# process per model version (keyed by content hash), regardless of how
# many tasks/batches it runs.  This is the broadcast-lifecycle device the
# reference approximates with per-process model loads (cat.py:1508-1543).
_MODEL_CACHE: dict = {}


def _get_model(bc) -> Tuple[CdbModel, VocabModel, EngineConfig, SpellChecker]:
    # the broadcast spill path is unique per broadcast id and stable on
    # the worker (id(bc) is NOT: CPython reuses ids across GC'd objects)
    key = getattr(bc, "_path", None) or id(bc)
    hit = _MODEL_CACHE.get(key)
    if hit is None:
        cdb, vocab, config = bc.value
        sc = SpellChecker(cdb.vocab, config)   # owns the token memo
        hit = (cdb, vocab, config, sc)
        _MODEL_CACHE.clear()   # one model resident at a time
        _MODEL_CACHE[key] = hit
    return hit


def broadcast_model(spark: SparkSession, cdb: CdbModel, vocab: VocabModel,
                    config: Optional[EngineConfig] = None):
    cfg = config or EngineConfig()
    return spark.sparkContext.broadcast((cdb, vocab, cfg))


def _annotate_batches(bc, has_spans: bool, keep_overlaps: bool = False):
    """The annotate kernel (``worker.kernel``): texts arrive as one
    ``to_pylist`` per Arrow batch and annotation rows leave as one Arrow
    batch built from column lists — no pandas DataFrame assembly or
    row-at-a-time ``itertuples`` on either side of the boundary
    (measured ~2x per-task overhead of the kernel itself)."""
    def body(batches):
        cdb, vocab, config, sc = _get_model(bc)
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else -1
        for rows in batches:
            t0 = time.monotonic_ns()
            out = {f.name: [] for f in ANNOTATION_SCHEMA.fields}
            for row in rows:
                doc_id = str(row["doc_id"])
                if has_spans:
                    spans = row["spans"] or []
                    text = reconstruct_text(spans)
                    starts, ends, idxs = span_index(spans)
                else:
                    text = row["text"] or ""
                    starts = ends = idxs = None
                ents, _ = annotate_document(text, cdb, vocab, config, sc,
                                            keep_overlaps=keep_overlaps)
                for e in ents:
                    if has_spans:
                        si, so = char_to_span(e.start, starts, ends, idxs)
                    else:
                        si, so = 0, e.start
                    out["doc_id"].append(doc_id)
                    out["ent_id"].append(e.ent_id)
                    out["cui"].append(e.cui)
                    out["detected_name"].append(e.detected_name)
                    out["source_value"].append(e.source_value)
                    out["start"].append(e.start)
                    out["end"].append(e.end)
                    out["context_similarity"].append(e.context_similarity)
                    out["span_idx"].append(si if si is not None else -1)
                    out["span_offset"].append(so if so is not None else -1)
            n = len(out["doc_id"])
            batch_us = (time.monotonic_ns() - t0) // 1000
            out["part_id"] = [pid] * n
            out["batch_us"] = [batch_us] * n
            yield out
    return worker.kernel(ANNOTATION_SCHEMA, body)


def salted_repartition(docs: DataFrame, num_partitions: int,
                       prefix_len: int = 4, salt: int = 8) -> DataFrame:
    """Explicit salted repartition on doc_id prefixes (north_rule).

    doc_id prefixes typically encode source/date, so raw prefix
    partitioning puts hot sources on few partitions; the deterministic
    per-doc salt spreads each prefix over ``salt`` buckets while keeping
    prefix locality for downstream per-source scans.  Deterministic
    (hash-based, no rand()) so resume/retry re-creates identical
    partitions.
    """
    prefix = F.substring(F.col("doc_id"), 1, prefix_len)
    salt_col = F.pmod(F.xxhash64(F.col("doc_id")), F.lit(salt))
    return docs.repartition(num_partitions, prefix, salt_col)


def annotate(docs: DataFrame, bc, num_partitions: Optional[int] = None,
             keep_lineage_cols: bool = False,
             keep_overlaps: bool = False) -> DataFrame:
    """Annotate a documents DataFrame.

    Accepts either the interleaved input_hint shape
    ``(doc_id, spans array<struct<kind,text,media_ref,offset>>)`` or a
    flat ``(doc_id, text)`` table.  Returns ANNOTATION_SCHEMA rows; a
    row whose ``text`` or ``spans`` is NULL gives none.
    ``keep_overlaps`` = the reference's show_nested_entities.
    """
    has_spans = "spans" in docs.columns
    cols = ["doc_id", "spans"] if has_spans else ["doc_id", "text"]
    src = docs.select(*[F.col(c).cast("string") if c == "doc_id" else F.col(c)
                        for c in cols])
    if num_partitions:
        src = salted_repartition(src, num_partitions)
    ann = src.mapInArrow(_annotate_batches(bc, has_spans, keep_overlaps),
                         schema=ANNOTATION_SCHEMA)
    if not keep_lineage_cols:
        ann = ann.drop("part_id", "batch_us")
    return ann


def project_output(ann: DataFrame, concepts: DataFrame,
                   type_names: Optional[DataFrame] = None,
                   meta: Optional[DataFrame] = None,
                   icd10: Optional[DataFrame] = None,
                   snomed: Optional[DataFrame] = None) -> DataFrame:
    """P5: the `_doc_to_out` projection (cat.py:1729-1795) — join the
    small per-CUI attribute tables broadcast-side (SURVEY §2.3 J4):
    pretty_name/type_ids/ontologies from concepts, human-readable type
    names from ``type_names(type_id, type_name)``, per-entity
    meta-annotations from ``meta(doc_id, start, cui, meta_name, value)``,
    and the addl_info code maps ``icd10``/``snomed`` as (cui, codes)
    tables (reference fills out_ent['icd10']/['snomed'] from
    addl_info['cui2icd10']/['cui2snomed'], cat.py:1771-1773; missing
    CUIs get an empty list, matching ``.get(cui, [])``).
    """
    attrs = concepts.select("cui", "preferred_name", "type_ids", "ontologies")
    out = (ann.join(F.broadcast(attrs), "cui", "left")
           .withColumnRenamed("preferred_name", "pretty_name"))
    for col_name, codes_df in (("icd10", icd10), ("snomed", snomed)):
        if codes_df is not None:
            c = codes_df.select(F.col("cui"),
                                F.col("codes").alias(col_name))
            out = (out.join(F.broadcast(c), "cui", "left")
                   .withColumn(col_name,
                               F.coalesce(F.col(col_name),
                                          F.array().cast("array<string>"))))
    if type_names is not None:
        # the type dictionary is tiny (addl_info['type_id2name']) — fold
        # it into a map literal so the lookup stays in codegen land
        pairs = type_names.collect()
        flat = []
        for r in pairs:
            flat += [F.lit(r["type_id"]), F.lit(r["type_name"])]
        tmap = F.create_map(*flat) if flat else F.create_map()
        out = out.withColumn(
            "types",
            F.transform("type_ids", lambda tid: F.coalesce(
                tmap.getItem(tid), tid)))
    if meta is not None:
        m = (meta.groupBy("doc_id", "start", "cui")
             .agg(F.map_from_entries(F.collect_list(
                 F.struct("meta_name", "value"))).alias("meta_anns")))
        out = out.join(m, ["doc_id", "start", "cui"], "left")
    return out


def lineage_metrics(ann_with_lineage: DataFrame) -> DataFrame:
    """Per-partition lineage rows (north_rule: resumable with
    per-partition lineage + metrics; reference analogue: the
    part_N.pickle manifest, cat.py:1403-1421)."""
    return (ann_with_lineage.groupBy("part_id")
            .agg(F.min("doc_id").alias("doc_id_min"),
                 F.max("doc_id").alias("doc_id_max"),
                 F.countDistinct("doc_id").alias("n_docs"),
                 F.count("*").alias("n_annotations"),
                 (F.sum("batch_us") / F.count("*")).alias("avg_row_cost_us")))

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
from typing import Callable, Dict, Optional, Tuple

from pyspark import TaskContext
from pyspark.accumulators import AccumulatorParam
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, DoubleType, IntegerType, LongType,
                               StringType, StructField, StructType)

from medcat_spark import worker
from medcat_spark.config import EngineConfig
from medcat_spark.core.annotate import annotate_document
from medcat_spark.core.docs import char_to_span, reconstruct_text, span_index
from medcat_spark.core.linker import ContextModel
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
])

# The lineage table's rows, one per partition that gave annotations
# (north_rule: resumable with per-partition lineage + metrics; reference
# analogue: the part_N.pickle manifest, cat.py:1403-1421).
LINEAGE_SCHEMA = StructType([
    StructField("part_id", IntegerType()),
    StructField("doc_id_min", StringType()),
    StructField("doc_id_max", StringType()),
    StructField("n_docs", LongType(), nullable=False),
    StructField("n_annotations", LongType(), nullable=False),
    StructField("avg_row_cost_us", DoubleType()),
])

# Executor-side lazy model cache: one deserialize per Python worker
# process per broadcast, regardless of how many tasks/batches it runs.
# This is the broadcast-lifecycle device the reference approximates with
# per-process model loads (cat.py:1508-1543).  It is keyed by the
# broadcast (its spill path), not by model content: the entry also holds
# the spell checker's token memo, and a new broadcast of the same model
# must start from a cold memo, as it does in every new job's workers.
_MODEL_CACHE: dict = {}


def _get_model(bc) -> Tuple[CdbModel, VocabModel, EngineConfig,
                             SpellChecker, ContextModel]:
    # the broadcast spill path is unique per broadcast id and stable on
    # the worker (id(bc) is NOT: CPython reuses ids across GC'd objects)
    key = getattr(bc, "_path", None) or id(bc)
    hit = _MODEL_CACHE.get(key)
    if hit is None:
        cdb, vocab, config = bc.value
        # the spell checker owns the token memo and the delete index, the
        # context model the CUI unit vectors; both fill lazily
        hit = (cdb, vocab, config, SpellChecker(cdb.vocab, config),
               ContextModel(cdb, vocab, config))
        _MODEL_CACHE.clear()   # one model resident at a time
        _MODEL_CACHE[key] = hit
    return hit


def model_hashes(cdb: CdbModel, config: EngineConfig) -> Dict[str, str]:
    """The snapshot stamps of a model: CDB and config content hashes."""
    return {"cdb-hash": cdb.content_hash(),
            "config-hash": config.content_hash()}


def broadcast_model(spark: SparkSession, cdb: CdbModel, vocab: VocabModel,
                    config: Optional[EngineConfig] = None):
    """Broadcast ``(cdb, vocab, config)``.  The handle carries
    ``model_hashes``, the hashes of the model as it was pickled, so a
    KG commit stamps its snapshots without unpickling the broadcast on
    the driver."""
    cfg = config or EngineConfig()
    bc = spark.sparkContext.broadcast((cdb, vocab, cfg))
    bc.model_hashes = model_hashes(cdb, cfg)
    return bc


class _LineageRows(AccumulatorParam):
    """Lineage rows keyed by ``part_id``.  Merging replaces: a task that
    runs again reports the same row under the same key, so each
    partition counts once however often it is computed."""

    def zero(self, value):
        return {}

    def addInPlace(self, rows, more):
        rows.update(more)
        return rows


def _annotate_batches(bc, has_spans: bool, keep_overlaps: bool = False,
                      lineage=None):
    """The annotate kernel (``worker.kernel``): texts arrive as one
    ``to_pylist`` per Arrow batch and annotation rows leave as one Arrow
    batch built from column lists — no pandas DataFrame assembly or
    row-at-a-time ``itertuples`` on either side of the boundary
    (measured ~2x per-task overhead of the kernel itself).  Given a
    ``_LineageRows`` accumulator ``lineage``, a partition that gave
    annotations adds its LINEAGE_SCHEMA row to it after its last batch:
    the min, max and count of its distinct doc_ids, its row count and
    its mean ``batch_us`` per row."""
    def body(batches):
        cdb, vocab, config, sc, cm = _get_model(bc)
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else -1
        ids, n_rows, cost_us = set(), 0, 0
        for rows in batches:
            t0 = time.monotonic_ns()
            out = {f.name: [] for f in ANNOTATION_SCHEMA.fields}
            for row in rows:
                if row["doc_id"] is None:
                    continue   # the NULL-text rule: no rows
                doc_id = str(row["doc_id"])
                if has_spans:
                    spans = row["spans"] or []
                    text = reconstruct_text(spans)
                    starts, ends, idxs = span_index(spans)
                else:
                    text = row["text"] or ""
                    starts = ends = idxs = None
                ents, _ = annotate_document(text, cdb, vocab, config, sc,
                                            keep_overlaps, cm)
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
            if lineage is not None:
                ids.update(out["doc_id"])
                n_rows += n
                cost_us += batch_us * n
            yield out
        if lineage is not None and n_rows:
            lineage.add({pid: {"part_id": pid, "doc_id_min": min(ids),
                               "doc_id_max": max(ids), "n_docs": len(ids),
                               "n_annotations": n_rows,
                               "avg_row_cost_us": cost_us / n_rows}})
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
             keep_overlaps: bool = False, lineage=None) -> DataFrame:
    """Annotate a documents DataFrame.

    Accepts either the interleaved input_hint shape
    ``(doc_id, spans array<struct<kind,text,media_ref,offset>>)`` or a
    flat ``(doc_id, text)`` table.  Returns ANNOTATION_SCHEMA rows; a
    row whose ``text`` or ``spans`` is NULL gives none.
    ``keep_overlaps`` = the reference's show_nested_entities.
    ``lineage``: a ``_LineageRows`` accumulator that gets each
    partition's lineage row (see ``annotate_with_lineage``).
    """
    has_spans = "spans" in docs.columns
    cols = ["doc_id", "spans"] if has_spans else ["doc_id", "text"]
    src = docs.select(*[F.col(c).cast("string") if c == "doc_id" else F.col(c)
                        for c in cols])
    if num_partitions:
        src = salted_repartition(src, num_partitions)
    return src.mapInArrow(
        _annotate_batches(bc, has_spans, keep_overlaps, lineage),
        schema=ANNOTATION_SCHEMA)


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


def annotate_with_lineage(docs: DataFrame, bc,
                          num_partitions: Optional[int] = None
                          ) -> Tuple[DataFrame, Callable[[], DataFrame]]:
    """``annotate`` whose kernel also gathers the per-partition lineage
    rows as it runs, so lineage costs no second pass over (or cache of)
    the annotations.  Returns the annotations and a function that gives
    the lineage rows (LINEAGE_SCHEMA) of what has been computed: call it
    after the action that runs the annotations."""
    spark = docs.sparkSession
    rows = spark.sparkContext.accumulator({}, _LineageRows())
    ann = annotate(docs, bc, num_partitions=num_partitions, lineage=rows)

    def lineage() -> DataFrame:
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema
        # from Arrow, not a row list: writing a frame made from a row
        # list starts Python workers to unpickle it (measured ~0.4 s
        # more per commit on a 4-core host)
        table = pa.Table.from_pylist(
            [rows.value[k] for k in sorted(rows.value)],
            schema=to_arrow_schema(LINEAGE_SCHEMA))
        return spark.createDataFrame(table).coalesce(1)
    return ann, lineage

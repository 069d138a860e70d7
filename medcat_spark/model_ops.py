"""Model-level DataFrame operators: most_similar top-k (O3), CDB subset
(O4), vocab build (A2), average-confidence update (A6), and the scalable
(approximate) distributed trainer (SURVEY §7 Stage 4b).

Reference cites: cdb.py:760-850 (most_similar), cdb.py:660-738
(filter_by_cui), utils/make_vocab.py:64-176 (vocab build),
cdb.py:145-148 (avg confidence), cdb.py:585-611 (import_training
count-weighted merge — the basis for the distributed combine).
"""

from __future__ import annotations

from typing import List, Optional

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, DoubleType, LongType, StringType,
                               StructField, StructType)

from medcat_spark import worker
from medcat_spark.config import EngineConfig
from medcat_spark.core.model import CdbModel, VocabModel, unitvec


def context_vectors_df(spark: SparkSession, cdb: CdbModel) -> DataFrame:
    rows = [(cui, ct, [float(x) for x in unitvec(v)],
             int(cdb.cui2count_train.get(cui, 0)),
             sorted(cdb.cui2type_ids.get(cui, {"unk"})))
            for cui in cdb.cui2context_vectors
            for ct, v in cdb.cui2context_vectors[cui].items()]
    return spark.createDataFrame(
        rows, "cui string, ctx_type string, unit_vec array<double>, "
              "cnt long, type_ids array<string>")


def most_similar(cv: DataFrame, cui: str, context_type: str,
                 type_id_filter: Optional[List[str]] = None,
                 min_cnt: int = 0, topn: int = 50) -> DataFrame:
    """O3: brute-force cosine of one CUI's unit vector against all
    trained CUI unit vectors of the same context type, filtered by
    type_id/min count, top-n (cdb.py:760-850).

    Pure DataFrame: broadcast the single query vector, dot product via
    zip_with/aggregate, TakeOrderedAndProject for the top-k.
    """
    base = cv.where((F.col("ctx_type") == context_type))
    q = base.where(F.col("cui") == cui).select(
        F.col("unit_vec").alias("qv"))
    dot = F.aggregate(F.zip_with(F.col("unit_vec"), F.col("qv"),
                                 lambda x, y: x * y),
                      F.lit(0.0), lambda a, x: a + x)
    out = (base.crossJoin(F.broadcast(q))
           .where(F.col("cnt") >= min_cnt))
    if type_id_filter:
        out = out.where(F.arrays_overlap(
            "type_ids", F.array(*[F.lit(t) for t in type_id_filter])))
    return (out.select("cui", F.round(dot, 9).alias("sim"), "cnt")
            .orderBy(F.desc("sim"), "cui").limit(topn))


def concept_similarity_edges(cv: DataFrame, context_type: str = "short",
                             k: int = 5, min_sim: float = 0.0,
                             min_cnt: int = 0,
                             probe_dims: int = 0) -> DataFrame:
    """KG edges (cui_a, 'similar_to', cui_b, sim): per-CUI top-k most
    similar trained concepts by context-vector cosine — the all-pairs
    generalization of O3 most_similar (cdb.py:760-850) that materializes
    the concept-similarity graph.

    ``probe_dims`` > 0 blocks the self-join on sign buckets of the unit
    vectors with 1-bit multi-probe (same device as
    functions/similarity.pairwise_cosine_lsh) so the pair count is
    bucket-local instead of |CUIs|²; 0 keeps the exact all-pairs join
    (fine for model-sized inputs, the CDB is never corpus-scale).
    Top-k per cui is one window; the dot product is a zip_with/aggregate
    (unit vectors ⇒ dot == cosine).
    """
    from pyspark.sql.window import Window

    base = (cv.where(F.col("ctx_type") == context_type)
            .where(F.col("cnt") >= min_cnt)
            .select("cui", F.col("unit_vec").cast("array<double>")
                    .alias("v")))
    if probe_dims > 0:
        bits = [F.when(F.element_at("v", d + 1) >= 0, F.lit("1"))
                .otherwise(F.lit("0")) for d in range(probe_dims)]
        canonical = F.concat(*bits)
        variants = [canonical]
        for i in range(probe_dims):
            flipped = bits[:i] + [
                F.when(bits[i] == "1", F.lit("0")).otherwise(F.lit("1"))
            ] + bits[i + 1:]
            variants.append(F.concat(*flipped))
        a = base.select(F.col("cui").alias("cui_a"), F.col("v").alias("va"),
                        F.explode(F.array_distinct(
                            F.array(*variants))).alias("bucket"))
        b = base.select(F.col("cui").alias("cui_b"), F.col("v").alias("vb"),
                        canonical.alias("bucket"))
        pairs = (a.join(b, "bucket")
                 .where(F.col("cui_a") != F.col("cui_b"))
                 .dropDuplicates(["cui_a", "cui_b"]))
    else:
        a = base.select(F.col("cui").alias("cui_a"), F.col("v").alias("va"))
        b = base.select(F.col("cui").alias("cui_b"), F.col("v").alias("vb"))
        pairs = a.join(b, F.col("cui_a") != F.col("cui_b"))
    dot = F.aggregate(F.zip_with("va", "vb", lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    scored = (pairs.select("cui_a", "cui_b",
                           F.round(dot, 9).alias("sim"))
              .where(F.col("sim") >= min_sim))
    w = Window.partitionBy("cui_a").orderBy(F.desc("sim"), F.col("cui_b"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select(F.col("cui_a").alias("subj"),
                    F.lit("similar_to").alias("pred"),
                    F.col("cui_b").alias("obj"), "sim", "rank"))


def subset_by_cui(tables: dict, cuis_to_keep: DataFrame) -> dict:
    """O4: 2-hop closure subset (cdb.py:660-738 filter_by_cui): keep
    names reachable from the kept CUIs, then all CUIs reachable from
    those names — two semi-joins."""
    names = tables["names"]
    kept_names = names.join(cuis_to_keep, "cui", "left_semi") \
                      .select("name").distinct()
    kept_pairs = names.join(kept_names, "name", "left_semi")
    kept_cuis = kept_pairs.select("cui").distinct()
    return {
        "names": kept_pairs,
        "concepts": tables["concepts"].join(kept_cuis, "cui", "left_semi"),
        "cui2names": tables["cui2names"].join(kept_cuis, "cui", "left_semi"),
        "snames": tables["cui2names"].join(kept_cuis, "cui", "left_semi")
                  .select(F.explode("snames").alias("sname")).distinct(),
        "token_counts": tables["token_counts"],
        "prepared": tables["prepared"],
    }


def build_vocab_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """A2 (counting half): corpus word counts (make_vocab.py:64-121).
    Word2Vec vectors can be attached via pyspark.ml.feature.Word2Vec on
    the same tokenized corpus when embeddings training is wanted."""
    return (docs.select(F.explode(F.split(F.lower(F.col(text_col)), " "))
                        .alias("word"))
            .groupBy("word").agg(F.count("*").alias("cnt")))


def build_vocab_word2vec(docs: DataFrame, dim: int = 100,
                         min_count: int = 5, window: int = 10,
                         text_col: str = "text", seed: int = 42) -> DataFrame:
    """A2 (embedding half): word vectors via pyspark.ml Word2Vec over the
    tokenized corpus (the reference trains gensim Word2Vec 300-d,
    window 10, min_count 10 — make_vocab.py:123-176).

    → (word, vec array<float>) joinable with build_vocab_counts to
    produce the vocab table the linker broadcasts.
    """
    from pyspark.ml.feature import Word2Vec
    from pyspark.ml.functions import vector_to_array
    toks = docs.select(F.split(F.lower(F.col(text_col)), " ").alias("tokens"))
    w2v = Word2Vec(vectorSize=dim, minCount=min_count, windowSize=window,
                   inputCol="tokens", outputCol="_v", seed=seed)
    model = w2v.fit(toks)
    vecs = model.getVectors()  # (word, vector)
    return vecs.select(
        "word", vector_to_array("vector", "float32").alias("vec"))


def avg_confidence_update(ann: DataFrame) -> DataFrame:
    """A6: per-CUI running-mean inputs (cdb.py:145-148) as a single agg;
    merge into the model with combine_avg_confidence()."""
    return (ann.where(F.col("context_similarity") >= 0)
            .groupBy("cui").agg(F.sum("context_similarity").alias("sim_sum"),
                                F.count("*").alias("n")))


def combine_avg_confidence(cdb: CdbModel, rows) -> None:
    for r in rows:
        cnt = cdb.cui2count_train.get(r["cui"], 0)
        avg = cdb.cui2average_confidence.get(r["cui"], 0.0)
        cdb.cui2average_confidence[r["cui"]] = \
            (avg * cnt + r["sim_sum"]) / (cnt + r["n"])


# ---------------------------------------------------------------------------
# Distributed (approximate) trainers — SURVEY §7 Stage 4b
# ---------------------------------------------------------------------------

_SUMS_SCHEMA = StructType([
    StructField("cui", StringType()),
    StructField("ctx_type", StringType()),
    StructField("vec_sum", ArrayType(DoubleType())),   # Σ(+pos) − Σ(neg)
    StructField("n", LongType()),                      # positive examples
    StructField("n_neg", LongType()),                  # negative examples
])


def _context_sums(bc, examples):
    """The one trainer kernel (``worker.kernel``): per Arrow batch, run
    ``examples(row, cm, sc)`` over every decoded row and emit the
    per-(cui, ctx_type) partial sums of the example context vectors —
    positives added, negatives subtracted, in the order the examples
    come (a CUI's positives, then its L8 negatives).  ``examples``
    yields ``(cui, {ctx_type: vec}, positive)``; the model, the
    ContextModel and the spell checker (which owns the token memo) come
    from the executor model cache shared with annotate."""
    def body(batches):
        from medcat_spark.pipeline import _get_model
        _, _, _, sc, cm = _get_model(bc)
        for rows in batches:
            acc: dict = {}
            for row in rows:
                for cui, vecs, positive in examples(row, cm, sc):
                    for ct, v in vecs.items():
                        a = acc.get((cui, ct))
                        if a is None:
                            a = acc[(cui, ct)] = [np.zeros_like(v), 0, 0]
                        a[0] += v if positive else -v
                        a[1 if positive else 2] += 1
            yield {
                "cui": [k[0] for k in acc],
                "ctx_type": [k[1] for k in acc],
                "vec_sum": [a[0].tolist() for a in acc.values()],
                "n": [a[1] for a in acc.values()],
                "n_neg": [a[2] for a in acc.values()],
            }
    return worker.kernel(_SUMS_SCHEMA, body)


def _span_vectors(row, cm, sc) -> dict:
    """Context vectors at a gold span: the tokens covering
    [start, end); none when the span covers no token."""
    from medcat_spark.core.annotate import preprocess
    from medcat_spark.core.ner import Entity
    if row["start"] is None or row["end"] is None:
        return {}
    toks = preprocess(row["text"] or "", cm.cdb, cm.config, sc)
    span = [t for t in toks
            if t.start >= row["start"] and t.end <= row["end"]]
    if not span:
        return {}
    ent = Entity(tok_start=span[0].i, tok_end=span[-1].i,
                 start=row["start"], end=row["end"], source_value="",
                 detected_name="", link_candidates=[], ent_id=0)
    return cm.get_context_vectors(ent, toks)


def _gold_examples(positive: bool):
    """A gold (or, negated, a deleted / false-positive) annotation trains
    its own CUI on the span's context."""
    def examples(row, cm, sc):
        vecs = _span_vectors(row, cm, sc)
        if vecs:
            yield row["cui"], vecs, positive
    return examples


def _devalue_examples(row, cm, sc):
    """devalue_others (reference cat.py:790-800): every OTHER CUI sharing
    the gold name's dictionary entry receives the example's context
    vector as a NEGATIVE."""
    from medcat_spark.core.model import prepare_name
    others: set = set()
    for n in prepare_name(row["value"] or "", cm.config):
        others.update(cm.cdb.name2cuis.get(n, []))
    others.discard(row["cui"])
    vecs = _span_vectors(row, cm, sc) if others else {}
    if vecs:
        for other in sorted(others):
            yield other, vecs, False


def _unsupervised_examples(negative_sampling: bool):
    """Unsupervised training examples of one doc: every entity's
    L6-eligible CUIs (core.annotate.train_cuis) are positive examples.

    L8 negative sampling (context_based_linker.py:39-54): after each
    positive example, with negative_probability a sampled context
    (core.annotate.negative_vectors) is a negative example — the L7
    sign rule (cdb.py:406-471: negative updates subtract the example)
    expressed in the count-weighted-mean combine.  The RNG is seeded
    per doc_id, so the draw stream is deterministic and independent of
    partitioning."""
    def examples(row, cm, sc):
        import hashlib
        import random

        from medcat_spark.core.annotate import (negative_vectors,
                                                preprocess, train_cuis)
        from medcat_spark.core.ner import detect_entities
        cdb, vocab, config = cm.cdb, cm.vocab, cm.config
        text = (row["text"] or "")[:config.max_document_length]
        rng = random.Random(int.from_bytes(hashlib.sha256(
            ("neg:%s" % row["doc_id"]).encode()).digest()[:8], "big")) \
            if negative_sampling and vocab.word2vec else None
        toks = preprocess(text, cdb, config, sc)
        for ent in detect_entities(toks, text, cdb, config):
            cuis = train_cuis(ent, cdb, config)
            vecs = cm.get_context_vectors(ent, toks) if cuis else {}
            for cui in cuis:
                yield cui, vecs, True
                if rng is not None and \
                        config.negative_probability >= rng.random():
                    yield cui, negative_vectors(vocab, config, rng), False
    return examples


def _mean_vectors(sums: DataFrame) -> DataFrame:
    """Combine partial sums into per-(cui, ctx_type) means: explode to
    (cui, ctx_type, dim) cells so the elementwise sum is a plain shuffle
    agg (map-side combinable), then reassemble the mean vector in dim
    order.  Negatives enter with the L7 sign rule: the mean is
    (Σ positives − Σ negatives) / (n + n_neg); ``n`` counts positives
    only (it feeds count_train, which the reference increments only on
    positives)."""
    cells = sums.select("cui", "ctx_type", "n", "n_neg",
                        F.posexplode("vec_sum").alias("pos", "val"))
    per_dim = (cells.groupBy("cui", "ctx_type", "pos")
               .agg(F.sum("val").alias("s"), F.sum("n").alias("n_tot"),
                    F.sum("n_neg").alias("n_neg_tot")))
    return (per_dim.groupBy("cui", "ctx_type")
            .agg(F.collect_list(F.struct("pos", "s")).alias("cells"),
                 F.first("n_tot").alias("n"),
                 F.first("n_neg_tot").alias("n_neg"))
            .select("cui", "ctx_type",
                    F.transform(F.array_sort("cells"),
                                lambda e: e["s"]
                                / (F.col("n") + F.col("n_neg")))
                    .alias("mean_vec"), "n"))


def add_gold_concepts(cdb, mct: DataFrame,
                      config: Optional[EngineConfig] = None,
                      name_status: str = "A") -> int:
    """The name-addition half of the reference's add_and_train_concept
    (cat.py:730-785, called per gold annotation in train_supervised_raw):
    every non-killed, non-deleted (cui, value) pair is added to the CDB
    (prepare_name + add_concept, default status 'A') so the dictionary
    learns the annotators' surface forms — the reference adds names for
    every positive ann regardless of `validated` (that flag gates stats,
    not training).  The distinct pair set is annotation-vocabulary-sized
    (thousands), so collecting it to the driver-side model is the
    production shape — the model itself is a broadcast object."""
    from medcat_spark.core.model import prepare_name

    cfg = config or EngineConfig()
    pairs = (mct.where(~F.col("killed") & ~F.col("deleted"))
             .select("cui", "value").distinct()
             .orderBy("cui", "value").collect())
    added = 0
    for r in pairs:
        names = prepare_name(r["value"] or "", cfg)
        if not names:
            continue
        new = [n for n in names if r["cui"] not in
               cdb.name2cuis2status.get(n, {})]
        if new:
            cdb.add_concept(r["cui"], names, set(), name_status, set(), "")
            added += 1
    return added


def train_supervised_spark(spark: SparkSession, gold: DataFrame,
                           docs: DataFrame, bc,
                           config: Optional[EngineConfig] = None,
                           devalue_others: bool = False,
                           train_from_fp: bool = False,
                           negative_gold: Optional[DataFrame] = None
                           ) -> DataFrame:
    """Distributed supervised training: gold (doc_id, start, end, cui
    [, value]) × docs (doc_id, text) → per-(cui, ctx_type)
    context-vector MEANS.

    DOCUMENTED DIVERGENCE (SURVEY §7 Stage 4): the reference trainer is
    strictly sequential (lr anneals over the running count, cdb.py:441);
    this job computes the count-weighted mean of all example contexts in
    one pass — the same combine the reference itself uses when merging
    models (import_training averaging, cdb.py:585-611).  Exact-parity
    sequential training for small corpora lives in
    core.annotate.train_unsupervised.

    ``devalue_others`` (reference cat.py:790-800): other CUIs sharing a
    gold name receive that example's context NEGATIVELY (requires a
    ``value`` column on ``gold``); negatives enter the mean with the L7
    sign rule, exactly like the unsupervised trainer's L8 samples.

    ``train_from_fp`` (reference cat.py:1061-1070 + data_utils.py:
    958-969 get_false_positives): annotate the docs with the current
    model and negative-train every predicted (doc_id, start, cui) not in
    the gold set.  Divergence note: the reference collects FPs from the
    full candidate set (doc._.ents); this uses the final linked
    annotations, the candidates that actually survive linking.

    ``negative_gold``: annotations to train negatively — the reference
    passes deleted (rejected) annotations with negative=True
    (cat.py:1052-1059).
    """
    cols = ["doc_id", "text", F.col("start").cast("int").alias("start"),
            F.col("end").cast("int").alias("end"), "cui"]
    ex = gold.join(docs, "doc_id").select(
        *cols, *([F.col("value")] if devalue_others else []))

    def sums_of(rows: DataFrame, examples) -> DataFrame:
        return rows.mapInArrow(_context_sums(bc, examples),
                               schema=_SUMS_SCHEMA)

    def negated(anns: DataFrame) -> DataFrame:
        return sums_of(anns.join(docs, "doc_id").select(*cols),
                       _gold_examples(positive=False))

    sums = sums_of(ex, _gold_examples(positive=True))
    if negative_gold is not None:
        sums = sums.unionByName(negated(negative_gold))
    if train_from_fp:
        from medcat_spark.pipeline import annotate
        pred = annotate(docs, bc).select("doc_id", "start", "end", "cui")
        fps = pred.join(gold.select("doc_id", "start", "cui"),
                        ["doc_id", "start", "cui"], "left_anti")
        sums = sums.unionByName(negated(fps))
    if devalue_others:
        sums = sums.unionByName(sums_of(ex, _devalue_examples))
    return _mean_vectors(sums)


def train_unsupervised_spark(spark: SparkSession, docs: DataFrame, bc,
                             config: Optional[EngineConfig] = None,
                             negative_sampling: bool = True) -> DataFrame:
    """Distributed unsupervised training (cat.py:620-674 analogue) with
    the same count-weighted mean combine as train_supervised_spark —
    documented divergence from the reference's sequential lr anneal
    (see that function's docstring).  Negative sampling (L8) is wired
    in: the mean is over positive examples MINUS sampled negatives
    (sign rule of cdb.py:406-471), divided by the total example count;
    the returned ``n`` counts positives only (it feeds count_train,
    which the reference increments only on positives)."""
    return _mean_vectors(docs.select("doc_id", "text").mapInArrow(
        _context_sums(bc, _unsupervised_examples(negative_sampling)),
        schema=_SUMS_SCHEMA))


def _replace_table(df: DataFrame, dst: str) -> None:
    """Write ``df`` as the parquet table ``dst``: into a sibling tmp
    dir first, then swapped in by rename (the source of ``df`` may be
    ``dst`` itself)."""
    import os
    import shutil
    tmp = os.path.join(os.path.dirname(dst), "_tmp_" + os.path.basename(dst))
    df.write.mode("overwrite").parquet(tmp)
    if os.path.isdir(dst):
        shutil.rmtree(dst)
    elif os.path.exists(dst):
        os.remove(dst)
    os.rename(tmp, dst)


def _vectors_stamp(spark: SparkSession, pack: str) -> str:
    """Distributed, order-independent content stamp over a pack's
    context vectors: the sum of per-row xxhash64 (a commutative
    combine; the exact driver-side content_hash would require
    collecting the vectors)."""
    import os
    row_hash = F.xxhash64("cui", "ctx_type",
                          F.concat_ws(",", F.transform(
                              "vec", lambda x: F.format_number(x, 12))))
    return str(spark.read.parquet(os.path.join(pack,
                                               "context_vectors.parquet"))
               .agg(F.sum(row_hash.cast("decimal(38,0)"))).first()[0])


def save_trained_pack(spark: SparkSession, path: str, cdb: CdbModel,
                      vocab: VocabModel, trained: DataFrame,
                      config: Optional[EngineConfig] = None) -> dict:
    """Distributed pack write for training: the per-(cui, ctx_type) mean
    vectors from train_supervised_spark / train_unsupervised_spark are
    written to the pack's ``context_vectors.parquet`` BY SPARK — no
    driver collect of vectors (at UMLS scale that's 4M CUIs × 4 ctx ×
    300-d ≈ tens of GB; the reference loads it all in RAM, we don't
    have to).  Static CDB tables (names/snames/concepts/...) are small
    per-row and written driver-side as usual.

    Semantics match apply_training (import_training-style,
    reference cdb.py:585-611): trained vectors OVERWRITE existing ones
    per (cui, context_type) — a CUI trained for only a subset of ctx
    types keeps its untouched types' vectors, exactly like the
    reference's per-context_type loop; count_train += max over ctx
    types of the example count.
    """
    import json
    import os

    from medcat_spark.sources.model_pack import save_model_pack

    cfg = config or EngineConfig()
    manifest = save_model_pack(path, cdb, vocab, cfg)

    t = trained.select("cui", "ctx_type",
                       F.col("mean_vec").cast("array<double>").alias("vec"),
                       "n").cache()

    # merge vectors: trained (cui, ctx_type) cells overwrite, everything
    # else — including other ctx types of a trained CUI — carried over
    cv_path = os.path.join(path, "context_vectors.parquet")
    existing = spark.read.parquet(cv_path)
    _replace_table(existing.join(t.select("cui", "ctx_type").distinct(),
                                 ["cui", "ctx_type"], "left_anti")
                   .unionByName(t.select("cui", "ctx_type", "vec")), cv_path)

    # count_train delta into concepts.parquet (per-cui table join)
    deltas = t.groupBy("cui").agg(F.max("n").alias("add_n"))
    con_path = os.path.join(path, "concepts.parquet")
    concepts = spark.read.parquet(con_path)
    _replace_table(concepts.join(F.broadcast(deltas), "cui", "left")
                   .withColumn("count_train",
                               F.col("count_train")
                               + F.coalesce(F.col("add_n"), F.lit(0)))
                   .drop("add_n"), con_path)

    manifest["context_vectors_stamp"] = _vectors_stamp(spark, path)
    manifest["trained_cuis"] = int(t.select("cui").distinct().count())
    t.unpersist()

    with open(os.path.join(path, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1)
    return manifest


def apply_training(cdb: CdbModel, rows) -> None:
    """Merge trained means into the model (import_training-style,
    reference cdb.py:585-611: overwrite vectors per (cui, context_type)
    keeping untouched types, add counts)."""
    by_cui: dict = {}
    for r in rows:
        by_cui.setdefault(r["cui"], {})[r["ctx_type"]] = (
            np.asarray(r["mean_vec"], dtype=np.float64), int(r["n"]))
    for cui, cts in by_cui.items():
        cur = dict(cdb.cui2context_vectors.get(cui, {}))
        cur.update({ct: v for ct, (v, _n) in cts.items()})
        cdb.cui2context_vectors[cui] = cur
        cdb.cui2count_train[cui] = cdb.cui2count_train.get(cui, 0) + \
            max(n for _v, n in cts.values())


def merge_packs(spark: SparkSession, path1: str, path2: str, out: str,
                overwrite_training: int = 0,
                full_build: bool = False) -> dict:
    """Distributed model-pack merge — the reference's ``merge_cdb``
    (utils/cdb_utils.py:10-140) re-expressed as DataFrame joins over the
    pack tables, so two UMLS-scale packs merge without either fitting in
    driver RAM.  Pack-1 is prioritised exactly like ``cdb1`` there:

      * names: union; a (name, cui) in both keeps pack-1's status row
        (the reference copies cdb1 wholesale and ``add_concept`` only
        appends); candidate order = pack-1 rows first, then pack-2's new
        rows in their own order.
      * concepts: per-cui full outer join — name/sname/type-id sets
        union, preferred name / group coalesce to pack-1,
        ontologies+description merge only under ``full_build``.
      * count_train: sum, unless ``overwrite_training`` pins pack 1 (=1)
        or pack 2 (=2) for CUIs that pack carries.
      * context vectors: CUIs present in BOTH packs' vector tables get
        the count-weighted average over the UNION of ctx types (missing
        type -> zero vector), the reference's exact rule; one-sided CUIs
        pass through unweighted; ``overwrite_training`` short-circuits
        to that pack's vectors.
      * token_counts / vocab words: summed on overlap (reference vocab
        loop), pack-2 value under ``overwrite_training == 2``.
      * config.json comes from pack 1 (``deepcopy(cdb1.config)``).

    The manifest records a distributed content stamp (order-independent
    xxhash sum) instead of the driver-side ``cdb_hash`` — computing the
    reference hash would mean collecting every vector to the driver.
    """
    import json
    import os
    import shutil

    os.makedirs(out, exist_ok=True)
    rd = lambda p, name: spark.read.parquet(os.path.join(p, name))
    empty_s = F.array().cast("array<string>")

    def write(df: DataFrame, name: str) -> None:
        _replace_table(df, os.path.join(out, name))

    # --- names ------------------------------------------------------
    n1 = rd(path1, "names.parquet")
    n2 = rd(path2, "names.parquet")
    max1 = n1.agg(F.coalesce(F.max("cand_order"), F.lit(-1))).first()[0]
    n2_new = (n2.join(n1.select("name", "cui"), ["name", "cui"], "left_anti")
              .withColumn("cand_order", F.col("cand_order") + max1 + 1))
    write(n1.unionByName(n2_new), "names.parquet")

    # --- snames -----------------------------------------------------
    write(rd(path1, "snames.parquet")
          .unionByName(rd(path2, "snames.parquet")).distinct(),
          "snames.parquet")

    # --- concepts ---------------------------------------------------
    c1 = rd(path1, "concepts.parquet").alias("c1")
    c2 = rd(path2, "concepts.parquet").alias("c2")
    j = c1.join(c2, F.col("c1.cui") == F.col("c2.cui"), "full_outer")
    in1 = F.col("c1.cui").isNotNull()
    in2 = F.col("c2.cui").isNotNull()
    ct1 = F.coalesce(F.col("c1.count_train"), F.lit(0))
    ct2 = F.coalesce(F.col("c2.count_train"), F.lit(0))
    if overwrite_training == 1:
        count_train = F.when(in1, ct1).otherwise(ct2)
    elif overwrite_training == 2:
        count_train = F.when(in2, ct2).otherwise(ct1)
    else:
        count_train = ct1 + ct2

    def union_arr(col: str):
        return F.array_sort(F.array_distinct(F.concat(
            F.coalesce(F.col(f"c1.{col}"), empty_s),
            F.coalesce(F.col(f"c2.{col}"), empty_s))))

    ontologies = (union_arr("ontologies") if full_build
                  else F.coalesce(F.col("c1.ontologies"), empty_s))
    description = (F.coalesce(F.nullif(F.col("c1.description"), F.lit("")),
                              F.col("c2.description"))
                   if full_build else F.col("c1.description"))
    concepts = j.select(
        F.coalesce(F.col("c1.cui"), F.col("c2.cui")).alias("cui"),
        F.coalesce(F.col("c1.preferred_name"),
                   F.col("c2.preferred_name")).alias("preferred_name"),
        union_arr("type_ids").alias("type_ids"),
        union_arr("names").alias("names"),
        union_arr("snames").alias("snames"),
        count_train.alias("count_train"),
        F.coalesce(F.col("c1.average_confidence"),
                   F.col("c2.average_confidence"), F.lit(0.0))
        .alias("average_confidence"),
        ontologies.alias("ontologies"),
        description.alias("description"),
        F.coalesce(F.col("c1.group"), F.col("c2.group")).alias("group"))
    write(concepts, "concepts.parquet")

    # --- context vectors -------------------------------------------
    v1 = rd(path1, "context_vectors.parquet")
    v2 = rd(path2, "context_vectors.parquet")
    if overwrite_training == 1:
        shared_src = v1
    elif overwrite_training == 2:
        shared_src = v2
    else:
        shared_src = None
    cuis1 = v1.select("cui").distinct()
    cuis2 = v2.select("cui").distinct()
    shared = cuis1.join(cuis2, "cui")
    only1 = v1.join(shared, "cui", "left_anti")
    only2 = v2.join(shared, "cui", "left_anti")
    if shared_src is not None:
        both = shared_src.join(shared, "cui")
    else:
        counts = concepts.select("cui", "count_train")
        a = v1.select("cui", "ctx_type", F.col("vec").alias("vec1")) \
            .join(shared, "cui")
        b = v2.select("cui", "ctx_type", F.col("vec").alias("vec2")) \
            .join(shared, "cui")
        m = a.join(b, ["cui", "ctx_type"], "full_outer")
        pc1 = rd(path1, "concepts.parquet") \
            .select("cui", F.col("count_train").alias("ct1"))
        pc2 = rd(path2, "concepts.parquet") \
            .select("cui", F.col("count_train").alias("ct2"))
        norm = F.greatest(F.col("count_train"), F.lit(1)).cast("double")
        w1 = F.coalesce(F.col("ct1"), F.lit(0)) / norm
        w2 = F.coalesce(F.col("ct2"), F.lit(0)) / norm
        zeros_like = lambda c, o: F.coalesce(
            F.col(c), F.transform(F.col(o), lambda x: F.lit(0.0)))
        both = (m.join(pc1, "cui", "left").join(pc2, "cui", "left")
                .join(counts, "cui")
                .select("cui", "ctx_type", F.zip_with(
                    zeros_like("vec1", "vec2"), zeros_like("vec2", "vec1"),
                    lambda x, y: w1 * x + w2 * y).alias("vec")))
    write(only1.unionByName(only2).unionByName(
        both.select("cui", "ctx_type", "vec")), "context_vectors.parquet")

    # --- token counts (cdb.vocab) ----------------------------------
    t1 = rd(path1, "token_counts.parquet")
    t2 = rd(path2, "token_counts.parquet")
    if overwrite_training == 1:
        tokens = t1
    else:
        tj = (t1.select("token", F.col("cnt").alias("cnt1"))
              .join(t2.select("token", F.col("cnt").alias("cnt2")),
                    "token", "full_outer"))
        if overwrite_training == 2:
            cnt = F.coalesce(F.col("cnt2"), F.col("cnt1"))
        else:
            cnt = (F.coalesce(F.col("cnt1"), F.lit(0))
                   + F.coalesce(F.col("cnt2"), F.lit(0)))
        tokens = tj.select("token", cnt.alias("cnt"))
    write(tokens, "token_counts.parquet")

    # --- word vocab (pack bundle; not part of reference merge_cdb —
    # pack-1 rows win, pack-2 contributes new words only) ------------
    wv1 = rd(path1, "vocab.parquet")
    wv2 = rd(path2, "vocab.parquet")
    write(wv1.unionByName(wv2.join(wv1.select("word"), "word", "left_anti")),
          "vocab.parquet")

    # --- config + manifest -----------------------------------------
    shutil.copyfile(os.path.join(path1, "config.json"),
                    os.path.join(out, "config.json"))
    with open(os.path.join(path1, "manifest.json")) as f:
        manifest = json.load(f)
    stamp = _vectors_stamp(spark, out)
    manifest.update({
        "merged_from": [path1, path2],
        "overwrite_training": overwrite_training,
        "full_build": full_build,
        "context_vectors_stamp": stamp,
        "cdb_hash": "merged:" + stamp})
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1)
    return manifest


def _pca_partials(vecs: DataFrame) -> DataFrame:
    """(n, sum_x, X^T X) of each Arrow batch of non-NULL ``vec`` rows."""
    def body(batches):
        for rows in batches:
            X = np.stack([r["vec"] for r in rows])
            yield {"n": [len(X)],
                   "sum_x": [X.sum(axis=0).tolist()],
                   "xtx": [(X.T @ X).ravel().tolist()]}

    schema = "n long, sum_x array<double>, xtx array<double>"
    return (vecs.where(F.col("vec").isNotNull()).select("vec")
            .mapInArrow(worker.kernel(schema, body), schema=schema))


def _pca_matrix_distributed(vecs: DataFrame, target_size: int) -> np.ndarray:
    """PCA transformation matrix (target_size, D) from a DataFrame of
    ``vec: array<double>`` rows — reference calc_matrix
    (utils/vocab_utils.py:12-41) with the covariance computed in ONE
    distributed pass: each Arrow batch emits its partial (n, sum_x,
    X^T X); the driver combines the tiny (D, D) partials and runs eigh.
    Nothing corpus-sized ever reaches the driver."""
    rows = _pca_partials(vecs).collect()
    n = sum(r["n"] for r in rows)
    sum_x = np.sum([r["sum_x"] for r in rows], axis=0)
    d = sum_x.shape[0]
    xtx = np.sum([r["xtx"] for r in rows], axis=0).reshape(d, d)
    mean = sum_x / n
    # np.cov ddof=1 on centered data: (X^T X - n mu mu^T) / (n - 1)
    cov = (xtx - n * np.outer(mean, mean)) / max(n - 1, 1)
    eigenvalues, eigenvectors = np.linalg.eigh(cov)
    order = np.argsort(eigenvalues)[::-1]
    return eigenvectors[:, order][:, :target_size].T


def _project_vectors(col_df: DataFrame, vec_col: str, bc) -> DataFrame:
    """``col_df`` with every non-NULL ``vec_col`` vector multiplied by
    the broadcast (k, D) matrix ``bc`` and rounded through float32 (the
    reference convert_vec cast); every other column passes through."""
    schema = col_df.schema

    def body(batches):
        M = bc.value
        for rows in batches:
            live = [r for r in rows if r[vec_col] is not None]
            if live:
                P = np.stack([r[vec_col] for r in live]) @ M.T
                for r, p in zip(live, P.astype(np.float32).tolist()):
                    r[vec_col] = p
            yield {f: [r[f] for r in rows] for f in schema.names}

    return col_df.mapInArrow(worker.kernel(schema, body), schema=schema)


def convert_vocab_vector_size(spark: SparkSession, pack_path: str,
                              out_path: str, vec_size: int) -> dict:
    """Reference convert_vocab_vector_size (utils/vocab_utils.py:93-126)
    over a pack: PCA-shrink every vocab word vector AND every CDB
    context vector to ``vec_size`` dims, writing a new pack.  The
    transformation matrix comes from the distributed one-pass covariance
    above; the projections run as a broadcast matmul inside Arrow
    batches (reference convert_vec float32 cast preserved — values are
    float32-exact inside the float64 pack schema)."""
    import json
    import os
    import shutil

    os.makedirs(out_path, exist_ok=True)
    vocab = spark.read.parquet(os.path.join(pack_path, "vocab.parquet"))
    matrix = _pca_matrix_distributed(vocab, vec_size)
    bc = spark.sparkContext.broadcast(matrix)

    _replace_table(_project_vectors(vocab, "vec", bc),
                   os.path.join(out_path, "vocab.parquet"))
    cv = spark.read.parquet(os.path.join(pack_path,
                                         "context_vectors.parquet"))
    _replace_table(_project_vectors(cv, "vec", bc),
                   os.path.join(out_path, "context_vectors.parquet"))
    for name in ("names.parquet", "snames.parquet", "concepts.parquet",
                 "token_counts.parquet"):
        src = os.path.join(pack_path, name)
        dst = os.path.join(out_path, name)
        if os.path.isdir(src):
            if os.path.isdir(dst):
                shutil.rmtree(dst)
            shutil.copytree(src, dst)
        else:
            shutil.copyfile(src, dst)
    shutil.copyfile(os.path.join(pack_path, "config.json"),
                    os.path.join(out_path, "config.json"))
    with open(os.path.join(pack_path, "manifest.json")) as f:
        manifest = json.load(f)
    # re-stamp: the projected vectors are new content
    manifest.update({"vec_size": vec_size,
                     "converted_from": pack_path,
                     "context_vectors_stamp": _vectors_stamp(spark,
                                                             out_path)})
    with open(os.path.join(out_path, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1)
    return manifest

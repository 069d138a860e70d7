"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship KG query (full annotation pipeline →
co-occurrence triples) on sf0.001; ``queries``/``oracle_sql`` expose each
implemented operator from SURVEY.md §2 plus the training-data-pipeline
extras, with DuckDB-runnable ANSI-SQL oracles wherever the operator is
SQL-expressible (non-SQL-expressible ops — context-vector disambiguation
— are rows-only by design, see SURVEY §2.4/§2.5).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from medcat_spark import demo
from medcat_spark.cdb_build import build_cdb_tables
from medcat_spark.config import EngineConfig
from medcat_spark.functions import dedup as ddp
from medcat_spark.functions import similarity as simf
from medcat_spark.functions import text as txt
from medcat_spark.functions.graph import (bfs_distances, concept_degree,
                                          knn_graph, label_propagation,
                                          link_prediction, pagerank,
                                          triangle_counts, triple_belief,
                                          two_hop_neighbors)
from medcat_spark.functions.media import media_features
from medcat_spark.stats import per_cui_stats
from medcat_spark.triples import cooccurrence_triples, mention_triples

SF0001 = "/root/testdata/sf0.001"

# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: annotate sf0.001 docs with the combined demo CDB through
    the full pipeline and emit entity co-occurrence triples."""
    ann = demo.flagship_annotations(spark, SF0001, num_partitions=8)
    return cooccurrence_triples(ann)


# ---------------------------------------------------------------------------
# query helpers
# ---------------------------------------------------------------------------

_TOKS_CTE = """
toks AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                string_split(text, ' ') AS arr FROM documents),
tok AS (SELECT doc_id, unnest(arr) AS tok,
               generate_subscripts(arr, 1) AS pos FROM toks),
tokn AS (SELECT doc_id, tok, pos,
                lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
         FROM tok)
"""

_UNI_DICT_SQL = ("(VALUES ('spark','D001'),('merge','D002'),('window','D003'),"
                 "('vector','D004'),('stream','D005'),('filter','D006'))"
                 " AS d(name, cui)")
_BI_DICT_SQL = ("(VALUES ('hash','join','D101'),('merge','join','D102'),"
                "('sort','join','D103'),('table','scan','D104'))"
                " AS d(w1, w2, cui)")


# inline RF2/RRF fixture rows for the ontology-preprocessor queries
# (shape per reference preprocess_snomed.py / preprocess_umls.py)
SNOMED_FIXTURE = {
    "concepts": [("100001", "1"), ("100002", "1"), ("100003", "0")],
    "descriptions": [
        ("100001", "1", "900000000000003001", "Heart attack (disorder)"),
        ("100001", "1", "900000000000013009", "Myocardial infarction"),
        ("100001", "0", "900000000000013009", "Old inactive name"),
        ("100002", "1", "900000000000003001", "Renal failure (disorder)"),
        ("100002", "1", "900000000000013009", "Kidney failure"),
        ("100003", "1", "900000000000003001", "Gone (disorder)"),
    ],
}
# (referencedComponentId, mapTarget, mapPriority, mapGroup, active) —
# RF2 ExtendedMap refset shape (preprocess_snomed.py _map_snomed2refset)
ICD10_REFSET_FIXTURE = [
    ("D001", "I21.9", "1", "1", "1"),
    ("D001", "I25.2", "2", "1", "1"),   # higher priority listed first
    ("D002", "J10", "1", "1", "1"),
    ("D003", "X99", "1", "1", "0"),     # inactive -> excluded
    ("D004", "", "1", "1", "1"),        # empty target -> excluded
]

# two-level ISA fixture over the unigram dict CUIs (shared by the
# kg_hierarchy_rollup query and its oracle)
_ISA = [("D001", "P1"), ("D002", "P1"), ("D003", "P2"),
        ("D004", "P2"), ("D005", "P3"), ("D006", "P3"),
        ("P1", "ROOT"), ("P2", "ROOT"), ("P3", "ROOT")]

UMLS_FIXTURE = {
    "mrconso": [
        ("C0001", "ENG", "Y", "A1", "SNOMEDCT_US", "Heart attack"),
        ("C0001", "ENG", "N", "A2", "SNOMEDCT_US", "Myocardial infarction"),
        ("C0001", "SPA", "Y", "A3", "SNOMEDCT_US", "Infarto"),
        ("C0002", "ENG", "Y", "A4", "MSH", "Renal failure"),
    ],
    "mrsty": [("C0001", "T047"), ("C0002", "T047")],
}


def _ivf_fixed_centroids():
    """Deterministic data-independent IVF coarse centroids for the
    driver query (the sample-trained quantizer path is pytest-covered;
    the oracle needs SF-independent constants)."""
    import numpy as np

    from medcat_spark.fixtures import det_vec
    return np.round(np.stack([det_vec(f"ivf-centroid-{i}", 64)
                              for i in range(8)]), 6)


def _pq_fixed_codebooks():
    """Deterministic data-independent PQ codebooks (m=4 subspaces ×
    k=8 entries × 16 dims) for the driver query — the sample-trained
    path (train_pq_codebooks) is pytest-covered; the oracle needs
    SF-independent literals."""
    import numpy as np

    from medcat_spark.fixtures import det_vec
    return np.round(np.stack([
        np.stack([det_vec(f"pq-{s}-{j}", 16) for j in range(8)])
        for s in range(4)]), 6)


def _uni_ann(spark, sf_dir):
    return demo.ner_annotations(spark, sf_dir, demo.UNIGRAM_ROWS)


def _bi_ann(spark, sf_dir):
    return demo.ner_annotations(spark, sf_dir, demo.BIGRAM_ROWS)


def _flag_ann(spark, sf_dir):
    return demo.flagship_annotations(spark, sf_dir)


def _mentions_agg(ann):
    return (ann.groupBy("doc_id", "cui")
            .agg(F.count("*").alias("n_mentions")))


# demo CDB-build input rows exercising order-dependent status semantics
CDB_DEMO_ROWS = [
    (0, "X1", "spark|fast spark", "", "P", "T1", ""),
    (1, "X2", "merge", "", "A", "T1", ""),
    (2, "X3", "merge", "", "P", "T1", ""),
    (3, "X4", "sort join|merge", "", "N", "T2", ""),
    (4, "X2", "merge", "", "P", "T1", ""),   # P overwrites X2's earlier A
    (5, "X2", "merge", "", "N", "T1", ""),   # N does NOT overwrite P
    (6, "X1", "big spark|spark", "", "A", "T1", ""),
]

_CDB_DEMO_SQL_ROWS = ",".join(
    f"({r[0]},'{r[1]}','{r[2]}','{r[4]}')" for r in CDB_DEMO_ROWS)

_CDB_PREP_CTE = f"""
raw AS (SELECT * FROM (VALUES {_CDB_DEMO_SQL_ROWS})
        AS t(row_id, cui, name, status)),
nm AS (SELECT row_id, cui, status,
              replace(trim(unnest(string_split(name, '|'))), ' ', '~') AS name
       FROM raw)
"""


def _cdb_demo_tables(spark):
    df = spark.createDataFrame(
        CDB_DEMO_ROWS,
        "row_id long, cui string, name string, ontologies string, "
        "name_status string, type_ids string, description string")
    return build_cdb_tables(df, EngineConfig())


def _interleaved_docs(spark, sf_dir):
    """Wrap the flat documents table into the interleaved input_hint
    shape with one synthetic media span per doc."""
    docs = demo.load_docs(spark, sf_dir)
    return docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.array(
            F.struct(F.lit("text").alias("kind"), F.col("text").alias("text"),
                     F.lit(None).cast("string").alias("media_ref"),
                     F.lit(0).alias("offset")),
            F.struct(F.lit("image").alias("kind"),
                     F.lit(None).cast("string").alias("text"),
                     F.concat(F.lit("img://"), F.col("doc_id").cast("string"))
                     .alias("media_ref"),
                     (F.length("text") + 1).alias("offset")),
        ).alias("spans"))


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable] = {}

    # --- NER / KG pipeline (SURVEY §2.4, §2.5 L5-direct, §2.6 O1, §2.7 A3)
    q["ner_unigram_mentions"] = lambda s, d: _mentions_agg(_uni_ann(s, d))

    def _interleaved_ner(s, d):
        """Full pipeline over the interleaved input_hint shape (text
        span + media span): reconstruction + char→span coordinate
        mapping, oracle-checked against plain-text token matching."""
        from medcat_spark.core.model import VocabModel
        from medcat_spark.pipeline import annotate, broadcast_model
        bc = broadcast_model(s, demo.demo_cdb(demo.UNIGRAM_ROWS),
                             VocabModel(), EngineConfig())
        ann = annotate(_interleaved_docs(s, d), bc)
        return (ann.groupBy("doc_id", "cui", "span_idx")
                .agg(F.count("*").alias("n_mentions")))
    q["ner_interleaved_mentions"] = _interleaved_ner
    q["ner_bigram_mentions"] = lambda s, d: _mentions_agg(_bi_ann(s, d))
    q["ner_flagship_mentions"] = lambda s, d: _mentions_agg(_flag_ann(s, d))
    q["ner_offsets"] = lambda s, d: _bi_ann(s, d).select(
        "doc_id", "start", "end", "cui", "source_value")

    def _nested(s, d):
        """show_nested_entities: all linked candidates incl. overlaps
        (no O1) — with the combined dict, 'merge' and 'merge join' both
        appear."""
        from medcat_spark.core.model import VocabModel
        from medcat_spark.pipeline import annotate, broadcast_model
        bc = broadcast_model(s, demo.flagship_cdb(), VocabModel(),
                             EngineConfig())
        ann = annotate(demo.load_docs(s, d), bc, keep_overlaps=True)
        return _mentions_agg(ann)
    q["ner_nested_candidates"] = _nested
    q["kg_mention_triples"] = lambda s, d: mention_triples(
        _flag_ann(s, d), distinct=True).drop("doc_id")
    q["kg_cooccurrence"] = lambda s, d: cooccurrence_triples(_uni_ann(s, d))
    q["ner_disambiguation"] = lambda s, d: (
        demo.disamb_annotations(s, d)
        .select("doc_id", "start", "cui",
                F.round("context_similarity", 6).alias("sim")))

    # --- CDB build (SURVEY §2.7 A1, §2.6 O6)
    q["cdb_names"] = lambda s, d: _cdb_demo_tables(s)["names"] \
        .select("name", "cui", "status")
    q["cdb_snames"] = lambda s, d: _cdb_demo_tables(s)["snames"]

    # --- reference-format model-pack import (S4 adoption path): the demo
    #     CDB is written in MedCAT's own pack layout (JSON-split maps +
    #     pickled cdb.dat/vocab.dat + config.json, zipped), loaded back by
    #     sources/reference_pack.py WITHOUT medcat/dill, and its name
    #     table must equal the natively-built CDB's (same oracle as
    #     cdb_names)
    def _pack_import(s, d):
        import tempfile
        from medcat_spark.fixtures import (build_fixture_cdb,
                                           build_fixture_vocab)
        from medcat_spark.sources.reference_pack import (
            load_reference_pack, write_reference_layout_pack)
        cdb = build_fixture_cdb(rows=[r[1:] for r in CDB_DEMO_ROWS])
        zpath = write_reference_layout_pack(
            tempfile.mkdtemp(prefix="refpack_q_") + "/pack",
            cdb, build_fixture_vocab(), EngineConfig(), as_zip=True)
        cdb2, _vocab, _cfg, _comps = load_reference_pack(zpath)
        rows = [(n, c, st) for n in sorted(cdb2.name2cuis2status)
                for c, st in sorted(cdb2.name2cuis2status[n].items())]
        return s.createDataFrame(rows, "name string, cui string, status string")
    q["pack_import_names"] = _pack_import

    # --- patient concept streams (reference datasets/
    #     patient_concept_stream.py:81-96): annotations + patient/time
    #     metadata -> per-patient time-ordered concept stream with age
    #     markers injected on increase.  Patient/ts/age derive
    #     deterministically from doc_id so the oracle recomputes them.
    def _pt_stream(s, d):
        from medcat_spark.functions.timeline import (patient_concept_streams,
                                                     patient_stream_tokens)
        ann = _uni_ann(s, d)
        num = F.col("doc_id").cast("long")
        meta = (demo.load_docs(s, d).select(
            F.col("doc_id").cast("string").alias("doc_id"),
            F.concat(F.lit("P"), (num % 40).cast("string"))
            .alias("patient_id"),
            (num % 1000).cast("int").alias("ts"),
            (F.lit(30) + F.floor((num % 1000) / F.lit(365)).cast("int"))
            .alias("age")))
        st = patient_concept_streams(ann, meta)
        return (patient_stream_tokens(st)
                .select("patient_id",
                        F.array_join("stream_tokens", " ").alias("stream"),
                        F.size("stream_tokens").alias("n_tokens")))
    q["patient_concept_stream"] = _pt_stream
    q["cdb_token_counts"] = lambda s, d: _cdb_demo_tables(s)["token_counts"]

    def _subset(s, d):
        from medcat_spark.model_ops import subset_by_cui
        keep = s.createDataFrame([("X2",)], "cui string")
        sub = subset_by_cui(_cdb_demo_tables(s), keep)
        return sub["names"].select("name", "cui", "status")
    q["cdb_subset_2hop"] = _subset

    def _most_similar(s, d):
        """O3 top-k over trained context vectors (rows-only: the
        deterministic vectors come from the fixture generator, not from
        SQL-reachable tables)."""
        from medcat_spark.model_ops import context_vectors_df, most_similar
        cdb = demo.disamb_cdb()
        cv = context_vectors_df(s, cdb)
        return most_similar(cv, "W001", "short", topn=5) \
            .select("cui", F.round("sim", 6).alias("sim"), "cnt")
    q["model_most_similar"] = _most_similar

    # --- metrics joins (SURVEY §2.3 J5, §2.7 A4)
    def _pr(s, d):
        # pred feeds both sides of the gold×pred eval joins — checkpoint
        # so the annotate stage runs once, not per branch
        pred = (_uni_ann(s, d).select("doc_id", "start", "cui")
                .localCheckpoint(eager=False))
        gold = pred.where((F.col("doc_id").cast("long") % 2 == 0)
                          & (F.col("cui") != "D001"))
        st = per_cui_stats(pred, gold)
        return st.select("cui", "tp", "fp", "fn",
                         F.round("precision", 6).alias("precision"),
                         F.round("recall", 6).alias("recall"),
                         F.round("f1", 6).alias("f1"))
    q["pr_stats_per_cui"] = _pr

    # --- double-annotation consolidation (reference
    #     consolidate_double_annotations, utils/data_utils.py:413-501):
    #     two synthetic annotator projects derived deterministically
    #     from the documents table, consolidated to the agreed+one-sided
    #     gold rows (require_double_inner=False branch)
    def _consolidate(s, d):
        from medcat_spark.sources.mct_export import consolidate_annotations
        docs = demo.load_docs(s, d).select(
            F.col("doc_id").cast("long").alias("did"))
        sa = F.pmod("did", F.lit(40)).cast("int")
        ann_a = docs.select(
            F.lit("P1").alias("project_id"), F.lit("dbl").alias("project_name"),
            F.col("did").cast("string").alias("doc_id"),
            sa.alias("start"), (sa + 5).alias("end"),
            F.concat(F.lit("C"), F.pmod("did", F.lit(7))).alias("cui"),
            (F.pmod("did", F.lit(11)) != 0).alias("validated"),
            F.lit(False).alias("killed"), F.lit(False).alias("deleted"))
        # annotator 2: cui shifted when did%3=0 (disagreement)
        ann_b = docs.select(
            F.lit("P2").alias("project_id"), F.lit("dbl").alias("project_name"),
            F.col("did").cast("string").alias("doc_id"),
            sa.alias("start"), (sa + 5).alias("end"),
            F.concat(F.lit("C"), F.when(F.pmod("did", F.lit(3)) == 0,
                                        F.pmod(F.col("did") + 1, F.lit(7)))
                     .otherwise(F.pmod("did", F.lit(7)))).alias("cui"),
            F.lit(True).alias("validated"),
            F.lit(False).alias("killed"), F.lit(False).alias("deleted"))
        # one-sided span B: annotator depends on did%5
        span_b = (sa + 10).alias("start")
        one_a = docs.where(F.pmod("did", F.lit(5)) != 0).select(
            F.lit("P1").alias("project_id"), F.lit("dbl").alias("project_name"),
            F.col("did").cast("string").alias("doc_id"),
            span_b, (sa + 15).alias("end"),
            F.lit("CB").alias("cui"), F.lit(True).alias("validated"),
            F.lit(False).alias("killed"), F.lit(False).alias("deleted"))
        one_b = docs.where(F.pmod("did", F.lit(5)) == 0).select(
            F.lit("P2").alias("project_id"), F.lit("dbl").alias("project_name"),
            F.col("did").cast("string").alias("doc_id"),
            span_b, (sa + 15).alias("end"),
            F.lit("CB").alias("cui"), F.lit(True).alias("validated"),
            F.lit(False).alias("killed"), F.lit(False).alias("deleted"))
        mct = ann_a.unionByName(ann_b).unionByName(one_a).unionByName(one_b)
        return (consolidate_annotations(mct, require_double_inner=False)
                .select("project_id", "doc_id", "start", "end", "cui"))
    q["mct_consolidation"] = _consolidate

    # --- stratified train/test split (reference make_mc_train_test,
    #     utils/data_utils.py:817-955): deterministic greedy via window
    #     cumsums over md5(doc_id) order; annotations synthesized from
    #     the documents table (2 per doc, skewed cui distribution)
    def _mc_split(s, d):
        from medcat_spark.stats import mc_train_test_split
        docs = demo.load_docs(s, d).select(
            F.col("doc_id").cast("long").alias("did"))
        ann = (docs.select(
            F.col("did").cast("string").alias("doc_id"),
            F.concat(F.lit("C"), F.pmod("did", F.lit(13))).alias("cui"))
            .unionByName(docs.select(
                F.col("did").cast("string").alias("doc_id"),
                F.concat(F.lit("K"), F.pmod("did", F.lit(5))).alias("cui"))))
        return mc_train_test_split(ann, test_size=0.2, min_test_count=10,
                                   max_test_fraction=0.3)
    q["mc_train_test_split"] = _mc_split

    # --- regex-rule DeID + model-pred merge (reference
    #     utils/ner/deid.py match_rules/merge_preds): literal rule
    #     'the' over documents, synthesized model spans, model wins on
    #     overlap
    def _deid_rules(s, d):
        from medcat_spark.functions.deid import match_rules, merge_rule_preds
        docs = demo.load_docs(s, d)
        did = F.col("doc_id").cast("long")
        model = docs.select(
            F.col("doc_id").cast("string").alias("doc_id"),
            F.pmod(did, F.lit(40)).cast("int").alias("start"),
            (F.pmod(did, F.lit(40)) + 5).cast("int").alias("end"),
            F.lit("CM").alias("cui"))
        rules = match_rules(docs, [("the", "CRULE")]) \
            .select("doc_id", "start", "end", "cui")
        return merge_rule_preds(model, rules, accept_preds=True)
    q["deid_rule_merge"] = _deid_rules

    # --- incremental dedup: docs with did%10==0 are the NEW batch, the
    #     rest the historical corpus (index + clusters built from it);
    #     new docs adopt the min matching cluster or found their own
    def _dedup_assign(s, d):
        from medcat_spark.functions.dedup import (assign_to_clusters,
                                                  dedup_clusters,
                                                  lsh_bucket_index)
        docs = demo.load_docs(s, d).select(
            F.col("doc_id").cast("string").alias("doc_id"), "text")
        is_new = F.pmod(F.col("doc_id").cast("long"), F.lit(10)) == 0
        corpus = docs.where(~is_new)
        new = docs.where(is_new)
        clusters = dedup_clusters(corpus, min_jaccard=0.2)
        index = lsh_bucket_index(corpus)
        return assign_to_clusters(new, index, clusters, corpus,
                                  min_jaccard=0.2)
    q["dedup_incremental_assign"] = _dedup_assign

    # --- relation stand-in: co-mention within a 3-token window (J1 as a
    #     pure-DataFrame broadcast join over exploded tokens)
    def _rel(s, d):
        t = txt.tokens(demo.load_docs(s, d).withColumn(
            "doc_id", F.col("doc_id").cast("string")))
        dict_df = s.createDataFrame(
            [(n, c) for n, c in demo.UNIGRAM_NAMES.items()], "tok string, cui string")
        m = t.join(F.broadcast(dict_df), "tok")
        a, b = m.alias("a"), m.alias("b")
        return (a.join(b, "doc_id")
                .where((F.col("a.pos") < F.col("b.pos"))
                       & (F.col("b.pos") - F.col("a.pos") <= 3))
                .groupBy(F.concat(F.lit("cui:"), F.col("a.cui")).alias("subj"),
                         F.lit("near").alias("pred"),
                         F.concat(F.lit("cui:"), F.col("b.cui")).alias("obj"))
                .agg(F.count("*").alias("n_pairs")))
    q["kg_rel_near"] = _rel

    # --- dedup family
    q["dedup_exact_groups"] = lambda s, d: ddp.exact_dup_groups(
        demo.load_docs(s, d).withColumn("doc_id", F.col("doc_id").cast("string")))
    q["dedup_minhash_sig"] = lambda s, d: ddp.minhash_signatures(
        demo.load_docs(s, d)).withColumn("doc_id", F.col("doc_id").cast("long"))
    q["dedup_lsh_pairs"] = lambda s, d: ddp.lsh_candidate_pairs(
        demo.load_docs(s, d))
    q["dedup_jaccard_pairs"] = lambda s, d: ddp.ngram_jaccard_pairs(
        demo.load_docs(s, d), min_jaccard=0.2)
    q["dedup_simhash"] = lambda s, d: ddp.simhash32(demo.load_docs(s, d))
    # pairs -> clusters -> keeper: the full fuzzy-dedup decision.
    q["dedup_components"] = lambda s, d: ddp.dedup_clusters(
        demo.load_docs(s, d), min_jaccard=0.2)

    # --- text analysis
    q["text_quality"] = lambda s, d: txt.text_quality(demo.load_docs(s, d))
    q["token_count"] = lambda s, d: txt.token_count(demo.load_docs(s, d))
    q["lang_id"] = lambda s, d: txt.lang_id(demo.load_docs(s, d))
    q["doc_fingerprint"] = lambda s, d: txt.fingerprint(demo.load_docs(s, d))

    def _gopher(s, d):
        """Gopher repetition/quality gates (Rae et al. 2021 §A1.1) over
        the documents table.  The corpus has no newlines and no natural
        repetition, so the query deterministically (a) appends every
        5th doc's own first 15 tokens (exercising the dup-ngram path)
        and (b) re-chunks text into 10-token lines (exercising the
        line-family metrics); the oracle mirrors both transforms."""
        from medcat_spark.functions.gopher import gopher_gate
        docs = demo.load_docs(s, d).select("doc_id", "text")
        arr0 = F.split(F.col("text"), " ")
        rep = F.array_join(F.slice(arr0, 1, 15), " ")
        docs = docs.select(
            "doc_id",
            F.when(F.col("doc_id") % 5 == 0,
                   F.concat(F.col("text"), F.lit(" "), rep))
            .otherwise(F.col("text")).alias("text"))
        arr = F.split(F.col("text"), " ")
        nchunk = F.ceil(F.size(arr) / F.lit(10.0)).cast("int")
        text2 = F.array_join(
            F.transform(F.sequence(F.lit(0), nchunk - 1),
                        lambda c: F.array_join(
                            F.slice(arr, c * 10 + 1, 10), " ")),
            "\n")
        out = gopher_gate(docs.select("doc_id", text2.alias("text")),
                          min_words=20)
        return out.withColumn("gopher_pass",
                              F.col("gopher_pass").cast("int"))
    q["text_gopher_quality"] = _gopher

    # DSIR data selection (Xie et al. 2023): score every doc by the
    # hashed-ngram log importance ratio toward a deterministic target
    # sample (doc_id % 17 == 0)
    def _dsir(s, d):
        from medcat_spark.functions.selection import dsir_scores
        docs = demo.load_docs(s, d).select("doc_id", "text")
        return dsir_scores(docs, docs.where(F.col("doc_id") % 17 == 0))
    q["dsir_scores"] = _dsir

    # CCNet-style LM perplexity filter (stupid-backoff bigram LM,
    # Brants et al. 2007): train on the corpus itself, score every doc,
    # gate at a fixed avg-logprob threshold
    def _lm(s, d):
        from medcat_spark.functions.lm import lm_gate
        docs = demo.load_docs(s, d).select("doc_id", "text")
        return lm_gate(docs, threshold=-6.0)
    q["lm_perplexity_filter"] = _lm

    # GPT-3/Llama-2-style benchmark decontamination: the "benchmark"
    # is a deterministic sample (doc_id % 31 == 0, first 25 tokens)
    def _decontam(s, d):
        from medcat_spark.functions.lm import decontaminate
        docs = demo.load_docs(s, d).select("doc_id", "text")
        bench = docs.where(F.col("doc_id") % 31 == 0).select(
            "doc_id",
            F.array_join(F.slice(F.split(F.col("text"), " "), 1, 25), " ")
            .alias("text"))
        return decontaminate(docs, bench, n=8)
    q["decontaminate_benchmark"] = _decontam

    # GPT-style concat-and-chunk sequence packing (ctx_len=256 token
    # chunks over the doc_id-ordered corpus; two-pass prefix sum)
    def _pack(s, d):
        from medcat_spark.functions.lm import pack_sequences
        docs = demo.load_docs(s, d).select("doc_id", "text")
        return pack_sequences(docs, ctx_len=256, bucket_width=64)
    q["pack_sequences"] = _pack

    # Temperature-scaled domain mixing (Arivazhagan et al. 2019 /
    # mT5 sampling rule) with a deterministic per-row hash gate
    def _mix(s, d):
        from medcat_spark.functions.selection import temperature_mix
        docs = demo.load_docs(s, d).select("doc_id", "source")
        return temperature_mix(docs, alpha=0.5, target_frac=0.5)
    q["temperature_mix"] = _mix

    # C4 line/page cleaning rules (Raffel et al. 2020 §2.2).  The
    # corpus has no newlines/punctuation, so the query deterministically
    # re-chunks into 10-token lines and stamps punctuation / javascript
    # / lorem-ipsum / braces by doc_id+line arithmetic (oracle mirrors).
    def _c4(s, d):
        from medcat_spark.functions.text import c4_clean
        docs = demo.load_docs(s, d).select("doc_id", "text")
        arr = F.split(F.col("text"), " ")
        nchunk = F.ceil(F.size(arr) / F.lit(10.0)).cast("int")
        lines = F.transform(
            F.sequence(F.lit(0), nchunk - 1),
            lambda c: F.array_join(F.slice(arr, c * 10 + 1, 10), " "))
        lines2 = F.transform(
            lines,
            lambda l, i: F.when(i % 5 == 4,
                                F.concat(l, F.lit(" about javascript.")))
            .when(i % 3 < 2, F.concat(l, F.lit(".")))
            .otherwise(l))
        base = F.array_join(lines2, "\n")
        text3 = (F.when(F.col("doc_id") % 13 == 0,
                        F.concat(base,
                                 F.lit("\nlorem ipsum dolor sit amet.")))
                 .when(F.col("doc_id") % 17 == 0,
                       F.concat(base, F.lit("\nsee {config} above.")))
                 .otherwise(base))
        return c4_clean(docs.select("doc_id", text3.alias("text")))
    q["c4_clean"] = _c4

    # Cross-doc paragraph dedup (Lee et al. 2022 ExactSubstr at
    # paragraph granularity): every doc_id % 7 == 0 doc gets one shared
    # paragraph appended — only the first occurrence survives.
    def _paradedup(s, d):
        from medcat_spark.functions.dedup import paragraph_dedup
        docs = demo.load_docs(s, d).select("doc_id", "text")
        arr = F.split(F.col("text"), " ")
        nchunk = F.ceil(F.size(arr) / F.lit(10.0)).cast("int")
        base = F.array_join(
            F.transform(F.sequence(F.lit(0), nchunk - 1),
                        lambda c: F.array_join(
                            F.slice(arr, c * 10 + 1, 10), " ")),
            "\n")
        shared = "the shared canonical paragraph appears in many documents"
        text3 = F.when(F.col("doc_id") % 7 == 0,
                       F.concat(base, F.lit("\n" + shared))).otherwise(base)
        return paragraph_dedup(docs.select("doc_id", text3.alias("text")))
    q["paragraph_dedup"] = _paradedup

    # Corpus-trained byte-level BPE (Sennrich et al. 2016): JVM word
    # counting -> driver merge learning -> Arrow-batched encode.  BPE
    # is not SQL-expressible, so the oracle is an independently
    # recomputed golden (pure-re pretok + naive lowest-rank-pair
    # encode) dispatched on the documents fingerprint —
    # functions/bpe_oracle.py has the derivation.
    def _bpe_counts(s, d):
        from medcat_spark.functions.bpe_oracle import DOC_MOD, VOCAB_SIZE
        from medcat_spark.functions.bpe_train import (
            bpe_token_counts, train_bbpe_distributed)
        docs = demo.load_docs(s, d).select("doc_id", "text")
        tok = train_bbpe_distributed(docs, vocab_size=VOCAB_SIZE)
        return bpe_token_counts(
            docs.where(F.col("doc_id") % DOC_MOD == 0), tok)
    q["bpe_token_count"] = _bpe_counts

    # GPT-3-style classifier-based quality filtering (Brown et al.
    # 2020 appx A): logistic regression over hashed n-gram counts,
    # positives = the deterministic seed sample (doc_id % 17 == 0),
    # 3 full-batch GD iterations from w0=0 — the training loop is
    # replayed iteration-by-iteration in the SQL oracle.
    def _clf(s, d):
        from medcat_spark.functions.selection import (
            quality_classifier_scores)
        docs = demo.load_docs(s, d).select("doc_id", "text")
        return quality_classifier_scores(
            docs, docs.where(F.col("doc_id") % 17 == 0), n_buckets=256)
    q["quality_classifier"] = _clf

    # --- similarity search over embeddings
    def _topk(s, d):
        emb = demo.load_embeddings(s, d)
        qv = emb.where(F.col("vec_id") == 0).first()["embedding"]
        return simf.cosine_topk(emb, qv, k=20)
    q["ann_cosine_topk"] = _topk

    def _topk_lsh(s, d):
        emb = demo.load_embeddings(s, d)
        qv = emb.where(F.col("vec_id") == 0).first()["embedding"]
        return simf.cosine_topk_lsh(emb, qv, k=20, probe_dims=4)
    q["ann_lsh_topk"] = _topk_lsh

    def _topk_multiprobe(s, d):
        emb = demo.load_embeddings(s, d)
        qv = emb.where(F.col("vec_id") == 0).first()["embedding"]
        return simf.cosine_topk_lsh(emb, qv, k=20, probe_dims=4, n_flips=1)
    q["ann_lsh_multiprobe"] = _topk_multiprobe

    def _topk_ivf(s, d):
        emb = demo.load_embeddings(s, d)
        qv = emb.where(F.col("vec_id") == 0).first()["embedding"]
        return simf.cosine_topk_ivf(emb, qv, k=20, n_probe=2,
                                    centroids=_ivf_fixed_centroids())
    q["ann_ivf_topk"] = _topk_ivf

    # --- IVF over the materialized (write-time cluster-partitioned)
    #     layout: the probe is a partition-pruned scan, not a full-table
    #     ivf_assign recompute — same results as ann_ivf_topk
    def _topk_ivf_pruned(s, d):
        import tempfile
        emb = demo.load_embeddings(s, d)
        qv = emb.where(F.col("vec_id") == 0).first()["embedding"]
        cen = _ivf_fixed_centroids()
        path = tempfile.mkdtemp(prefix="ivf_idx_") + "/emb"
        simf.write_ivf_partitioned(emb, cen, path)
        return simf.cosine_topk_ivf_pruned(s, path, qv, cen, k=20, n_probe=2)
    q["ann_ivf_pruned"] = _topk_ivf_pruned

    # product quantization (Jégou et al. 2011): ADC top-k over m=4
    # sub-codes — the memory path where the scan reads 4 small ints per
    # row instead of 64 floats; oracle recomputes encode + LUT in SQL
    def _topk_pq(s, d):
        emb = demo.load_embeddings(s, d)
        qv = emb.where(F.col("vec_id") == 0).first()["embedding"]
        return simf.pq_topk(emb, qv, _pq_fixed_codebooks(), k=20)
    q["ann_pq_topk"] = _topk_pq

    # IVF-PQ (the FAISS composition): coarse-prune to 2 probed
    # clusters, ADC-score only the survivors
    def _topk_ivfpq(s, d):
        emb = demo.load_embeddings(s, d)
        qv = emb.where(F.col("vec_id") == 0).first()["embedding"]
        return simf.pq_topk_ivf(emb, qv, _ivf_fixed_centroids(),
                                _pq_fixed_codebooks(), k=20, n_probe=2)
    q["ann_ivfpq_topk"] = _topk_ivfpq

    # SemDeDup (Abbas et al. 2023): k-means clusters (the fixed IVF
    # quantizer so the oracle sees literal centroids) -> intra-cluster
    # cosine pairs -> duplicate components -> keep the member FURTHEST
    # from its centroid.  eps tuned so real multi-member components form
    # on the synthetic embeddings (max intra-cluster sim ~0.5).
    q["dedup_semantic"] = lambda s, d: simf.semantic_dedup(
        demo.load_embeddings(s, d).select("vec_id", "embedding"),
        centroids=_ivf_fixed_centroids(), eps=0.45)

    q["emb_near_dup"] = lambda s, d: simf.pairwise_cosine_within(
        demo.load_embeddings(s, d), "label", min_sim=0.8)

    # scale path: near-dup pairs routed through sign-bucket LSH with
    # 1-bit multi-probe instead of the per-group cross-product
    q["emb_near_dup_lsh"] = lambda s, d: simf.pairwise_cosine_lsh(
        demo.load_embeddings(s, d), probe_dims=4, n_flips=1, min_sim=0.8)

    # --- multimodal plumbing
    q["media_features"] = lambda s, d: media_features(_interleaved_docs(s, d))

    def _media_resized(s, d):
        from medcat_spark.functions.media import media_resize
        return media_resize(media_features(_interleaved_docs(s, d)))
    q["media_resized"] = _media_resized

    def _media_frames(s, d):
        from medcat_spark.functions.media import frame_sample
        return frame_sample(_interleaved_docs(s, d))
    q["media_frames"] = _media_frames

    # REAL pixel decode (stdlib-zlib PNG codec, media.py): synthesize a
    # deterministic gradient PNG per doc (row filter = doc_id % 5 so all
    # five PNG filters are reconstructed), decode it back in a second
    # mapInArrow stage over the binary column, emit per-image stats the
    # oracle re-derives arithmetically.
    def _media_pixels(s, d):
        from medcat_spark.functions.media import (media_pixel_stats,
                                                  synth_png_column)
        docs = demo.load_docs(s, d).select("doc_id")
        return media_pixel_stats(synth_png_column(docs))
    q["media_pixel_stats"] = _media_pixels

    # REAL audio decode (stdlib-struct RIFF/WAVE PCM16 codec): per doc a
    # deterministic integer signal encoded to real WAV bytes, decoded
    # back in a second mapInArrow stage; RMS + zero-crossings re-derived
    # arithmetically by the oracle.
    def _media_audio(s, d):
        from medcat_spark.functions.media import (media_audio_stats,
                                                  synth_wav_column)
        docs = demo.load_docs(s, d).select("doc_id")
        return media_audio_stats(synth_wav_column(docs))
    q["media_audio_stats"] = _media_audio

    # REAL baseline-JPEG decode (pure numpy: Huffman + zigzag + dequant
    # + IDCT): fixtures are built at the quantized-coefficient level, so
    # the oracle replays the sparse IDCT analytically with COS() — an
    # independent recompute of the whole chain.  FLOOR(x+128.5) descale
    # keeps both engines' rounding identical; fixture_boundary_distance
    # certifies every pixel sits ≥1e-4 from a FLOOR boundary.
    def _media_jpeg(s, d):
        from medcat_spark.functions.jpeg import (media_jpeg_stats,
                                                 synth_jpeg_column)
        docs = demo.load_docs(s, d).select("doc_id")
        return media_jpeg_stats(synth_jpeg_column(docs))
    q["media_jpeg_stats"] = _media_jpeg

    # REAL compressed-audio decode (IMA ADPCM, format 0x11): the
    # 4-bit predictive recurrence is pure integer math, so the oracle
    # replays it as a RECURSIVE CTE over the fixture's arithmetic
    # nibble stream while the engine decodes the real WAV blocks —
    # exact integer stats, no float rounding contract at all
    def _media_adpcm(s, d):
        from medcat_spark.functions.media import (media_adpcm_stats,
                                                  synth_adpcm_column)
        docs = demo.load_docs(s, d).select("doc_id")
        return media_adpcm_stats(synth_adpcm_column(docs))
    q["media_adpcm_stats"] = _media_adpcm

    # REAL video-frame decode (pure-Python GIF LZW): animated-GIF
    # fixtures decoded frame-by-frame; timeline + per-frame mean pixel
    # re-derived arithmetically by the oracle.
    def _media_gif(s, d):
        from medcat_spark.functions.media import (media_gif_frames,
                                                  synth_gif_column)
        docs = demo.load_docs(s, d).select("doc_id")
        return media_gif_frames(synth_gif_column(docs))
    q["media_gif_frames"] = _media_gif

    # --- meta-annotation (MetaCAT analogue, SURVEY §2.11): negation over
    #     a 5-token window left of each unigram mention
    def _meta(s, d):
        from medcat_spark.functions.meta import meta_annotations
        docs = demo.load_docs(s, d).withColumn(
            "doc_id", F.col("doc_id").cast("string"))
        ann = _uni_ann(s, d)
        return meta_annotations(ann, docs, cues=["slow", "small"],
                                window_left=5)
    q["meta_negation"] = _meta

    # --- MetaCAT analogue with a TRAINED (fixture-trained, deterministic)
    #     linear token-window classifier run via the scorer's mapInArrow
    #     with the broadcast model (reference meta_cat.py:447-517,636-651
    #     window semantics; torch stack stood in by the numpy linear head —
    #     see medcat_spark/functions/meta_model.py)
    def _meta_model(s, d):
        from medcat_spark.functions.meta_model import (
            meta_annotations_model, negation_fixture_model)
        model = negation_fixture_model()
        bc = s.sparkContext.broadcast(model)
        docs = demo.load_docs(s, d).withColumn(
            "doc_id", F.col("doc_id").cast("string"))
        # unigram + bigram entities: multi-token windows take their right
        # edge from the LAST entity token (meta_cat.py prepare_document)
        ann = _uni_ann(s, d).unionByName(_bi_ann(s, d))
        return meta_annotations_model(ann, docs, bc)
    q["meta_negation_model"] = _meta_model

    # --- NONLINEAR (1-hidden-layer MLP) meta classifier: same Spark
    #     plumbing, real weight tensors + padded batch forward — the
    #     torch-readiness proof (trained on a cue-XOR task a linear head
    #     cannot fit; oracle runs the MLP forward in SQL)
    def _meta_mlp(s, d):
        from medcat_spark.functions.meta_model import (
            meta_annotations_mlp, negation_mlp_fixture_model)
        bc = s.sparkContext.broadcast(negation_mlp_fixture_model())
        docs = demo.load_docs(s, d).withColumn(
            "doc_id", F.col("doc_id").cast("string"))
        ann = _uni_ann(s, d).unionByName(_bi_ann(s, d))
        return meta_annotations_mlp(ann, docs, bc)
    q["meta_negation_mlp"] = _meta_mlp

    # --- REAL LSTM head from a torch-format checkpoint: the fixture
    #     state dict is written in the torch zip layout, read back by the
    #     pure-numpy torch_pickle reader, and scored with a faithful
    #     numpy LSTM (torch gate order, packed-sequence masking, center
    #     max-pool — reference meta_cat/models.py:11-84).  The oracle
    #     unrolls the recurrence into SQL.
    def _meta_lstm(s, d):
        from medcat_spark.functions.lstm_meta import (lstm_fixture_model,
                                                      meta_annotations_lstm)
        bc = s.sparkContext.broadcast(lstm_fixture_model())
        docs = demo.load_docs(s, d).withColumn(
            "doc_id", F.col("doc_id").cast("string"))
        ann = _uni_ann(s, d).unionByName(_bi_ann(s, d))
        return meta_annotations_lstm(ann, docs, bc)
    q["meta_lstm_torch"] = _meta_lstm

    # --- REAL BERT relation extraction (reference rel_cat
    #     BertModel_RelationExtraction, models.py:84-223): HF-layout
    #     checkpoint through the numpy torch reader, marked sequences
    #     [s1]ent1[e1]..[s2]ent2[e2] via BBPE, multi-head attention
    #     forward, annotation-tag max-pool head.  Oracle: independent
    #     golden recompute (DuckDB mention SQL + per-head brute-force
    #     forward) emitted as fingerprint-dispatched VALUES literals —
    #     see medcat_spark/functions/rel_bert_oracle.py.
    def _kg_rel_bert(s, d):
        from medcat_spark.functions.bert_np import (
            relcat_bert_fixture_model, relations_bert)
        bc = s.sparkContext.broadcast(relcat_bert_fixture_model())
        docs = demo.load_docs(s, d).withColumn(
            "doc_id", F.col("doc_id").cast("string"))
        rel = relations_bert(_uni_ann(s, d), docs, bc)
        return (rel.groupBy("relation")
                .agg(F.count(F.lit(1)).alias("n_pairs"),
                     F.round(F.avg("confidence"), 4).alias("avg_conf")))
    q["kg_relations_bert"] = _kg_rel_bert

    # --- RelCAT analogue: trained entity-pair relation classifier →
    #     (subj, pred, obj) relation triples (reference rel_cat.py:551-613;
    #     dict shape rel_cat.py:596-609)
    def _kg_relations(s, d):
        from medcat_spark.functions.rel_model import (relation_fixture_model,
                                                      relations_model)
        model = relation_fixture_model()
        bc = s.sparkContext.broadcast(model)
        docs = demo.load_docs(s, d).withColumn(
            "doc_id", F.col("doc_id").cast("string"))
        rels = relations_model(_uni_ann(s, d), docs, bc)
        return (rels.groupBy(
            F.concat(F.lit("cui:"), F.col("ent1_cui")).alias("subj"),
            F.col("relation").alias("pred"),
            F.concat(F.lit("cui:"), F.col("ent2_cui")).alias("obj"))
            .agg(F.count("*").alias("n_pairs")))
    q["kg_relations"] = _kg_relations

    # --- ontology preprocessors (reference preprocess_snomed.py:316-394,
    #     preprocess_umls.py:83-121) over inline RF2/RRF fixture rows
    def _snomed(s, d):
        from medcat_spark.sources.ontologies import snomed_concept_df
        con = s.createDataFrame(SNOMED_FIXTURE["concepts"],
                                "id string, active string")
        des = s.createDataFrame(
            SNOMED_FIXTURE["descriptions"],
            "conceptId string, active string, typeId string, term string")
        return snomed_concept_df(con, des).select(
            "cui", "name", "ontologies", "name_status", "type_ids",
            "description_type_ids")
    q["cdb_snomed_names"] = _snomed

    def _umls(s, d):
        from medcat_spark.sources.ontologies import umls_concept_df
        conso = s.createDataFrame(
            UMLS_FIXTURE["mrconso"],
            "CUI string, LAT string, ISPREF string, AUI string, SAB string, "
            "STR string")
        sty = s.createDataFrame(UMLS_FIXTURE["mrsty"],
                                "CUI string, TUI string")
        return umls_concept_df(conso, sty)
    q["cdb_umls_names"] = _umls

    # --- P5 + addl_info code maps: mentions joined to a SNOMED→ICD-10
    #     refset map (reference cat.py:1771-1773 out_ent['icd10'];
    #     map built per preprocess_snomed.py map_snomed2icd10)
    def _mentions_icd10(s, d):
        from medcat_spark.sources.ontologies import snomed_refset_map
        rs = s.createDataFrame(
            ICD10_REFSET_FIXTURE,
            "referencedComponentId string, mapTarget string, "
            "mapPriority string, mapGroup string, active string")
        codes = snomed_refset_map(rs)
        m = _uni_ann(s, d).select("doc_id", "cui").distinct()
        return (m.join(F.broadcast(codes), "cui", "left")
                .select("cui",
                        F.coalesce(F.concat_ws(",", "codes"), F.lit(""))
                        .alias("icd10"))
                .groupBy("cui", "icd10")
                .agg(F.count("*").alias("n_docs")))
    q["kg_mentions_icd10"] = _mentions_icd10

    # --- P5 full output projection: the complete _doc_to_out entity
    #     dict shape (pretty_name, type_ids→types, ontologies, icd10) in
    #     one oracle-certified relation (reference cat.py:1729-1795)
    def _entities_projection(s, d):
        from medcat_spark.pipeline import project_output
        from medcat_spark.sources.ontologies import snomed_refset_map
        ann = _uni_ann(s, d)
        concepts = s.createDataFrame(
            [(r[0], r[1].capitalize(), [r[4]], ["DEMO"])
             for r in demo.UNIGRAM_ROWS],
            "cui string, preferred_name string, type_ids array<string>, "
            "ontologies array<string>")
        type_names = s.createDataFrame([("T001", "Operator")],
                                       "type_id string, type_name string")
        rs = s.createDataFrame(
            ICD10_REFSET_FIXTURE,
            "referencedComponentId string, mapTarget string, "
            "mapPriority string, mapGroup string, active string")
        out = project_output(ann, concepts, type_names=type_names,
                             icd10=snomed_refset_map(rs))
        return out.select(
            "doc_id", "start", "cui", "pretty_name",
            F.concat_ws(",", "type_ids").alias("type_ids"),
            F.concat_ws(",", "types").alias("types"),
            F.concat_ws(",", "ontologies").alias("ontologies"),
            F.concat_ws(",", "icd10").alias("icd10"))
    q["entities_projection"] = _entities_projection

    # --- TransformersNER analogue: trained token tagger, all-JVM window
    #     scoring (functions/ner_model.py), + the DeID composition
    #     (reference utils/ner/deid.py replace_entities_in_text)
    def _ner_spans(s, d):
        from medcat_spark.functions.ner_model import (ner_fixture_model,
                                                      score_table, tag_spans)
        m = ner_fixture_model()
        return tag_spans(demo.load_docs(s, d), m, score_table(s, m))
    q["ner_token_spans"] = _ner_spans

    def _deid(s, d):
        from medcat_spark.functions.deid import deid_text
        from medcat_spark.functions.ner_model import (ner_fixture_model,
                                                      score_table, tag_spans)
        docs = demo.load_docs(s, d).withColumn(
            "doc_id", F.col("doc_id").cast("string"))
        m = ner_fixture_model()
        spans = tag_spans(docs, m, score_table(s, m)) \
            .select("doc_id", "start", "end", F.col("label").alias("cui"))
        return deid_text(docs, spans)
    q["deid_docs"] = _deid

    # --- reference entity-linking scenario suite through the FULL Spark
    #     pipeline (reference tests/test_entity_linking.py cases:
    #     lemmatization, diacritics, uppercase acronyms, disambiguation);
    #     oracle = the expected entity rows (reference-asserted CUIs +
    #     deterministic seeded-training extras)
    def _scenario(s, d):
        from medcat_spark.fixtures_scenario import (SCENARIO_CASES,
                                                    scenario_models)
        from medcat_spark.pipeline import annotate, broadcast_model
        cdb, vocab, cfg = scenario_models()
        bc = broadcast_model(s, cdb, vocab, cfg)
        docs = s.createDataFrame([(c[0], c[1]) for c in SCENARIO_CASES],
                                 "doc_id string, text string")
        return annotate(docs, bc).select("doc_id", "start", "end", "cui",
                                         "detected_name")
    q["ner_scenario_suite"] = _scenario

    # --- concept-similarity KG edges: per-CUI top-k cosine over trained
    #     context vectors (all-pairs generalization of O3 most_similar)
    def _similar_concepts(s, d):
        from medcat_spark.fixtures import trained_fixture_models
        from medcat_spark.model_ops import (concept_similarity_edges,
                                            context_vectors_df)
        cdb, _vocab = trained_fixture_models()
        cv = context_vectors_df(s, cdb)
        return concept_similarity_edges(cv, "short", k=3) \
            .withColumn("sim", F.round("sim", 6))
    q["kg_similar_concepts"] = _similar_concepts

    # --- composite corpus-cleaning pipeline (C4-style: lang allowlist →
    #     quality gates → exact-dedup keeper), all codegen + one window
    q["corpus_clean"] = lambda s, d: txt.corpus_clean(
        demo.load_docs(s, d).withColumn("doc_id",
                                        F.col("doc_id").cast("string")),
        allow_langs=("en", "de"), min_tokens=12,
        min_type_token_ratio=0.3).select(
            "doc_id", "lang", "n_tokens", "type_token_ratio")

    # --- events: tumbling-window agg, sessionization, JSON extraction
    def _ev(s, d):
        return s.read.parquet(f"{d}/events.parquet")

    q["events_tumbling"] = lambda s, d: (
        _ev(s, d).groupBy(
            F.date_format(F.date_trunc("hour", F.col("ts")),
                          "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type")
        .agg(F.count("*").alias("n"),
             F.round(F.sum("value"), 4).alias("sum_value")))

    def _sessions(s, d):
        from pyspark.sql.window import Window
        ev = _ev(s, d)
        w = Window.partitionBy("user_id").orderBy("ts")
        sec = F.col("ts").cast("timestamp").cast("long")
        gap = sec - F.lag(sec).over(w)
        marked = ev.withColumn(
            "new_sess", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0))
        sess = marked.withColumn(
            "sess_id", F.sum("new_sess").over(
                w.rowsBetween(Window.unboundedPreceding, 0)))
        return (sess.groupBy("user_id", "sess_id")
                .agg(F.count("*").alias("n_events"),
                     F.round(F.sum("value"), 4).alias("sum_value"))
                .groupBy("user_id")
                .agg(F.count("*").alias("n_sessions"),
                     F.max("n_events").alias("max_session_events")))
    q["events_sessionize"] = _sessions

    q["events_json_k"] = lambda s, d: (
        _ev(s, d).select(
            "event_id",
            F.get_json_object("props", "$.k").cast("long").alias("k"))
        .groupBy((F.col("k") % 10).alias("k_mod"))
        .agg(F.count("*").alias("n"), F.sum("k").alias("sum_k")))

    # trailing-window anomaly detection: per-type hourly counts scored
    # against the mean/std of the preceding 6 hours (population var via
    # sum-of-squares — one window, no second pass)
    def _spikes(s, d):
        from pyspark.sql import Window
        hr = (_ev(s, d)
              .groupBy("event_type",
                       F.date_trunc("hour", "ts").alias("bucket"))
              .agg(F.count("*").alias("n")))
        w = (Window.partitionBy("event_type").orderBy("bucket")
             .rowsBetween(-6, -1))
        scored = (hr
                  .withColumn("m", F.avg("n").over(w))
                  .withColumn("m2", F.avg(F.col("n") * F.col("n")).over(w))
                  .withColumn("k", F.count("n").over(w))
                  .where(F.col("k") >= 3)
                  .withColumn("var", F.col("m2") - F.col("m") * F.col("m"))
                  .withColumn("z", F.when(
                      F.col("var") <= 0, F.lit(-1.0)).otherwise(
                      F.round((F.col("n") - F.col("m"))
                              / F.sqrt("var"), 4))))
        return scored.select("event_type", "bucket", "n", "z",
                             (F.col("z") > 2.0).alias("is_spike"))
    q["events_spike_zscore"] = _spikes

    # funnel / ordered-sequence detection (MATCH_RECOGNIZE analogue):
    # earliest view < click < purchase per user, per-step survivors
    def _funnel(s, d):
        from medcat_spark.functions.timeline import funnel_steps
        return funnel_steps(_ev(s, d), ["view", "click", "purchase"])
    q["events_funnel"] = _funnel

    # mergeable sketches + hierarchical rollups (functions/sketches.py)
    def _rollup(s, d):
        from medcat_spark.functions.sketches import rollup_cascade
        return rollup_cascade(_ev(s, d))
    q["events_rollup"] = _rollup

    def _hquant(s, d):
        from medcat_spark.functions.sketches import histogram_quantiles
        return histogram_quantiles(_ev(s, d), "value", lo=0.0, hi=20.0,
                                   n_bins=40)
    q["events_quantile_sketch"] = _hquant

    def _hll(s, d):
        from medcat_spark.functions.sketches import hll_distinct
        return hll_distinct(_ev(s, d), "user_id")
    q["events_hll_distinct"] = _hll

    # AS-OF join (operators/temporal.py): every event picks up the
    # latest per-type "threshold snapshot" at or before its timestamp —
    # the union-sort single-shuffle shape; oracle = DuckDB's native
    # ASOF LEFT JOIN
    def _asof(s, d):
        from medcat_spark.operators.temporal import asof_join
        ev = _ev(s, d)
        snaps = (ev.where(F.col("event_id") % 50 == 0)
                 .select("event_type", "ts",
                         F.col("value").alias("thr")))
        out = asof_join(ev.select("event_id", "event_type", "ts"),
                        snaps, on="event_type", left_ts="ts",
                        right_ts="ts", value_cols="thr")
        # sentinel for events before the first snapshot (the checker
        # treats NaN != NaN)
        return out.select("event_id", "event_type",
                          F.coalesce(F.round("thr", 2),
                                     F.lit(-999.0)).alias("thr"))
    q["events_asof_join"] = _asof

    # RANGE join (operators/temporal.py): events overlapping 30-minute
    # maintenance windows, executed as a bucketized equi-join (10-min
    # buckets in microseconds); oracle = plain inequality join
    def _rangej(s, d):
        from medcat_spark.operators.temporal import range_join
        us = F.expr("timestampdiff(MICROSECOND, "
                    "TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")
        ev = _ev(s, d).select("event_id", "value", us.alias("us"))
        win = (_ev(s, d).where(F.col("event_id") % 97 == 0)
               .select(F.col("event_id").alias("window_id"),
                       us.alias("w_start"))
               .withColumn("w_end", F.col("w_start") + 1800_000_000))
        j = range_join(ev, win, ts_col="us", start_col="w_start",
                       end_col="w_end", bucket_width=600_000_000)
        return (j.groupBy("window_id")
                .agg(F.count("*").alias("n_events"),
                     F.round(F.sum("value"), 2).alias("sum_value")))
    q["events_range_join"] = _rangej

    # --- graph analytics over the materialized co-occurrence triples
    #     (functions/graph.py): the KG consumer-side queries the
    #     north_star's "graph tables" exist to serve
    def _cooc(s, d):
        # graph consumers reference the edge relation through many plan
        # branches (degree both directions, kNN ranks, per-round joins);
        # without the lazy checkpoint each branch re-executes the whole
        # annotate MapInArrow chain (measured: 48 Python nodes / 214
        # exchanges in the kg_linkpred_auc plan)
        return cooccurrence_triples(_uni_ann(s, d)).localCheckpoint(
            eager=False)

    def _aff(s, d, k=2):
        # the sparse affinity graph is itself self-joined by two_hop /
        # link_prediction / label_propagation — checkpoint it too
        return knn_graph(_cooc(s, d), k=k).localCheckpoint(eager=False)

    q["kg_degree_centrality"] = lambda s, d: concept_degree(_cooc(s, d))
    q["kg_pagerank"] = lambda s, d: pagerank(_cooc(s, d))
    # 2-hop runs over the sparse mutual-kNN affinity graph (top-2
    # partners per concept) — the raw co-occurrence graph over a small
    # dictionary approaches completeness, where 2-hop is trivially empty
    q["kg_two_hop"] = lambda s, d: two_hop_neighbors(
        _aff(s, d))
    # triangle census via degree-ordered orientation (hub-safe) and
    # bounded BFS from the smallest subject — both recomputed by the
    # oracle in pure SQL (BFS as a RECURSIVE CTE, like the
    # connected-components certification)
    q["kg_triangles"] = lambda s, d: triangle_counts(_cooc(s, d))
    q["kg_bfs_distances"] = lambda s, d: bfs_distances(_cooc(s, d),
                                                       max_hops=4)
    # negation-aware triples: a concept counts in a doc only if it has
    # at least one AFFIRMED mention (meta Negation = 'present') — the
    # clinically-correct co-occurrence (negated findings must not form
    # edges)
    def _cooc_affirmed(s, d):
        from medcat_spark.functions.meta import meta_annotations
        docs = demo.load_docs(s, d).withColumn(
            "doc_id", F.col("doc_id").cast("string"))
        meta = meta_annotations(_uni_ann(s, d), docs,
                                cues=["slow", "small"], window_left=5)
        affirmed = (meta.where(F.col("value") == "present")
                    .select("doc_id", "cui"))
        return cooccurrence_triples(affirmed)
    q["kg_cooccurrence_affirmed"] = _cooc_affirmed

    # hierarchy rollup (epidemiology shape): mention counts aggregated
    # up a two-level ISA fixture — subtree totals per ancestor via a
    # bounded-depth closure join (SNOMED pt2ch analogue; the real
    # hierarchy loads via sources/ontologies.snomed_pt2ch)
    def _hier_rollup(s, d):
        cnt = (_uni_ann(s, d).groupBy("cui")
               .agg(F.count("*").alias("own"))
               .localCheckpoint(eager=False))  # joined by rolled + own
        isa = s.createDataFrame(_ISA, "child string, parent string")
        c1 = isa.select(F.col("child").alias("node"),
                        F.col("parent").alias("anc"))
        c2 = (c1.join(isa.select(F.col("child").alias("anc"),
                                 F.col("parent").alias("anc2")), "anc")
              .select("node", F.col("anc2").alias("anc")))
        nodes = (isa.select(F.col("child").alias("node"))
                 .unionByName(isa.select(F.col("parent").alias("node")))
                 .distinct())
        closure = (nodes.select("node", F.col("node").alias("anc"))
                   .unionByName(c1).unionByName(c2).distinct())
        rolled = (closure.join(cnt, closure["node"] == cnt["cui"],
                               "left")
                  .groupBy("anc")
                  .agg(F.sum(F.coalesce("own", F.lit(0)))
                       .alias("subtree_mentions")))
        own = (nodes.join(cnt, nodes["node"] == cnt["cui"], "left")
               .select("node", F.coalesce("own", F.lit(0)).alias("own")))
        return (own.join(rolled, own["node"] == rolled["anc"])
                .select("node", F.col("own").alias("own_mentions"),
                        "subtree_mentions"))
    q["kg_hierarchy_rollup"] = _hier_rollup

    # KG completion: missing-edge candidates on the sparse affinity
    # graph scored by common-neighbors / Jaccard / Adamic-Adar
    q["kg_link_prediction"] = lambda s, d: link_prediction(
        _aff(s, d))
    # synchronous label-propagation communities (deterministic variant,
    # 3 unrolled rounds in the oracle)
    q["kg_communities"] = lambda s, d: label_propagation(
        _aff(s, d), iterations=3)

    # KG-completion offline eval: deterministic edge holdout, score the
    # rest, Adamic-Adar ranking AUC over pos×neg
    def _lp_auc(s, d):
        from medcat_spark.functions.graph import link_prediction_auc
        return link_prediction_auc(_aff(s, d))
    q["kg_linkpred_auc"] = _lp_auc

    # temporal KG analytics: per-pair monthly co-occurrence counts
    # (deterministic month = doc_id % 6) with the OLS trend slope over
    # the dense month series — codegen only, one groupBy + tiny agg
    def _cooc_trend(s, d):
        ann = _uni_ann(s, d)
        dc = (ann.select("doc_id", "cui").distinct()
              .withColumn("m", F.col("doc_id").cast("long") % 6)
              .localCheckpoint(eager=False))   # self-joined below
        a = dc.alias("a")
        b = dc.alias("b")
        monthly = (a.join(b, ["doc_id", "m"])
                   .where(F.col("a.cui") < F.col("b.cui"))
                   .groupBy(F.col("a.cui").alias("cui_a"),
                            F.col("b.cui").alias("cui_b"), "m")
                   .agg(F.count("*").alias("y")))
        # densify: every observed pair gets all 6 months (absent = 0)
        pairs = monthly.select("cui_a", "cui_b").distinct()
        months = s.range(6).select(F.col("id").cast("long").alias("m"))
        dense = (pairs.crossJoin(F.broadcast(months))
                 .join(monthly, ["cui_a", "cui_b", "m"], "left")
                 .select("cui_a", "cui_b", "m",
                         F.coalesce("y", F.lit(0)).alias("y")))
        # OLS slope over the 6 points: (nΣxy - ΣxΣy)/(nΣx² - (Σx)²)
        agg = (dense.groupBy("cui_a", "cui_b")
               .agg(F.count("*").alias("n"), F.sum("m").alias("sx"),
                    F.sum("y").alias("sy"),
                    F.sum(F.col("m") * F.col("y")).alias("sxy"),
                    F.sum(F.col("m") * F.col("m")).alias("sxx")))
        return agg.select(
            F.concat(F.lit("cui:"), "cui_a").alias("subj"),
            F.concat(F.lit("cui:"), "cui_b").alias("obj"),
            F.col("sy").alias("total"),
            F.round((F.col("n") * F.col("sxy")
                     - F.col("sx") * F.col("sy"))
                    / (F.col("n") * F.col("sxx")
                       - F.col("sx") * F.col("sx")), 6).alias("slope"))
    q["kg_cooc_trend"] = _cooc_trend

    # Newman modularity of the LPA communities over the kNN affinity
    # graph — the community-quality scorecard
    def _modularity(s, d):
        from medcat_spark.functions.graph import modularity
        aff = _aff(s, d)
        return modularity(aff, label_propagation(aff, iterations=3))
    q["kg_modularity"] = _modularity

    # personalized PageRank from the smallest subject (concept
    # relatedness to a seed) and k-core membership (dense-region
    # extraction) — both with fully unrolled SQL oracles
    def _ppr(s, d):
        from medcat_spark.functions.graph import personalized_pagerank
        return personalized_pagerank(_cooc(s, d), iterations=3)
    q["kg_personalized_pagerank"] = _ppr

    def _kcore(s, d):
        from medcat_spark.functions.graph import kcore
        return kcore(_cooc(s, d), k=2, rounds=4)
    q["kg_kcore"] = _kcore

    # TransE KG embeddings (Bordes et al. 2013) trained in-engine with
    # deterministic full-batch GD — the whole training loop (init,
    # corruption, hinge, gradients, renormalization, 2 epochs) is
    # unrolled in the SQL oracle
    def _transe(s, d):
        from medcat_spark.functions.graph import transe_train
        return transe_train(_cooc(s, d), dim=4, iterations=2)
    q["kg_transe_embeddings"] = _transe

    # FastRP node embeddings (Chen et al. 2019): md5-seeded sparse
    # random projection propagated twice through the degree-normalized
    # adjacency — graph ML as pure joins, no training loop
    def _fastrp(s, d):
        from medcat_spark.functions.graph import fastrp_embeddings
        return fastrp_embeddings(_cooc(s, d), dim=8)
    q["kg_fastrp_embeddings"] = _fastrp

    # RDF N-Triples interchange (sources/rdf.py): exact statement lines
    # (oracle rebuilds the strings with REPLACE chains), and the full
    # write→parse round-trip (oracle = the co-occurrence relation)
    def _nt_lines(s, d):
        from medcat_spark.sources.rdf import to_ntriples
        return to_ntriples(_cooc(s, d))
    q["kg_ntriples_lines"] = _nt_lines

    def _nt_roundtrip(s, d):
        import tempfile
        from medcat_spark.sources.rdf import read_ntriples, write_ntriples
        path = tempfile.mkdtemp(prefix="nt_") + "/kg"
        write_ntriples(_cooc(s, d), path)
        return read_ntriples(s, path)
    q["kg_ntriples_roundtrip"] = _nt_roundtrip

    # incremental KG maintenance — the daily-ingest path: co-occurrence
    # counts from a NEW doc batch are additive deltas (disjoint docs),
    # so the update touches only delta pairs (semi-join against the
    # table) and lands as ONE Iceberg MERGE snapshot.  The oracle is the
    # full recompute: the hash certifies incremental == from-scratch.
    def _cooc_incremental(s, d):
        import tempfile
        from medcat_spark.sources.iceberg import IcebergTable
        # referenced by base+delta AND across the append/upsert actions
        ann = _uni_ann(s, d).localCheckpoint(eager=False)
        even = F.col("doc_id").cast("long") % 2 == 0
        base = cooccurrence_triples(ann.where(even))
        delta = cooccurrence_triples(ann.where(~even))
        loc = tempfile.mkdtemp(prefix="ice_cooc_") + "/cooc"
        t = IcebergTable.create(loc, base.schema)
        t.append_dataframe(base)
        touched = t.to_df(s).join(delta.select("subj", "obj"),
                                  ["subj", "obj"], "left_semi")
        merged = (delta.unionByName(touched)
                  .groupBy("subj", "pred", "obj")
                  .agg(F.sum("n_docs").alias("n_docs")))
        t.upsert_dataframe(s, merged, key_cols=["subj", "obj"])
        return IcebergTable.load(loc).to_df(s)
    q["kg_cooc_incremental"] = _cooc_incremental

    # Knowledge-Vault-style noisy-OR fusion of per-document evidence:
    # confidences are the L1-L4 disambiguation similarities (rounded to
    # 6 dp on BOTH engines before fusing, so the fuse — not the deep
    # linking float path — is what the hash certifies)
    def _belief(s, d):
        disamb = demo.disamb_annotations(s, d).select(
            "doc_id", "cui",
            F.round("context_similarity", 6).alias("sim")) \
            .localCheckpoint(eager=False)    # self-joined by the fuse
        return triple_belief(disamb)
    q["kg_triple_belief"] = _belief

    # --- Iceberg graph tables (sources/iceberg.py): the north rule's
    #     materialization target, spec v2 metadata + avro manifests in
    #     pure Python.  The query round-trips spans through a real
    #     Iceberg table (write → metadata-planned scan → read) and
    #     aggregates; the oracle computes the same aggregate directly.
    def _span_rows(s, d):
        return _interleaved_docs(s, d).select(
            "doc_id", F.explode("spans").alias("sp")).select(
            "doc_id", F.col("sp.kind").alias("kind"),
            F.col("sp.offset").cast("long").alias("off"))

    def _ice_agg(df):
        return df.groupBy("kind").agg(
            F.count("*").alias("n_spans"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.min("off").alias("min_off"),
            F.max("off").alias("max_off"))

    def _iceberg_snapshot(s, d):
        import tempfile
        from medcat_spark.sources.iceberg import IcebergTable
        rows = _span_rows(s, d)
        loc = tempfile.mkdtemp(prefix="ice_q_") + "/spans"
        t = IcebergTable.create(loc, rows.schema, partition_by=["kind"])
        t.append_dataframe(rows)
        return _ice_agg(IcebergTable.load(loc).to_df(s))
    q["kg_iceberg_snapshot"] = _iceberg_snapshot

    def _iceberg_time_travel(s, d):
        import tempfile
        from medcat_spark.sources.iceberg import IcebergTable
        rows = _span_rows(s, d)
        even = rows.filter(F.col("doc_id").cast("long") % 2 == 0)
        odd = rows.filter(F.col("doc_id").cast("long") % 2 != 0)
        loc = tempfile.mkdtemp(prefix="ice_tt_") + "/spans"
        t = IcebergTable.create(loc, rows.schema, partition_by=["kind"])
        s1 = t.append_dataframe(even)
        t.append_dataframe(odd)
        t = IcebergTable.load(loc)
        assert len(t.snapshots()) == 2
        # time travel: read AS OF the first snapshot — sees even docs only
        return _ice_agg(t.to_df(s, snapshot_id=s1))
    q["kg_iceberg_time_travel"] = _iceberg_time_travel

    def _iceberg_eq_delete(s, d):
        """v2 row-level deletes + sequence semantics, oracle-checked:
        append all docs; equality-delete doc_id % 7 == 0; re-insert the
        doc_id % 14 == 0 half at a LATER sequence.  Merge-on-read must
        drop only the still-deleted half (deletes apply to data files
        with smaller sequence numbers only)."""
        import tempfile
        from medcat_spark.sources.iceberg import IcebergTable
        docs = s.read.parquet(f"{d}/documents.parquet") \
            .select("doc_id", "lang", "n_chars")
        loc = tempfile.mkdtemp(prefix="ice_del_") + "/docs"
        t = IcebergTable.create(loc, docs.schema)
        t.append_dataframe(docs)
        t.delete_where(s, F.col("doc_id") % 7 == 0,
                       equality_cols=["doc_id"])
        t = IcebergTable.load(loc)
        t.append_dataframe(docs.where(F.col("doc_id") % 14 == 0))
        return IcebergTable.load(loc).to_df(s)
    q["kg_iceberg_eq_delete"] = _iceberg_eq_delete

    def _iceberg_pos_delete(s, d):
        """v2 POSITION deletes (content=1 file_path+pos files) — the
        delete form equality cannot express: the table holds true
        duplicate rows (the corpus appended twice) and exactly ONE
        physical copy of each doc_id % 5 == 0 row must go.  The row
        ordinals come from to_df(with_pos=True) (Spark parquet
        _metadata.row_index); merge-on-read anti-joins on
        (file_path, pos)."""
        import tempfile
        from pyspark.sql import Window
        from medcat_spark.sources.iceberg import IcebergTable
        docs = s.read.parquet(f"{d}/documents.parquet") \
            .select("doc_id", "lang", "n_chars")
        loc = tempfile.mkdtemp(prefix="ice_posdel_") + "/docs"
        t = IcebergTable.create(loc, docs.schema)
        t.append_dataframe(docs)
        t = IcebergTable.load(loc)
        t.append_dataframe(docs)  # true duplicates, later sequence
        t = IcebergTable.load(loc)
        withpos = t.to_df(s, with_pos=True)
        w = Window.partitionBy("doc_id").orderBy("_file_path", "_pos")
        one_copy = (withpos.where(F.col("doc_id") % 5 == 0)
                    .withColumn("rn", F.row_number().over(w))
                    .where(F.col("rn") == 1)
                    .select(F.col("_file_path").alias("file_path"),
                            F.col("_pos").alias("pos")))
        t.delete_positions(s, one_copy)
        return IcebergTable.load(loc).to_df(s)
    q["kg_iceberg_pos_delete"] = _iceberg_pos_delete

    def _iceberg_upsert(s, d):
        """MERGE INTO analogue: one snapshot that equality-deletes the
        incoming keys and appends their new versions + brand-new rows —
        atomic upsert semantics, oracle-checked."""
        import tempfile
        from medcat_spark.sources.iceberg import IcebergTable
        docs = s.read.parquet(f"{d}/documents.parquet") \
            .select("doc_id", "lang", "n_chars")
        loc = tempfile.mkdtemp(prefix="ice_merge_") + "/docs"
        t = IcebergTable.create(loc, docs.schema)
        t.append_dataframe(docs)
        changes = docs.where(F.col("doc_id") % 10 == 0) \
            .withColumn("n_chars", F.col("n_chars") + 1000) \
            .unionByName(docs.where(F.col("doc_id") < 3)
                         .withColumn("doc_id",
                                     F.col("doc_id") + 1000000))
        t.upsert_dataframe(s, changes, key_cols=["doc_id"])
        return IcebergTable.load(loc).to_df(s)
    q["kg_iceberg_upsert"] = _iceberg_upsert

    def _iceberg_incremental(s, d):
        """Incremental (CDC-style) read: rows appended strictly after a
        checkpoint snapshot — the consume-new-annotations path of a
        resumable KG build."""
        import tempfile
        from medcat_spark.sources.iceberg import IcebergTable
        docs = s.read.parquet(f"{d}/documents.parquet") \
            .select("doc_id", "lang")
        loc = tempfile.mkdtemp(prefix="ice_incr_") + "/docs"
        t = IcebergTable.create(loc, docs.schema)
        s1 = t.append_dataframe(docs.where(F.col("doc_id") < 250))
        t.append_dataframe(docs.where(F.col("doc_id") >= 250))
        return IcebergTable.load(loc).incremental_read(s, s1)
    q["kg_iceberg_incremental"] = _iceberg_incremental

    def _iceberg_files_meta(s, d):
        """$files metadata table: per-partition record counts read from
        manifests alone (no data file opened) must equal the group-by
        over the data."""
        import tempfile
        from medcat_spark.sources.iceberg import IcebergTable
        docs = s.read.parquet(f"{d}/documents.parquet") \
            .select("doc_id", "text", "lang")
        loc = tempfile.mkdtemp(prefix="ice_files_") + "/docs"
        t = IcebergTable.create(loc, docs.schema, partition_by=["lang"])
        t.append_dataframe(docs)
        files = IcebergTable.load(loc).metadata_df(s, "files")
        return (files.groupBy(F.col("partition")["lang"].alias("lang"))
                .agg(F.sum("record_count").alias("n_rows")))
    q["kg_iceberg_files_meta"] = _iceberg_files_meta

    def _iceberg_nested_evolution(s, d):
        """Nested-type evolution on the interleaved spans shape: write
        docs as array<struct> spans, rename spans.element.media_ref →
        media_uri, add spans.element.span_lang, promote offset
        int→long, append a second batch under the NEW schema, read the
        union back.  Old files must resolve by nested field id (rename
        carries values, added field null-fills, offsets widen-cast)."""
        import tempfile
        from pyspark.sql import types as T
        from medcat_spark.sources.iceberg import IcebergTable
        docs = s.read.parquet(f"{d}/documents.parquet") \
            .select("doc_id", "lang", "n_chars")
        media = F.when(F.col("doc_id") % 2 == 0,
                       F.concat(F.lit("m://"),
                                F.col("doc_id").cast("string")))
        old = docs.where(F.col("doc_id") < 250).select(
            "doc_id",
            F.array(F.struct(
                F.lit("text").alias("kind"),
                media.alias("media_ref"),
                F.col("n_chars").cast("int").alias("offset"),
            )).alias("spans"))
        loc = tempfile.mkdtemp(prefix="ice_nest_") + "/docs"
        t = IcebergTable.create(loc, old.schema)
        t.append_dataframe(old)
        t.rename_column("spans.element.media_ref", "media_uri")
        t.add_column("spans.element.span_lang", T.StringType())
        t.promote_column("spans.element.offset")
        new = docs.where(F.col("doc_id") >= 250).select(
            "doc_id",
            F.array(F.struct(
                F.lit("text").alias("kind"),
                media.alias("media_uri"),
                F.col("n_chars").cast("long").alias("offset"),
                F.col("lang").alias("span_lang"),
            )).alias("spans"))
        t.append_dataframe(new)
        ex = IcebergTable.load(loc).to_df(s) \
            .select("doc_id", F.explode("spans").alias("sp"))
        return (ex.groupBy(F.col("sp.span_lang").alias("span_lang"))
                .agg(F.count("*").alias("n_spans"),
                     F.sum("sp.offset").alias("sum_offset"),
                     F.count("sp.media_uri").alias("n_media")))
    q["kg_iceberg_nested_evolution"] = _iceberg_nested_evolution

    def _iceberg_wap(s, d):
        """Write-audit-publish via refs: risky appends stage on an
        'audit' branch (main unmoved), a validation reads the branch,
        then fast_forward publishes it to main as one metadata commit.
        The final main read must contain exactly the union."""
        import tempfile
        from medcat_spark.sources.iceberg import IcebergTable
        docs = s.read.parquet(f"{d}/documents.parquet") \
            .select("doc_id", "lang", "n_chars")
        loc = tempfile.mkdtemp(prefix="ice_wap_") + "/docs"
        t = IcebergTable.create(loc, docs.schema)
        t.append_dataframe(docs.where(F.col("doc_id") < 250))
        t.create_branch("audit")
        t.append_dataframe(docs.where(F.col("doc_id") >= 250),
                           branch="audit")
        # audit gate: the staged branch must not shrink the corpus
        n_main = t.to_df(s).count()
        n_audit = t.to_df(s, ref="audit").count()
        assert n_audit >= n_main, "audit branch lost rows"
        t.fast_forward("main", "audit")
        pub = IcebergTable.load(loc).to_df(s)
        return (pub.groupBy("lang")
                .agg(F.count("*").alias("n_docs"),
                     F.sum("n_chars").alias("sum_chars")))
    q["kg_iceberg_wap"] = _iceberg_wap

    def _iceberg_changelog(s, d):
        """Row-level CDC between snapshots (create_changelog_view
        analogue): after a checkpoint, the range commits an equality
        delete (doc_id % 5 == 0) and an append; the changelog must
        emit exactly those as DELETE / INSERT rows."""
        import tempfile
        from medcat_spark.sources.iceberg import IcebergTable
        docs = s.read.parquet(f"{d}/documents.parquet") \
            .select("doc_id", "lang")
        loc = tempfile.mkdtemp(prefix="ice_cdc_") + "/docs"
        t = IcebergTable.create(loc, docs.schema)
        s1 = t.append_dataframe(docs.where(F.col("doc_id") < 250))
        t.delete_where(s, F.col("doc_id") % 5 == 0,
                       equality_cols=["doc_id"])
        t.append_dataframe(docs.where(F.col("doc_id") >= 250))
        cl = IcebergTable.load(loc).changelog(s, s1)
        return (cl.groupBy("_change_type")
                .agg(F.count("*").alias("n"),
                     F.sum("doc_id").alias("sum_id")))
    q["kg_iceberg_changelog"] = _iceberg_changelog

    return q


# ---------------------------------------------------------------------------
# oracles
# ---------------------------------------------------------------------------

def oracle_sql() -> dict[str, str]:
    from medcat_spark.functions.sketches import HLL_ALPHA

    o: dict[str, str] = {}

    o["ner_unigram_mentions"] = f"""
WITH {_TOKS_CTE}
SELECT t.doc_id, d.cui, COUNT(*) AS n_mentions
FROM tok t JOIN {_UNI_DICT_SQL} ON t.tok = d.name
GROUP BY 1, 2
"""

    # interleaved path: text span sits at offset 0 (span_idx 0), the
    # media span has no text — mentions equal the flat-text matches
    o["ner_interleaved_mentions"] = f"""
WITH {_TOKS_CTE}
SELECT t.doc_id, d.cui, 0 AS span_idx, COUNT(*) AS n_mentions
FROM tok t JOIN {_UNI_DICT_SQL} ON t.tok = d.name
GROUP BY 1, 2, 3
"""

    o["ner_bigram_mentions"] = f"""
WITH {_TOKS_CTE}
SELECT t.doc_id, d.cui, COUNT(*) AS n_mentions
FROM tokn t JOIN {_BI_DICT_SQL} ON t.tok = d.w1 AND t.nxt = d.w2
GROUP BY 1, 2
"""

    # flagship = bigrams + unigrams minus the O1-subsumed 'merge join' case
    o["ner_flagship_mentions"] = f"""
WITH {_TOKS_CTE},
m AS (
  SELECT t.doc_id, d.cui
  FROM tokn t JOIN {_BI_DICT_SQL} ON t.tok = d.w1 AND t.nxt = d.w2
  UNION ALL
  SELECT t.doc_id, d.cui
  FROM tokn t JOIN {_UNI_DICT_SQL} ON t.tok = d.name
  WHERE NOT (t.tok = 'merge' AND COALESCE(t.nxt, '') = 'join')
)
SELECT doc_id, cui, COUNT(*) AS n_mentions FROM m GROUP BY 1, 2
"""

    # char offsets: start = sum(len+1) of preceding tokens
    o["ner_offsets"] = f"""
WITH {_TOKS_CTE},
pos AS (
  SELECT doc_id, tok, nxt, pos,
         COALESCE(SUM(length(tok) + 1) OVER (
             PARTITION BY doc_id ORDER BY pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
  FROM tokn)
SELECT p.doc_id, CAST(p.start AS INT) AS start,
       CAST(p.start + length(d.w1) + 1 + length(d.w2) AS INT) AS "end",
       d.cui, d.w1 || ' ' || d.w2 AS source_value
FROM pos p JOIN {_BI_DICT_SQL} ON p.tok = d.w1 AND p.nxt = d.w2
"""

    # nested = union of ALL dict matches, no O1 subsumption
    o["ner_nested_candidates"] = f"""
WITH {_TOKS_CTE},
m AS (
  SELECT t.doc_id, d.cui
  FROM tokn t JOIN {_BI_DICT_SQL} ON t.tok = d.w1 AND t.nxt = d.w2
  UNION ALL
  SELECT t.doc_id, d.cui
  FROM tokn t JOIN {_UNI_DICT_SQL} ON t.tok = d.name
)
SELECT doc_id, cui, COUNT(*) AS n_mentions FROM m GROUP BY 1, 2
"""

    o["kg_mention_triples"] = f"""
WITH {_TOKS_CTE},
m AS (
  SELECT t.doc_id, d.cui
  FROM tokn t JOIN {_BI_DICT_SQL} ON t.tok = d.w1 AND t.nxt = d.w2
  UNION ALL
  SELECT t.doc_id, d.cui
  FROM tokn t JOIN {_UNI_DICT_SQL} ON t.tok = d.name
  WHERE NOT (t.tok = 'merge' AND COALESCE(t.nxt, '') = 'join')
)
SELECT DISTINCT 'doc:' || doc_id AS subj, 'mentions' AS pred,
       'cui:' || cui AS obj
FROM m
"""

    o["kg_cooccurrence"] = f"""
WITH {_TOKS_CTE},
m AS (SELECT DISTINCT t.doc_id, d.cui
      FROM tok t JOIN {_UNI_DICT_SQL} ON t.tok = d.name)
SELECT 'cui:' || a.cui AS subj, 'cooccurs_with' AS pred,
       'cui:' || b.cui AS obj, COUNT(*) AS n_docs
FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.cui < b.cui
GROUP BY 1, 2, 3
"""

    # shared base for the graph-analytics oracles: recompute the
    # co-occurrence triples, then the symmetrized weighted edge list
    _sym_cte = f"""
WITH {_TOKS_CTE},
m AS (SELECT DISTINCT t.doc_id, d.cui
      FROM tok t JOIN {_UNI_DICT_SQL} ON t.tok = d.name),
cooc AS (SELECT 'cui:' || a.cui AS subj, 'cui:' || b.cui AS obj,
                COUNT(*) AS n_docs
         FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.cui < b.cui
         GROUP BY 1, 2),
sym AS (SELECT subj AS src, obj AS dst, n_docs AS w FROM cooc
        UNION ALL
        SELECT obj AS src, subj AS dst, n_docs AS w FROM cooc)"""

    o["kg_degree_centrality"] = f"""
{_sym_cte}
SELECT src AS node, COUNT(*) AS degree, SUM(w) AS weighted_degree
FROM sym GROUP BY 1
"""

    # weighted PageRank, 3 iterations unrolled (pr0 = 1.0;
    # pr_k+1 = (1-d) + d*sum(pr_k*w/wdeg)); float literals are CAST so
    # DuckDB computes in float64 like Spark, not DECIMAL
    _pr_step = """
SELECT s.dst AS node,
       (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE))
       + CAST(0.85 AS DOUBLE) * SUM({src}.pr * s.w / d.wdeg) AS pr
FROM sym s JOIN {src} ON s.src = {src}.node
           JOIN wdeg d ON s.src = d.src
GROUP BY 1"""
    o["kg_pagerank"] = f"""
{_sym_cte},
wdeg AS (SELECT src, SUM(w) AS wdeg FROM sym GROUP BY 1),
p0 AS (SELECT src AS node, CAST(1.0 AS DOUBLE) AS pr FROM wdeg),
p1 AS ({_pr_step.format(src="p0")}),
p2 AS ({_pr_step.format(src="p1")}),
p3 AS ({_pr_step.format(src="p2")})
SELECT node, ROUND(pr, 6) AS pr FROM p3
"""

    # 2-hop over the mutual top-2 affinity graph (row_number per node by
    # weight desc, partner name as tie-break — same as graph.knn_graph)
    o["kg_two_hop"] = f"""
{_sym_cte},
topk AS (SELECT src, dst FROM (
           SELECT src, dst,
                  ROW_NUMBER() OVER (PARTITION BY src
                                     ORDER BY w DESC, dst) AS rn
           FROM sym) t WHERE rn <= 2),
und AS (SELECT DISTINCT LEAST(src, dst) AS subj,
                        GREATEST(src, dst) AS obj FROM topk),
e2 AS (SELECT subj AS src, obj AS dst FROM und
       UNION ALL SELECT obj AS src, subj AS dst FROM und),
paths AS (SELECT a.src AS node_a, b.dst AS node_b,
                 COUNT(DISTINCT a.dst) AS n_paths
          FROM e2 a JOIN e2 b ON a.dst = b.src AND a.src < b.dst
          GROUP BY 1, 2)
SELECT p.node_a, p.node_b, p.n_paths FROM paths p
WHERE NOT EXISTS (SELECT 1 FROM e2 d
                  WHERE d.src = p.node_a AND d.dst = p.node_b)
"""

    # affirmed-only co-occurrence: the meta-negation window replayed,
    # mentions with any cue in the window excluded before pairing
    o["kg_cooccurrence_affirmed"] = f"""
WITH {_TOKS_CTE},
pos AS (
  SELECT doc_id, tok, pos,
         COALESCE(SUM(length(tok) + 1) OVER (
             PARTITION BY doc_id ORDER BY pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
  FROM tok),
m AS (SELECT p.doc_id, p.start, p.pos AS ent_pos, d.cui
      FROM pos p JOIN {_UNI_DICT_SQL} ON p.tok = d.name),
c AS (SELECT doc_id, pos FROM pos WHERE tok IN ('slow', 'small')),
h AS (SELECT m.doc_id, m.start, m.cui, COUNT(c.pos) AS n_cues
      FROM m LEFT JOIN c ON c.doc_id = m.doc_id
        AND c.pos < m.ent_pos AND c.pos >= m.ent_pos - 5
      GROUP BY 1, 2, 3),
aff AS (SELECT DISTINCT doc_id, cui FROM h WHERE n_cues = 0)
SELECT 'cui:' || a.cui AS subj, 'cooccurs_with' AS pred,
       'cui:' || b.cui AS obj, COUNT(*) AS n_docs
FROM aff a JOIN aff b ON a.doc_id = b.doc_id AND a.cui < b.cui
GROUP BY 1, 2, 3
"""

    # hierarchy rollup: bounded-depth closure over the ISA fixture,
    # subtree mention totals per ancestor
    _isa_rows = ",".join(f"('{c}','{p}')" for c, p in _ISA)
    o["kg_hierarchy_rollup"] = f"""
WITH {_TOKS_CTE},
cnt AS (SELECT d.cui, COUNT(*) AS own
        FROM tok t JOIN {_UNI_DICT_SQL} ON t.tok = d.name GROUP BY 1),
isa(child, parent) AS (VALUES {_isa_rows}),
nodes AS (SELECT child AS node FROM isa
          UNION SELECT parent FROM isa),
c1 AS (SELECT child AS node, parent AS anc FROM isa),
c2 AS (SELECT c1.node, i.parent AS anc
       FROM c1 JOIN isa i ON i.child = c1.anc),
closure AS (SELECT node, node AS anc FROM nodes
            UNION SELECT node, anc FROM c1
            UNION SELECT node, anc FROM c2),
rolled AS (SELECT cl.anc, SUM(COALESCE(cnt.own, 0)) AS subtree_mentions
           FROM closure cl LEFT JOIN cnt ON cnt.cui = cl.node
           GROUP BY 1)
SELECT n.node, CAST(COALESCE(cnt.own, 0) AS BIGINT) AS own_mentions,
       CAST(r.subtree_mentions AS BIGINT) AS subtree_mentions
FROM nodes n LEFT JOIN cnt ON cnt.cui = n.node
     JOIN rolled r ON r.anc = n.node
"""

    # link prediction over the same kNN affinity graph: wedges keyed on
    # the middle node, Adamic-Adar over middle degrees (≥2 ⇒ LN > 0),
    # Jaccard from endpoint degrees, adjacency removed
    o["kg_link_prediction"] = f"""
{_sym_cte},
topk AS (SELECT src, dst FROM (
           SELECT src, dst,
                  ROW_NUMBER() OVER (PARTITION BY src
                                     ORDER BY w DESC, dst) AS rn
           FROM sym) t WHERE rn <= 2),
und AS (SELECT DISTINCT LEAST(src, dst) AS subj,
                        GREATEST(src, dst) AS obj FROM topk),
e2 AS (SELECT subj AS src, obj AS dst FROM und
       UNION ALL SELECT obj AS src, subj AS dst FROM und),
deg AS (SELECT src, COUNT(*) AS deg FROM e2 GROUP BY 1),
sc AS (SELECT a.dst AS node_a, b.dst AS node_b,
              COUNT(*) AS common_neighbors,
              SUM(1.0 / LN(d.deg)) AS aa
       FROM e2 a JOIN e2 b ON a.src = b.src AND a.dst < b.dst
            JOIN deg d ON d.src = a.src
       GROUP BY 1, 2)
SELECT s.node_a, s.node_b, s.common_neighbors,
       ROUND(s.common_neighbors
             / CAST(da.deg + db.deg - s.common_neighbors AS DOUBLE), 6)
         AS jaccard,
       ROUND(s.aa, 6) AS adamic_adar
FROM sc s JOIN deg da ON da.src = s.node_a
          JOIN deg db ON db.src = s.node_b
WHERE NOT EXISTS (SELECT 1 FROM und u
                  WHERE u.subj = s.node_a AND u.obj = s.node_b)
"""

    # N-Triples serialization: the oracle rebuilds the exact statement
    # strings (the fixture terms need no percent-escaping — the escape
    # chain itself is pinned by golden pytest lines in test_rdf.py);
    # the roundtrip oracle is the co-occurrence relation itself, so the
    # hash certifies write→parse is lossless including the RDF-star
    # evidence_count re-attachment
    _nt_cooc = f"""
WITH {_TOKS_CTE},
m AS (SELECT DISTINCT t.doc_id, d.cui
      FROM tok t JOIN {_UNI_DICT_SQL} ON t.tok = d.name),
cooc AS (SELECT 'cui:' || a.cui AS subj, 'cooccurs_with' AS pred,
                'cui:' || b.cui AS obj, COUNT(*) AS n_docs
         FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.cui < b.cui
         GROUP BY 1, 2, 3)"""
    o["kg_ntriples_lines"] = f"""
{_nt_cooc}
SELECT '<urn:medcat:' || subj || '> <urn:medcat:' || pred
       || '> <urn:medcat:' || obj || '> .' AS line FROM cooc
UNION ALL
SELECT '<< <urn:medcat:' || subj || '> <urn:medcat:' || pred
       || '> <urn:medcat:' || obj || '> >> <urn:medcat:evidence_count> "'
       || n_docs || '"^^<http://www.w3.org/2001/XMLSchema#integer> .'
FROM cooc
"""
    o["kg_ntriples_roundtrip"] = f"""
{_nt_cooc}
SELECT subj, pred, obj, n_docs FROM cooc
"""
    # incremental == from-scratch: the additive-delta maintenance path
    # must land on exactly the full recompute
    o["kg_cooc_incremental"] = f"""
{_nt_cooc}
SELECT subj, pred, obj, n_docs FROM cooc
"""

    # synchronous LPA, 3 rounds unrolled: most frequent neighbor label,
    # ties to the smallest label — the deterministic variant
    _lpa_step = """
SELECT node, label FROM (
  SELECT e.dst AS node, l.label,
         ROW_NUMBER() OVER (PARTITION BY e.dst
                            ORDER BY COUNT(*) DESC, l.label) AS rn
  FROM e2 e JOIN {src} l ON l.node = e.src
  GROUP BY e.dst, l.label) t WHERE rn = 1"""
    o["kg_communities"] = f"""
{_sym_cte},
topk AS (SELECT src, dst FROM (
           SELECT src, dst,
                  ROW_NUMBER() OVER (PARTITION BY src
                                     ORDER BY w DESC, dst) AS rn
           FROM sym) t WHERE rn <= 2),
und AS (SELECT DISTINCT LEAST(src, dst) AS subj,
                        GREATEST(src, dst) AS obj FROM topk),
e2 AS (SELECT subj AS src, obj AS dst FROM und
       UNION ALL SELECT obj AS src, subj AS dst FROM und),
l0 AS (SELECT DISTINCT src AS node, src AS label FROM e2),
l1 AS ({_lpa_step.format(src="l0")}),
l2 AS ({_lpa_step.format(src="l1")}),
l3 AS ({_lpa_step.format(src="l2")})
SELECT node, label FROM l3
"""

    # personalized PageRank: 3 rounds unrolled; float literals CAST so
    # 1-0.85 is computed, not re-literalized (the pagerank precedent)
    _ppr_step = """
SELECT b.node,
       (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) * b.e
       + CAST(0.85 AS DOUBLE) * COALESCE(t.s, 0.0) AS pr
FROM base b LEFT JOIN (
    SELECT s.dst AS node, SUM(p.pr * s.w / d.wdeg) AS s
    FROM sym s JOIN {src} p ON s.src = p.node
         JOIN wdeg d ON s.src = d.src
    GROUP BY 1) t ON t.node = b.node"""
    o["kg_personalized_pagerank"] = f"""
{_sym_cte},
wdeg AS (SELECT src, SUM(w) AS wdeg FROM sym GROUP BY 1),
seed AS (SELECT MIN(subj) AS node FROM cooc),
base AS (SELECT w.src AS node,
                CASE WHEN w.src = s.node THEN 1.0 ELSE 0.0 END AS e
         FROM wdeg w CROSS JOIN seed s),
p0 AS (SELECT node, e AS pr FROM base),
p1 AS ({_ppr_step.format(src="p0")}),
p2 AS ({_ppr_step.format(src="p1")}),
p3 AS ({_ppr_step.format(src="p2")})
SELECT node, ROUND(pr, 6) AS pr FROM p3
"""

    # k-core: 4 synchronous peels unrolled (degree >= 2 on both ends)
    _peel = """
ed{n} AS (SELECT e.src, e.dst FROM ed{p} e
         JOIN (SELECT src FROM ed{p} GROUP BY src
               HAVING COUNT(*) >= 2) a ON a.src = e.src
         JOIN (SELECT src FROM ed{p} GROUP BY src
               HAVING COUNT(*) >= 2) b ON b.src = e.dst)"""
    o["kg_kcore"] = f"""
{_sym_cte},
ed0 AS (SELECT DISTINCT src, dst FROM sym),
{_peel.format(n=1, p=0)},
{_peel.format(n=2, p=1)},
{_peel.format(n=3, p=2)},
{_peel.format(n=4, p=3)}
SELECT src AS node, COUNT(*) AS core_degree FROM ed4 GROUP BY 1
"""

    # TransE: 2 training epochs unrolled — per-epoch CTEs compute the
    # per-dim differences, triple distances, hinge activations,
    # unit-direction gradients, per-entity sums, the update, and the
    # re-normalization; negatives are the deterministic next-entity
    # corruption.  Same lr/margin/md5-init as the engine.
    def _transe_epoch(k):
        e, en, r, rn = f"e{k}", f"e{k + 1}", f"r{k}", f"r{k + 1}"
        return f"""
dp{k} AS MATERIALIZED (SELECT tr.h, tr.t, tr.t_neg, eh.d,
               eh.x + rr.x - et.x AS dp,
               eh.x + rr.x - en_.x AS dn
        FROM trip tr
        JOIN {e} eh ON eh.name = tr.h
        JOIN {r} rr ON rr.d = eh.d
        JOIN {e} et ON et.name = tr.t AND et.d = eh.d
        JOIN {e} en_ ON en_.name = tr.t_neg AND en_.d = eh.d),
ds{k} AS MATERIALIZED (SELECT h, t, t_neg, SQRT(SUM(dp * dp)) AS distp,
                 SQRT(SUM(dn * dn)) AS distn
        FROM dp{k} GROUP BY 1, 2, 3),
g{k} AS MATERIALIZED (SELECT p.h, p.t, p.t_neg, p.d,
              CASE WHEN s.distp + 1.0 > s.distn THEN 1.0 ELSE 0.0 END
                * p.dp / GREATEST(s.distp, 1e-9) AS gp,
              CASE WHEN s.distp + 1.0 > s.distn THEN 1.0 ELSE 0.0 END
                * p.dn / GREATEST(s.distn, 1e-9) AS gn
       FROM dp{k} p JOIN ds{k} s
         ON p.h = s.h AND p.t = s.t AND p.t_neg = s.t_neg),
ge{k} AS MATERIALIZED (SELECT name, d, SUM(g) AS g FROM (
           SELECT h AS name, d, gp - gn AS g FROM g{k}
           UNION ALL SELECT t, d, -gp FROM g{k}
           UNION ALL SELECT t_neg, d, gn FROM g{k}) u GROUP BY 1, 2),
up{k} AS MATERIALIZED (SELECT e.name, e.d, e.x - 0.1 * COALESCE(g.g, 0.0) AS x
        FROM {e} e LEFT JOIN ge{k} g
          ON g.name = e.name AND g.d = e.d),
{en} AS MATERIALIZED (SELECT u.name, u.d,
               CASE WHEN n.nrm = 0 THEN u.x ELSE u.x / n.nrm END AS x
        FROM up{k} u JOIN (SELECT name, SQRT(SUM(x * x)) AS nrm
                           FROM up{k} GROUP BY 1) n
          ON n.name = u.name),
rg{k} AS MATERIALIZED (SELECT d, SUM(gp - gn) AS g FROM g{k} GROUP BY 1),
{rn} AS MATERIALIZED (SELECT r.d, r.x - 0.1 * COALESCE(g.g, 0.0) AS x
        FROM {r} r LEFT JOIN rg{k} g ON g.d = r.d)"""

    o["kg_transe_embeddings"] = f"""
{_sym_cte},
trip0 AS MATERIALIZED (SELECT subj AS h, obj AS t FROM cooc),
ents AS MATERIALIZED (SELECT DISTINCT h AS name FROM trip0
         UNION SELECT DISTINCT t FROM trip0),
ranked AS MATERIALIZED (SELECT name, ROW_NUMBER() OVER (ORDER BY name) AS rk
           FROM ents),
nent AS (SELECT COUNT(*) AS n FROM ents),
trip AS MATERIALIZED (SELECT t.h, t.t, r2.name AS t_neg
         FROM trip0 t JOIN ranked r1 ON r1.name = t.t
              CROSS JOIN nent
              JOIN ranked r2 ON r2.rk = (r1.rk % nent.n) + 1),
dims(d) AS (VALUES (0), (1), (2), (3)),
i0 AS MATERIALIZED (SELECT name, d,
              (CAST(('0x' || substr(md5('ent:' || name || ':' || d),
                                    1, 2)) AS BIGINT) % 15 - 7) / 7.0
                AS x
       FROM ents, dims),
e0 AS MATERIALIZED (SELECT u.name, u.d,
              CASE WHEN n.nrm = 0 THEN u.x ELSE u.x / n.nrm END AS x
       FROM i0 u JOIN (SELECT name, SQRT(SUM(x * x)) AS nrm
                       FROM i0 GROUP BY 1) n ON n.name = u.name),
r0 AS MATERIALIZED (SELECT d,
              (CAST(('0x' || substr(md5('rel:cooccurs_with:' || d),
                                    1, 2)) AS BIGINT) % 15 - 7) / 7.0
                AS x
       FROM dims),
{_transe_epoch(0)},
{_transe_epoch(1)}
SELECT 'entity' AS kind, name, CAST(d AS INT) AS d,
       ROUND(x, 6) AS val FROM e2
UNION ALL
SELECT 'relation', 'cooccurs_with', CAST(d AS INT), ROUND(x, 6) FROM r2
"""

    # FastRP: base matrix from md5 bits (identical in both engines),
    # two propagation rounds through w/wdeg, weighted sum 0.5/0.5
    _rp_step = """
SELECT n.dst AS node, e.d, SUM(n.p * e.x) AS x
FROM norm n JOIN {src} e ON e.node = n.src GROUP BY 1, 2"""
    o["kg_fastrp_embeddings"] = f"""
{_sym_cte},
wdeg AS (SELECT src, SUM(w) AS wdeg FROM sym GROUP BY 1),
norm AS (SELECT s.src, s.dst, CAST(s.w AS DOUBLE) / d.wdeg AS p
         FROM sym s JOIN wdeg d ON s.src = d.src),
nodes AS (SELECT DISTINCT src AS node FROM sym),
dims(d) AS (VALUES (0), (1), (2), (3), (4), (5), (6), (7)),
e0 AS (SELECT node, d,
              CASE (CAST(('0x' || substr(md5(node || ':' || d), 1, 2))
                         AS BIGINT) % 6)
                WHEN 0 THEN 1.0 WHEN 1 THEN -1.0 ELSE 0.0 END AS x
       FROM nodes, dims),
e1 AS ({_rp_step.format(src="e0")}),
e2 AS ({_rp_step.format(src="e1")})
SELECT e1.node, CAST(e1.d AS INT) AS d,
       ROUND(0.5 * e1.x + 0.5 * e2.x, 6) AS val
FROM e1 JOIN e2 ON e1.node = e2.node AND e1.d = e2.d
"""

    # link-prediction AUC: held-out slice gated by md5 hex % 4 == 0,
    # Adamic-Adar scores recomputed on the kept graph, ranking AUC
    o["kg_linkpred_auc"] = f"""
{_sym_cte},
topk AS (SELECT src, dst FROM (
           SELECT src, dst,
                  ROW_NUMBER() OVER (PARTITION BY src
                                     ORDER BY w DESC, dst) AS rn
           FROM sym) t WHERE rn <= 2),
und AS (SELECT DISTINCT LEAST(src, dst) AS subj,
                        GREATEST(src, dst) AS obj FROM topk),
gated AS (SELECT subj, obj,
                 CAST(('0x' || substr(md5(subj || '|' || obj), 1, 1))
                      AS BIGINT) % 4 = 0 AS held
          FROM und),
kept AS (SELECT subj, obj FROM gated WHERE NOT held),
held AS (SELECT subj AS node_a, obj AS node_b FROM gated WHERE held),
e2 AS (SELECT subj AS src, obj AS dst FROM kept
       UNION ALL SELECT obj AS src, subj AS dst FROM kept),
deg AS (SELECT src, COUNT(*) AS deg FROM e2 GROUP BY 1),
sc AS (SELECT a.dst AS node_a, b.dst AS node_b,
              SUM(1.0 / LN(d.deg)) AS aa
       FROM e2 a JOIN e2 b ON a.src = b.src AND a.dst < b.dst
            JOIN deg d ON d.src = a.src
       GROUP BY 1, 2),
cand AS (SELECT s.node_a, s.node_b, ROUND(s.aa, 6) AS aa FROM sc s
         WHERE NOT EXISTS (SELECT 1 FROM kept k
                           WHERE k.subj = s.node_a
                             AND k.obj = s.node_b)),
pos AS (SELECT aa AS sp FROM cand c
        JOIN held h ON h.node_a = c.node_a AND h.node_b = c.node_b),
neg AS (SELECT aa AS sn FROM cand c
        WHERE NOT EXISTS (SELECT 1 FROM held h
                          WHERE h.node_a = c.node_a
                            AND h.node_b = c.node_b)),
auc AS (SELECT ROUND(AVG(CASE WHEN sp > sn THEN 1.0
                              WHEN sp = sn THEN 0.5
                              ELSE 0.0 END), 6) AS auc
        FROM pos CROSS JOIN neg)
SELECT (SELECT COUNT(*) FROM pos) AS n_pos,
       (SELECT COUNT(*) FROM neg) AS n_neg,
       COALESCE((SELECT auc FROM auc), -1.0) AS auc
"""

    # monthly trend: the dense month series (0..5, absent months = 0)
    # and the closed-form OLS slope
    o["kg_cooc_trend"] = f"""
WITH {_TOKS_CTE},
mm AS (SELECT DISTINCT t.doc_id, d.cui,
                      CAST(t.doc_id AS BIGINT) % 6 AS m
      FROM tok t JOIN {_UNI_DICT_SQL} ON t.tok = d.name),
monthly AS (SELECT a.cui AS cui_a, b.cui AS cui_b, a.m,
                   COUNT(*) AS y
            FROM mm a JOIN mm b
              ON a.doc_id = b.doc_id AND a.m = b.m AND a.cui < b.cui
            GROUP BY 1, 2, 3),
pairs AS (SELECT DISTINCT cui_a, cui_b FROM monthly),
dense AS (SELECT p.cui_a, p.cui_b, g.m, COALESCE(mo.y, 0) AS y
          FROM pairs p CROSS JOIN generate_series(0, 5) g(m)
          LEFT JOIN monthly mo ON mo.cui_a = p.cui_a
            AND mo.cui_b = p.cui_b AND mo.m = g.m),
agg AS (SELECT cui_a, cui_b, COUNT(*) AS n, SUM(m) AS sx, SUM(y) AS sy,
               SUM(m * y) AS sxy, SUM(m * m) AS sxx
        FROM dense GROUP BY 1, 2)
SELECT 'cui:' || cui_a AS subj, 'cui:' || cui_b AS obj,
       CAST(sy AS BIGINT) AS total,
       ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
             / (n * sxx - sx * sx), 6) AS slope
FROM agg
"""

    # modularity over the same LPA labels: within-community edge
    # fraction minus squared community degree fractions (w = 1 on the
    # affinity graph)
    o["kg_modularity"] = f"""
{_sym_cte},
topk AS (SELECT src, dst FROM (
           SELECT src, dst,
                  ROW_NUMBER() OVER (PARTITION BY src
                                     ORDER BY w DESC, dst) AS rn
           FROM sym) t WHERE rn <= 2),
und AS (SELECT DISTINCT LEAST(src, dst) AS subj,
                        GREATEST(src, dst) AS obj FROM topk),
e2 AS (SELECT subj AS src, obj AS dst FROM und
       UNION ALL SELECT obj AS src, subj AS dst FROM und),
l0 AS (SELECT DISTINCT src AS node, src AS label FROM e2),
l1 AS ({_lpa_step.format(src="l0")}),
l2 AS ({_lpa_step.format(src="l1")}),
l3 AS ({_lpa_step.format(src="l2")}),
tagged AS (SELECT a.label AS ca, b.label AS cb
           FROM e2 JOIN l3 a ON a.node = e2.src
                JOIN l3 b ON b.node = e2.dst),
tm AS (SELECT CAST(COUNT(*) AS DOUBLE) AS two_m FROM tagged),
wi AS (SELECT CAST(COUNT(*) AS DOUBLE) AS w_in FROM tagged
       WHERE ca = cb),
dg AS (SELECT SUM(POWER(kc / tm.two_m, 2)) AS p
       FROM (SELECT ca, CAST(COUNT(*) AS DOUBLE) AS kc
             FROM tagged GROUP BY 1) t CROSS JOIN tm),
nc AS (SELECT COUNT(DISTINCT label) AS n_communities FROM l3)
SELECT nc.n_communities,
       ROUND(wi.w_in / tm.two_m - dg.p, 6) AS modularity
FROM nc CROSS JOIN wi CROSS JOIN tm CROSS JOIN dg
"""

    # noisy-OR fusion over the disambiguation similarities: both
    # engines fuse the SAME 6-dp-rounded sims, so the hash certifies
    # the evidence join + 1-exp(sum(ln(1-conf))) combiner itself
    o["kg_triple_belief"] = f"""
WITH ev AS ({demo.disamb_oracle_sql(_TOKS_CTE)}),
pd AS (SELECT doc_id, cui, MAX(GREATEST(sim, 0)) AS conf
       FROM ev GROUP BY 1, 2),
pr AS (SELECT a.cui AS cui_a, b.cui AS cui_b,
              LEAST(a.conf * b.conf, 0.999999) AS conf
       FROM pd a JOIN pd b ON a.doc_id = b.doc_id AND a.cui < b.cui)
SELECT 'cui:' || cui_a AS subj, 'co_occurs_with' AS pred,
       'cui:' || cui_b AS obj,
       COUNT(*) AS n_evidence,
       ROUND(1 - EXP(SUM(LN(1 - conf))), 6) AS belief,
       ROUND(-SUM(LN(1 - conf)), 6) AS neg_log_miss
FROM pr GROUP BY 1, 2, 3
"""

    # triangle census: the oracle enumerates each triangle once at its
    # name-ordered corner (the engine orients by (degree, name) — the
    # RESULT is orientation-independent); clustering = 2T/(d(d-1))
    o["kg_triangles"] = f"""
{_sym_cte},
und AS (SELECT subj AS a, obj AS b FROM cooc),
tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
        FROM und e1 JOIN und e2 ON e1.a = e2.a AND e1.b < e2.b
        JOIN und e3 ON e3.a = e1.b AND e3.b = e2.b),
tn AS (SELECT x AS node FROM tri UNION ALL
       SELECT y FROM tri UNION ALL
       SELECT z FROM tri),
tc AS (SELECT node, COUNT(*) AS n_triangles FROM tn GROUP BY 1),
deg AS (SELECT src AS node, COUNT(DISTINCT dst) AS degree
        FROM sym GROUP BY 1)
SELECT d.node, d.degree,
       COALESCE(tc.n_triangles, CAST(0 AS BIGINT)) AS n_triangles,
       ROUND(CASE WHEN d.degree >= 2
                  THEN CAST(2 AS DOUBLE)
                       * COALESCE(tc.n_triangles, CAST(0 AS BIGINT))
                       / (d.degree * (d.degree - 1))
                  ELSE CAST(0 AS DOUBLE) END, 6) AS clustering
FROM deg d LEFT JOIN tc ON d.node = tc.node
"""

    # bounded BFS as a RECURSIVE CTE (min hop distance from the
    # smallest subject) — same certification pattern as the
    # connected-components oracle
    o["kg_bfs_distances"] = _sym_cte.replace(
        "WITH ", "WITH RECURSIVE ", 1) + """,
seed AS (SELECT MIN(subj) AS node FROM cooc),
walk(node, dist) AS (
    SELECT node, 0 FROM seed
    UNION
    SELECT s.dst, w.dist + 1
    FROM walk w JOIN sym s ON s.src = w.node
    WHERE w.dist < 4
)
SELECT node, MIN(dist) AS dist FROM walk GROUP BY 1
"""

    # Iceberg round-trip: the engine writes spans to a real Iceberg v2
    # table and reads them back via metadata-planned scans; the oracle
    # computes the identical aggregate straight from the source table,
    # so any loss/duplication/corruption in the format layer mismatches.
    _ICE_SPANS_CTE = """
s AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id, 'text' AS kind,
             CAST(0 AS BIGINT) AS off FROM documents
      UNION ALL
      SELECT CAST(doc_id AS VARCHAR), 'image',
             CAST(length(text) + 1 AS BIGINT) FROM documents)
"""

    o["kg_iceberg_snapshot"] = f"""
WITH {_ICE_SPANS_CTE}
SELECT kind, COUNT(*) AS n_spans, COUNT(DISTINCT doc_id) AS n_docs,
       MIN(off) AS min_off, MAX(off) AS max_off
FROM s GROUP BY kind
"""

    o["kg_iceberg_time_travel"] = f"""
WITH {_ICE_SPANS_CTE}
SELECT kind, COUNT(*) AS n_spans, COUNT(DISTINCT doc_id) AS n_docs,
       MIN(off) AS min_off, MAX(off) AS max_off
FROM s WHERE CAST(doc_id AS BIGINT) % 2 = 0 GROUP BY kind
"""

    o["kg_iceberg_eq_delete"] = """
SELECT doc_id, lang, n_chars FROM documents
WHERE doc_id % 7 <> 0
UNION ALL
SELECT doc_id, lang, n_chars FROM documents
WHERE doc_id % 14 = 0
"""

    o["kg_iceberg_pos_delete"] = """
SELECT doc_id, lang, n_chars FROM documents
UNION ALL
SELECT doc_id, lang, n_chars FROM documents
WHERE doc_id % 5 <> 0
"""

    o["kg_iceberg_upsert"] = """
SELECT doc_id, lang, n_chars FROM documents WHERE doc_id % 10 <> 0
UNION ALL
SELECT doc_id, lang, n_chars + 1000 AS n_chars FROM documents
WHERE doc_id % 10 = 0
UNION ALL
SELECT doc_id + 1000000 AS doc_id, lang, n_chars FROM documents
WHERE doc_id < 3
"""

    o["kg_iceberg_incremental"] = """
SELECT doc_id, lang FROM documents WHERE doc_id >= 250
"""

    o["kg_iceberg_files_meta"] = """
SELECT lang, COUNT(*) AS n_rows FROM documents GROUP BY lang
"""

    # nested evolution: old-batch spans (doc_id < 250) were written
    # BEFORE span_lang existed (null) and with media_uri under its old
    # name media_ref (values must survive the rename); offsets were
    # int32 at write time and widen to long on read
    o["kg_iceberg_nested_evolution"] = """
SELECT CASE WHEN doc_id >= 250 THEN lang END AS span_lang,
       COUNT(*) AS n_spans,
       CAST(SUM(n_chars) AS BIGINT) AS sum_offset,
       COUNT(CASE WHEN doc_id % 2 = 0 THEN 1 END) AS n_media
FROM documents
GROUP BY 1
"""

    # write-audit-publish: after fast_forward the main branch is the
    # full corpus — any row lost or duplicated by branch commits or
    # the publish step mismatches here
    o["kg_iceberg_wap"] = """
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM documents GROUP BY lang
"""

    # CDC: deletes hit the pre-checkpoint rows with doc_id % 5 == 0
    # (the eq delete ran before the second append), inserts are the
    # appended batch
    o["kg_iceberg_changelog"] = """
SELECT 'DELETE' AS _change_type, COUNT(*) AS n,
       CAST(SUM(doc_id) AS BIGINT) AS sum_id
FROM documents WHERE doc_id < 250 AND doc_id % 5 = 0
UNION ALL
SELECT 'INSERT' AS _change_type, COUNT(*) AS n,
       CAST(SUM(doc_id) AS BIGINT) AS sum_id
FROM documents WHERE doc_id >= 250
"""

    o["cdb_names"] = f"""
WITH {_CDB_PREP_CTE}
SELECT name, cui,
       CASE WHEN MAX(CASE WHEN status = 'P' THEN 1 ELSE 0 END) = 1
            THEN 'P' ELSE arg_min(status, row_id) END AS status
FROM nm GROUP BY name, cui
"""

    o["pack_import_names"] = f"""
WITH {_CDB_PREP_CTE}
SELECT name, cui,
       CASE WHEN MAX(CASE WHEN status = 'P' THEN 1 ELSE 0 END) = 1
            THEN 'P' ELSE arg_min(status, row_id) END AS status
FROM nm GROUP BY name, cui
"""

    o["patient_concept_stream"] = f"""
WITH {_TOKS_CTE},
m AS (SELECT t.doc_id, d.cui FROM tokn t JOIN {_UNI_DICT_SQL}
      ON t.tok = d.name),
meta AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                'P' || CAST(doc_id % 40 AS VARCHAR) AS patient_id,
                CAST(doc_id % 1000 AS INT) AS ts,
                30 + CAST(FLOOR((doc_id % 1000) / 365.0) AS INT) AS age
         FROM documents),
per AS (SELECT patient_id, cui, COUNT(*) AS cnt, MIN(ts) AS first_ts,
               arg_min(age, ts) AS age
        FROM m JOIN meta USING (doc_id) GROUP BY 1, 2),
ord AS (SELECT *, CASE WHEN age > COALESCE(MAX(age) OVER (
                PARTITION BY patient_id ORDER BY first_ts, cui
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
            THEN [CAST(age AS VARCHAR), cui] ELSE [cui] END AS toks
        FROM per),
agg AS (SELECT patient_id, flatten(list(toks ORDER BY first_ts, cui)) AS arr
        FROM ord GROUP BY 1)
SELECT patient_id, array_to_string(arr, ' ') AS stream,
       CAST(len(arr) AS INT) AS n_tokens
FROM agg
"""

    o["cdb_snames"] = f"""
WITH {_CDB_PREP_CTE},
t AS (SELECT string_split(name, '~') AS toks FROM nm),
p AS (SELECT array_to_string(toks[1:i], '~') AS sname
      FROM t, (SELECT unnest(range(1, 9)) AS i) ii
      WHERE i <= len(toks))
SELECT DISTINCT sname FROM p
"""

    o["cdb_token_counts"] = f"""
WITH {_CDB_PREP_CTE},
t AS (SELECT row_id, name, unnest(string_split(name, '~')) AS token
      FROM (SELECT DISTINCT row_id, name FROM nm))
SELECT token, COUNT(*) AS cnt FROM t GROUP BY 1
"""

    o["cdb_subset_2hop"] = f"""
WITH {_CDB_PREP_CTE},
names AS (
  SELECT name, cui,
         CASE WHEN MAX(CASE WHEN status = 'P' THEN 1 ELSE 0 END) = 1
              THEN 'P' ELSE arg_min(status, row_id) END AS status
  FROM nm GROUP BY name, cui),
kept_names AS (SELECT DISTINCT name FROM names WHERE cui = 'X2')
SELECT n.name, n.cui, n.status
FROM names n JOIN kept_names k ON n.name = k.name
"""

    o["mct_consolidation"] = """
WITH d AS (SELECT CAST(doc_id AS BIGINT) AS did FROM documents),
a1 AS (
  SELECT 'P1' AS project_id, CAST(did AS VARCHAR) AS doc_id,
         CAST(did % 40 AS INT) AS start, CAST(did % 40 + 5 AS INT) AS "end",
         'C' || CAST(did % 7 AS VARCHAR) AS cui,
         (did % 11) <> 0 AS validated, FALSE AS killed, FALSE AS deleted
  FROM d
  UNION ALL
  SELECT 'P1', CAST(did AS VARCHAR), CAST(did % 40 + 10 AS INT),
         CAST(did % 40 + 15 AS INT), 'CB', TRUE, FALSE, FALSE
  FROM d WHERE (did % 5) <> 0),
a2 AS (
  SELECT 'P2' AS project_id, CAST(did AS VARCHAR) AS doc_id,
         CAST(did % 40 AS INT) AS start, CAST(did % 40 + 5 AS INT) AS "end",
         'C' || CAST(CASE WHEN did % 3 = 0 THEN (did + 1) % 7
                          ELSE did % 7 END AS VARCHAR) AS cui,
         TRUE AS validated, FALSE AS killed, FALSE AS deleted
  FROM d
  UNION ALL
  SELECT 'P2', CAST(did AS VARCHAR), CAST(did % 40 + 10 AS INT),
         CAST(did % 40 + 15 AS INT), 'CB', TRUE, FALSE, FALSE
  FROM d WHERE (did % 5) = 0),
agreed AS (
  SELECT a1.project_id, a1.doc_id, a1.start, a1."end", a1.cui
  FROM a1 JOIN a2 ON a1.doc_id = a2.doc_id AND a1.start = a2.start
                 AND a1."end" = a2."end"
  WHERE a1.validated AND a1.cui = a2.cui AND a1.validated = a2.validated
    AND a1.killed = a2.killed AND a1.deleted = a2.deleted),
only1 AS (
  SELECT a1.project_id, a1.doc_id, a1.start, a1."end", a1.cui
  FROM a1 WHERE a1.validated AND NOT EXISTS (
    SELECT 1 FROM a2 WHERE a2.doc_id = a1.doc_id AND a2.start = a1.start
                       AND a2."end" = a1."end")),
only2 AS (
  SELECT a2.project_id, a2.doc_id, a2.start, a2."end", a2.cui
  FROM a2 WHERE a2.validated AND NOT EXISTS (
    SELECT 1 FROM a1 WHERE a1.doc_id = a2.doc_id AND a1.start = a2.start
                       AND a1."end" = a2."end"))
SELECT * FROM agreed UNION ALL SELECT * FROM only1
UNION ALL SELECT * FROM only2
"""

    o["mc_train_test_split"] = """
WITH d AS (SELECT CAST(doc_id AS BIGINT) AS did FROM documents),
ann AS (
  SELECT CAST(did AS VARCHAR) AS doc_id,
         'C' || CAST(did % 13 AS VARCHAR) AS cui FROM d
  UNION ALL
  SELECT CAST(did AS VARCHAR), 'K' || CAST(did % 5 AS VARCHAR) FROM d),
per AS (SELECT doc_id, cui, COUNT(*) AS v FROM ann GROUP BY 1, 2),
tot AS (SELECT cui, SUM(v) AS cnt FROM per GROUP BY cui),
total AS (SELECT COUNT(*) AS total_anns FROM ann),
ranked AS (
  SELECT p.doc_id, p.cui, p.v, t.cnt, md5(p.doc_id) AS rank
  FROM per p JOIN tot t ON t.cui = p.cui),
elig AS (
  SELECT doc_id, rank, cui, v, cnt,
         COALESCE(SUM(v) OVER (PARTITION BY cui ORDER BY rank, doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS cum_before
  FROM ranked),
docs AS (
  SELECT doc_id, rank,
         MAX(CASE WHEN cnt >= 10
                   AND (cum_before + v) * 1.0 / cnt < 0.3
                  THEN 1 ELSE 0 END) = 1 AS candidate,
         SUM(v) AS doc_anns
  FROM elig GROUP BY doc_id, rank),
flagged AS (
  SELECT doc_id, candidate, doc_anns,
         COALESCE(SUM(CASE WHEN candidate THEN doc_anns END)
                  OVER (ORDER BY rank, doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS cum_test
  FROM docs)
SELECT doc_id,
       CASE WHEN candidate
             AND cum_test < 0.2 * (SELECT total_anns FROM total)
            THEN 'test' ELSE 'train' END AS split
FROM flagged
"""

    o["deid_rule_merge"] = """
WITH RECURSIVE d AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, CAST(doc_id AS BIGINT) AS did,
         text FROM documents),
model AS (
  SELECT doc_id, CAST(did % 40 AS INT) AS start,
         CAST(did % 40 + 5 AS INT) AS "end", 'CM' AS cui FROM d),
occ(doc_id, pos, text) AS (
  SELECT doc_id, CAST(POSITION('the' IN text) - 1 AS INT), text
  FROM d WHERE POSITION('the' IN text) > 0
  UNION ALL
  SELECT doc_id,
         CAST(pos + 3 + POSITION('the' IN substr(text, pos + 4)) - 1
              AS INT), text
  FROM occ WHERE POSITION('the' IN substr(text, pos + 4)) > 0),
rules AS (
  SELECT doc_id, pos AS start, CAST(pos + 3 AS INT) AS "end",
         'CRULE' AS cui FROM occ),
kept_rules AS (
  SELECT r.* FROM rules r WHERE NOT EXISTS (
    SELECT 1 FROM model m
    WHERE m.doc_id = r.doc_id AND r.start < m."end"
      AND m.start < r."end"))
SELECT DISTINCT doc_id, start, "end", cui FROM (
  SELECT * FROM model UNION ALL SELECT * FROM kept_rules)
"""

    o["pr_stats_per_cui"] = f"""
WITH {_TOKS_CTE},
pos AS (
  SELECT doc_id, tok, pos,
         COALESCE(SUM(length(tok) + 1) OVER (
             PARTITION BY doc_id ORDER BY pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
  FROM tok),
pred AS (SELECT DISTINCT p.doc_id, CAST(p.start AS INT) AS start, d.cui
         FROM pos p JOIN {_UNI_DICT_SQL} ON p.tok = d.name),
gold AS (SELECT * FROM pred
         WHERE CAST(doc_id AS BIGINT) % 2 = 0 AND cui <> 'D001'),
conf AS (
  SELECT cui,
         SUM(CASE WHEN g THEN 1 ELSE 0 END) AS tp,
         SUM(CASE WHEN g THEN 0 ELSE 1 END) AS fp, 0 AS fn
  FROM (SELECT p.cui, EXISTS(SELECT 1 FROM gold g WHERE g.doc_id = p.doc_id
            AND g.start = p.start AND g.cui = p.cui) AS g FROM pred p)
  GROUP BY cui
  UNION ALL
  SELECT cui, 0, 0, COUNT(*) FROM gold g
  WHERE NOT EXISTS (SELECT 1 FROM pred p WHERE g.doc_id = p.doc_id
        AND g.start = p.start AND g.cui = p.cui)
  GROUP BY cui),
agg AS (SELECT cui, CAST(SUM(tp) AS BIGINT) tp, CAST(SUM(fp) AS BIGINT) fp,
               CAST(SUM(fn) AS BIGINT) fn FROM conf GROUP BY cui)
SELECT cui, tp, fp, fn,
  ROUND(tp / GREATEST(tp + fp, 1), 6) AS precision,
  ROUND(tp / GREATEST(tp + fn, 1), 6) AS recall,
  CASE WHEN (tp / GREATEST(tp+fp,1)) + (tp / GREATEST(tp+fn,1)) > 0
       THEN ROUND(2 * (tp / GREATEST(tp+fp,1)) * (tp / GREATEST(tp+fn,1)) /
            ((tp / GREATEST(tp+fp,1)) + (tp / GREATEST(tp+fn,1))), 6)
       ELSE 0.0 END AS f1
FROM agg
"""

    o["kg_rel_near"] = f"""
WITH {_TOKS_CTE},
m AS (SELECT t.doc_id, t.pos, d.cui
      FROM tok t JOIN {_UNI_DICT_SQL} ON t.tok = d.name)
SELECT 'cui:' || a.cui AS subj, 'near' AS pred, 'cui:' || b.cui AS obj,
       COUNT(*) AS n_pairs
FROM m a JOIN m b ON a.doc_id = b.doc_id
WHERE a.pos < b.pos AND b.pos - a.pos <= 3
GROUP BY 1, 2, 3
"""

    o["dedup_exact_groups"] = """
SELECT CAST(doc_id AS VARCHAR) AS doc_id, md5(text) AS fp,
       COUNT(*) OVER (PARTITION BY md5(text)) AS group_size,
       ROW_NUMBER() OVER (PARTITION BY md5(text)
                          ORDER BY CAST(doc_id AS VARCHAR)) AS dup_rank
FROM documents
"""

    _SHINGLES = """
sh AS (
  SELECT DISTINCT doc_id,
         array_to_string(arr[i:i+2], ' ') AS shingle
  FROM (SELECT doc_id, string_split(text, ' ') AS arr FROM documents),
       (SELECT unnest(range(1, 2000)) AS i) ii
  WHERE i <= len(arr) - 2)
"""

    o["dedup_minhash_sig"] = f"""
WITH {_SHINGLES}
SELECT doc_id,
       MIN(md5('0:' || shingle)) AS h0, MIN(md5('1:' || shingle)) AS h1,
       MIN(md5('2:' || shingle)) AS h2, MIN(md5('3:' || shingle)) AS h3
FROM sh GROUP BY doc_id
"""

    o["dedup_lsh_pairs"] = f"""
WITH {_SHINGLES},
sig AS (
  SELECT doc_id,
         MIN(md5('0:' || shingle)) AS h0, MIN(md5('1:' || shingle)) AS h1,
         MIN(md5('2:' || shingle)) AS h2, MIN(md5('3:' || shingle)) AS h3
  FROM sh GROUP BY doc_id),
bk AS (
  SELECT doc_id, 0 AS band, md5(h0 || h1) AS bucket FROM sig
  UNION ALL
  SELECT doc_id, 1 AS band, md5(h2 || h3) AS bucket FROM sig)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.band
FROM bk a JOIN bk b ON a.band = b.band AND a.bucket = b.bucket
WHERE a.doc_id < b.doc_id
"""

    o["dedup_jaccard_pairs"] = f"""
WITH {_SHINGLES},
shs AS (SELECT s.doc_id, s.shingle, d.source
        FROM sh s JOIN documents d ON s.doc_id = d.doc_id),
sizes AS (SELECT doc_id, COUNT(*) AS size FROM shs GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
  FROM shs a JOIN shs b
    ON a.shingle = b.shingle AND a.source = b.source
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT i.doc_a, i.doc_b, i.inter, sa.size AS size_a, sb.size AS size_b,
       ROUND(i.inter * 1.0 / (sa.size + sb.size - i.inter), 6) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE i.inter * 1.0 / (sa.size + sb.size - i.inter) >= 0.2
"""

    o["dedup_simhash"] = """
WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
           FROM documents),
h AS (SELECT doc_id,
             CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) AS hv FROM t),
bits AS (SELECT doc_id, b.b,
                SUM(CASE WHEN (hv >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS v
         FROM h, (SELECT unnest(range(0, 32)) AS b) b
         GROUP BY 1, 2)
SELECT doc_id,
       CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)
            AS BIGINT) AS simhash
FROM bits GROUP BY doc_id
"""

    o["dedup_components"] = f"""
WITH RECURSIVE {_SHINGLES},
sig AS (
  SELECT doc_id,
         MIN(md5('0:' || shingle)) AS h0, MIN(md5('1:' || shingle)) AS h1,
         MIN(md5('2:' || shingle)) AS h2, MIN(md5('3:' || shingle)) AS h3
  FROM sh GROUP BY doc_id),
bk AS (
  SELECT doc_id, 0 AS band, md5(h0 || h1) AS bucket FROM sig
  UNION ALL
  SELECT doc_id, 1 AS band, md5(h2 || h3) AS bucket FROM sig),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bk a JOIN bk b ON a.band = b.band AND a.bucket = b.bucket
  WHERE a.doc_id < b.doc_id),
sizes AS (SELECT doc_id, COUNT(*) AS size FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS inter
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.doc_a
  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
  GROUP BY 1, 2),
ver AS (
  SELECT i.doc_a, i.doc_b FROM inter i
  JOIN sizes x ON x.doc_id = i.doc_a
  JOIN sizes y ON y.doc_id = i.doc_b
  WHERE i.inter * 1.0 / (x.size + y.size - i.inter) >= 0.2),
edges AS (SELECT doc_a AS u, doc_b AS v FROM ver
          UNION SELECT doc_b, doc_a FROM ver),
reach(node, label) AS (
  SELECT u, u FROM edges
  UNION
  SELECT e.v, r.label FROM reach r JOIN edges e ON e.u = r.node),
comp AS (SELECT node AS doc_id, MIN(label) AS component
         FROM reach GROUP BY node),
lab AS (SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS cluster_id
        FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id)
SELECT doc_id, cluster_id,
       COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size,
       doc_id = cluster_id AS is_keeper
FROM lab
"""

    o["dedup_incremental_assign"] = f"""
WITH RECURSIVE {_SHINGLES},
mem AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id,
               (CAST(doc_id AS BIGINT) % 10 = 0) AS is_new
        FROM documents),
shm AS (SELECT CAST(s.doc_id AS VARCHAR) AS doc_id, s.shingle, m.is_new
        FROM sh s JOIN mem m ON CAST(s.doc_id AS VARCHAR) = m.doc_id),
sizes AS (SELECT doc_id, is_new, COUNT(*) AS size
          FROM shm GROUP BY doc_id, is_new),
sig AS (
  SELECT doc_id, is_new,
         MIN(md5('0:' || shingle)) AS h0, MIN(md5('1:' || shingle)) AS h1,
         MIN(md5('2:' || shingle)) AS h2, MIN(md5('3:' || shingle)) AS h3
  FROM shm GROUP BY doc_id, is_new),
bk AS (
  SELECT doc_id, is_new, 0 AS band, md5(h0 || h1) AS bucket FROM sig
  UNION ALL
  SELECT doc_id, is_new, 1 AS band, md5(h2 || h3) AS bucket FROM sig),
-- corpus clustering (corpus docs only)
ccand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bk a JOIN bk b ON a.band = b.band AND a.bucket = b.bucket
  WHERE NOT a.is_new AND NOT b.is_new AND a.doc_id < b.doc_id),
cinter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS inter
  FROM ccand c
  JOIN shm sa ON sa.doc_id = c.doc_a
  JOIN shm sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
  GROUP BY 1, 2),
cver AS (
  SELECT i.doc_a, i.doc_b FROM cinter i
  JOIN sizes x ON x.doc_id = i.doc_a
  JOIN sizes y ON y.doc_id = i.doc_b
  WHERE i.inter * 1.0 / (x.size + y.size - i.inter) >= 0.2),
edges AS (SELECT doc_a AS u, doc_b AS v FROM cver
          UNION SELECT doc_b, doc_a FROM cver),
reach(node, label) AS (
  SELECT u, u FROM edges
  UNION
  SELECT e.v, r.label FROM reach r JOIN edges e ON e.u = r.node),
comp AS (SELECT node AS doc_id, MIN(label) AS component
         FROM reach GROUP BY node),
clus AS (SELECT m.doc_id, COALESCE(c.component, m.doc_id) AS cluster_id
         FROM mem m LEFT JOIN comp c ON c.doc_id = m.doc_id
         WHERE NOT m.is_new),
-- new-batch probe
ncand AS (
  SELECT DISTINCT n.doc_id AS doc_a, o.doc_id AS doc_b
  FROM bk n JOIN bk o ON n.band = o.band AND n.bucket = o.bucket
  WHERE n.is_new AND NOT o.is_new),
ninter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS inter
  FROM ncand c
  JOIN shm sa ON sa.doc_id = c.doc_a
  JOIN shm sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
  GROUP BY 1, 2),
nver AS (
  SELECT i.doc_a, i.doc_b FROM ninter i
  JOIN sizes x ON x.doc_id = i.doc_a
  JOIN sizes y ON y.doc_id = i.doc_b
  WHERE i.inter * 1.0 / (x.size + y.size - i.inter) >= 0.2),
adopted AS (
  SELECT v.doc_a AS doc_id, MIN(c.cluster_id) AS cluster_id
  FROM nver v JOIN clus c ON c.doc_id = v.doc_b
  GROUP BY 1)
SELECT m.doc_id, COALESCE(a.cluster_id, m.doc_id) AS cluster_id,
       a.cluster_id IS NULL AS is_new_cluster
FROM mem m LEFT JOIN adopted a ON a.doc_id = m.doc_id
WHERE m.is_new
"""

    o["text_quality"] = """
WITH q AS (SELECT doc_id, text, string_split(text, ' ') AS arr
           FROM documents)
SELECT doc_id,
  len(arr) AS n_tokens,
  len(list_distinct(arr)) AS n_types,
  ROUND(len(list_distinct(arr)) * 1.0 / len(arr), 6) AS type_token_ratio,
  ROUND(len(list_filter(arr, t -> t IN ('the','a','and','of','to','in')))
        * 1.0 / len(arr), 6) AS stopword_ratio,
  ROUND(list_aggregate(list_transform(arr, t -> length(t)), 'sum')
        * 1.0 / len(arr), 6) AS avg_token_len,
  ROUND(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g'))
        * 1.0 / length(text), 6) AS punct_ratio
FROM q
"""

    o["token_count"] = """
WITH q AS (SELECT doc_id, string_split(text, ' ') AS arr FROM documents)
SELECT doc_id, len(arr) AS ws_tokens,
       CAST(list_aggregate(list_transform(arr,
            t -> CAST(ceil(length(t) / 4.0) AS INT)), 'sum') AS INT)
       AS bpe_tokens
FROM q
"""

    o["lang_id"] = """
WITH q AS (SELECT doc_id, string_split(text, ' ') AS arr FROM documents),
h AS (SELECT doc_id,
  len(list_filter(arr, t -> t IN ('der','die','das','und','ist','ein','zu','den'))) AS h_de,
  len(list_filter(arr, t -> t IN ('the','a','and','of','to','in','is','it'))) AS h_en,
  len(list_filter(arr, t -> t IN ('el','la','de','que','y','en','un','es'))) AS h_es,
  len(list_filter(arr, t -> t IN ('le','la','de','et','un','une','est','les'))) AS h_fr
  FROM q)
SELECT doc_id,
  CASE WHEN GREATEST(h_de, h_en, h_es, h_fr) = 0 THEN 'und'
       WHEN h_de >= h_en AND h_de >= h_es AND h_de >= h_fr THEN 'de'
       WHEN h_en >= h_es AND h_en >= h_fr THEN 'en'
       WHEN h_es >= h_fr THEN 'es' ELSE 'fr' END AS lang_pred,
  GREATEST(h_de, h_en, h_es, h_fr) AS hits
FROM h
"""

    o["doc_fingerprint"] = """
SELECT doc_id, md5(text) AS fp_exact,
       md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))),
           ' ')) AS fp_bag
FROM documents
"""

    o["text_gopher_quality"] = """
WITH rep0 AS (SELECT doc_id,
  CASE WHEN doc_id % 5 = 0
       THEN text || ' ' || array_to_string(string_split(text, ' ')[1:15], ' ')
       ELSE text END AS text
  FROM documents),
toks0 AS (SELECT doc_id, string_split(text, ' ') AS a0 FROM rep0),
rejoin AS (SELECT doc_id,
  array_to_string(list_transform(range(0, CAST(ceil(len(a0)/10.0) AS INT)),
    c -> array_to_string(a0[c*10+1 : c*10+10], ' ')), chr(10)) AS text
  FROM toks0),
base AS (SELECT doc_id, text,
  string_split(text, ' ') AS arr,
  string_split(text, chr(10)) AS lines,
  string_split(text, chr(10) || chr(10)) AS paras,
  length(text) AS n_chars
  FROM rejoin),
wl AS (SELECT doc_id, text, n_chars, arr,
  len(arr) AS n_words,
  ROUND(list_aggregate(list_transform(arr, t -> length(t)), 'sum') * 1.0
        / len(arr), 6) AS mean_word_len,
  ROUND(len(list_filter(arr, t -> regexp_matches(t, '[A-Za-z]'))) * 1.0
        / len(arr), 6) AS frac_alpha_words,
  len(list_filter(arr, t -> t IN
      ('the','be','to','of','and','that','have','with'))) AS n_stopwords,
  ROUND(((length(text) - length(replace(text, '#', '')))
         + (length(text) - length(replace(text, '...', ''))) / 3) * 1.0
        / len(arr), 6) AS symbol_word_ratio,
  ROUND(len(list_filter(lines, l -> starts_with(l, '- ')
        OR starts_with(l, '* ') OR starts_with(l, chr(8226)))) * 1.0
        / len(lines), 6) AS frac_bullet_lines,
  ROUND(len(list_filter(lines, l -> l LIKE '%...'
        OR l LIKE '%' || chr(8230))) * 1.0 / len(lines), 6)
        AS frac_ellipsis_lines,
  ROUND((len(lines) - len(list_distinct(lines))) * 1.0 / len(lines), 6)
        AS dup_line_frac,
  ROUND(CASE WHEN list_aggregate(list_transform(lines, l -> length(l)),
                                 'sum') > 0
    THEN (list_aggregate(list_transform(lines, l -> length(l)), 'sum')
          - list_aggregate(list_transform(list_distinct(lines),
                                          l -> length(l)), 'sum')) * 1.0
         / list_aggregate(list_transform(lines, l -> length(l)), 'sum')
    ELSE 0 END, 6) AS dup_line_char_frac,
  ROUND((len(paras) - len(list_distinct(paras))) * 1.0 / len(paras), 6)
        AS dup_para_frac,
  ROUND(CASE WHEN list_aggregate(list_transform(paras, p -> length(p)),
                                 'sum') > 0
    THEN (list_aggregate(list_transform(paras, p -> length(p)), 'sum')
          - list_aggregate(list_transform(list_distinct(paras),
                                          p -> length(p)), 'sum')) * 1.0
         / list_aggregate(list_transform(paras, p -> length(p)), 'sum')
    ELSE 0 END, 6) AS dup_para_char_frac
  FROM base),
ng2i AS (SELECT doc_id, n_chars, arr, unnest(range(1, len(arr))) AS i
         FROM base),
ng2 AS (SELECT doc_id, n_chars, arr[i] || ' ' || arr[i+1] AS g FROM ng2i),
ng2c AS (SELECT doc_id, n_chars, g, COUNT(*) AS cnt FROM ng2 GROUP BY 1,2,3),
ng2r AS (SELECT doc_id, cnt * length(g) AS top_chars,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY cnt DESC, g DESC)
             AS rk
         FROM ng2c),
top2 AS (SELECT doc_id, top_chars FROM ng2r WHERE rk = 1),
ng5i AS (SELECT doc_id, n_chars, arr, unnest(range(1, len(arr) - 3)) AS i
         FROM base WHERE len(arr) >= 5),
ng5 AS (SELECT doc_id, n_chars, array_to_string(arr[i : i+4], ' ') AS g
        FROM ng5i),
ng5c AS (SELECT doc_id, n_chars, g, COUNT(*) AS cnt FROM ng5 GROUP BY 1,2,3),
dup5 AS (SELECT doc_id,
         SUM(CASE WHEN cnt > 1 THEN cnt * length(g) ELSE 0 END) AS dup_chars
         FROM ng5c GROUP BY doc_id),
m AS (SELECT wl.*,
  ROUND(COALESCE(top2.top_chars, 0) * 1.0 / wl.n_chars, 6)
      AS top_2gram_char_frac,
  ROUND(COALESCE(dup5.dup_chars, 0) * 1.0 / wl.n_chars, 6)
      AS dup_5gram_char_frac
  FROM wl LEFT JOIN top2 USING (doc_id) LEFT JOIN dup5 USING (doc_id))
SELECT doc_id, n_words, mean_word_len, frac_alpha_words, n_stopwords,
  symbol_word_ratio, frac_bullet_lines, frac_ellipsis_lines,
  dup_line_frac, dup_line_char_frac, dup_para_frac, dup_para_char_frac,
  top_2gram_char_frac, dup_5gram_char_frac,
  CAST(n_words >= 20 AND n_words <= 100000
   AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
   AND symbol_word_ratio <= 0.1
   AND frac_bullet_lines <= 0.9 AND frac_ellipsis_lines <= 0.3
   AND frac_alpha_words >= 0.8 AND n_stopwords >= 2
   AND dup_line_frac <= 0.3 AND dup_para_frac <= 0.3
   AND dup_line_char_frac <= 0.2 AND dup_para_char_frac <= 0.2
   AND top_2gram_char_frac <= 0.2 AND dup_5gram_char_frac <= 0.15 AS INT)
   AS gopher_pass
FROM m
"""

    _COS = """
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
ex AS (SELECT vec_id, unnest(CAST(embedding AS DOUBLE[])) AS x,
              generate_subscripts(embedding, 1) AS i FROM embeddings),
qx AS (SELECT unnest(CAST(qv AS DOUBLE[])) AS y,
              generate_subscripts(qv, 1) AS i FROM q),
dot AS (SELECT e.vec_id, SUM(e.x * qx.y) AS d, SUM(e.x * e.x) AS na,
               SUM(qx.y * qx.y) AS nb
        FROM ex e JOIN qx ON e.i = qx.i GROUP BY e.vec_id),
sims AS (SELECT vec_id, ROUND(d / (sqrt(na) * sqrt(nb)), 6) AS sim FROM dot)
"""

    o["ann_cosine_topk"] = f"""
WITH {_COS}
SELECT vec_id, sim FROM sims ORDER BY sim DESC, vec_id LIMIT 20
"""

    # PQ ADC: re-encode every vector in SQL (per-subspace argmin over
    # the literal codebooks, distances rounded 6 dp, lowest j on ties)
    # and rebuild the query's lookup table from the SAME distance
    # relation at vec_id = 0 — the full encode+score chain recomputed
    _pq_cb = _pq_fixed_codebooks()
    _pq_rows = ",".join(
        f"({s},{j},{di + 1},{float(_pq_cb[s, j, di])!r})"
        for s in range(4) for j in range(8) for di in range(16))
    o["ann_pq_topk"] = f"""
WITH cb(s, j, di, val) AS (VALUES {_pq_rows}),
e AS (SELECT vec_id, embedding[g.i] AS x, g.i
      FROM embeddings, generate_series(1, 64) g(i)),
sub AS (SELECT vec_id, (i - 1) // 16 AS s, ((i - 1) % 16) + 1 AS di,
               CAST(x AS DOUBLE) AS x
        FROM e),
d AS (SELECT v.vec_id, c.s, c.j,
             ROUND(SUM((v.x - c.val) * (v.x - c.val)), 6) AS dist
      FROM sub v JOIN cb c ON c.s = v.s AND c.di = v.di
      GROUP BY 1, 2, 3),
code AS (SELECT vec_id, s, j FROM (
           SELECT vec_id, s, j,
                  ROW_NUMBER() OVER (PARTITION BY vec_id, s
                                     ORDER BY dist, j) AS rn
           FROM d) t WHERE rn = 1),
lut AS (SELECT s, j, dist FROM d WHERE vec_id = 0)
SELECT c.vec_id, ROUND(SUM(l.dist), 6) AS pq_dist
FROM code c JOIN lut l ON l.s = c.s AND l.j = c.j
GROUP BY c.vec_id
ORDER BY pq_dist, c.vec_id LIMIT 20
"""

    o["ann_lsh_topk"] = f"""
WITH {_COS},
qb AS (SELECT
    (CASE WHEN qv[1] >= 0 THEN '1' ELSE '0' END) ||
    (CASE WHEN qv[2] >= 0 THEN '1' ELSE '0' END) ||
    (CASE WHEN qv[3] >= 0 THEN '1' ELSE '0' END) ||
    (CASE WHEN qv[4] >= 0 THEN '1' ELSE '0' END) AS b FROM q),
eb AS (SELECT vec_id,
    (CASE WHEN embedding[1] >= 0 THEN '1' ELSE '0' END) ||
    (CASE WHEN embedding[2] >= 0 THEN '1' ELSE '0' END) ||
    (CASE WHEN embedding[3] >= 0 THEN '1' ELSE '0' END) ||
    (CASE WHEN embedding[4] >= 0 THEN '1' ELSE '0' END) AS b FROM embeddings)
SELECT s.vec_id, s.sim
FROM sims s JOIN eb ON s.vec_id = eb.vec_id JOIN qb ON eb.b = qb.b
ORDER BY s.sim DESC, s.vec_id LIMIT 20
"""

    _HAM = ("((CASE WHEN substr(a.b,1,1) = substr(b.b,1,1) THEN 0 ELSE 1 END) +"
            " (CASE WHEN substr(a.b,2,1) = substr(b.b,2,1) THEN 0 ELSE 1 END) +"
            " (CASE WHEN substr(a.b,3,1) = substr(b.b,3,1) THEN 0 ELSE 1 END) +"
            " (CASE WHEN substr(a.b,4,1) = substr(b.b,4,1) THEN 0 ELSE 1 END))")
    _EB = """eb AS (SELECT vec_id,
    (CASE WHEN embedding[1] >= 0 THEN '1' ELSE '0' END) ||
    (CASE WHEN embedding[2] >= 0 THEN '1' ELSE '0' END) ||
    (CASE WHEN embedding[3] >= 0 THEN '1' ELSE '0' END) ||
    (CASE WHEN embedding[4] >= 0 THEN '1' ELSE '0' END) AS b FROM embeddings)"""

    o["ann_lsh_multiprobe"] = f"""
WITH {_COS},
{_EB},
qb AS (SELECT
    (CASE WHEN qv[1] >= 0 THEN '1' ELSE '0' END) ||
    (CASE WHEN qv[2] >= 0 THEN '1' ELSE '0' END) ||
    (CASE WHEN qv[3] >= 0 THEN '1' ELSE '0' END) ||
    (CASE WHEN qv[4] >= 0 THEN '1' ELSE '0' END) AS b FROM q)
SELECT s.vec_id, s.sim
FROM sims s JOIN eb a ON s.vec_id = a.vec_id
JOIN qb b ON {_HAM} <= 1
ORDER BY s.sim DESC, s.vec_id LIMIT 20
"""

    _cen_rows = ",".join(
        f"({cid},{i + 1},{float(c)!r})"
        for cid, row in enumerate(_ivf_fixed_centroids())
        for i, c in enumerate(row))
    o["ann_ivf_topk"] = f"""
WITH {_COS},
cen(cid, i, c) AS (VALUES {_cen_rows}),
qx2 AS (SELECT unnest(CAST(qv AS DOUBLE[])) AS y,
               generate_subscripts(qv, 1) AS i FROM q),
qd AS (SELECT cid, ROUND(SUM((qx2.y - c) * (qx2.y - c)), 9) AS dist
       FROM cen JOIN qx2 USING (i) GROUP BY cid),
probes AS (SELECT cid FROM (
    SELECT cid, row_number() OVER (ORDER BY dist, cid) AS rn FROM qd)
    WHERE rn <= 2),
ed AS (SELECT e.vec_id, cen.cid,
              ROUND(SUM((e.x - cen.c) * (e.x - cen.c)), 9) AS dist
       FROM ex e JOIN cen ON cen.i = e.i GROUP BY 1, 2),
assign AS (SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY dist, cid) AS rn FROM ed)
    WHERE rn = 1),
cand AS (SELECT a.vec_id FROM assign a JOIN probes p USING (cid))
SELECT s.vec_id, s.sim FROM sims s JOIN cand USING (vec_id)
ORDER BY s.sim DESC, s.vec_id LIMIT 20
"""

    # the materialized-layout probe computes the same assignment at write
    # time, so its oracle is identical
    o["ann_ivf_pruned"] = o["ann_ivf_topk"]

    # IVF-PQ: the IVF probe/assign CTEs select the candidates, then the
    # PQ encode + query-LUT relations score them — both stages fully
    # recomputed in SQL over the literal centroids and codebooks
    o["ann_ivfpq_topk"] = f"""
WITH {_COS},
cen(cid, i, c) AS (VALUES {_cen_rows}),
cb(s, j, di, val) AS (VALUES {_pq_rows}),
qd AS (SELECT cid, ROUND(SUM((qx.y - c) * (qx.y - c)), 9) AS dist
       FROM cen JOIN qx USING (i) GROUP BY cid),
probes AS (SELECT cid FROM (
    SELECT cid, row_number() OVER (ORDER BY dist, cid) AS rn FROM qd)
    WHERE rn <= 2),
ed AS (SELECT e.vec_id, cen.cid,
              ROUND(SUM((e.x - cen.c) * (e.x - cen.c)), 9) AS dist
       FROM ex e JOIN cen ON cen.i = e.i GROUP BY 1, 2),
assign AS (SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY dist, cid) AS rn FROM ed)
    WHERE rn = 1),
cand AS (SELECT a.vec_id FROM assign a JOIN probes p USING (cid)),
sub AS (SELECT e.vec_id, (e.i - 1) // 16 AS s, ((e.i - 1) % 16) + 1 AS di,
               e.x
        FROM ex e JOIN cand USING (vec_id)),
d2 AS (SELECT v.vec_id, c.s, c.j,
              ROUND(SUM((v.x - c.val) * (v.x - c.val)), 6) AS dist
       FROM sub v JOIN cb c ON c.s = v.s AND c.di = v.di
       GROUP BY 1, 2, 3),
code AS (SELECT vec_id, s, j FROM (
           SELECT vec_id, s, j,
                  ROW_NUMBER() OVER (PARTITION BY vec_id, s
                                     ORDER BY dist, j) AS rn
           FROM d2) t WHERE rn = 1),
qsub AS (SELECT (i - 1) // 16 AS s, ((i - 1) % 16) + 1 AS di, y FROM qx),
lut AS (SELECT c.s, c.j,
               ROUND(SUM((qs.y - c.val) * (qs.y - c.val)), 6) AS dist
        FROM qsub qs JOIN cb c ON c.s = qs.s AND c.di = qs.di
        GROUP BY 1, 2)
SELECT c.vec_id, ROUND(SUM(l.dist), 6) AS pq_dist
FROM code c JOIN lut l ON l.s = c.s AND l.j = c.j
GROUP BY c.vec_id
ORDER BY pq_dist, c.vec_id LIMIT 20
"""

    o["dsir_scores"] = """
WITH raw AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
grams_raw AS (
  SELECT doc_id, g FROM (SELECT doc_id, unnest(a) AS g FROM raw)
  UNION ALL
  SELECT doc_id, a[i] || ' ' || a[i+1] AS g
  FROM (SELECT doc_id, a, unnest(range(1, len(a))) AS i FROM raw)
),
rf AS (SELECT doc_id,
       CAST(CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT) % 1024 AS INT)
           AS bucket
       FROM grams_raw),
tf AS (SELECT * FROM rf WHERE doc_id % 17 = 0),
buckets AS (SELECT CAST(unnest(range(0, 1024)) AS INT) AS bucket),
pr AS (SELECT b.bucket,
       ln((COALESCE(c.cnt, 0) + 1.0) / (t.total + 1024.0)) AS logp_raw
       FROM buckets b
       LEFT JOIN (SELECT bucket, COUNT(*) AS cnt FROM rf GROUP BY 1) c
           USING (bucket)
       CROSS JOIN (SELECT COUNT(*) AS total FROM rf) t),
pt AS (SELECT b.bucket,
       ln((COALESCE(c.cnt, 0) + 1.0) / (t.total + 1024.0)) AS logp_tgt
       FROM buckets b
       LEFT JOIN (SELECT bucket, COUNT(*) AS cnt FROM tf GROUP BY 1) c
           USING (bucket)
       CROSS JOIN (SELECT COUNT(*) AS total FROM tf) t)
SELECT rf.doc_id, COUNT(*) AS n_feats,
       ROUND(SUM(pt.logp_tgt - pr.logp_raw), 6) AS dsir_score
FROM rf JOIN pt USING (bucket) JOIN pr USING (bucket)
GROUP BY rf.doc_id
"""

    o["lm_perplexity_filter"] = """
WITH raw AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
toks AS (
  SELECT doc_id, i AS pos, a[i+1] AS w,
         CASE WHEN i > 0 THEN a[i] END AS w_prev
  FROM (SELECT doc_id, a, unnest(range(0, len(a))) AS i FROM raw)),
uni AS (SELECT w, COUNT(*) AS c1 FROM toks GROUP BY 1),
big AS (SELECT w_prev AS w1, w AS w2, COUNT(*) AS c2
        FROM toks WHERE w_prev IS NOT NULL GROUP BY 1, 2),
tot AS (SELECT COUNT(*) AS n FROM toks),
s AS (SELECT t.doc_id,
      CASE WHEN t.w_prev IS NULL THEN u.c1 * 1.0 / tot.n
           WHEN b.c2 IS NOT NULL THEN b.c2 * 1.0 / up.c1
           ELSE 0.4 * u.c1 / tot.n END AS s
      FROM toks t
      JOIN uni u ON u.w = t.w
      LEFT JOIN uni up ON up.w = t.w_prev
      LEFT JOIN big b ON b.w1 = t.w_prev AND b.w2 = t.w
      CROSS JOIN tot)
SELECT doc_id, COUNT(*) AS n_scored,
       ROUND(AVG(ln(s)), 6) AS avg_logprob,
       CAST(ROUND(AVG(ln(s)), 6) > -6.0 AS INT) AS lm_pass
FROM s GROUP BY doc_id
"""

    o["decontaminate_benchmark"] = """
WITH raw AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
bench AS (SELECT a[1:25] AS a FROM raw WHERE doc_id % 31 = 0),
bgrams AS (
  SELECT DISTINCT array_to_string(a[i:i+7], ' ') AS g
  FROM (SELECT a, unnest(range(1, len(a) - 6)) AS i
        FROM bench WHERE len(a) >= 8)),
dgrams AS (
  SELECT doc_id, array_to_string(a[i:i+7], ' ') AS g
  FROM (SELECT doc_id, a, unnest(range(1, len(a) - 6)) AS i
        FROM raw WHERE len(a) >= 8)),
hits AS (SELECT doc_id, COUNT(*) AS n_hits
         FROM dgrams JOIN bgrams USING (g) GROUP BY 1)
SELECT r.doc_id, COALESCE(h.n_hits, 0) AS n_hits,
       CAST(COALESCE(h.n_hits, 0) > 0 AS INT) AS contaminated
FROM raw r LEFT JOIN hits h USING (doc_id)
"""

    o["pack_sequences"] = """
WITH c AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tok
           FROM documents),
p AS (SELECT doc_id, n_tok,
      CAST(COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
          AS start
      FROM c),
e AS (SELECT doc_id, start, n_tok,
      unnest(range(start // 256, (start + n_tok - 1) // 256 + 1))
          AS chunk_id
      FROM p WHERE n_tok > 0)
SELECT chunk_id, doc_id,
       CAST(GREATEST(start, chunk_id * 256) - chunk_id * 256 AS BIGINT)
           AS tok_start,
       CAST(LEAST(start + n_tok, (chunk_id + 1) * 256)
            - GREATEST(start, chunk_id * 256) AS BIGINT) AS n_tokens
FROM e
"""

    o["temperature_mix"] = """
WITH n AS (SELECT source, COUNT(*) AS ns FROM documents GROUP BY 1),
tot AS (SELECT SUM(ns) AS nt FROM n),
w AS (SELECT source, ns, nt, POW(ns * 1.0 / nt, 0.5) AS wgt
      FROM n CROSS JOIN tot),
z AS (SELECT SUM(wgt) AS z FROM w),
r AS (SELECT source,
      LEAST(1.0, 0.5 * nt * (wgt / z.z) / ns) AS rate
      FROM w CROSS JOIN z)
SELECT d.doc_id, d.source, ROUND(r.rate, 6) AS rate,
       CAST((CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % 1000000) / 1000000.0 < r.rate AS INT)
           AS kept
FROM documents d JOIN r USING (source)
"""

    _chunk10 = """
raw AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
chunk AS (SELECT doc_id,
          list_transform(range(0, CAST(ceil(len(a) / 10.0) AS INT)),
                         c -> array_to_string(a[c*10+1 : c*10+10], ' '))
              AS ls
          FROM raw)"""

    o["c4_clean"] = "WITH " + _chunk10 + """,
mut AS (SELECT doc_id,
        list_transform(range(0, len(ls)), i ->
          CASE WHEN i % 5 = 4 THEN ls[i+1] || ' about javascript.'
               WHEN i % 3 < 2 THEN ls[i+1] || '.'
               ELSE ls[i+1] END) AS ls
        FROM chunk),
txt AS (SELECT doc_id,
        CASE WHEN doc_id % 13 = 0
               THEN base || chr(10) || 'lorem ipsum dolor sit amet.'
             WHEN doc_id % 17 = 0
               THEN base || chr(10) || 'see {config} above.'
             ELSE base END AS text
        FROM (SELECT doc_id, array_to_string(ls, chr(10)) AS base
              FROM mut)),
f AS (SELECT doc_id, text, string_split(text, chr(10)) AS lines,
      list_filter(string_split(text, chr(10)), l ->
        regexp_matches(l, '[.!?"]$')
        AND len(string_split(l, ' ')) >= 5
        AND NOT contains(lower(l), 'javascript')) AS kept
      FROM txt),
c AS (SELECT doc_id, text, lines, kept,
      array_to_string(kept, chr(10)) AS c4_text FROM f)
SELECT doc_id, c4_text,
  CAST(len(lines) AS BIGINT) AS n_lines,
  CAST(len(kept) AS BIGINT) AS n_lines_kept,
  CAST(length(c4_text) - length(translate(c4_text, '.!?', ''))
       AS BIGINT) AS n_sentences,
  CAST(length(c4_text) - length(translate(c4_text, '.!?', '')) >= 3
       AND NOT contains(lower(text), '{')
       AND NOT contains(lower(text), '}')
       AND NOT contains(lower(text), 'lorem ipsum') AS INT) AS c4_pass
FROM c
"""

    o["paragraph_dedup"] = "WITH " + _chunk10 + """,
txt AS (SELECT doc_id,
        CASE WHEN doc_id % 7 = 0 THEN base || chr(10) ||
          'the shared canonical paragraph appears in many documents'
        ELSE base END AS text
        FROM (SELECT doc_id, array_to_string(ls, chr(10)) AS base
              FROM chunk)),
p AS (SELECT doc_id, i AS pos, ls[i+1] AS para
      FROM (SELECT doc_id, ls, unnest(range(0, len(ls))) AS i
            FROM (SELECT doc_id, string_split(text, chr(10)) AS ls
                  FROM txt))),
r AS (SELECT doc_id, pos, para,
      ROW_NUMBER() OVER (PARTITION BY md5(para)
                         ORDER BY doc_id, pos) AS rk
      FROM p)
SELECT doc_id,
  COALESCE(string_agg(para, chr(10) ORDER BY pos)
           FILTER (WHERE rk = 1), '') AS clean_text,
  COUNT(*) AS n_paras,
  CAST(SUM(CASE WHEN rk > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
FROM r GROUP BY doc_id
"""

    from medcat_spark.functions.bpe_oracle import bpe_oracle_sql
    o["bpe_token_count"] = bpe_oracle_sql()

    o["quality_classifier"] = """
WITH raw AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
grams_raw AS (
  SELECT doc_id, g FROM (SELECT doc_id, unnest(a) AS g FROM raw)
  UNION ALL
  SELECT doc_id, a[i] || ' ' || a[i+1] AS g
  FROM (SELECT doc_id, a, unnest(range(1, len(a))) AS i FROM raw)
),
rf AS (SELECT doc_id,
       CAST(CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT) % 256 AS INT)
           AS bucket
       FROM grams_raw),
feats AS (SELECT doc_id, bucket, COUNT(*) AS cnt FROM rf GROUP BY 1, 2),
lab AS (SELECT doc_id,
        CASE WHEN doc_id % 17 = 0 THEN 1.0 ELSE 0.0 END AS y
        FROM documents),
nn AS (SELECT COUNT(*) * 1.0 AS n FROM lab),
r1 AS (SELECT doc_id, y - 0.5 AS r FROM lab),
w1 AS (SELECT bucket, 0.5 * SUM(cnt * r) / MAX(nn.n) AS w
       FROM feats JOIN r1 USING (doc_id) CROSS JOIN nn GROUP BY bucket),
s2 AS (SELECT f.doc_id, SUM(f.cnt * COALESCE(w1.w, 0)) AS logit
       FROM feats f LEFT JOIN w1 USING (bucket) GROUP BY 1),
r2 AS (SELECT lab.doc_id,
       lab.y - 1.0 / (1.0 + exp(-COALESCE(s2.logit, 0))) AS r
       FROM lab LEFT JOIN s2 USING (doc_id)),
w2 AS (SELECT bucket,
       MAX(w1.w) + 0.5 * SUM(cnt * r2.r) / MAX(nn.n) AS w
       FROM feats JOIN r2 USING (doc_id) JOIN w1 USING (bucket)
       CROSS JOIN nn GROUP BY bucket),
s3 AS (SELECT f.doc_id, SUM(f.cnt * COALESCE(w2.w, 0)) AS logit
       FROM feats f LEFT JOIN w2 USING (bucket) GROUP BY 1),
r3 AS (SELECT lab.doc_id,
       lab.y - 1.0 / (1.0 + exp(-COALESCE(s3.logit, 0))) AS r
       FROM lab LEFT JOIN s3 USING (doc_id)),
w3 AS (SELECT bucket,
       MAX(w2.w) + 0.5 * SUM(cnt * r3.r) / MAX(nn.n) AS w
       FROM feats JOIN r3 USING (doc_id) JOIN w2 USING (bucket)
       CROSS JOIN nn GROUP BY bucket)
SELECT f.doc_id,
       ROUND(SUM(f.cnt * COALESCE(w3.w, 0)), 6) AS clf_score,
       CAST(ROUND(SUM(f.cnt * COALESCE(w3.w, 0)), 6) > 0.0 AS INT)
           AS clf_pass
FROM feats f LEFT JOIN w3 USING (bucket)
GROUP BY f.doc_id
"""

    o["dedup_semantic"] = f"""
WITH RECURSIVE
cen(cid, i, c) AS (VALUES {_cen_rows}),
ex AS (SELECT vec_id, unnest(CAST(embedding AS DOUBLE[])) AS x,
              generate_subscripts(embedding, 1) AS i FROM embeddings),
ed AS (SELECT e.vec_id, cen.cid,
              ROUND(SUM((e.x - cen.c) * (e.x - cen.c)), 9) AS dist
       FROM ex e JOIN cen ON cen.i = e.i GROUP BY 1, 2),
assign AS (SELECT vec_id, cid FROM (
    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
                                           ORDER BY dist, cid) AS rn
    FROM ed) WHERE rn = 1),
cs AS (SELECT e.vec_id,
              ROUND(SUM(e.x * cen.c) / (sqrt(SUM(e.x * e.x))
                    * sqrt(SUM(cen.c * cen.c))), 6) AS centroid_sim
       FROM ex e JOIN assign a USING (vec_id)
       JOIN cen ON cen.cid = a.cid AND cen.i = e.i
       GROUP BY e.vec_id),
p AS (SELECT ea.vec_id AS id_a, eb.vec_id AS id_b,
             SUM(ea.x * eb.x) AS d, SUM(ea.x * ea.x) AS na,
             SUM(eb.x * eb.x) AS nb
      FROM ex ea JOIN assign aa ON aa.vec_id = ea.vec_id
      JOIN ex eb ON eb.i = ea.i
      JOIN assign ab ON ab.vec_id = eb.vec_id AND ab.cid = aa.cid
      WHERE ea.vec_id < eb.vec_id
      GROUP BY 1, 2),
ver AS (SELECT id_a, id_b FROM p
        WHERE ROUND(d / (sqrt(na) * sqrt(nb)), 6) >= 0.45),
edges AS (SELECT id_a AS u, id_b AS v FROM ver
          UNION SELECT id_b, id_a FROM ver),
reach(node, label) AS (
  SELECT u, u FROM edges
  UNION
  SELECT e.v, r.label FROM reach r JOIN edges e ON e.u = r.node),
comp AS (SELECT node, MIN(label) AS component FROM reach GROUP BY node),
lab AS (SELECT a.vec_id, a.cid AS cluster,
               COALESCE(c.component, a.vec_id) AS component,
               cs.centroid_sim
        FROM assign a LEFT JOIN comp c ON c.node = a.vec_id
        JOIN cs ON cs.vec_id = a.vec_id)
SELECT vec_id, cluster, component, centroid_sim,
       row_number() OVER (PARTITION BY component
                          ORDER BY centroid_sim, vec_id) = 1 AS is_keeper
FROM lab
"""

    o["emb_near_dup_lsh"] = f"""
WITH {_EB},
cand AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
         FROM eb a JOIN eb b ON a.vec_id < b.vec_id AND {_HAM} <= 1),
ex AS (SELECT vec_id, unnest(CAST(embedding AS DOUBLE[])) AS x,
              generate_subscripts(embedding, 1) AS i FROM embeddings),
d AS (SELECT c.id_a, c.id_b, SUM(ea.x * eb2.x) AS dp,
             SUM(ea.x * ea.x) AS na, SUM(eb2.x * eb2.x) AS nb
      FROM cand c JOIN ex ea ON ea.vec_id = c.id_a
      JOIN ex eb2 ON eb2.vec_id = c.id_b AND eb2.i = ea.i
      GROUP BY 1, 2)
SELECT id_a, id_b, ROUND(dp / (sqrt(na) * sqrt(nb)), 6) AS sim
FROM d WHERE ROUND(dp / (sqrt(na) * sqrt(nb)), 6) >= 0.8
"""

    o["emb_near_dup"] = """
WITH ex AS (SELECT vec_id, label, unnest(CAST(embedding AS DOUBLE[])) AS x,
                   generate_subscripts(embedding, 1) AS i FROM embeddings),
p AS (SELECT a.label AS g, a.vec_id AS id_a, b.vec_id AS id_b,
             SUM(a.x * b.x) AS d, SUM(a.x * a.x) AS na, SUM(b.x * b.x) AS nb
      FROM ex a JOIN ex b ON a.label = b.label AND a.i = b.i
      WHERE a.vec_id < b.vec_id
      GROUP BY 1, 2, 3)
SELECT g, id_a, id_b, ROUND(d / (sqrt(na) * sqrt(nb)), 6) AS sim
FROM p WHERE ROUND(d / (sqrt(na) * sqrt(nb)), 6) >= 0.8
"""

    o["media_features"] = """
WITH m AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                  'img://' || CAST(doc_id AS VARCHAR) AS media_ref
           FROM documents)
SELECT doc_id, 1 AS span_idx, 'image' AS kind, media_ref,
  CAST(64 + CAST(('0x' || substr(md5(media_ref), 1, 4)) AS BIGINT) % 1024
       AS INT) AS width,
  CAST(64 + CAST(('0x' || substr(md5(media_ref), 5, 4)) AS BIGINT) % 1024
       AS INT) AS height,
  substr(md5(media_ref), 1, 16) AS phash
FROM m
"""

    _MEDIA_CTE = """
m AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id,
             'img://' || CAST(doc_id AS VARCHAR) AS media_ref
      FROM documents),
feat AS (SELECT doc_id, 1 AS span_idx, 'image' AS kind, media_ref,
  CAST(64 + CAST(('0x' || substr(md5(media_ref), 1, 4)) AS BIGINT) % 1024
       AS INT) AS width,
  CAST(64 + CAST(('0x' || substr(md5(media_ref), 5, 4)) AS BIGINT) % 1024
       AS INT) AS height
  FROM m)
"""

    o["media_resized"] = f"""
WITH {_MEDIA_CTE},
s AS (SELECT *, LEAST(224.0 / width, 224.0 / height) AS sc FROM feat)
SELECT doc_id, span_idx, kind, media_ref, width, height,
       ROUND(sc, 6) AS scale,
       CAST(GREATEST(FLOOR(width * sc), 1) AS INT) AS out_w,
       CAST(GREATEST(FLOOR(height * sc), 1) AS INT) AS out_h
FROM s
"""

    o["media_frames"] = """
WITH m AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                  'img://' || CAST(doc_id AS VARCHAR) AS media_ref
           FROM documents),
d AS (SELECT doc_id, 1 AS span_idx, media_ref,
             CAST(1000 + CAST(('0x' || substr(md5(media_ref), 9, 4))
                              AS BIGINT) % 60000 AS INT) AS duration_ms
      FROM m)
SELECT doc_id, span_idx, media_ref, duration_ms,
       CAST(g.f AS INT) AS frame_idx,
       CAST(g.f * 1000 AS INT) AS ts_ms,
       media_ref || '#f' || CAST(g.f AS VARCHAR) AS frame_ref
FROM d, LATERAL (SELECT unnest(range(0,
         LEAST(duration_ms // 1000 + 1, 16))) AS f) g
"""

    # Arithmetic re-derivation of the PNG round-trip: the Spark side
    # encodes pixel[i] = (i + doc_id) % 256 into a real PNG (filter
    # doc_id % 5) and decodes it back; the oracle computes the same
    # gradient directly.  Any filter-reconstruction bug breaks the hash.
    o["media_pixel_stats"] = """
WITH px AS (
  SELECT d.doc_id, (s.i + d.doc_id) % 256 AS v
  FROM documents d, generate_series(0, 47) s(i)
)
SELECT CAST(doc_id AS VARCHAR) AS doc_id, 8 AS width, 6 AS height,
       ROUND(SUM(v) / 48.0, 6) AS mean_px,
       CAST(SUM(v) AS BIGINT) AS px_sum
FROM px GROUP BY doc_id
"""

    # WAV round-trip re-derivation: sample[i] = ((i*(doc_id%97+3)) %
    # 2001) - 1000 over 480 samples @16 kHz; zero samples inherit the
    # previous nonzero sign (LAST_VALUE IGNORE NULLS = the decoder's
    # fill-forward convention) before counting sign flips.
    o["media_audio_stats"] = """
WITH smp AS (
  SELECT d.doc_id, s.i,
         ((s.i * (d.doc_id % 97 + 3)) % 2001) - 1000 AS v
  FROM documents d, generate_series(0, 479) s(i)
),
sgn AS (
  SELECT doc_id, i, v,
         LAST_VALUE(CASE WHEN v > 0 THEN 1 WHEN v < 0 THEN -1 END
                    IGNORE NULLS)
           OVER (PARTITION BY doc_id ORDER BY i
                 ROWS UNBOUNDED PRECEDING) AS g
  FROM smp
),
x AS (
  SELECT doc_id, v,
         g * LAG(g) OVER (PARTITION BY doc_id ORDER BY i) AS flip
  FROM sgn
)
SELECT CAST(doc_id AS VARCHAR) AS doc_id,
       16000 AS sample_rate, 480 AS n_samples, 30 AS duration_ms,
       ROUND(SQRT(SUM(CAST(v AS DOUBLE) * v) / 480.0), 6) AS rms,
       CAST(COALESCE(SUM(CASE WHEN flip < 0 THEN 1 END), 0) AS INT)
         AS zero_crossings
FROM x GROUP BY doc_id
"""

    # JPEG analytic re-derivation: pixel(x,y) of block b = floor(128.5
    # + IDCT of the 4 sparse fixture coefficients) clamped to [0,255];
    # quant entries baked in (q00=1, q01=q10=q22=2).  Certifies
    # Huffman decode, zigzag, DC prediction, dequant and the IDCT.
    o["media_jpeg_stats"] = """
WITH px AS (
  SELECT d.doc_id, x.x, y.y,
         (y.y // 8) * 2 + (x.x // 8) AS b,
         x.x % 8 AS lx, y.y % 8 AS ly
  FROM documents d, generate_series(0, 15) x(x), generate_series(0, 15) y(y)
),
v AS (
  SELECT doc_id,
         0.25 * (
           0.5 * (((doc_id * 7 + b * 5) % 101) - 50)
           + (1.0 / SQRT(2)) * (((doc_id + b) % 9) - 4) * 2
             * COS((2 * lx + 1) * PI() / 16)
           + (1.0 / SQRT(2)) * (((doc_id * 3 + b) % 7) - 3) * 2
             * COS((2 * ly + 1) * PI() / 16)
           + (1 + (doc_id + 2 * b) % 4) * 2
             * COS((2 * ly + 1) * PI() / 8) * COS((2 * lx + 1) * PI() / 8)
         ) AS f
  FROM px
),
p AS (SELECT doc_id,
             LEAST(255, GREATEST(0, FLOOR(f + 128.5))) AS pv
      FROM v)
SELECT CAST(doc_id AS VARCHAR) AS doc_id, 16 AS width, 16 AS height,
       SUM(pv) / 256.0 AS mean_px,
       CAST(SUM(pv) AS BIGINT) AS px_sum
FROM p GROUP BY doc_id
"""

    # IMA ADPCM recurrence replayed as a recursive CTE: per doc the
    # state (pred, idx) walks 64 steps over nibble (k*7 + doc_id) % 16;
    # the step table is 89 literal rows, clamps and the sign/magnitude
    # reconstruction are integer CASE arithmetic
    from medcat_spark.functions.media import (IMA_INDEX_TABLE,
                                              IMA_STEP_TABLE)
    _step_rows = ",".join(f"({i},{s})"
                          for i, s in enumerate(IMA_STEP_TABLE))
    _idx_case = " ".join(f"WHEN {n} THEN {d}"
                         for n, d in enumerate(IMA_INDEX_TABLE))
    o["media_adpcm_stats"] = f"""
WITH RECURSIVE st(i, s) AS (VALUES {_step_rows}),
r(doc_id, k, pred, idx) AS (
  SELECT doc_id, 0, 0, 0 FROM documents
  UNION ALL
  SELECT r.doc_id, r.k + 1,
    GREATEST(-32768, LEAST(32767,
      r.pred + (CASE WHEN ((r.k * 7 + r.doc_id) % 16) & 8 = 8
                     THEN -1 ELSE 1 END)
      * ((st.s // 8)
         + CASE WHEN ((r.k * 7 + r.doc_id) % 16) & 4 = 4
                THEN st.s ELSE 0 END
         + CASE WHEN ((r.k * 7 + r.doc_id) % 16) & 2 = 2
                THEN st.s // 2 ELSE 0 END
         + CASE WHEN ((r.k * 7 + r.doc_id) % 16) & 1 = 1
                THEN st.s // 4 ELSE 0 END))),
    GREATEST(0, LEAST(88, r.idx
      + CASE ((r.k * 7 + r.doc_id) % 16) & 7 {_idx_case} END))
  FROM r JOIN st ON st.i = r.idx
  WHERE r.k < 64
)
SELECT CAST(doc_id AS VARCHAR) AS doc_id,
       16000 AS sample_rate, 65 AS n_samples,
       CAST(SUM(pred) AS BIGINT) AS sum_samples,
       CAST(MIN(pred) AS INT) AS min_sample,
       CAST(MAX(pred) AS INT) AS max_sample
FROM r GROUP BY doc_id
"""

    # GIF round-trip re-derivation: frame f of doc d has pixel index
    # (i + f + d) % 4 on the gray palette idx*85; delays (f+1)*100 ms so
    # ts_ms = 100*f*(f+1)/2; frames per doc = d % 3 + 1.
    o["media_gif_frames"] = """
WITH fr AS (
  SELECT d.doc_id, f.f
  FROM documents d, generate_series(0, 2) f(f)
  WHERE f.f < d.doc_id % 3 + 1
),
px AS (
  SELECT fr.doc_id, fr.f,
         ((s.i + fr.f + fr.doc_id) % 4) * 85 AS v
  FROM fr, generate_series(0, 47) s(i)
)
SELECT CAST(doc_id AS VARCHAR) AS doc_id,
       CAST(f AS INT) AS frame_idx,
       CAST(100 * f * (f + 1) / 2 AS INT) AS ts_ms,
       CAST((f + 1) * 100 AS INT) AS delay_ms,
       8 AS width, 6 AS height,
       ROUND(SUM(v) / 48.0, 6) AS mean_px
FROM px GROUP BY doc_id, f
"""

    o["meta_negation"] = f"""
WITH {_TOKS_CTE},
pos AS (
  SELECT doc_id, tok, pos,
         COALESCE(SUM(length(tok) + 1) OVER (
             PARTITION BY doc_id ORDER BY pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
  FROM tok),
m AS (SELECT p.doc_id, p.start, p.pos AS ent_pos, d.cui
      FROM pos p JOIN {_UNI_DICT_SQL} ON p.tok = d.name),
c AS (SELECT doc_id, pos FROM pos WHERE tok IN ('slow', 'small')),
h AS (SELECT m.doc_id, m.start, m.cui, COUNT(c.pos) AS n_cues
      FROM m LEFT JOIN c ON c.doc_id = m.doc_id
        AND c.pos < m.ent_pos AND c.pos >= m.ent_pos - 5
      GROUP BY 1, 2, 3)
SELECT doc_id, CAST(start AS INT) AS start, cui,
       'Negation' AS meta_name,
       CASE WHEN n_cues > 0 THEN 'negated' ELSE 'present' END AS value,
       CAST(n_cues AS BIGINT) AS n_cues
FROM h
"""

    def _snomed_oracle():
        from medcat_spark.sources.ontologies import _tag_hash
        con = ",".join(f"('{i}','{a}')" for i, a in SNOMED_FIXTURE["concepts"])
        des = ",".join("('%s','%s','%s','%s')" % r
                       for r in SNOMED_FIXTURE["descriptions"])
        tags = {"disorder"}
        tmap = ",".join(f"('{t}','{_tag_hash(t)}')" for t in sorted(tags))
        return f"""
WITH con(id, active) AS (VALUES {con}),
des(conceptId, active, typeId, term) AS (VALUES {des}),
j AS (SELECT c.id AS cui, d.term AS name,
             CASE WHEN d.typeId = '900000000000003001'
                  THEN 'P' ELSE 'A' END AS name_status
      FROM con c JOIN des d ON d.conceptId = c.id
      WHERE c.active = '1' AND d.active = '1'
        AND d.typeId IN ('900000000000003001', '900000000000013009')),
tags AS (SELECT cui,
                regexp_extract(name,
                  '\\((\\w+\\s?.?\\s?\\w+.?\\w+.?\\w+.?)\\)$', 1) AS tag
         FROM j WHERE name_status = 'P'),
tmap(tag, type_ids) AS (VALUES {tmap}),
cuitype AS (SELECT t.cui, NULLIF(t.tag, '') AS tag, m.type_ids
            FROM tags t LEFT JOIN tmap m USING (tag))
SELECT j.cui, j.name, 'SNOMED-CT' AS ontologies, j.name_status,
       COALESCE(ct.type_ids, '{_tag_hash(None)}') AS type_ids,
       ct.tag AS description_type_ids
FROM j LEFT JOIN cuitype ct ON ct.cui = j.cui
"""
    o["cdb_snomed_names"] = _snomed_oracle()

    _umls_conso = ",".join("('%s','%s','%s','%s','%s','%s')" % r
                           for r in UMLS_FIXTURE["mrconso"])
    _umls_sty = ",".join("('%s','%s')" % r for r in UMLS_FIXTURE["mrsty"])
    o["cdb_umls_names"] = f"""
WITH conso(CUI, LAT, ISPREF, AUI, SAB, STR) AS (VALUES {_umls_conso}),
sty(CUI, TUI) AS (VALUES {_umls_sty})
SELECT c.CUI AS cui, c.STR AS name, c.SAB AS ontologies,
       c.ISPREF AS name_status, s.TUI AS type_ids
FROM conso c JOIN (SELECT DISTINCT CUI, TUI FROM sty) s USING (CUI)
WHERE c.LAT = 'ENG'
"""

    _refset_vals = ",".join("('%s','%s',%s,%s,'%s')" % r
                            for r in ICD10_REFSET_FIXTURE)
    o["kg_mentions_icd10"] = f"""
WITH {_TOKS_CTE},
m AS (SELECT DISTINCT t.doc_id, d.cui
      FROM tok t JOIN {_UNI_DICT_SQL} ON t.tok = d.name),
rs(cui, code, prio, grp, active) AS (VALUES {_refset_vals}),
codes AS (SELECT cui,
                 array_to_string(list(code ORDER BY prio DESC, grp), ',')
                 AS icd10
          FROM rs WHERE active = '1' AND code <> '' GROUP BY cui)
SELECT m.cui, COALESCE(c.icd10, '') AS icd10, COUNT(*) AS n_docs
FROM m LEFT JOIN codes c ON c.cui = m.cui
GROUP BY 1, 2
"""

    _proj_con = ",".join(f"('{r[0]}','{r[1].capitalize()}')"
                         for r in demo.UNIGRAM_ROWS)
    o["entities_projection"] = f"""
WITH {_TOKS_CTE},
pos AS (
  SELECT doc_id, tok, pos,
         COALESCE(SUM(length(tok) + 1) OVER (
             PARTITION BY doc_id ORDER BY pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
  FROM tok),
m AS (SELECT p.doc_id, p.start, d.cui
      FROM pos p JOIN {_UNI_DICT_SQL} ON p.tok = d.name),
con(cui, pretty_name) AS (VALUES {_proj_con}),
rs(cui, code, prio, grp, active) AS (VALUES {_refset_vals}),
codes AS (SELECT cui,
                 array_to_string(list(code ORDER BY prio DESC, grp), ',')
                 AS icd10
          FROM rs WHERE active = '1' AND code <> '' GROUP BY cui)
SELECT m.doc_id, CAST(m.start AS INT) AS start, m.cui, c.pretty_name,
       'T001' AS type_ids, 'Operator' AS types, 'DEMO' AS ontologies,
       COALESCE(cd.icd10, '') AS icd10
FROM m JOIN con c ON c.cui = m.cui
LEFT JOIN codes cd ON cd.cui = m.cui
"""

    def _ner_tagger_ctes():
        from medcat_spark.functions.ner_model import ner_fixture_model
        m = ner_fixture_model()
        n = len(m.labels)
        rows = ",".join(
            "('%s',%s,%s)" % (
                t,
                ",".join(repr(float(m.center_scores[t][i])) for i in range(n)),
                ",".join(repr(float(m.ctx_scores[t][i])) for i in range(n)))
            for t in sorted(m.center_scores))
        cols = (",".join(f"c{i}" for i in range(n)) + ","
                + ",".join(f"x{i}" for i in range(n)))
        logits = ",".join(
            f"COALESCE(c{i}, 0.0) + AVG(COALESCE(x{i}, 0.0)) OVER w"
            f" + ({float(m.bias[i])!r}) AS l{i}" for i in range(n))

        def _win(i):
            conds = [f"l{i} > l{j}" for j in range(i)] + \
                    [f"l{i} >= l{j}" for j in range(i + 1, n)]
            return " AND ".join(conds) if conds else "TRUE"

        lab = "CASE " + " ".join(f"WHEN {_win(i)} THEN '{m.labels[i]}'"
                                 for i in range(n)) + " END"
        return m, f"""
pos AS (
  SELECT doc_id, tok, pos,
         COALESCE(SUM(length(tok) + 1) OVER (
             PARTITION BY doc_id ORDER BY pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
  FROM tok),
sc(tok, {cols}) AS (VALUES {rows}),
lg AS (SELECT doc_id, pos, tok, start, {logits}
       FROM (SELECT p.*, {cols.replace(',', ', ')}
             FROM pos p LEFT JOIN sc s USING (tok))
       WINDOW w AS (PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN {m.window} PRECEDING
                    AND {m.window} FOLLOWING)),
tagged AS (SELECT doc_id, pos, tok, start, {lab} AS label FROM lg),
ent AS (SELECT doc_id, pos, tok, start, label,
               pos - row_number() OVER (PARTITION BY doc_id, label
                                        ORDER BY pos) AS island
        FROM tagged WHERE label <> 'O')
"""

    _m, _NER_CTES = _ner_tagger_ctes()
    o["ner_token_spans"] = f"""
WITH {_TOKS_CTE},
{_NER_CTES}
SELECT doc_id, CAST(MIN(start) AS INT) AS start,
       CAST(MAX(start + length(tok)) AS INT) AS end, label,
       COUNT(*) AS n_tokens
FROM ent GROUP BY doc_id, label, island
"""

    o["deid_docs"] = f"""
WITH {_TOKS_CTE},
{_NER_CTES},
heads AS (SELECT doc_id, label, island, MIN(pos) AS pos FROM ent
          GROUP BY 1, 2, 3),
units AS (
  SELECT t.doc_id, t.pos,
         COALESCE('[' || h.label || ']',
                  CASE WHEN e.pos IS NULL THEN t.tok END) AS unit
  FROM tagged t
  LEFT JOIN heads h ON h.doc_id = t.doc_id AND h.pos = t.pos
  LEFT JOIN ent e ON e.doc_id = t.doc_id AND e.pos = t.pos)
SELECT doc_id, string_agg(unit, ' ' ORDER BY pos) AS deid_text
FROM units WHERE unit IS NOT NULL GROUP BY doc_id
"""

    # Expected scenario entities: the reference-asserted CUIs per case
    # (tests/test_entity_linking.py) at their text offsets, plus the
    # deterministic seeded-training outcomes (surgery senses, the
    # unasserted 'cancer' direct link).  Pipeline output is deterministic
    # on fixed input, so the oracle is the literal expected relation.
    _SCENARIO_ROWS = ",".join("('%s',%d,%d,'%s','%s')" % r for r in [
        ("entity_linking", 26, 33, "C0543467", "surgery"),
        ("entity_linking", 35, 47, "C3665472", "chemotherapy"),
        ("entity_linking", 53, 65, "C1522449", "radiotherapy"),
        ("entity_linking", 67, 72, "C0007131", "nsclc"),
        ("entity_linking", 99, 106, "C1274039", "surgery"),
        ("entity_linking", 116, 120, "C0149925", "sclc"),
        ("entity_linking", 148, 160, "C3665472", "chemotherapy"),
        ("entity_linking", 165, 177, "C1522449", "radiotherapy"),
        ("entity_linking", 198, 209, "C0242379", "lung~cancer"),
        ("lemma_not_required", 18, 22, "C0085639", "fall"),
        ("lemma_required", 25, 32, "C0085639", "fall"),
        ("diacritics", 0, 17, "C0025281", "ménière~s~disease"),
        ("upper_mid_sentence", 23, 26, "C0026045", "map"),
        ("upper_start_sentence", 0, 3, "C0026045", "map"),
        ("upper_non_abbrev", 0, 8, "C0699967", "taxotere"),
        ("upper_non_abbrev", 50, 56, "C0006826", "cancer"),
    ])
    o["ner_scenario_suite"] = f"""
SELECT * FROM (VALUES {_SCENARIO_ROWS})
AS t(doc_id, start, "end", cui, detected_name)
"""

    o["corpus_clean"] = """
WITH base AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, text, lang,
         len(string_split(text, ' ')) AS n_tokens,
         ROUND(len(list_distinct(string_split(text, ' '))) * 1.0
               / len(string_split(text, ' ')), 6) AS type_token_ratio
  FROM documents WHERE lang IN ('en', 'de')),
gated AS (SELECT * FROM base
          WHERE n_tokens >= 12 AND n_tokens <= 100000
            AND type_token_ratio >= 0.3),
ranked AS (SELECT *, row_number() OVER (PARTITION BY md5(text)
                                        ORDER BY doc_id) AS rk
           FROM gated)
SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
       type_token_ratio
FROM ranked WHERE rk = 1
"""

    def _similar_concepts_oracle():
        from medcat_spark.core.model import unitvec
        from medcat_spark.fixtures import trained_fixture_models
        cdb, _ = trained_fixture_models()
        rows = []
        for cui in sorted(cdb.cui2context_vectors):
            v = cdb.cui2context_vectors[cui].get("short")
            if v is None:
                continue
            u = unitvec(v)
            rows.append("('%s', [%s]::DOUBLE[])"
                        % (cui, ",".join(repr(float(x)) for x in u)))
        vals = ",".join(rows)
        return f"""
WITH cvv(cui, v) AS (VALUES {vals}),
ex AS (SELECT cui, unnest(v) AS x, generate_subscripts(v, 1) AS i
       FROM cvv),
p AS (SELECT a.cui AS cui_a, b.cui AS cui_b,
             ROUND(SUM(a.x * b.x), 9) AS sim9
      FROM ex a JOIN ex b ON a.i = b.i AND a.cui <> b.cui
      GROUP BY 1, 2),
r AS (SELECT *, row_number() OVER (PARTITION BY cui_a
                                   ORDER BY sim9 DESC, cui_b) AS rank
      FROM p)
SELECT cui_a AS subj, 'similar_to' AS pred, cui_b AS obj,
       ROUND(sim9, 6) AS sim, rank
FROM r WHERE rank <= 3
"""
    o["kg_similar_concepts"] = _similar_concepts_oracle()

    def _meta_model_oracle():
        from medcat_spark.functions.meta_model import (negation_fixture_model,
                                                       oracle_sql_for_model)
        return oracle_sql_for_model(negation_fixture_model(), _TOKS_CTE,
                                    _UNI_DICT_SQL, bi_dict_sql=_BI_DICT_SQL)
    o["meta_negation_model"] = _meta_model_oracle()

    def _meta_mlp_oracle():
        from medcat_spark.functions.meta_model import (
            negation_mlp_fixture_model, oracle_sql_for_mlp)
        return oracle_sql_for_mlp(negation_mlp_fixture_model(), _TOKS_CTE,
                                  _UNI_DICT_SQL, bi_dict_sql=_BI_DICT_SQL)
    o["meta_negation_mlp"] = _meta_mlp_oracle()

    def _meta_lstm_oracle():
        from medcat_spark.functions.lstm_meta import (lstm_fixture_model,
                                                      oracle_sql_for_lstm)
        return oracle_sql_for_lstm(lstm_fixture_model(), _TOKS_CTE,
                                   _UNI_DICT_SQL, bi_dict_sql=_BI_DICT_SQL)
    o["meta_lstm_torch"] = _meta_lstm_oracle()

    # kg_relations_bert: the transformer forward is not SQL-expressible,
    # so the oracle is an independently-recomputed golden (DuckDB
    # word-split mention SQL + standalone pair windowing + per-example
    # per-head brute-force forward), emitted as VALUES literals keyed on
    # a fingerprint of the documents table so one SQL string is correct
    # at every checked sf (rel_bert_oracle.py has the derivation).
    from medcat_spark.functions.rel_bert_oracle import rel_bert_oracle_sql
    o["kg_relations_bert"] = rel_bert_oracle_sql()

    def _kg_relations_oracle():
        from medcat_spark.functions import rel_model
        base = rel_model.oracle_sql_for_model(
            rel_model.relation_fixture_model(), _TOKS_CTE, _UNI_DICT_SQL)
        return (f"WITH base AS ({base})\n"
                "SELECT 'cui:' || ent1_cui AS subj, relation AS pred,\n"
                "       'cui:' || ent2_cui AS obj, COUNT(*) AS n_pairs\n"
                "FROM base GROUP BY 1, 2, 3")
    o["kg_relations"] = _kg_relations_oracle()

    o["events_tumbling"] = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
       event_type, COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
FROM events GROUP BY 1, 2
"""

    o["events_sessionize"] = """
WITH e AS (SELECT user_id, ts, value,
                  CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events),
g AS (SELECT user_id, ts, value, sec,
             CASE WHEN lag(sec) OVER w IS NULL
                       OR sec - lag(sec) OVER w > 1800
                  THEN 1 ELSE 0 END AS new_sess
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
s AS (SELECT user_id, value, SUM(new_sess) OVER (
          PARTITION BY user_id ORDER BY ts
          ROWS UNBOUNDED PRECEDING) AS sess_id FROM g),
per AS (SELECT user_id, sess_id, COUNT(*) AS n_events
        FROM s GROUP BY 1, 2)
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(MAX(n_events) AS BIGINT) AS max_session_events
FROM per GROUP BY 1
"""

    o["events_json_k"] = """
WITH e AS (SELECT event_id,
                  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
           FROM events)
SELECT k % 10 AS k_mod, COUNT(*) AS n, CAST(SUM(k) AS BIGINT) AS sum_k
FROM e GROUP BY 1
"""

    o["events_spike_zscore"] = """
WITH hr AS (SELECT event_type, date_trunc('hour', ts) AS bucket,
                   COUNT(*) AS n
            FROM events GROUP BY 1, 2),
sc AS (SELECT event_type, bucket, n,
              AVG(n) OVER w AS m,
              AVG(n * n) OVER w AS m2,
              COUNT(n) OVER w AS k
       FROM hr
       WINDOW w AS (PARTITION BY event_type ORDER BY bucket
                    ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING))
SELECT event_type, bucket, n,
       CASE WHEN m2 - m * m <= 0 THEN -1.0
            ELSE ROUND((n - m) / SQRT(m2 - m * m), 4) END AS z,
       (CASE WHEN m2 - m * m <= 0 THEN -1.0
             ELSE ROUND((n - m) / SQRT(m2 - m * m), 4) END) > 2.0
         AS is_spike
FROM sc WHERE k >= 3
"""

    o["events_funnel"] = """
WITH s1 AS (SELECT user_id, MIN(ts) AS t1 FROM events
            WHERE event_type = 'view' GROUP BY 1),
s2 AS (SELECT e.user_id, s1.t1, MIN(e.ts) AS t2
       FROM events e JOIN s1 ON e.user_id = s1.user_id
                            AND e.ts > s1.t1
       WHERE e.event_type = 'click' GROUP BY 1, 2),
s3 AS (SELECT e.user_id, s2.t1, MIN(e.ts) AS t3
       FROM events e JOIN s2 ON e.user_id = s2.user_id
                            AND e.ts > s2.t2
       WHERE e.event_type = 'purchase' GROUP BY 1, 2)
SELECT '1_view' AS step, COUNT(*) AS n_users,
       -1.0 AS avg_lag_sec FROM s1
UNION ALL SELECT '2_click', COUNT(*), -1.0 FROM s2
UNION ALL SELECT '3_purchase', COUNT(*),
       ROUND(AVG(epoch_us(t3) - epoch_us(t1)) / 1e6, 3) FROM s3
"""

    # cascade == direct at every level (count/sum merge losslessly)
    o["events_rollup"] = """
SELECT 'minute' AS level, date_trunc('minute', ts) AS bucket,
       COUNT(*) AS n_events, ROUND(SUM(value), 4) AS sum_value
FROM events GROUP BY 2
UNION ALL
SELECT 'hour', date_trunc('hour', ts), COUNT(*), ROUND(SUM(value), 4)
FROM events GROUP BY 2
UNION ALL
SELECT 'day', date_trunc('day', ts), COUNT(*), ROUND(SUM(value), 4)
FROM events GROUP BY 2
"""

    # fixed-boundary histogram quantiles: bin counts + interpolation
    o["events_quantile_sketch"] = """
WITH b AS (SELECT LEAST(39, GREATEST(0,
                  CAST(FLOOR(value / 0.5) AS INT))) AS bin,
                  COUNT(*) AS n
           FROM events GROUP BY 1),
c AS (SELECT bin, n, SUM(n) OVER (ORDER BY bin) AS cum,
             SUM(n) OVER () AS total FROM b),
qs(q) AS (VALUES (0.5), (0.9), (0.99)),
hit AS (SELECT q, bin, n, cum, total,
               ROW_NUMBER() OVER (PARTITION BY q ORDER BY bin) AS rn
        FROM qs, c WHERE cum >= CEIL(total * q))
SELECT q, ROUND((bin + (CEIL(total * q) - (cum - n))
                 / CAST(n AS DOUBLE)) * 0.5, 6) AS estimate
FROM hit WHERE rn = 1
"""

    # bit-reproducible HLL: md5 buckets/ranks, rank via exact
    # length(bin(word)) (no floor(log2) float hazard)
    o["events_hll_distinct"] = f"""
WITH h AS (SELECT md5(CAST(user_id AS VARCHAR)) AS hx FROM events),
r AS (SELECT CAST(('0x' || substr(hx, 1, 2)) AS BIGINT) AS bucket,
             CAST(('0x' || substr(hx, 3, 8)) AS BIGINT) AS word FROM h),
regs AS (SELECT bucket,
                MAX(CASE WHEN word = 0 THEN 33
                         ELSE 33 - LENGTH(bin(word)) END) AS mx
         FROM r GROUP BY 1),
a AS (SELECT COUNT(*) AS hit, SUM(POWER(2.0, -mx)) AS s FROM regs)
SELECT CAST(hit AS BIGINT) AS n_buckets_hit,
       ROUND(CASE WHEN CAST({HLL_ALPHA!r} AS DOUBLE) * 65536 / (s + 256 - hit) <= 640.0
                       AND hit < 256
                  THEN 256.0 * LN(256.0 / (256 - hit))
                  ELSE CAST({HLL_ALPHA!r} AS DOUBLE) * 65536 / (s + 256 - hit) END,
             4) AS estimate
FROM a
"""

    o["events_asof_join"] = """
WITH r AS (SELECT event_type, ts, value AS thr FROM events
           WHERE event_id % 50 = 0)
SELECT e.event_id, e.event_type,
       COALESCE(ROUND(r.thr, 2), -999.0) AS thr
FROM events e ASOF LEFT JOIN r
  ON e.event_type = r.event_type AND e.ts >= r.ts
"""

    o["events_range_join"] = """
WITH w AS (SELECT event_id AS window_id, epoch_us(ts) AS w_start,
                  epoch_us(ts) + 1800000000 AS w_end
           FROM events WHERE event_id % 97 = 0),
e AS (SELECT event_id, value, epoch_us(ts) AS us FROM events)
SELECT w.window_id, COUNT(*) AS n_events,
       ROUND(SUM(e.value), 2) AS sum_value
FROM e JOIN w ON e.us BETWEEN w.w_start AND w.w_end
GROUP BY 1
"""

    # L1-L4 disambiguation math + O3 most_similar as hash-matched SQL
    # (trained model constants exported as literals; see
    # demo.disamb_oracle_sql / demo.most_similar_oracle_sql)
    o["ner_disambiguation"] = demo.disamb_oracle_sql(_TOKS_CTE)
    o["model_most_similar"] = demo.most_similar_oracle_sql()
    return o

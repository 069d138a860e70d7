"""Round-2 correctness fixes (ADVICE items):

* unlink_name status demotion (reference cdb.py:176-183 _remove_names)
* MCT-export flag defaults (reference stats.py ann.get('validated', True))
* CDB description last-non-empty-wins (reference _add_concept full_build)
* deterministic checkpoint subset under max_docs
"""

import json

from pyspark.sql import functions as F

from medcat_spark.cdb_build import build_cdb_tables
from medcat_spark.config import EngineConfig
from medcat_spark.core.model import CdbModel, prepare_name
from medcat_spark.pipeline import broadcast_model
from medcat_spark.sources.iceberg import (IcebergKgSink,
                                          resumable_annotate_iceberg)
from medcat_spark.sources.mct_export import gold_annotations, read_mct_export


def _mini_cdb():
    cfg = EngineConfig()
    cdb = CdbModel()
    cdb.add_concept("C1", prepare_name("fever", cfg), set(), "A", set(), "")
    cdb.add_concept("C2", prepare_name("fever", cfg), set(), "P", set(), "")
    return cdb


def test_unlink_demotes_status_A_to_N():
    cdb = _mini_cdb()
    assert cdb.name2cuis2status["fever"] == {"C1": "A", "C2": "P"}
    cdb.unlink_name("C2", "fever")
    # one CUI left with status A -> demoted to N (must disambiguate)
    assert cdb.name2cuis2status["fever"] == {"C1": "N"}


def test_unlink_demotes_status_P_to_PD():
    cdb = _mini_cdb()
    cdb.unlink_name("C1", "fever")
    assert cdb.name2cuis2status["fever"] == {"C2": "PD"}


def test_mct_missing_validated_defaults_to_include(spark, tmp_path):
    export = {"projects": [{"id": 1, "name": "p", "cuis": "", "documents": [
        {"id": 10, "name": "d", "text": "fever and chills",
         "annotations": [
             # no 'validated' key at all -> include (reference default True)
             {"start": 0, "end": 5, "cui": "C1", "value": "fever"},
             # explicit validated true, null killed -> include
             {"start": 10, "end": 16, "cui": "C2", "value": "chills",
              "validated": True, "killed": None},
             # explicitly deleted -> exclude
             {"start": 6, "end": 9, "cui": "C3", "value": "and",
              "validated": True, "deleted": True},
         ]}]}]}
    p = tmp_path / "mct.json"
    p.write_text(json.dumps(export))
    mct = read_mct_export(spark, str(p))
    gold = gold_annotations(mct).collect()
    got = {(r["start"], r["cui"]) for r in gold}
    assert got == {(0, "C1"), (10, "C2")}


def test_description_last_non_empty_wins(spark):
    rows = [
        (0, "CX", "alpha", "", "A", "", ""),        # empty description first
        (1, "CX", "beta", "", "A", "", "first desc"),
        (2, "CX", "gamma", "", "A", "", "last desc"),
        (3, "CX", "delta", "", "A", "", ""),        # trailing empty ignored
        (4, "CY", "only", "", "A", "", "kept"),
    ]
    df = spark.createDataFrame(
        rows, "row_id long, cui string, name string, ontologies string, "
              "name_status string, type_ids string, description string")
    concepts = build_cdb_tables(df)["concepts"]
    got = {r["cui"]: r["description"] for r in concepts.collect()}
    assert got["CX"] == "last desc"
    assert got["CY"] == "kept"


def test_checkpoint_subset_is_deterministic_first_n(spark, docs_df,
                                                    fixture_models, tmp_path):
    cdb, vocab = fixture_models
    bc = broadcast_model(spark, cdb, vocab, EngineConfig())
    out = str(tmp_path / "kg")
    m = resumable_annotate_iceberg(spark, docs_df, bc, out, max_docs=7)
    assert m["n_docs"] == 7
    done = sorted(r["doc_id"] for r in
                  IcebergKgSink(out).committed_doc_ids(spark).collect())
    expected = sorted(
        r["doc_id"] for r in docs_df.select("doc_id").collect())[:7]
    assert done == expected


def test_kfold_split_semantics():
    from medcat_spark.stats import (assign_folds_per_docs,
                                    assign_folds_weighted)
    # per-docs: contiguous chunks, remainder to the last fold
    f = assign_folds_per_docs(["a", "b", "c", "d", "e", "f", "g"], 3)
    assert [f[x] for x in "abcdefg"] == [0, 0, 1, 1, 2, 2, 2]
    # weighted: heaviest first, greedy to lightest fold -> balanced
    f = assign_folds_weighted([("a", 10), ("b", 9), ("c", 5),
                               ("d", 4), ("e", 1)], 2)
    wa = sum(w for d, w in [("a", 10), ("b", 9), ("c", 5), ("d", 4),
                            ("e", 1)] if f[d] == 0)
    wb = 29 - wa
    assert abs(wa - wb) <= 1


def test_kfold_stats_end_to_end(spark, fixture_models):
    import json

    from medcat_spark.sources.mct_export import read_mct_export
    from medcat_spark.stats import kfold_stats

    cdb, vocab = fixture_models
    cfg = EngineConfig()
    # build an MCT export whose gold = the model's own annotations on
    # 9 fixture docs -> k-fold P/R must be perfect
    from medcat_spark.core.annotate import annotate_document
    from medcat_spark.fixtures import fixture_documents
    docs = fixture_documents(9)
    export = {"projects": [{"id": 1, "name": "p", "cuis": "",
                            "documents": []}]}
    for d in docs:
        text = " ".join(s["text"] for s in d["spans"]
                        if s["kind"] == "text")
        ents, _ = annotate_document(text, cdb, vocab, cfg)
        export["projects"][0]["documents"].append(
            {"id": d["doc_id"], "name": d["doc_id"], "text": text,
             "annotations": [{"start": e.start, "end": e.end, "cui": e.cui,
                              "value": e.source_value} for e in ents]})
    import tempfile
    with tempfile.NamedTemporaryFile("w", suffix=".json",
                                     delete=False) as fh:
        json.dump(export, fh)
        path = fh.name
    mct = read_mct_export(spark, path)
    res = kfold_stats(spark, mct, cdb, vocab, cfg, k=3,
                      split_type="weighted")
    assert len(res["folds"]) == 3
    assert res["tp"] > 0
    assert res["precision"] == 1.0
    assert res["recall"] == 1.0

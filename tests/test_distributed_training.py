"""Distributed model-pack write (VERDICT r01 item 5): the trained
context vectors flow from the trainer DataFrame into the pack tables via
Spark writes, and the loaded pack equals the driver-side
apply_training merge exactly."""

import copy

import numpy as np

from medcat_spark.config import EngineConfig
from medcat_spark.model_ops import (apply_training, save_trained_pack,
                                    train_supervised_spark)
from medcat_spark.pipeline import broadcast_model
from medcat_spark.sources.model_pack import load_model_pack


def test_distributed_pack_equals_driver_merge(spark, fixture_models, tmp_path):
    cdb, vocab = fixture_models
    cfg = EngineConfig()
    bc = broadcast_model(spark, cdb, vocab, cfg)

    docs = spark.createDataFrame(
        [("d1", "patient with heart attack admitted"),
         ("d2", "chronic kidney failure and fever noted"),
         ("d3", "heart attack and high temperature")],
        "doc_id string, text string")
    gold = spark.createDataFrame(
        [("d1", 13, 25, "C0003"), ("d2", 8, 22, "C0005"),
         ("d3", 0, 12, "C0003"), ("d3", 17, 33, "C0010")],
        "doc_id string, start int, end int, cui string")

    trained = train_supervised_spark(spark, gold, docs, bc, cfg)

    # driver-side reference merge
    cdb_ref = copy.deepcopy(cdb)
    apply_training(cdb_ref, trained.collect())

    # distributed pack write, then load back
    path = str(tmp_path / "pack_dist")
    manifest = save_trained_pack(spark, path, cdb, vocab, trained, cfg)
    cdb2, _vocab2, _cfg2 = load_model_pack(path)

    assert manifest["trained_cuis"] == 3
    assert set(cdb2.cui2context_vectors) == set(cdb_ref.cui2context_vectors)
    for cui, cts in cdb_ref.cui2context_vectors.items():
        for ct, v in cts.items():
            assert np.allclose(cdb2.cui2context_vectors[cui][ct], v), (cui, ct)
    assert cdb2.cui2count_train == cdb_ref.cui2count_train
    # untouched model surface is identical
    assert cdb2.name2cuis == cdb.name2cuis
    assert cdb2.snames == cdb.snames


def test_unsup_negative_sampling_deterministic_and_close_to_sequential(
        spark):
    """L8 in the distributed trainer: per-doc seeded RNG makes the
    negative draws deterministic and partition-invariant; the combined
    mean (positives MINUS sampled negatives, L7 sign rule) stays
    directionally close to the exact sequential trainer (whose own
    negative draws come from a different RNG stream, so the tolerance
    is loose by construction)."""
    from medcat_spark.core.annotate import train_unsupervised
    from medcat_spark.core.model import unitvec
    from medcat_spark.fixtures import (_TEMPLATES, build_fixture_cdb,
                                       build_fixture_vocab)
    from medcat_spark.model_ops import train_unsupervised_spark

    cfg = EngineConfig()
    corpus = ["the patient presented " + t for t in _TEMPLATES * 3]
    vocab = build_fixture_vocab()

    cdb_seq = build_fixture_cdb(cfg)
    train_unsupervised(corpus, cdb_seq, vocab, cfg, seed=42)

    bc = broadcast_model(spark, build_fixture_cdb(cfg), vocab, cfg)
    docs = spark.createDataFrame(
        [(str(i), t) for i, t in enumerate(corpus)],
        "doc_id string, text string")

    def collect(d, **kw):
        return {(r["cui"], r["ctx_type"]): np.array(r["mean_vec"])
                for r in train_unsupervised_spark(spark, d, bc, **kw)
                .collect()}

    with_neg = collect(docs)
    # deterministic across partitionings (per-doc seeds, not per-task)
    repart = collect(docs.repartition(1))
    assert set(with_neg) == set(repart)
    for k in with_neg:
        assert np.allclose(with_neg[k], repart[k], atol=1e-9), k

    # negatives really enter the mean
    pos_only = collect(docs, negative_sampling=False)
    assert any(not np.allclose(with_neg[k], pos_only[k]) for k in with_neg)

    # directional agreement with the exact sequential trainer
    coss = [float(np.dot(unitvec(v),
                         unitvec(cdb_seq.cui2context_vectors[cui][ct])))
            for (cui, ct), v in with_neg.items()
            if ct in cdb_seq.cui2context_vectors.get(cui, {})]
    assert coss and min(coss) >= 0.7 and float(np.mean(coss)) >= 0.9, (
        min(coss), float(np.mean(coss)))


def test_devalue_others_and_gold_name_addition(spark, fixture_models):
    """Reference add_and_train_concept semantics (cat.py:730-800):
    (1) gold (cui, value) pairs join the dictionary before training;
    (2) devalue_others=True trains other CUIs of a shared name
    NEGATIVELY — their mean shifts opposite the example context."""
    from medcat_spark.model_ops import add_gold_concepts

    cdb, vocab = fixture_models
    cfg = EngineConfig()

    # (1) name addition: a brand-new surface form for a known CUI
    import json
    import tempfile

    from medcat_spark.sources.mct_export import read_mct_export
    export = {"projects": [{"id": 1, "name": "p", "cuis": "", "documents": [
        {"id": "d1", "name": "d1",
         "text": "cardiac event observed yesterday",
         "annotations": [{"start": 0, "end": 13, "cui": "C0003",
                          "value": "cardiac event"}]}]}]}
    with tempfile.NamedTemporaryFile("w", suffix=".json",
                                     delete=False) as fh:
        json.dump(export, fh)
        path = fh.name
    mct = read_mct_export(spark, path)
    model = copy.deepcopy(cdb)
    added = add_gold_concepts(model, mct, cfg)
    assert added == 1
    assert "C0003" in model.name2cuis.get("cardiac~event", [])
    assert "cardiac" in model.snames and "cardiac~event" in model.snames
    # idempotent: re-adding the same pair is a no-op
    assert add_gold_concepts(model, mct, cfg) == 0

    # (2) devalue_others: two CUIs share a name; gold trains one of them
    from medcat_spark.fixtures import build_fixture_cdb, build_fixture_vocab
    rows = [("S1", "shunt", "", "P", "T1", ""),
            ("S2", "shunt", "", "A", "T1", "")]
    cdb2 = build_fixture_cdb(cfg, rows=rows)
    vocab2 = build_fixture_vocab()
    bc = broadcast_model(spark, cdb2, vocab2, cfg)
    docs = spark.createDataFrame(
        [("d1", "patient fitted with shunt after surgery")],
        "doc_id string, text string")
    gold = spark.createDataFrame(
        [("d1", 20, 25, "S1", "shunt")],
        "doc_id string, start int, end int, cui string, value string")
    plain = {(r["cui"], r["ctx_type"]): np.array(r["mean_vec"])
             for r in train_supervised_spark(spark, gold, docs, bc,
                                             cfg).collect()}
    dev = {(r["cui"], r["ctx_type"]): np.array(r["mean_vec"])
           for r in train_supervised_spark(
               spark, gold, docs, bc, cfg, devalue_others=True).collect()}
    assert all(k[0] == "S1" for k in plain)          # only the gold CUI
    s2_keys = [k for k in dev if k[0] == "S2"]
    assert s2_keys                                   # S2 got devalued
    for cui, ct in s2_keys:
        # the devalued mean is the NEGATED example context
        assert np.allclose(dev[(cui, ct)], -plain[("S1", ct)], atol=1e-9)


def test_train_from_fp_and_deleted_negatives(spark):
    """Reference cat.py:1052-1070: deleted annotations train negatively;
    train_from_fp negative-trains predictions absent from gold."""
    cfg = EngineConfig()
    from medcat_spark.fixtures import build_fixture_cdb, build_fixture_vocab
    rows = [("P1", "plasma", "", "P", "T1", ""),
            ("P2", "serum", "", "P", "T1", "")]
    cdb2 = build_fixture_cdb(cfg, rows=rows)
    vocab2 = build_fixture_vocab()
    bc = broadcast_model(spark, cdb2, vocab2, cfg)
    docs = spark.createDataFrame(
        [("d1", "patient plasma and serum admitted to hospital ward")],
        "doc_id string, text string")
    # gold covers only 'plasma'; the model will also predict 'serum' -> FP
    gold = spark.createDataFrame(
        [("d1", 8, 14, "P1", "plasma")],
        "doc_id string, start int, end int, cui string, value string")

    plain = {(r["cui"], r["ctx_type"]): np.array(r["mean_vec"])
             for r in train_supervised_spark(spark, gold, docs, bc,
                                             cfg).collect()}
    assert set(k[0] for k in plain) == {"P1"}

    with_fp = {(r["cui"], r["ctx_type"]): np.array(r["mean_vec"])
               for r in train_supervised_spark(
                   spark, gold, docs, bc, cfg,
                   train_from_fp=True).collect()}
    fp_keys = [k for k in with_fp if k[0] == "P2"]
    assert fp_keys                         # the FP cui got negative rows
    # P1's positive mean is untouched by the FP branch
    for k in plain:
        assert np.allclose(with_fp[k], plain[k], atol=1e-12)

    # deleted annotation as negative_gold: negated example context
    neg = spark.createDataFrame(
        [("d1", 19, 24, "P2", "serum")],
        "doc_id string, start int, end int, cui string, value string")
    with_neg = {(r["cui"], r["ctx_type"]): np.array(r["mean_vec"])
                for r in train_supervised_spark(
                    spark, gold, docs, bc, cfg,
                    negative_gold=neg).collect()}
    for cui, ct in [k for k in with_neg if k[0] == "P2"]:
        assert np.allclose(with_neg[(cui, ct)], with_fp[(cui, ct)],
                           atol=1e-9)     # same span -> same negated mean


def _trainer_model(spark):
    from medcat_spark.fixtures import build_fixture_cdb, build_fixture_vocab
    cfg = EngineConfig()
    rows = [("P1", "plasma", "", "P", "T1", ""),
            ("P2", "plasma", "", "P", "T1", ""),
            ("P3", "serum", "", "P", "T1", "")]
    return cfg, broadcast_model(spark, build_fixture_cdb(cfg, rows=rows),
                                build_fixture_vocab(), cfg)


def test_trainer_plans_run_the_arrow_kernel(spark):
    """Every trainer stream (positives, negative_gold, train_from_fp,
    devalue_others, unsupervised) is the one mapInArrow kernel."""
    from medcat_spark.model_ops import train_unsupervised_spark
    cfg, bc = _trainer_model(spark)
    docs = spark.createDataFrame(
        [("d1", "patient plasma and serum admitted to hospital ward")],
        "doc_id string, text string")
    gold = spark.createDataFrame(
        [("d1", 8, 14, "P1", "plasma")],
        "doc_id string, start int, end int, cui string, value string")
    sup = train_supervised_spark(spark, gold, docs, bc, cfg,
                                 devalue_others=True, train_from_fp=True,
                                 negative_gold=gold)
    unsup = train_unsupervised_spark(spark, docs, bc)
    for df, kernels in ((sup, 5), (unsup, 1)):    # sup: 4 + annotate
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("MapInArrow") == kernels, plan
        assert "MapInPandas" not in plan, plan
    assert {r["cui"] for r in sup.collect()} == {"P1", "P2", "P3"}
    assert unsup.count() > 0


def test_trainers_without_examples_give_no_rows(spark):
    """A gold span covering no token (or with a NULL start) and a doc
    with no eligible entity yield no rows and raise nothing."""
    from medcat_spark.model_ops import train_unsupervised_spark
    cfg, bc = _trainer_model(spark)
    docs = spark.createDataFrame(
        [("d1", "patient plasma admitted"), ("d2", "nothing to see here")],
        "doc_id string, text string")
    gold = spark.createDataFrame(
        [("d1", 2, 5, "P1", "plasma"), ("d1", None, 14, "P1", "plasma")],
        "doc_id string, start int, end int, cui string, value string")
    assert train_supervised_spark(spark, gold, docs, bc, cfg,
                                  devalue_others=True,
                                  negative_gold=gold).collect() == []
    assert train_unsupervised_spark(
        spark, docs.where("doc_id = 'd2'"), bc).collect() == []

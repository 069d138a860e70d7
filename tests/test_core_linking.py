"""Linking (L1-L5), overlap resolution (O1), and training (L7) tests
against documented reference semantics (vector_context_model.py,
context_based_linker.py, postprocessing.py, cdb.py:406-471)."""

import numpy as np
import pytest

from medcat_spark.config import EngineConfig, weighted_average
from medcat_spark.core.annotate import annotate_document, preprocess
from medcat_spark.core.linker import ContextModel, create_main_ann, link_entities
from medcat_spark.core.model import CdbModel, unitvec
from medcat_spark.core.ner import Entity, detect_entities
from medcat_spark.fixtures import (build_fixture_cdb, build_fixture_vocab,
                                   trained_fixture_models)


@pytest.fixture(scope="module")
def models():
    return trained_fixture_models()


def test_weighted_average_rule():
    # utils/config_utils.py:69-74
    assert weighted_average(0) == 1.0
    assert weighted_average(10) == 1 - 100 * 0.0004
    assert weighted_average(100) == 0.1  # floor


def test_update_context_vector_rule():
    # cdb.py:406-471: first positive sets the vector; second applies
    # cv*(1-b) + vec*b with b=(1-max(0,cos))*lr
    cfg = EngineConfig()
    cdb = CdbModel()
    v1 = np.ones(4)
    v2 = np.array([1.0, 0.0, 0.0, 0.0])
    cdb.update_context_vector("C1", {"short": v1}, config=cfg)
    assert np.allclose(cdb.cui2context_vectors["C1"]["short"], v1)
    assert cdb.cui2count_train["C1"] == 1
    cdb.update_context_vector("C1", {"short": v2}, config=cfg)
    cos = float(np.dot(unitvec(v1), unitvec(v2)))
    lr = cfg.get_lr_linking(1)  # max(1/(1+1), 5e-5) = 0.5
    b = (1 - max(0, cos)) * lr
    assert np.allclose(cdb.cui2context_vectors["C1"]["short"],
                       v1 * (1 - b) + v2 * b)
    assert cdb.cui2count_train["C1"] == 2


def test_negative_update_rule():
    cfg = EngineConfig()
    cdb = CdbModel()
    v = np.array([1.0, 1.0])
    cdb.update_context_vector("C1", {"short": v}, config=cfg)
    cdb.update_context_vector("C1", {"short": v}, negative=True, config=cfg)
    lr = cfg.get_lr_linking(1)
    b = 1.0 * lr  # cos(v,v)=1
    assert np.allclose(cdb.cui2context_vectors["C1"]["short"],
                       v * (1 - b) - v * b)
    assert cdb.cui2count_train["C1"] == 1  # negatives don't bump the count


def test_untrained_cui_similarity_is_minus_one(models):
    cdb, vocab = models
    cfg = EngineConfig()
    cm = ContextModel(cdb, vocab, cfg)
    assert cm._similarity("C9999", {"short": np.ones(30)}) == -1.0


def test_shared_context_model_links_like_fresh_ones_and_follows_training():
    """The model's ContextModel keeps each CUI's unit vectors across
    documents: linking through one shared instance gives the same
    entities and similarities, to the bit, as a fresh one per document,
    and training a CUI through it drops that CUI's memo."""
    import random

    from medcat_spark.fixtures import fixture_documents
    from medcat_spark.core.docs import reconstruct_text
    cdb, vocab = trained_fixture_models()
    cfg = EngineConfig()
    shared = ContextModel(cdb, vocab, cfg)
    for doc in fixture_documents(60):
        text = reconstruct_text(doc["spans"])
        fresh = annotate_document(text, cdb, vocab, cfg)[0]
        kept = annotate_document(text, cdb, vocab, cfg, context_model=shared)[0]
        assert [(e.start, e.cui, e.context_similarity) for e in kept] == \
            [(e.start, e.cui, e.context_similarity) for e in fresh]
    assert shared._cui_units
    text = "patient with diabetes mellitus"
    toks = preprocess(text, cdb, cfg)
    ent = detect_entities(toks, text, cdb, cfg)[0]
    cui = ent.link_candidates[0]
    before = shared.similarity(cui, ent, toks)
    assert cui in shared._cui_units
    shared.train(cui, ent, toks, negative=True, rng=random.Random(0))
    assert cui not in shared._cui_units
    after = shared.similarity(cui, ent, toks)
    assert after == ContextModel(cdb, vocab, cfg).similarity(cui, ent, toks)
    assert after != before


def test_direct_link_similarity_one(models):
    # L5: single candidate, status not in {N, PD}, len(name) >= limit
    cdb, vocab = models
    cfg = EngineConfig()
    text = "patient admitted with diabetes mellitus today"
    main, _ = annotate_document(text, cdb, vocab, cfg)
    dm = [e for e in main if e.cui == "C0006"]
    assert dm, f"expected diabetes mellitus link, got {main}"
    assert dm[0].context_similarity == 1.0
    assert dm[0].detected_name == "diabetes~mellitus"


def test_overlap_resolution_prefers_longest(models):
    # 'diabetes mellitus' (C0006) spans both tokens; 'diabetes' alone also
    # matches C0006 — O1 keeps the longer span only.
    cdb, vocab = models
    cfg = EngineConfig()
    text = "history of diabetes mellitus and fever"
    main, _ = annotate_document(text, cdb, vocab, cfg)
    names = sorted(e.detected_name for e in main)
    assert "diabetes~mellitus" in names
    assert "diabetes" not in names  # subsumed by the longer span


def test_disambiguation_virus_shared_name(models):
    # 'virus' maps to C0008 and C0009 (shared name) -> disambiguation path;
    # trained vectors must pick one with sim >= threshold.
    cdb, vocab = models
    cfg = EngineConfig()
    assert set(cdb.name2cuis["virus"]) == {"C0008", "C0009"}
    text = "the virus k strain recovered from blood"
    main, _ = annotate_document(text, cdb, vocab, cfg)
    viruses = [e for e in main if e.cui in {"C0008", "C0009"}]
    assert viruses, f"virus mention should link, got {main}"
    assert all(e.context_similarity >= cfg.similarity_threshold for e in viruses)


def test_overlap_tie_break_insertion_order():
    # O1: equal char lengths -> stable sort keeps lower ent_id first
    e1 = Entity(tok_start=0, tok_end=0, start=0, end=5, source_value="aaaaa",
                detected_name="a", link_candidates=["C1"], ent_id=0, cui="C1",
                context_similarity=1.0)
    e2 = Entity(tok_start=0, tok_end=0, start=0, end=5, source_value="bbbbb",
                detected_name="b", link_candidates=["C2"], ent_id=1, cui="C2",
                context_similarity=1.0)
    main = create_main_ann([e1, e2])
    assert [e.ent_id for e in main] == [0]


def test_spell_check_fix(models):
    # 'diabetis' (1 edit from 'diabetes', len 8 >= 7) is fixed via the CDB
    # token vocab and then matched (normalizers.py:194-204)
    cdb, vocab = models
    cfg = EngineConfig()
    text = "diabetis mellitus diagnosed last year"
    main, _ = annotate_document(text, cdb, vocab, cfg)
    assert any(e.cui == "C0006" for e in main), main


def test_spell_check_tie_break_ignores_hash_seed():
    # every vocab word is one edit from each query and all counts are
    # equal, so every candidate ties on P: the fix must be the smallest
    # string, not whatever set order PYTHONHASHSEED gives
    import os
    import subprocess
    import sys
    script = (
        "from medcat_spark.config import EngineConfig\n"
        "from medcat_spark.core.normalizer import SpellChecker\n"
        "sc = SpellChecker({c + 'ot': 3 for c in 'bcdghjlmnprtw'},\n"
        "                  EngineConfig())\n"
        "print(' '.join(sc.fix(q) for q in ('aot', 'fot', 'kot', 'zot')))\n")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    outs = [subprocess.run(
        [sys.executable, "-c", script], cwd=root, check=True,
        capture_output=True, text=True,
        env={**os.environ, "PYTHONPATH": root, "PYTHONHASHSEED": seed}
    ).stdout.split() for seed in ("1", "2")]
    assert outs[0] == outs[1] == ["bot"] * 4


def test_token_memo_belongs_to_the_checker_not_the_config():
    """The token memo depends on the CDB token vocab and on the config,
    so it lives on the spell checker: a reused EngineConfig neither
    carries stale norms to another CDB nor pickles the memo along."""
    import pickle

    from medcat_spark.core.normalizer import SpellChecker
    cfg = EngineConfig()
    vocab = build_fixture_vocab()
    text = "patient has hypertensian today"
    only_right = build_fixture_cdb(cfg, rows=[
        ("C1", "hypertension", "", "A", "T1", "")])
    both = build_fixture_cdb(cfg, rows=[
        ("C9", "hypertensian", "", "A", "T1", ""),
        ("C1", "hypertension", "", "A", "T1", "")])
    first, _ = annotate_document(text, only_right, vocab, cfg)
    assert [e.cui for e in first] == ["C1"]          # spell-fixed
    # same config, other CDB: the misspelling is now a known name
    again, _ = annotate_document(text, both, vocab, cfg)
    assert [e.cui for e in again] == ["C9"]
    assert pickle.dumps(cfg) == pickle.dumps(EngineConfig())

    def norm(c):
        toks = preprocess(text, only_right, c, SpellChecker(only_right.vocab, c))
        return [t.norm for t in toks]

    assert "hypertension" in norm(cfg)
    cfg.spell_check = False
    assert "hypertensian" in norm(cfg) and "hypertension" not in norm(cfg)


def test_threshold_filters_unlinked(models):
    cdb, vocab = models
    cfg = EngineConfig(similarity_threshold=2.0)  # impossible threshold
    text = "the virus strain"  # shared name -> disamb -> sim < 2.0 always
    main, _ = annotate_document(text, cdb, vocab, cfg)
    assert not [e for e in main if e.detected_name == "virus"]


def test_cui_filters(models):
    cdb, vocab = models
    cfg = EngineConfig(filter_cuis_exclude=frozenset({"C0006"}))
    text = "patient admitted with diabetes mellitus today"
    main, _ = annotate_document(text, cdb, vocab, cfg)
    assert not [e for e in main if e.cui == "C0006"]


def test_unlink_name():
    """Killed-annotation unlink (cat.py:693-728): the name no longer
    links to the CUI; full_unlink removes it from all concepts."""
    from medcat_spark.fixtures import build_fixture_cdb
    cfg = EngineConfig()
    cdb = build_fixture_cdb(cfg)
    assert cdb.name2cuis["virus"] == ["C0008", "C0009"]
    cdb.unlink_name("C0008", "virus")
    assert cdb.name2cuis["virus"] == ["C0009"]
    assert "virus" not in cdb.cui2names["C0008"]
    assert "virus~k" in cdb.cui2names["C0008"]  # other names untouched
    cdb.unlink_name("C0009", "virus", full_unlink=True)
    assert "virus" not in cdb.name2cuis

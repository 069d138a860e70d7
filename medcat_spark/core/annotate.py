"""Per-document annotation: the full P1→P2→P3/P4→N1→L1-L5→O1 chain.

This is the black-box kernel the Spark ``mapInArrow`` stage applies per
Arrow batch (SURVEY §3.1 lifecycle).  It is Spark-free so it can be
golden-tested directly against the reference's documented semantics
(reference entrypoint: medcat/cat.py:492-536 CAT.__call__ →
medcat/pipe.py:276-292).
"""

from __future__ import annotations

import random
from typing import List, Optional, Tuple

from medcat_spark.config import EngineConfig
from medcat_spark.core.linker import (ContextModel, create_main_ann,
                                      link_entities, map_ents_to_groups)
from medcat_spark.core.model import CdbModel, VocabModel
from medcat_spark.core.ner import Entity, detect_entities
from medcat_spark.core.normalizer import SpellChecker, normalize_tokens
from medcat_spark.core.tokenizer import Tok, tag_skip_and_punct, tokenize


def preprocess(text: str, cdb: CdbModel, config: EngineConfig,
               spell_checker: Optional[SpellChecker] = None) -> List[Tok]:
    """P1+P2+P3+P4 over one document (trimmed to max_document_length,
    reference cat.py:1797-1798).

    Every per-token attribute (case flags, skip/punct tags, lemma and
    spell-checked norm) is a pure function of the token TEXT given a
    fixed config+vocab, so the spell checker (one per broadcast model in
    the executor model cache) memoizes the full attribute bundle per
    distinct token string — across documents, batches and tasks of that
    model.  Positions (start/end/i) stay per-instance.  Semantics are
    bit-identical to running P2/P3/P4 token-by-token (the uncached path
    below IS that code)."""
    text = text[:config.max_document_length]
    if spell_checker is None:
        spell_checker = SpellChecker(cdb.vocab, config)
    cache = spell_checker.token_memo
    from medcat_spark.core.tokenizer import _SCAN_RE, _SCAN_RE_DIA
    scan = _SCAN_RE_DIA if config.diacritics else _SCAN_RE
    toks: List[Tok] = []
    for i, m in enumerate(scan.finditer(text)):
        t = m.group()
        attrs = cache.get(t)
        if attrs is None:
            attrs = _token_attrs(t, config, spell_checker)
            if len(cache) < 2_000_000:     # bound worker memory
                cache[t] = attrs
        lower, is_punct, to_skip, is_stop, is_digit, is_upper, norm = attrs
        toks.append(Tok(t, lower, m.start(), m.end(), i,
                        is_punct, to_skip, is_stop, is_digit, is_upper, norm))
    return toks


def _token_attrs(t: str, config: EngineConfig,
                 spell_checker: Optional[SpellChecker]):
    """P2+P3+P4 for ONE token text — the exact per-token bodies of
    tag_skip_and_punct / normalize_tokens, factored for the memo."""
    toks = [Tok(t, t.lower(), 0, len(t), 0, False, False, False,
                t.isdigit(), t.isupper(), t.lower())]
    tag_skip_and_punct(toks, config)
    normalize_tokens(toks, config, spell_checker)
    tk = toks[0]
    return (tk.lower, tk.is_punct, tk.to_skip, tk.is_stop,
            tk.is_digit, tk.is_upper, tk.norm)


def annotate_document(text: str, cdb: CdbModel, vocab: VocabModel,
                      config: EngineConfig,
                      spell_checker: Optional[SpellChecker] = None,
                      keep_overlaps: bool = False,
                      context_model: Optional[ContextModel] = None
                      ) -> Tuple[List[Entity], List[Tok]]:
    """Inference for one document → final non-overlapping entities.

    Mirrors get_entities' output contract (cat.py:1729-1795): each Entity
    carries cui, detected_name, source_value, start/end, similarity.
    ``keep_overlaps`` returns all linked candidates without O1 — the
    reference's ``general.show_nested_entities`` (config.py:379-380,
    output at cat.py:1741-1744).  ``spell_checker`` and
    ``context_model`` are the model's long-lived ones (the executor model
    cache's), whose memos carry over between documents.
    """
    text = text[:config.max_document_length]
    toks = preprocess(text, cdb, config, spell_checker)
    cands = detect_entities(toks, text, cdb, config)
    linked = link_entities(cands, toks, cdb, vocab, config, context_model)
    main = linked if keep_overlaps else create_main_ann(linked)
    if config.map_cui_to_group and cdb.addl_info.get("cui2group"):
        map_ents_to_groups(main, cdb)
    return main, toks


def train_unsupervised(texts, cdb: CdbModel, vocab: VocabModel,
                       config: EngineConfig, seed: int = 42) -> None:
    """L6/L7 exact sequential trainer (driver-side, small corpora).

    Reference: cat.py:620-674 + context_based_linker.py:63-88 (train
    branch).  Strictly order-dependent (lr anneal over running
    cui2count_train, cdb.py:441) — kept serial by design; the scalable
    approximate variant lives in cdb_build.py (count-weighted merge, like
    the reference's import_training averaging, cdb.py:585-611).

    Negative sampling (L8) requires unigram-distribution sampling from the
    word vocab; with the deterministic fixture vocab we keep
    negative_probability semantics but sample via the seeded RNG.
    """
    rng = random.Random(seed)
    cm = ContextModel(cdb, vocab, config)
    sc = SpellChecker(cdb.vocab, config)
    words = sorted(w for w in vocab.word2cnt if vocab.vec(w) is not None)
    for text in texts:
        toks = preprocess(text, cdb, config, sc)
        for entity in detect_entities(toks, text, cdb, config):
            for cui in train_cuis(entity, cdb, config):
                cm.train(cui, entity, toks, rng=rng)
                # L8: with negative_probability, ONE negative update
                if words and config.negative_probability >= rng.random():
                    neg = negative_vectors(vocab, config, rng)
                    if neg:
                        cdb.update_context_vector(cui, neg, negative=True,
                                                  config=config)


def train_cuis(entity: Entity, cdb: CdbModel,
               config: EngineConfig) -> List[str]:
    """L6 train eligibility (context_based_linker.py:63-88): the detected
    name is at least disamb_length_limit long; a single candidate trains
    unless its status is 'N', several train only those with status P or
    PD."""
    name = entity.detected_name
    if name is None or len(name) < config.disamb_length_limit:
        return []
    cuis = entity.link_candidates
    statuses = cdb.name2cuis2status.get(name, {})
    if len(cuis) == 1:
        return [] if statuses.get(cuis[0]) == "N" else list(cuis)
    return [c for c in cuis if statuses.get(c) in {"P", "PD"}]


def negative_vectors(vocab: VocabModel, config: EngineConfig,
                     rng: random.Random) -> dict:
    """One L8 negative sample (context_based_linker.py:52-54,
    vector_context_model.py:243-258 train_using_negative_sampling): per
    context type, sample that type's window size from the unigram^(3/4)
    cumulative distribution (vocab.py:179-242) and average the word
    vectors."""
    import numpy as np
    vectors = {}
    for ct, size in config.context_vector_sizes.items():
        sampled = vocab.get_negative_samples(
            size, rng,
            ignore_punct_and_num=config.negative_ignore_punct_and_num)
        vals = [vocab.vec(w) for w in sampled if vocab.vec(w) is not None]
        if vals:
            vectors[ct] = np.average(vals, axis=0)
    return vectors


"""L1-L5 context-vector linking/disambiguation + O1 overlap resolution.

Pure-Python/numpy, Spark-free; executed inside Arrow batches.

Reference files:
  * medcat/linking/vector_context_model.py (ContextModel) — context token
    windows (L1), weighted context vectors (L2), cosine similarity with
    per-window weights (L3), disambiguation with primary-name/frequency
    boosts (L4);
  * medcat/linking/context_based_linker.py:57-138 (Linker.__call__) —
    link decision rules (L5) and training branch (L6);
  * medcat/utils/postprocessing.py:37-62 (create_main_ann) — greedy
    overlap resolution by span char-length desc with Python-stable-sort
    tie-break on insertion id (O1).
"""

from __future__ import annotations

import random
from typing import Dict, List, Optional, Tuple

import numpy as np

from medcat_spark.config import EngineConfig, weighted_average
from medcat_spark.core.model import CdbModel, VocabModel, unitvec
from medcat_spark.core.ner import Entity
from medcat_spark.core.tokenizer import Tok


class ContextModel:
    """Reference: medcat/linking/vector_context_model.py:15-258."""

    def __init__(self, cdb: CdbModel, vocab: VocabModel,
                 config: EngineConfig) -> None:
        self.cdb = cdb
        self.vocab = vocab
        self.config = config
        # per-CUI unit context vectors, filled lazily by _similarity; one
        # ContextModel per broadcast model lives in the executor model
        # cache, so each CUI is normalized once per model per worker
        self._cui_units: Dict[str, Dict[str, np.ndarray]] = {}

    # L1 ---------------------------------------------------------------
    def get_context_tokens(self, entity: Entity, toks: List[Tok],
                           size: int) -> Tuple[List[Tok], List[Tok], List[Tok]]:
        """vector_context_model.py:29-52; left window reversed so the
        nearest token gets the highest positional weight."""
        start_ind = entity.tok_start
        end_ind = entity.tok_end
        tokens_left = [t for t in toks[max(0, start_ind - size):start_ind]
                       if not t.to_skip and not t.is_stop
                       and not t.is_digit and not t.is_punct]
        tokens_left.reverse()
        tokens_center = toks[start_ind:end_ind + 1]
        tokens_right = [t for t in toks[end_ind + 1:end_ind + 1 + size]
                        if not t.to_skip and not t.is_stop
                        and not t.is_digit and not t.is_punct]
        return tokens_left, tokens_center, tokens_right

    # L2 ---------------------------------------------------------------
    def get_context_vectors(self, entity: Entity, toks: List[Tok],
                            cui: Optional[str] = None,
                            rng: Optional[random.Random] = None) -> Dict[str, np.ndarray]:
        """vector_context_model.py:54-93.  ``cui``/``rng`` only in training
        (random synonym replacement of the center tokens)."""
        cfg = self.config
        vocab = self.vocab
        factor = cfg.weighted_average_factor
        vectors: Dict[str, np.ndarray] = {}
        for context_type, size in cfg.context_vector_sizes.items():
            tokens_left, tokens_center, tokens_right = \
                self.get_context_tokens(entity, toks, size)
            values = []
            values.extend(
                weighted_average(step, factor) * vocab.vec(t.lower)
                for step, t in enumerate(tokens_left)
                if t.lower in vocab and vocab.vec(t.lower) is not None)
            if not cfg.context_ignore_center_tokens:
                if (cui is not None and rng is not None
                        and rng.random() > cfg.random_replacement_unsupervised
                        and self.cdb.cui2names.get(cui)):
                    new_center = rng.choice(
                        sorted(self.cdb.cui2names[cui])).split(cfg.separator)
                    values.extend(vocab.vec(t) for t in new_center
                                  if t in vocab and vocab.vec(t) is not None)
                else:
                    values.extend(vocab.vec(t.lower) for t in tokens_center
                                  if t.lower in vocab and vocab.vec(t.lower) is not None)
            values.extend(
                weighted_average(step, factor) * vocab.vec(t.lower)
                for step, t in enumerate(tokens_right)
                if t.lower in vocab and vocab.vec(t.lower) is not None)
            if values:
                vectors[context_type] = np.average(values, axis=0)
        return vectors

    # L3 ---------------------------------------------------------------
    def _similarity(self, cui: str, units: Dict[str, np.ndarray]) -> float:
        """vector_context_model.py:112-139: weighted sum of per-window
        cosines between the entity's unit context vectors ``units`` and
        the CUI's; -1 when the CUI has no trained vectors or too few
        positive examples (train_count_threshold)."""
        cui_vectors = self.cdb.cui2context_vectors.get(cui, {})
        if cui_vectors and self.cdb.cui2count_train.get(cui, 0) >= \
                self.config.train_count_threshold:
            cui_units = self._cui_units.get(cui)
            if cui_units is None:
                cui_units = self._cui_units[cui] = {
                    ct: unitvec(v) for ct, v in cui_vectors.items()}
            similarity = 0.0
            for context_type, weight in self.config.context_vector_weights.items():
                if context_type in units and context_type in cui_units:
                    s = float(np.dot(units[context_type],
                                     cui_units[context_type]))
                    similarity += weight * s
            return similarity
        return -1.0

    def unit_context_vectors(self, entity: Entity, toks: List[Tok]
                             ) -> Dict[str, np.ndarray]:
        return {ct: unitvec(v) for ct, v in
                self.get_context_vectors(entity, toks).items()}

    def similarity(self, cui: str, entity: Entity, toks: List[Tok]) -> float:
        return self._similarity(cui, self.unit_context_vectors(entity, toks))

    # L4 ---------------------------------------------------------------
    def disambiguate(self, cuis: List[str], entity: Entity, name: str,
                     toks: List[Tok]) -> Tuple[Optional[str], float]:
        """vector_context_model.py:140-185."""
        cfg = self.config
        units = self.unit_context_vectors(entity, toks)
        if cfg.filter_before_disamb:
            cuis = [cui for cui in cuis if cfg.check_filters(cui)]
        if not cuis:
            return None, 0.0
        similarities = [self._similarity(cui, units) for cui in cuis]
        if cfg.prefer_primary_name > 0:
            statuses = self.cdb.name2cuis2status.get(name, {})
            for i, cui in enumerate(cuis):
                if similarities[i] > 0 and statuses.get(cui, "") in {"P", "PD"}:
                    similarities[i] = min(
                        0.99, similarities[i]
                        + similarities[i] * cfg.prefer_primary_name)
        if cfg.prefer_frequent_concepts > 0:
            cnts = [self.cdb.cui2count_train.get(cui, 0) for cui in cuis]
            m = min(cnts) if min(cnts) > 0 else 1
            scales = [np.log10(cnt / m) * cfg.prefer_frequent_concepts
                      if cnt > 10 else 0 for cnt in cnts]
            similarities = [min(0.99, sim + sim * scales[i])
                            for i, sim in enumerate(similarities)]
        mx = int(np.argmax(similarities))
        return cuis[mx], float(similarities[mx])

    # L7/L8 (training) ---------------------------------------------------
    def train(self, cui: str, entity: Entity, toks: List[Tok],
              negative: bool = False,
              rng: Optional[random.Random] = None) -> None:
        """vector_context_model.py:187-240 → cdb.update_context_vector."""
        vectors = self.get_context_vectors(entity, toks, cui=cui, rng=rng)
        self.cdb.update_context_vector(cui, vectors, negative=negative,
                                       config=self.config)
        self._cui_units.pop(cui, None)


def link_entities(ents: List[Entity], toks: List[Tok], cdb: CdbModel,
                  vocab: VocabModel, config: EngineConfig,
                  cm: Optional[ContextModel] = None) -> List[Entity]:
    """L5 inference branch (context_based_linker.py:93-131).

    Returns the linked subset of ``ents`` (with cui/context_similarity set),
    still containing overlaps — O1 resolves those.  ``cm`` is the
    model's ContextModel (the executor model cache's, so its CUI unit
    vectors carry over between documents); a fresh one by default.
    """
    if cm is None:
        cm = ContextModel(cdb, vocab, config)
    cnf_l = config
    linked: List[Entity] = []
    for entity in ents:
        if entity.link_candidates is None:
            continue
        cui: Optional[str] = None
        context_similarity = 0.0
        if entity.detected_name is not None:
            name = entity.detected_name
            cuis = entity.link_candidates
            if not cuis:
                continue
            do_disambiguate = False
            if len(name) < cnf_l.disamb_length_limit:
                do_disambiguate = True
            elif len(cuis) == 1 and cdb.name2cuis2status.get(
                    name, {}).get(cuis[0]) in {"N", "PD"}:
                do_disambiguate = True
            elif len(cuis) > 1:
                do_disambiguate = True
            if do_disambiguate:
                cui, context_similarity = cm.disambiguate(cuis, entity, name, toks)
            else:
                cui = cuis[0]
                if cnf_l.always_calculate_similarity:
                    context_similarity = cm.similarity(cui, entity, toks)
                else:
                    context_similarity = 1.0
        else:
            cui, context_similarity = cm.disambiguate(
                entity.link_candidates, entity, "unk-unk", toks)

        if cui and cnf_l.check_filters(cui):
            th = cnf_l.similarity_threshold
            if (cnf_l.similarity_threshold_type == "static"
                    and context_similarity >= th) or \
               (cnf_l.similarity_threshold_type == "dynamic"
                    and context_similarity >=
                    cdb.cui2average_confidence.get(cui, 0.0) * th):
                entity.cui = cui
                entity.context_similarity = context_similarity
                linked.append(entity)
    return linked


def create_main_ann(linked: List[Entity]) -> List[Entity]:
    """O1: greedy non-overlap selection (postprocessing.py:37-62).

    Sort by ``len(source_value)`` desc — Python's stable sort keeps
    insertion (ent_id) order for ties — then keep entities whose tokens
    are all unclaimed.  Result order = selection order (as appended to
    doc.ents in the reference).
    """
    ordered = sorted(linked, key=lambda e: len(e.source_value), reverse=True)
    tkns_in = set()
    main: List[Entity] = []
    for ent in ordered:
        span = range(ent.tok_start, ent.tok_end + 1)
        if any(t in tkns_in for t in span):
            continue
        tkns_in.update(span)
        main.append(ent)
    return main


def map_ents_to_groups(main: List[Entity], cdb: CdbModel) -> None:
    """O2 canonicalization: cui → group remap (postprocessing.py:12-14)."""
    groups = cdb.addl_info.get("cui2group", {})
    for ent in main:
        ent.cui = groups.get(ent.cui, ent.cui)

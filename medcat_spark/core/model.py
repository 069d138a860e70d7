"""Broadcastable model containers: CDB (concept database) + Vocab.

The reference holds these as dict-of-dict attributes on classes
(medcat/cdb.py:26-111, medcat/vocab.py:10-29).  Here they are plain
picklable containers built FROM Spark tables (see cdb_build.py) and
broadcast to executors; the annotation UDFs read them as local dicts /
numpy arrays — Spark broadcast-hash-join territory (SURVEY §2.3 J1-J3).

Everything is deterministic: list-valued fields keep insertion order the
same way the reference does (name2cuis is an append-ordered list,
cdb.py:314-331), because linking tie-breaks depend on candidate order.
"""

from __future__ import annotations

import hashlib
import pickle
import re
from typing import Dict, Iterable, List, Optional, Set, Tuple

import numpy as np

from medcat_spark.config import EngineConfig
from medcat_spark.core.normalizer import normalize_name_tokens
from medcat_spark.core.tokenizer import tag_skip_and_punct, tokenize

_NON_LETTER = re.compile("[^A-Za-z]*")
_PH_REMOVE = re.compile(r"\([^\)]*\)")  # parenthesised qualifiers in P-names
                                        # (reference cdb_maker.py:31, 187-191)


def unitvec(arr: np.ndarray) -> np.ndarray:
    """L2-normalize (reference medcat/utils/matutils.py:5-6 via gensim)."""
    a = np.asarray(arr, dtype=np.float64)
    n = np.linalg.norm(a)
    return a / n if n > 0 else a


def _stack_rows(arrays: Iterable[np.ndarray]
                ) -> Tuple[np.ndarray, List[np.ndarray]]:
    """Pack vectors for pickling as one stacked matrix per (dtype,
    shape) plus the matrix each vector went to, in order: a model's
    tens of thousands of small vectors then pickle and unpickle as a
    few buffers instead of one array object each."""
    groups: Dict[tuple, Tuple[int, list]] = {}
    which = []
    for a in arrays:
        a = np.asarray(a)
        g = groups.get((a.dtype, a.shape))
        if g is None:
            g = groups[(a.dtype, a.shape)] = (len(groups), [])
        which.append(g[0])
        g[1].append(a)
    return (np.array(which, dtype=np.int32),
            [np.stack(rows) for _, rows in groups.values()])


def _unstack_rows(packed: Tuple[np.ndarray, List[np.ndarray]]
                  ) -> List[np.ndarray]:
    """The vectors ``_stack_rows`` packed, in order, as row views of
    its matrices (same dtype, shape and bits)."""
    which, mats = packed
    rows = [iter(m) for m in mats]
    return [next(rows[g]) for g in which.tolist()]


def prepare_name(raw_name: str, config: EngineConfig,
                 names: Optional[Dict[str, dict]] = None) -> Dict[str, dict]:
    """Generate LOWER and CLEAN versions of a concept name.

    Reference: medcat/preprocessing/cleaners.py:10-66.  Produces
    ``{name: {tokens, snames, raw_name, is_upper}}`` where ``name`` is the
    '~'-joined normalized token sequence and ``snames`` are all its
    token prefixes (the trie surrogate, cdb.py:75).
    """
    if names is None:
        names = {}
    toks = tag_skip_and_punct(tokenize(raw_name, config), config)
    kept = [t for t in toks if not t.to_skip]
    is_upper = raw_name.isupper()

    for version in config.name_versions:
        if version == "LOWER":
            tokens = [t.lower for t in kept]
        elif version == "CLEAN":
            tokens = normalize_name_tokens([t.text for t in kept], config)
        else:
            continue
        if not tokens:
            continue
        name = config.separator.join(tokens)
        min_letters = config.min_letters_required
        if min_letters and len(_NON_LETTER.sub("", name)) < min_letters:
            continue
        if name in names:
            continue
        snames: Set[str] = set()
        sname = ""
        for token in tokens:
            sname = sname + config.separator + token if sname else token
            snames.add(sname.strip())
        names[name] = {"tokens": tokens, "snames": snames,
                       "raw_name": raw_name, "is_upper": is_upper}
    return names


def strip_parenthesis(raw_name: str) -> str:
    """P-name parenthesis removal (reference cdb_maker.py:187-191)."""
    return _PH_REMOVE.sub(" ", raw_name).strip()


class CdbModel:
    """Concept database; field-for-field semantics of medcat/cdb.py:72-100."""

    def __init__(self) -> None:
        self.name2cuis: Dict[str, List[str]] = {}
        self.name2cuis2status: Dict[str, Dict[str, str]] = {}
        self.snames: Set[str] = set()
        self.cui2names: Dict[str, Set[str]] = {}
        self.cui2snames: Dict[str, Set[str]] = {}
        self.cui2context_vectors: Dict[str, Dict[str, np.ndarray]] = {}
        self.cui2count_train: Dict[str, int] = {}
        self.cui2type_ids: Dict[str, Set[str]] = {}
        self.cui2preferred_name: Dict[str, str] = {}
        self.cui2average_confidence: Dict[str, float] = {}
        self.name_isupper: Dict[str, bool] = {}
        self.vocab: Dict[str, int] = {}  # token counts (spell-check dictionary)
        self.addl_info: Dict[str, dict] = {"cui2group": {}, "cui2icd10": {},
                                           "cui2ontologies": {}, "cui2description": {},
                                           "cui2original_names": {}}
        self.weighted_average_factor: float = 0.0004

    def __getstate__(self) -> dict:
        state = self.__dict__.copy()
        cvs = self.cui2context_vectors
        state["cui2context_vectors"] = (
            list(cvs), [list(v) for v in cvs.values()],
            _stack_rows(x for v in cvs.values() for x in v.values()))
        return state

    def __setstate__(self, state: dict) -> None:
        cuis, types, packed = state["cui2context_vectors"]
        rows = iter(_unstack_rows(packed))
        state["cui2context_vectors"] = {
            c: {t: next(rows) for t in ts} for c, ts in zip(cuis, types)}
        self.__dict__.update(state)

    # -- model building (driver-side exact path; the Spark job in
    #    cdb_build.py produces identical contents via DataFrame aggs) --
    def add_concept(self, cui: str, names: Dict[str, dict], ontologies: Set[str],
                    name_status: str, type_ids: Set[str], description: str,
                    full_build: bool = False) -> None:
        """Reference: medcat/cdb.py:249-386 (_add_concept)."""
        cui = cui.strip().upper()
        if cui not in self.cui2names:
            self.cui2names[cui] = set()
            self.cui2snames[cui] = set()
            self.cui2type_ids[cui] = set(type_ids)
        else:
            self.cui2type_ids[cui].update(type_ids)

        name_info = None
        for name, info in names.items():
            name_info = info
            self.snames.update(info["snames"])
            self.cui2names[cui].add(name)
            self.cui2snames[cui].update(info["snames"])
            self.name_isupper[name] = info["is_upper"]
            if name in self.name2cuis:
                if cui not in self.name2cuis[name]:
                    self.name2cuis[name].append(cui)
                    self.name2cuis2status[name][cui] = name_status
                elif name_status == "P":
                    self.name2cuis2status[name][cui] = name_status
            else:
                self.name2cuis[name] = [cui]
                self.name2cuis2status[name] = {cui: name_status}
            for token in info["tokens"]:
                self.vocab[token] = self.vocab.get(token, 0) + 1

        if name_info is not None and name_status == "P" \
                and cui not in self.cui2preferred_name:
            self.cui2preferred_name[cui] = name_info["raw_name"]

        if full_build:
            if ontologies:
                self.addl_info["cui2ontologies"].setdefault(cui, set()).update(ontologies)
            if description:
                self.addl_info["cui2description"][cui] = description
            self.addl_info["cui2original_names"].setdefault(cui, set()).update(
                info["raw_name"] for info in names.values())

    def update_context_vector(self, cui: str, vectors: Dict[str, np.ndarray],
                              negative: bool = False, lr: Optional[float] = None,
                              config: Optional[EngineConfig] = None) -> None:
        """L7 streaming update (reference medcat/cdb.py:406-471)."""
        cfg = config or EngineConfig()
        if cui not in self.cui2context_vectors:
            self.cui2context_vectors[cui] = {}
            self.cui2count_train.setdefault(cui, 0)
        for context_type, vector in vectors.items():
            cvs = self.cui2context_vectors[cui]
            if context_type in cvs:
                cv = cvs[context_type]
                similarity = float(np.dot(unitvec(cv), unitvec(vector)))
                if lr is None:
                    lr = cfg.get_lr_linking(self.cui2count_train.get(cui, 0))
                if negative:
                    b = max(0, similarity) * lr
                    cvs[context_type] = cv * (1 - b) - vector * b
                else:
                    b = (1 - max(0, similarity)) * lr
                    cvs[context_type] = cv * (1 - b) + vector * b
            else:
                cvs[context_type] = -1 * vector if negative else vector
        if not negative:
            self.cui2count_train[cui] = self.cui2count_train.get(cui, 0) + 1

    def unlink_name(self, cui: str, name: str,
                    full_unlink: bool = False) -> None:
        """Unlink a name from a concept (reference cat.py:693-728
        unlink_concept_name via cdb.remove_names, cdb.py:388-404):
        used for 'killed' annotations in supervised training.
        ``full_unlink`` removes the name from ALL concepts
        (config.general.full_unlink, config.py:381-382)."""
        cuis = [cui] if not full_unlink else list(self.name2cuis.get(name, []))
        for c in cuis:
            if name in self.name2cuis and c in self.name2cuis[name]:
                self.name2cuis[name].remove(c)
                if not self.name2cuis[name]:
                    del self.name2cuis[name]
            if name in self.name2cuis2status and c in self.name2cuis2status[name]:
                del self.name2cuis2status[name][c]
                if not self.name2cuis2status[name]:
                    del self.name2cuis2status[name]
            self.cui2names.get(c, set()).discard(name)
        # Reference cdb.py:176-183 (_remove_names): when the name drops to
        # exactly one remaining CUI, demote its status so it must always be
        # disambiguated ('A'->'N', 'P'->'PD') instead of direct-linking
        # with similarity 1.0.
        if name in self.name2cuis2status and len(self.name2cuis2status[name]) == 1:
            only_cui = next(iter(self.name2cuis2status[name]))
            st = self.name2cuis2status[name][only_cui]
            if st == "A":
                self.name2cuis2status[name][only_cui] = "N"
            elif st == "P":
                self.name2cuis2status[name][only_cui] = "PD"
        # snames are kept for other names that share prefixes — rebuild
        # per-cui snames conservatively from the remaining names
        if cui in self.cui2names:
            remaining = set()
            for n in self.cui2names[cui]:
                parts = n.split("~")
                for i in range(1, len(parts) + 1):
                    remaining.add("~".join(parts[:i]))
            self.cui2snames[cui] = remaining

    def update_average_confidence(self, cui: str, sim: float) -> None:
        """Reference: medcat/cdb.py:145-148 (running mean over count_train)."""
        cnt = self.cui2count_train.get(cui, 0)
        avg = self.cui2average_confidence.get(cui, 0.0)
        self.cui2average_confidence[cui] = (avg * cnt + sim) / (cnt + 1)

    def content_hash(self) -> str:
        """Deterministic model hash for snapshot lineage (cdb.py:894-922 analogue)."""
        h = hashlib.sha256()
        for name in sorted(self.name2cuis):
            h.update(name.encode())
            h.update(",".join(self.name2cuis[name]).encode())
        for cui in sorted(self.cui2count_train):
            h.update(f"{cui}:{self.cui2count_train[cui]}".encode())
        for cui in sorted(self.cui2context_vectors):
            for ct in sorted(self.cui2context_vectors[cui]):
                h.update(np.asarray(self.cui2context_vectors[cui][ct],
                                    dtype=np.float64).tobytes())
        return h.hexdigest()[:16]

    def to_bytes(self) -> bytes:
        return pickle.dumps(self, protocol=pickle.HIGHEST_PROTOCOL)

    @staticmethod
    def from_bytes(b: bytes) -> "CdbModel":
        return pickle.loads(b)


class VocabModel:
    """Word-embedding vocab (reference medcat/vocab.py:10-29).

    Words keep insertion order (index order, like the reference's
    ``index2word``); ``make_unigram_table`` builds the cumulative
    unigram^(3/4) distribution over words WITH vectors
    (reference vocab.py:179-214) for negative sampling."""

    def __init__(self) -> None:
        self.word2vec: Dict[str, np.ndarray] = {}
        self.word2cnt: Dict[str, int] = {}
        self._cum_probs: Optional[np.ndarray] = None
        self._vec_words: Optional[list] = None

    def __getstate__(self) -> dict:
        state = self.__dict__.copy()
        state["word2vec"] = (list(self.word2vec),
                             _stack_rows(self.word2vec.values()))
        return state

    def __setstate__(self, state: dict) -> None:
        words, packed = state["word2vec"]
        state["word2vec"] = dict(zip(words, _unstack_rows(packed)))
        self.__dict__.update(state)

    def add(self, word: str, cnt: int, vec: Optional[np.ndarray]) -> None:
        self.word2cnt[word] = cnt
        if vec is not None:
            self.word2vec[word] = np.asarray(vec, dtype=np.float64)
        self._cum_probs = None  # invalidate

    def __contains__(self, word: str) -> bool:
        return word in self.word2cnt

    def vec(self, word: str) -> Optional[np.ndarray]:
        return self.word2vec.get(word)

    def make_unigram_table(self) -> None:
        """Cumulative unigram^(3/4) over words with vectors
        (reference vocab.py:179-214 make_unigram_table)."""
        self._vec_words = [w for w in self.word2cnt if w in self.word2vec]
        freqs = np.array([self.word2cnt[w] for w in self._vec_words],
                         dtype=np.float64) ** (3 / 4)
        if freqs.size and freqs.sum() > 0:
            freqs /= freqs.sum()
        self._cum_probs = np.cumsum(freqs)

    def get_negative_samples(self, n: int, rng,
                             ignore_punct_and_num: bool = False) -> list:
        """N words sampled from the unigram^(3/4) distribution
        (reference vocab.py:216-242 get_negative_samples), with an
        explicit seeded RNG for distributed determinism.  ``rng`` is a
        ``random.Random`` or ``np.random.RandomState``-like object
        exposing ``random()``."""
        if self._cum_probs is None:
            self.make_unigram_table()
        if self._cum_probs is None or self._cum_probs.size == 0:
            return []
        vals = np.array([rng.random() for _ in range(n)])
        slots = np.searchsorted(self._cum_probs, vals)
        words = [self._vec_words[min(int(s), len(self._vec_words) - 1)]
                 for s in slots]
        if ignore_punct_and_num:
            words = [w for w in words if w.upper().isupper()]
        return words

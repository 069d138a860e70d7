"""Engine configuration.

A plain, mutable dataclass mirroring the semantics-bearing defaults of
the reference config (/root/reference/medcat/config.py:340-578).  It is
not frozen: nothing stops a caller from assigning a field.  The contract
is that a config is not mutated once ``broadcast_model`` has pickled it;
executors keep the pickled values, so a later change reaches the driver
only.  Every field below changes outputs, so it is part of the model
contract: the config is serialized to JSON next to the graph tables and
hashed into snapshot lineage (reference: medcat/cat.py:151-178, medcat/cdb.py:894-922).

This is NOT a port of the reference's pydantic model tree — only the
fields that gate annotation semantics are kept, as plain Python values
that pickle cheaply into Spark broadcasts.
"""

from __future__ import annotations

import hashlib
import json
import re
from dataclasses import asdict, dataclass, field
from typing import Optional


def weighted_average(step: int, factor: float = 0.0004) -> float:
    """Positional context-token weight.

    Reference: medcat/utils/config_utils.py:69-74 (``max(0.1, 1-step^2*factor)``).
    """
    return max(0.1, 1 - (step ** 2 * factor))


# A compact English stopword list (public knowledge; the reference defers to
# spaCy's list, config.py:416).  Fixtures are built against THIS list, so
# parity on fixtures is exact by construction.
DEFAULT_STOPWORDS = frozenset(
    """a an and are as at be but by for from had has have he her his i if in
    into is it its me my no not of on or our she so that the their them they
    this to was we were what when which who will with you your""".split()
)


@dataclass
class EngineConfig:
    # --- general (reference config.py:364-377) ---
    separator: str = "~"
    spell_check: bool = True
    spell_check_deep: bool = False
    spell_check_len_limit: int = 7
    diacritics: bool = False

    # --- preprocessing (reference config.py:403-423) ---
    words_to_skip: frozenset = frozenset({"nos"})
    keep_punct: frozenset = frozenset({".", ":"})
    skip_stopwords: bool = False
    min_len_normalize: int = 5
    # POS tags whose tokens are NOT lemmatized (reference config.py:407-415
    # preprocessing.do_not_normalize; tags come from the POS-lite tagger in
    # core/normalizer.py — the reference uses spaCy fine tags)
    do_not_normalize: frozenset = frozenset(
        {"VBD", "VBG", "VBN", "VBP", "JJS", "JJR"})
    max_document_length: int = 1_000_000
    stopwords: Optional[frozenset] = None  # None -> DEFAULT_STOPWORDS

    # --- ner (reference config.py:432-442) ---
    min_name_len: int = 3
    max_skip_tokens: int = 2
    upper_case_limit_len: int = 4
    check_upper_case_names: bool = False
    try_reverse_word_order: bool = False

    # --- linking (reference config.py:534-578) ---
    context_vector_sizes: dict = field(
        default_factory=lambda: {"xlong": 27, "long": 18, "medium": 9, "short": 3}
    )
    context_vector_weights: dict = field(
        default_factory=lambda: {"xlong": 0.1, "long": 0.4, "medium": 0.4, "short": 0.1}
    )
    context_ignore_center_tokens: bool = False
    disamb_length_limit: int = 3
    filter_before_disamb: bool = False
    train_count_threshold: int = 1
    always_calculate_similarity: bool = False
    similarity_threshold_type: str = "static"  # 'static' | 'dynamic'
    similarity_threshold: float = 0.25
    prefer_primary_name: float = 0.35
    prefer_frequent_concepts: float = 0.35
    weighted_average_factor: float = 0.0004
    # linking filters (reference config.py:497-509)
    filter_cuis: frozenset = frozenset()          # empty => allow all
    filter_cuis_exclude: frozenset = frozenset()
    # training optimiser (reference utils/ml_utils.py:1-9, config linear optim)
    optim_type: str = "linear"
    optim_lr: float = 1.0
    optim_base_lr: float = 1.0
    optim_min_lr: float = 5e-5
    random_replacement_unsupervised: float = 0.80
    negative_probability: float = 0.5
    negative_ignore_punct_and_num: bool = False  # reference config.py:566

    # --- cdb_maker (reference config.py:280-288) ---
    name_versions: tuple = ("LOWER", "CLEAN")
    multi_separator: str = "|"
    min_letters_required: int = 2
    remove_parenthesis: int = 5

    # --- output / kg ---
    map_cui_to_group: bool = False

    # ------------------------------------------------------------------
    def effective_stopwords(self) -> frozenset:
        return self.stopwords if self.stopwords is not None else DEFAULT_STOPWORDS

    def check_filters(self, cui: str) -> bool:
        """Reference: medcat/config.py:497-509 LinkingFilters.check_filters."""
        if cui in self.filter_cuis or not self.filter_cuis:
            return cui not in self.filter_cuis_exclude
        return False

    def word_skipper(self) -> re.Pattern:
        """Reference: medcat/config.py:612-613."""
        return re.compile("^({})$".format("|".join(sorted(self.words_to_skip))))

    def punct_checker(self) -> re.Pattern:
        """Reference: medcat/config.py:615 (input lowercased)."""
        return re.compile(r"[^a-z0-9]+")

    def get_lr_linking(self, cui_count: int) -> float:
        """Reference: medcat/utils/ml_utils.py:1-9."""
        if self.optim_type == "standard":
            return self.optim_lr
        if self.optim_type == "linear":
            return max(self.optim_base_lr / (cui_count + 1), self.optim_min_lr)
        raise ValueError(f"unknown optimizer {self.optim_type}")

    def to_json(self) -> str:
        d = asdict(self)
        for k, v in list(d.items()):
            if isinstance(v, frozenset):
                d[k] = sorted(v)
            elif isinstance(v, tuple):
                d[k] = list(v)
        return json.dumps(d, sort_keys=True)

    def content_hash(self) -> str:
        """Config hash recorded in snapshot lineage (analogue of cat.py:151-178)."""
        return hashlib.sha256(self.to_json().encode()).hexdigest()[:16]


DEFAULT_CONFIG = EngineConfig()

"""N1: greedy longest-match dictionary NER (pure Python, Spark-free).

Reproduces medcat/ner/vocab_based_ner.py:24-97 +
medcat/ner/vocab_based_annotator.py:13-65 exactly:

  1. iterate the subsequence of non-skipped tokens;
  2. at each position try name versions ``[norm, lower]`` in that order,
     preferring a version that is a full name over one that is only a
     prefix (snames);
  3. extend right while ``name + '~' + version`` is in ``snames``; stop
     when the token-index gap between consecutive kept tokens exceeds
     ``max_skip_tokens``; each extension that is a full name is annotated
     too (overlapping candidates accumulate);
  4. acceptance (maybe_annotate_name): ``len(name) >= min_name_len`` and
     (``len(name) >= upper_case_limit_len`` or single all-uppercase token);
     optional ``check_upper_case_names`` rejects lowercased acronyms.

Runs inside ``mapInArrow`` batches against the broadcast
{name2cuis, snames, name_isupper} dictionaries (SURVEY §2.4): candidate
generation is unbounded variable-length matching with skips, not
expressible as a bounded relational join.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import List, Optional

from medcat_spark.config import EngineConfig
from medcat_spark.core.model import CdbModel
from medcat_spark.core.tokenizer import Tok


@dataclass
class Entity:
    """Candidate entity span (the reference's Span + custom extensions)."""
    tok_start: int                 # token index of first token (Tok.i)
    tok_end: int                   # token index of last token (inclusive)
    start: int                     # char offset
    end: int                       # char offset (exclusive)
    source_value: str              # doc text slice
    detected_name: str
    link_candidates: List[str]
    ent_id: int
    cui: Optional[str] = None
    context_similarity: float = -1.0
    confidence: float = -1.0
    tokens: List[Tok] = field(default_factory=list)


def maybe_annotate_name(name: str, tkns: List[Tok], ents: List[Entity],
                        text: str, cdb: CdbModel,
                        config: EngineConfig) -> Optional[Entity]:
    """Reference: medcat/ner/vocab_based_annotator.py:13-65."""
    if config.check_upper_case_names:
        if cdb.name_isupper.get(name, False):
            if not all(t.is_upper for t in tkns):
                return None
    if len(name) >= config.min_name_len:
        if len(name) >= config.upper_case_limit_len or \
                (len(tkns) == 1 and tkns[0].is_upper):
            start, end = tkns[0].start, tkns[-1].end
            ent = Entity(
                tok_start=tkns[0].i, tok_end=tkns[-1].i,
                start=start, end=end,
                source_value=text[start:end],
                detected_name=name,
                link_candidates=list(cdb.name2cuis[name]),
                ent_id=len(ents),
                tokens=list(tkns),
            )
            ents.append(ent)
            return ent
    return None


def detect_entities(toks: List[Tok], text: str, cdb: CdbModel,
                    config: EngineConfig) -> List[Entity]:
    """Reference: medcat/ner/vocab_based_ner.py:24-97 (NER.__call__)."""
    sep = config.separator
    name2cuis = cdb.name2cuis
    snames = cdb.snames
    max_skip = config.max_skip_tokens
    ents: List[Entity] = []

    _doc = [t for t in toks if not t.to_skip]
    for i in range(len(_doc)):
        tkn = _doc[i]
        tkns = [tkn]
        name_versions = [tkn.norm, tkn.lower]
        name = ""

        nv_in_snames = []
        nv_in_names = []
        for name_version in name_versions:
            if name_version in snames:
                nv_in_snames.append(name_version)
            if name_version in name2cuis:
                nv_in_names.append(name_version)
        if nv_in_names:
            name = nv_in_names[0]
        elif nv_in_snames:
            name = nv_in_snames[0]
        if name in name2cuis and not tkn.is_stop:
            maybe_annotate_name(name, tkns, ents, text, cdb, config)

        if name:  # something must have been appended to go forward
            for j in range(i + 1, len(_doc)):
                if _doc[j].i - _doc[j - 1].i - 1 > max_skip:
                    break
                tkn = _doc[j]
                tkns.append(tkn)
                name_versions = [tkn.norm, tkn.lower]

                name_changed = False
                name_reverse = None
                for name_version in name_versions:
                    _name = name + sep + name_version
                    if _name in snames:
                        name = _name
                        name_changed = True
                        break
                    if config.try_reverse_word_order:
                        _name_reverse = name_version + sep + name
                        if _name_reverse in snames:
                            name_reverse = _name_reverse

                if name_changed:
                    if name in name2cuis:
                        maybe_annotate_name(name, tkns, ents, text, cdb, config)
                elif name_reverse is not None:
                    if name_reverse in name2cuis:
                        maybe_annotate_name(name_reverse, tkns, ents, text, cdb, config)
                else:
                    break
    return ents

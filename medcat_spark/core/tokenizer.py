"""P1 tokenizer + P2 skip/punct tagger (pure Python, Spark-free).

Reproduces the reference's ``spacy_split_all`` tokenization semantics
(medcat/preprocessing/tokenizers.py:38-54): a custom spaCy tokenizer whose
prefix/suffix/infix classes are all ``[^A-Za-z0-9@]``, which means

  * maximal runs of ``[A-Za-z0-9@]`` are tokens,
  * every other non-whitespace character is its own single-char token,
  * within a whitespace run, a LEADING ASCII space is the separator and
    emits nothing; every remaining whitespace char becomes its own
    single-char token (the infix class matches whitespace, so the
    whitespace span is split per char) — e.g. ``"Movar    Viruses"``
    (4 spaces) yields 3 single-space tokens between the words.  This is
    load-bearing: whitespace tokens count toward ``max_skip_tokens``
    gaps in NER, which is exactly how the reference's own test sweep
    gets 2 vs 3 entities (tests/test_ner.py:62,80-88).

The P2 tagger (medcat/preprocessing/taggers.py:37-52) flags
``is_punct`` / ``to_skip`` per token.

These run inside Arrow-batched ``mapInArrow`` stages; keeping them as
plain functions over lists makes them unit-testable without Spark.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import List

from medcat_spark.config import EngineConfig

_TOKEN_RE = re.compile(r"[A-Za-z0-9@]+")
_TOKEN_RE_DIA = re.compile(r"[A-Za-zÀ-ÖØ-öø-ÿ0-9@]+")
# single-pass tokenization: word runs | punct chars | non-space
# whitespace chars | spaces that continue a whitespace run (a space that
# STARTS a run is the separator and emits nothing — spaCy attaches it as
# the previous token's trailing whitespace)
_SCAN_RE = re.compile(r"[A-Za-z0-9@]+|[^\sA-Za-z0-9@]|[^\S ]|(?<=\s) ")
_SCAN_RE_DIA = re.compile(
    r"[A-Za-zÀ-ÖØ-öø-ÿ0-9@]+|[^\sA-Za-zÀ-ÖØ-öø-ÿ0-9@]|[^\S ]|(?<=\s) ")
_PUNCT_RE = re.compile(r"[^a-z0-9]+")
_DIGIT_RE = re.compile(r"^[0-9]+$")


@dataclass
class Tok:
    """One token; mirrors the spaCy Token surface the pipeline reads."""
    __slots__ = ("text", "lower", "start", "end", "i",
                 "is_punct", "to_skip", "is_stop", "is_digit", "is_upper", "norm")
    text: str
    lower: str
    start: int  # char offset in document
    end: int    # exclusive
    i: int      # token index (assigned after full tokenization)
    is_punct: bool
    to_skip: bool
    is_stop: bool
    is_digit: bool
    is_upper: bool
    norm: str


def tokenize(text: str, config: EngineConfig) -> List[Tok]:
    """P1: split into tokens with char offsets.

    Equivalent to the reference tokenizer for ASCII inputs; the
    diacritics variant widens the in-token character class
    (tokenizers.py:42-43).
    """
    scan = _SCAN_RE_DIA if config.diacritics else _SCAN_RE
    return [_mk(m.group(), m.start(), m.end(), i)
            for i, m in enumerate(scan.finditer(text))]


def _mk(t: str, start: int, end: int, i: int) -> Tok:
    lower = t.lower()
    # str.isupper() already requires at least one cased character, so no
    # extra isalpha scan is needed
    return Tok(
        text=t, lower=lower, start=start, end=end, i=i,
        is_punct=False, to_skip=False, is_stop=False,
        is_digit=t.isdigit(),
        is_upper=t.isupper(),
        norm=lower,
    )


_ALNUM_LOWER = frozenset("abcdefghijklmnopqrstuvwxyz0123456789")


def tag_skip_and_punct(toks: List[Tok], config: EngineConfig) -> List[Tok]:
    """P2: flag punct / skip tokens.

    Reference: medcat/preprocessing/taggers.py:37-52.  ``punct_checker``
    is ``re.match(r'[^a-z0-9]+', lower)`` (anchored at START only,
    config.py:615) — it succeeds iff the first lowercased char is not
    [a-z0-9], which the set test below implements without the regex
    engine; ``word_skipper`` is ``^(w1|w2|…)$`` over ``words_to_skip``
    (config.py:612-613) = exact membership for literal words.
    """
    stop = config.effective_stopwords()
    keep_punct = config.keep_punct
    words_to_skip = config.words_to_skip
    skip_stopwords = config.skip_stopwords
    for tkn in toks:
        lower = tkn.lower
        tkn.is_stop = lower in stop
        if lower[0] not in _ALNUM_LOWER and tkn.text not in keep_punct:
            tkn.is_punct = True
            tkn.to_skip = True
        elif lower in words_to_skip:
            tkn.to_skip = True
        elif skip_stopwords and tkn.is_stop:
            tkn.to_skip = True
    return toks

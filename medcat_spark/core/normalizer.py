"""P3 token normalizer (lite lemmatizer) + P4 Norvig spell check.

Reference semantics (medcat/utils/normalizers.py:160-204):

  * ``norm = lower`` when ``len(lower) < min_len_normalize`` (default 5)
    or the POS tag is in ``do_not_normalize = {VBD,VBG,VBN,VBP,JJS,JJR}``;
    otherwise ``norm = lemma.lower()``.
  * Spell check only for tokens with ``len >= spell_check_len_limit`` (7),
    not punct, not already in the CDB token vocab, containing no digit;
    fix = best known candidate among edits-1 (edits-2 if deep) ranked by
    ``-1/count`` (normalizers.py:17-32, 42-55); the fix is re-normalized.

DOCUMENTED DIVERGENCE: the reference lemmatizes with spaCy
``en_core_web_md`` (config.py:363) conditioned on the token's POS tag,
unavailable here.  We use a deterministic rule-based lemmatizer plus a
POS-lite suffix tagger (``tag_lite``) that reproduces the part of spaCy's
tagging the normalizer actually consumes: membership of the tag in
``config.do_not_normalize``.

  * Under the reference's DEFAULT config, {VBD,VBG,VBN,VBP,JJS,JJR} are
    skipped — so -ed/-ing/-er/-est forms keep their lowercase form in
    BOTH engines; nouns go through the plural rules below.
  * Under configs that empty ``do_not_normalize`` (the reference's own
    entity-linking scenario suite, tests/model_creator/medcat.txt),
    verb forms ARE lemmatized: falling→fall, treated→treat, etc.

Because the CDB-build job and the annotation job share THIS normalizer,
name keys and query tokens normalize consistently — the property the
pipeline actually needs (the reference makes the same assumption:
cleaners.py prepare_name and TokenNormalizer share one spaCy model).
The scenario suite in tests/test_entity_linking_scenarios.py asserts the
reference's own expected/forbidden CUIs on non-fixture text.
"""

from __future__ import annotations

import re
from typing import Dict, Iterable, List, Optional, Set

from medcat_spark.config import EngineConfig
from medcat_spark.core.tokenizer import Tok

_CONTAINS_NUMBER = re.compile("[0-9]+")

# Small irregular-noun map (public linguistic knowledge).
_IRREGULAR = {
    "men": "man", "women": "woman", "children": "child", "teeth": "tooth",
    "feet": "foot", "mice": "mouse", "geese": "goose", "people": "person",
    "viruses": "virus", "diagnoses": "diagnosis", "analyses": "analysis",
    "bacteria": "bacterium", "criteria": "criterion", "data": "datum",
    "fungi": "fungus", "nuclei": "nucleus", "stimuli": "stimulus",
    # invariant nouns (singular == plural-looking)
    "diabetes": "diabetes", "series": "series", "species": "species",
    "news": "news", "herpes": "herpes", "measles": "measles",
    "rabies": "rabies", "scabies": "scabies", "sepsis": "sepsis",
    "pancreas": "pancreas", "atlas": "atlas", "gas": "gas",
    "asbestos": "asbestos", "lens": "lens", "mumps": "mumps",
    "shingles": "shingles", "forceps": "forceps", "biceps": "biceps",
    # s-final adverbs/function words (grown from tools/lemma_divergence)
    "sometimes": "sometimes", "always": "always", "perhaps": "perhaps",
    "besides": "besides", "towards": "towards", "whereas": "whereas",
    # unambiguous -ves plurals (spacy-lookups-data en_lemma_exc noun;
    # grown from the r4 open-vocab divergence run — the suffix rule
    # alone would emit 'wive'/'knive'/...)
    # 'lives' is POS-ambiguous (noun plural of 'life' vs verb 'live');
    # spacy-lookups en_lemma_exc noun maps it to 'life' and the verb
    # rule's 'live' is never produced for the noun reading — follow the
    # exception table (r4 divergence run: the one rule-incompatible word)
    "lives": "life",
    "wives": "wife", "knives": "knife", "shelves": "shelf",
    "calves": "calf", "halves": "half", "selves": "self",
    "thieves": "thief", "wolves": "wolf", "scarves": "scarf",
    "hooves": "hoof", "loaves": "loaf", "elves": "elf",
}

_KEEP_SUFFIX = ("ss", "us", "is", "ous")  # never strip plain trailing 's'

# --- POS-lite tagging (stand-in for spaCy fine tags; only the tags the
#     normalizer's do_not_normalize check consumes are produced) ---------

# -ing words whose lemma is themselves (nouns/prepositions/adjectives);
# tagging them VBG and stripping would corrupt them when
# do_not_normalize is empty.
_ING_NOMINAL = frozenset("""
    during morning evening nothing something anything everything thing
    king spring string wing ring sibling ceiling darling duckling
    dressing clothing housing bedding awning evening lightning
    """.split())

# -ed words whose lemma is themselves
_ED_NOMINAL = frozenset("""
    hundred naked sacred wicked wretched rugged ragged crooked
    infrared unleaded biased seed need indeed bed red shed speed
    bleed breed creed deed feed reed weed
    """.split())

# known comparatives/superlatives (JJR/JJS) → base; everything else
# ending -er/-est is left to the noun rules (cancer, fever, chest, ...)
_JJR = {"bigger": "big", "better": "good", "larger": "large",
        "smaller": "small", "higher": "high", "lower": "low",
        "greater": "great", "fewer": "few", "older": "old",
        "younger": "young", "longer": "long", "shorter": "short",
        "earlier": "early", "later": "late", "worse": "bad",
        "stronger": "strong", "weaker": "weak", "deeper": "deep",
        "wider": "wide", "narrower": "narrow", "faster": "fast",
        "slower": "slow", "newer": "new", "broader": "broad"}
_JJS = {"biggest": "big", "best": "good", "largest": "large",
        "smallest": "small", "highest": "high", "lowest": "low",
        "greatest": "great", "fewest": "few", "oldest": "old",
        "youngest": "young", "longest": "long", "shortest": "short",
        "earliest": "early", "latest": "late", "worst": "bad",
        "strongest": "strong", "weakest": "weak", "deepest": "deep",
        "widest": "wide", "narrowest": "narrow", "fastest": "fast",
        "slowest": "slow", "newest": "new", "broadest": "broad"}

# e-restoration for common -ing/-ed verb stems (lookup, like spaCy's
# lemma tables; pattern inference without a dictionary is unsound)
_ING_IRREGULAR = {
    "making": "make", "taking": "take", "using": "use", "having": "have",
    "causing": "cause", "giving": "give", "living": "live",
    "producing": "produce", "reducing": "reduce", "increasing": "increase",
    "decreasing": "decrease", "managing": "manage", "providing": "provide",
    "requiring": "require", "involving": "involve", "including": "include",
    "becoming": "become", "receiving": "receive", "describing": "describe",
    "smoking": "smoke", "dosing": "dose", "imaging": "image",
    "writing": "write", "coming": "come", "giving": "give",
    "losing": "lose", "choosing": "choose", "being": "be", "dying": "die",
    "lying": "lie", "tying": "tie", "aching": "ache", "staging": "stage",
    "bruising": "bruise", "wheezing": "wheeze", "vomiting": "vomit",
}
_ED_IRREGULAR = {
    "used": "use", "caused": "cause", "increased": "increase",
    "decreased": "decrease", "managed": "manage", "provided": "provide",
    "required": "require", "involved": "involve", "included": "include",
    "received": "receive", "described": "describe", "smoked": "smoke",
    "diagnosed": "diagnose", "prescribed": "prescribe", "dosed": "dose",
    "imaged": "image", "staged": "stage", "bruised": "bruise",
    "resolved": "resolve", "improved": "improve", "removed": "remove",
    "reduced": "reduce", "produced": "produce", "advised": "advise",
    "examined": "examine", "determined": "determine",
    "characterized": "characterize", "localized": "localize",
    "generalized": "generalize", "hospitalized": "hospitalize",
    "stabilized": "stabilize", "immunized": "immunize",
}

_DOUBLED = frozenset("bdgmnprt")  # runn→run; 'll'/'ss' are natural endings

# bases that genuinely END in a doubled consonant: suffix stripping must
# NOT undouble them (add+ed='added', not 'ad'+ded; grown from the r4
# open-vocab divergence run — spaCy resolves this class via its lemma
# index, we enumerate the common bases)
# NOT in the list: 'putt' ('putting'/'putted' are overwhelmingly forms
# of 'put' — spacy-lookups en_lemma_exc maps them to 'put')
_DOUBLE_FINAL_BASES = frozenset({
    "add", "odd", "err", "ebb", "egg", "inn", "butt", "purr",
    "burr", "whirr"})


def tag_lite(lower: str) -> Optional[str]:
    """Suffix-based POS guess; only the tags ``do_not_normalize`` can
    contain are emitted (VBG/-ing, VBD/-ed, JJR/JJS known lists).  VBP/VBN
    are not distinguishable by suffix: VBN shares -ed with VBD (same
    outcome), VBP is a base form whose lemma equals itself."""
    n = len(lower)
    if n >= 6 and lower.endswith("ing") and lower not in _ING_NOMINAL:
        return "VBG"
    if n >= 5 and lower.endswith("ed") and lower not in _ED_NOMINAL:
        return "VBD"
    if lower in _JJR:
        return "JJR"
    if lower in _JJS:
        return "JJS"
    return None


def _strip_ing(w: str) -> str:
    if w in _ING_IRREGULAR:
        return _ING_IRREGULAR[w]
    stem = w[:-3]
    if len(stem) > 2 and stem[-1] == stem[-2] and stem[-1] in _DOUBLED \
            and stem not in _DOUBLE_FINAL_BASES:
        return stem[:-1]
    return stem


def _strip_ed(w: str) -> str:
    if w in _ED_IRREGULAR:
        return _ED_IRREGULAR[w]
    if len(w) > 4 and w.endswith("ied"):
        return w[:-3] + "y"
    stem = w[:-2]
    if len(stem) > 2 and stem[-1] == stem[-2] and stem[-1] in _DOUBLED \
            and stem not in _DOUBLE_FINAL_BASES:
        return stem[:-1]
    return stem


_DEFAULT_DNN = frozenset({"VBD", "VBG", "VBN", "VBP", "JJS", "JJR"})
_LEMMA_CACHE: Dict[tuple, str] = {}


def lemmatize(lower: str, do_not_normalize: frozenset = _DEFAULT_DNN) -> str:
    """Deterministic rule-based English lemmatizer (lowercase in/out),
    POS-gated exactly like the reference TokenNormalizer: a token whose
    (lite) tag is in ``do_not_normalize`` keeps its lowercase form.
    Memoized: corpora repeat a small vocabulary, so the cache turns the
    suffix checks into one dict hit per token occurrence."""
    key = (lower, do_not_normalize)
    hit = _LEMMA_CACHE.get(key)
    if hit is not None:
        return hit
    out = _lemmatize(lower, do_not_normalize)
    if len(_LEMMA_CACHE) < 1_000_000:
        _LEMMA_CACHE[key] = out
    return out


def _lemmatize(lower: str, dnn: frozenset) -> str:
    tag = tag_lite(lower)
    if tag is not None:
        if tag in dnn:
            return lower
        if tag == "VBG":
            return _strip_ing(lower)
        if tag == "VBD":
            return _strip_ed(lower)
        if tag == "JJR":
            return _JJR[lower]
        return _JJS[lower]
    if lower in _IRREGULAR:
        return _IRREGULAR[lower]
    n = len(lower)
    if n > 4 and lower.endswith("ies"):
        return lower[:-3] + "y"
    if n > 4 and lower.endswith(("ches", "shes", "xes", "zes", "sses")):
        return lower[:-2]
    if n > 3 and lower.endswith("s") and not lower.endswith(_KEEP_SUFFIX):
        return lower[:-1]
    return lower


_LETTERS = "abcdefghijklmnopqrstuvwxyz"
_DIACRITICS = "àáâãäåæçèéêëìíîïðñòóôõöøùúûüýþÿ"


def _deletes(word: str) -> Set[str]:
    return {word[:i] + word[i + 1:] for i in range(len(word))}


def _is_edit1(word: str, v: str, letters: str) -> bool:
    """Whether ``v`` is in Norvig's ``edits1(word)`` over ``letters``:
    a delete, an adjacent transpose, or a replace or insert whose new
    char is in ``letters`` (so ``word`` itself counts when one of its
    chars is in ``letters`` or two adjacent chars are equal)."""
    n, m = len(word), len(v)
    i, k = 0, min(n, m)
    while i < k and word[i] == v[i]:
        i += 1
    if m == n - 1:
        return word[i + 1:] == v[i:]
    if m == n + 1:
        return v[i] in letters and v[i + 1:] == word[i:]
    if m != n:
        return False
    if i == n:
        return (any(c in letters for c in word)
                or any(a == b for a, b in zip(word, word[1:])))
    if word[i + 1:] == v[i + 1:]:
        return v[i] in letters
    return (i + 1 < n and word[i] == v[i + 1] and word[i + 1] == v[i]
            and word[i + 2:] == v[i + 2:])


class SpellChecker:
    """Norvig-style checker over the CDB token vocab.

    Reference: medcat/utils/normalizers.py:10-124 (BasicSpellChecker).
    ``P(word) = -1/count`` (inverse-rank proxy, normalizers.py:17-32);
    candidate sets tried in order known([word]) → known(edits1) →
    [word] (→ known(edits2) before [word] when deep).

    ``known(edits1(word))`` is answered from a symmetric-delete index
    instead of enumerating the ~54*len strings of ``edits1``: every vocab
    word and each of its one-char deletes map to the vocab words that
    produce them, so the vocab words one edit from ``word`` are among
    those found under ``word`` and its one-char deletes, and
    ``_is_edit1`` keeps exactly the ones ``edits1`` would give (inserts
    and replaces only of a char in the alphabet).  The index is built on
    the first lookup, once per checker, that is once per broadcast model
    per worker; it assumes a fixed vocab, as the memos do.  A key maps to
    a ``str`` when one word produces it and to a tuple otherwise.  For a
    synthetic vocab of 1M random lowercase words of 4-12 chars (mean 8),
    it holds 8.09M entries (231k of them tuples) and adds 721 MB of RSS;
    it builds in 9-11 s, and a lookup then takes 29-52 µs against
    318 µs for the enumeration (4-core host, CPython 3.11), so below
    some 37k distinct lookups per worker the build costs more than it
    saves at that size.  The 969-word vocab of the benchmark's KG model
    gives 10,131 entries, built in about 8 ms.  ``spell_check_deep``
    keeps ``known(edits2)``, run only when the distance-1 answer is
    empty.

    The checker is the per-(vocab, config) object, so it also owns
    ``token_memo``: the per-token-text attribute bundles that
    ``core.annotate.preprocess`` memoizes (fixes only when
    ``config.spell_check``).
    """

    def __init__(self, vocab: Dict[str, int], config: EngineConfig) -> None:
        self.vocab = vocab
        self.config = config
        self._fix_cache: Dict[str, Optional[str]] = {}
        self._index: Optional[Dict[str, object]] = None
        self.token_memo: Dict[str, tuple] = {}

    def __contains__(self, word: str) -> bool:
        return word in self.vocab

    def P(self, word: str) -> float:
        cnt = self.vocab.get(word, 0)
        return -1 / cnt if cnt != 0 else 0

    def fix(self, word: str) -> Optional[str]:
        """Memoized: fix is a pure function of the word given a fixed
        vocab."""
        if word in self._fix_cache:
            return self._fix_cache[word]
        # ties on P go to the smallest string, not to set order (which
        # follows PYTHONHASHSEED)
        fix = min(self.candidates(word), key=lambda w: (-self.P(w), w))
        out = fix if fix != word else None
        if len(self._fix_cache) < 500_000:
            self._fix_cache[word] = out
        return out

    def candidates(self, word: str) -> Iterable[str]:
        found = self.known([word]) or self.known_edits1(word)
        if not found and self.config.spell_check_deep:
            found = self.known(self.edits2(word))
        return found or [word]

    def known(self, words: Iterable[str]) -> Set[str]:
        return set(w for w in words if w in self.vocab)

    def known_edits1(self, word: str) -> Set[str]:
        """``known(edits1(word))``, from the delete index."""
        index = self._index
        if index is None:
            index = self._index = self._build_index()
        found: Set[str] = set()
        for key in _deletes(word) | {word}:
            hit = index.get(key)
            if hit is None:
                continue
            if type(hit) is str:
                found.add(hit)
            else:
                found.update(hit)
        letters = self._letters()
        return {v for v in found if _is_edit1(word, v, letters)}

    def _build_index(self) -> Dict[str, object]:
        index: Dict[str, object] = {}
        for v in self.vocab:
            for key in _deletes(v) | {v}:
                hit = index.get(key)
                if hit is None:
                    index[key] = v
                elif type(hit) is str:
                    index[key] = (hit, v)
                else:
                    index[key] = hit + (v,)
        return index

    def _letters(self) -> str:
        return _LETTERS + _DIACRITICS if self.config.diacritics else _LETTERS

    def edits1(self, word: str) -> Set[str]:
        letters = self._letters()
        splits = [(word[:i], word[i:]) for i in range(len(word) + 1)]
        deletes = [L + R[1:] for L, R in splits if R]
        transposes = [L + R[1] + R[0] + R[2:] for L, R in splits if len(R) > 1]
        replaces = [L + c + R[1:] for L, R in splits if R for c in letters]
        inserts = [L + c + R for L, R in splits for c in letters]
        return set(deletes + transposes + replaces + inserts)

    def edits2(self, word: str) -> Iterable[str]:
        return (e2 for e1 in self.edits1(word) for e2 in self.edits1(e1))


def normalize_tokens(toks: List[Tok], config: EngineConfig,
                     spell_checker: Optional[SpellChecker] = None) -> List[Tok]:
    """P3+P4 over a token list (reference TokenNormalizer.__call__,
    normalizers.py:179-204)."""
    min_len = config.min_len_normalize
    dnn = config.do_not_normalize
    do_spell = config.spell_check and spell_checker is not None
    limit = config.spell_check_len_limit
    for tkn in toks:
        if len(tkn.lower) < min_len:
            tkn.norm = tkn.lower
        else:
            tkn.norm = lemmatize(tkn.lower, dnn)
        if do_spell:
            if (len(tkn.text) >= limit and not tkn.is_punct
                    and tkn.lower not in spell_checker
                    and not _CONTAINS_NUMBER.search(tkn.lower)):
                fix = spell_checker.fix(tkn.lower)
                if fix is not None:
                    if len(tkn.lower) < min_len:
                        tkn.norm = fix
                    else:
                        tkn.norm = lemmatize(fix, dnn)
    return toks


def normalize_name_tokens(tokens: List[str], config: EngineConfig) -> List[str]:
    """The CLEAN name version used by the CDB build (cleaners.py:37-48):
    lower if short, else lemma.lower().  Shared by build + runtime."""
    out = []
    for t in tokens:
        lt = t.lower()
        out.append(lt if len(lt) < config.min_len_normalize
                   else lemmatize(lt, config.do_not_normalize))
    return out

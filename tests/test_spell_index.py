"""The spell checker's symmetric-delete index answers exactly what
Norvig's enumeration does: ``known_edits1(w) == known(edits1(w))`` for
any vocab and query, with diacritics on and off and with vocab words
holding chars outside the alphabet (an insert or replace may only add an
alphabet char, a delete may drop any); deep mode still falls back to
``known(edits2(w))`` when nothing is one edit away.  ``fix`` gives the
enumeration's answer on every token of the benchmark corpora and of the
fixture documents."""

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from medcat_spark.config import EngineConfig
from medcat_spark.core.normalizer import SpellChecker
from medcat_spark.core.tokenizer import _SCAN_RE

# alphabet chars, two diacritics and two chars outside every alphabet
_CHARS = "abcez" + "éà" + "-2"
_EXTRA = {"co-op": 4, "coop": 2, "x2ray": 1, "é": 3, "a": 1}

words = st.text(alphabet=_CHARS, min_size=0, max_size=7)
short = st.text(alphabet=_CHARS, min_size=1, max_size=2)
vocabs = st.dictionaries(words, st.integers(1, 50), max_size=40)


def _config(diacritics: bool, deep: bool = False) -> EngineConfig:
    cfg = EngineConfig()
    cfg.diacritics = diacritics
    cfg.spell_check_deep = deep
    return cfg


def _reference_candidates(sc: SpellChecker, word: str):
    """The enumeration the index replaces (normalizers.py:42-55)."""
    found = sc.known([word]) or sc.known(sc.edits1(word))
    if not found and sc.config.spell_check_deep:
        found = sc.known(sc.edits2(word))
    return found or [word]


def _reference_fix(sc: SpellChecker, word: str):
    fix = min(_reference_candidates(sc, word), key=lambda w: (-sc.P(w), w))
    return fix if fix != word else None


@settings(max_examples=300, deadline=None)
@given(vocab=vocabs, queries=st.lists(st.one_of(words, short), max_size=8),
       pick=st.lists(st.integers(0, 10_000), max_size=4),
       diacritics=st.booleans())
def test_index_candidates_equal_known_edits1(vocab, queries, pick,
                                             diacritics):
    vocab = {**vocab, **_EXTRA}
    keys = sorted(vocab)
    queries = queries + [keys[i % len(keys)] for i in pick] + [
        "coop", "co-op", "cop", "xray", "x2ra", "xé2ray", ""]
    sc = SpellChecker(vocab, _config(diacritics))
    for q in queries:
        assert sc.known_edits1(q) == sc.known(sc.edits1(q)), q
        assert sc.candidates(q) == _reference_candidates(sc, q), q


@settings(max_examples=20, deadline=None)
@given(vocab=vocabs,
       queries=st.lists(st.text(alphabet=_CHARS, max_size=4), max_size=3),
       diacritics=st.booleans())
def test_deep_candidates_equal_the_enumeration(vocab, queries, diacritics):
    vocab = {**vocab, **_EXTRA}
    sc = SpellChecker(vocab, _config(diacritics, deep=True))
    for q in queries + ["coopzz", "c-o"]:
        assert sc.candidates(q) == _reference_candidates(sc, q), q


def test_alphabet_rule_on_chars_outside_letters():
    sc = SpellChecker(dict(_EXTRA), _config(False))
    # a word is one edit from itself when it has an alphabet char
    assert sc.known_edits1("coop") == {"coop"}       # no '-' insert
    assert sc.known_edits1("co-op") == {"coop", "co-op"}   # any delete
    assert sc.known_edits1("xray") == set()          # no '2' insert
    assert sc.known_edits1("x2rai") == {"x2ray"}     # letter replace
    assert sc.known_edits1("e") == {"a"}             # 'é' needs diacritics
    assert sc.known_edits1("-") == {"a"}
    dia = SpellChecker(dict(_EXTRA), _config(True))
    assert dia.known_edits1("e") == {"a", "é"}


def _distinct_tokens(texts):
    return sorted({m.group().lower() for t in texts
                   for m in _SCAN_RE.finditer(t)})


def _corpora():
    from perfbench import check, gen
    from perfbench.workloads import PARAMS

    from medcat_spark import demo
    from medcat_spark.fixtures import (fixture_documents,
                                       trained_fixture_models)
    p = PARAMS["annotate_dense"]
    dense = gen.dense_docs(101, p["n_docs"], p["tokens_per_doc"],
                           demo.CORPUS_WORDS)
    yield "dense", gen.flagship_model()[0], [d["text"] for d in dense]
    p = PARAMS["kg_iceberg_resume"]
    spec = gen.open_model_spec(p["model_seed"], p["vocab_words"],
                               p["topics"], p["dictionary_names"])
    spans = gen.spans_docs(101, p["n_docs"], p["median_tokens"], spec)
    yield ("spans", gen.open_model(spec)[0],
           [check.doc_text(d)[0] for d in spans])
    yield ("fixtures", trained_fixture_models()[0],
           [check.doc_text(d)[0] for d in fixture_documents(60)])


@pytest.mark.parametrize("diacritics", [False, True])
def test_fix_equals_the_enumeration_on_every_corpus_token(diacritics):
    """Every distinct token, plus each checker vocab word with its last
    char dropped or its first two swapped (the corpora hold almost no
    misspellings, so these give ``fix`` something to fix)."""
    for name, cdb, texts in _corpora():
        sc = SpellChecker(cdb.vocab, _config(diacritics))
        tokens = _distinct_tokens(texts)
        assert len(tokens) > 20, name
        typos = sorted({t for w in cdb.vocab if len(w) > 2
                        for t in (w[:-1], w[1] + w[0] + w[2:])})
        bad = [w for w in tokens + typos
               if sc.fix(w) != _reference_fix(sc, w)]
        assert bad == [], (name, bad[:10])
        assert sum(sc.fix(w) is not None for w in typos) > len(typos) // 2

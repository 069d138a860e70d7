"""The one scorer operator (functions/scorer.py): every public scorer
entry point plans as one MapInArrow behind the xxhash64(doc_id)
repartition, and the kernel, driven in-process over hand-built Arrow
batches, agrees with each head's own predict on the edge cases."""

import copy
import re

import numpy as np
import pyarrow as pa
import pytest

from medcat_spark.functions.bert_np import (mark_pair_sequence,
                                            relcat_bert_fixture_model,
                                            relations_bert)
from medcat_spark.functions.lstm_meta import (lstm_fixture_model,
                                              meta_annotations_lstm)
from medcat_spark.functions.meta_model import (
    meta_annotations_mlp, meta_annotations_model, meta_annotations_multi,
    meta_annotations_rnn, negation_fixture_model, negation_mlp_fixture_model,
    negation_rnn_fixture_model)
from medcat_spark.functions.rel_model import (rel_rnn_fixture_model,
                                              relation_fixture_model,
                                              relations_model, relations_rnn)
from medcat_spark.functions.scorer import kernel, special_framing

_ENTS = pa.list_(pa.struct([("start", pa.int32()), ("end", pa.int32()),
                            ("cui", pa.string())]))
_IN = pa.schema([("doc_id", pa.string()), ("ents", _ENTS),
                 ("text", pa.string())])

# 30 whitespace tokens: long enough that the linear/MLP windows (15 left,
# 10 right) clip on neither side for the multi-token entity
WORDS = ("key spark merge slow window vector stream filter the fast key "
         "order sort table scan part small hash join batch dup group query "
         "row data slow customer line value agg").split()
TEXT = " ".join(WORDS)
STARTS = [sum(len(w) + 1 for w in WORDS[:i]) for i in range(len(WORDS))]


def _batch(docs):
    """docs = [(doc_id, text, [(start, end, cui)])] → one Arrow batch."""
    return pa.RecordBatch.from_pydict({
        "doc_id": [d for d, _, _ in docs],
        "text": [t for _, t, _ in docs],
        "ents": [[{"start": s, "end": e, "cui": c} for s, e, c in ents]
                 for _, _, ents in docs]}, schema=_IN)


class _Bc:
    def __init__(self, value):
        self.value = value


def _run(model, head, docs, meta_name="Negation"):
    """Kernel output over [docs batch, empty batch] → {key: (label,
    conf)}; asserts the empty batch yields no output batch."""
    fn = kernel(_Bc(model), head, meta_name)
    assert list(fn(iter([_batch([])]))) == []
    out = list(fn(iter([_batch(docs), _batch([])])))
    assert len(out) <= 1
    rows = [r for b in out for r in b.to_pylist()]
    if head.startswith("rel"):
        return {(r["doc_id"], r["start1"], r["start2"], r["ent1_cui"],
                 r["ent2_cui"]): (r["relation"], r["confidence"])
                for r in rows}
    assert all(r["meta_name"] == meta_name for r in rows)
    return {(r["doc_id"], r["start"], r["cui"]): (r["value"],
                                                   r["confidence"])
            for r in rows}


# meta docs: m1 holds a null-end unigram (t1), an entity starting INSIDE
# "merge" (t2, skipped by whitespace heads), the two-token entity
# "window vector" (t4..t5, right context measured from t5) and a late
# unigram (t27); m2 has NULL text, m3 empty text — an entity at 0 there
# sits on the one empty token, one at 3 is on no token start
META_DOCS = [
    ("m1", TEXT, [(STARTS[1], None, "C1"),
                  (STARTS[2] + 2, STARTS[2] + 4, "C2"),
                  (STARTS[4], STARTS[5] + len(WORDS[5]), "C3"),
                  (STARTS[27], STARTS[27] + len(WORDS[27]), "C4")]),
    ("m2", None, [(0, None, "C5"), (3, 5, "C6")]),
    ("m3", "", [(0, 1, "C7")]),
]
# (doc, token first, token last, cui) of every window a whitespace
# head scores in META_DOCS
WS_WINDOWS = [("m1", 1, 1, "C1"), ("m1", 4, 5, "C3"), ("m1", 27, 27, "C4")]


def _ws_expected(model, predict):
    """{key: predict(window, (first, last) inside it)} over WS_WINDOWS
    plus the one-empty-token windows of m2 / m3."""
    want = {}
    for doc, first, last, cui in WS_WINDOWS:
        lo = max(0, first - model.cntx_left)
        hi = min(len(WORDS), last + 1 + model.cntx_right)
        want[(doc, STARTS[first], cui)] = predict(
            WORDS[lo:hi], (first - lo, last - lo))
    for doc, cui in (("m2", "C5"), ("m3", "C7")):
        want[(doc, 0, cui)] = predict([""], (0, 0))
    return want


def test_kernel_linear_meta_edge_cases():
    m = negation_fixture_model()
    got = _run(m, "linear", META_DOCS)

    def predict(window, _center):
        v, c = m.predict(window)
        return v, round(c, 4)
    want = _ws_expected(m, predict)
    assert got.keys() == want.keys()
    for k, (v, c) in want.items():
        assert got[k][0] == v and abs(got[k][1] - c) < 1e-9, k


@pytest.mark.parametrize("fixture", [negation_mlp_fixture_model,
                                     negation_rnn_fixture_model])
def test_kernel_pooled_meta_edge_cases(fixture):
    m = fixture()
    want = _ws_expected(m, lambda w, _c: m.predict_batch([w])[0])
    assert _run(m, "pooled", META_DOCS) == want


def test_kernel_lstm_whitespace_edge_cases():
    m = lstm_fixture_model()
    want = _ws_expected(m, lambda w, c: m.predict_batch([w], [c])[0])
    # the two-token entity: window t2..t7, centers (2, 3) — right
    # context counted from its LAST token
    assert want[("m1", STARTS[4], "C3")] == m.predict_batch(
        [WORDS[2:8]], [(2, 3)])[0]
    assert _run(m, "centered", META_DOCS) == want


def test_kernel_lstm_token_space_edge_cases():
    m = copy.copy(lstm_fixture_model())
    m.tokenizer = tok = relcat_bert_fixture_model().tokenizer
    ids, spans = tok.encode_with_offsets(TEXT)
    want = {}
    for start, end, cui in META_DOCS[0][2]:
        # token covering start; last token beginning before end
        cf = next(i for i, (a, b) in enumerate(spans) if a <= start < b)
        cl = max(i for i, (a, _b) in enumerate(spans)
                 if a < (end or start + 1))
        lo, hi = max(0, cf - m.cntx_left), min(len(ids), cl + 1 + m.cntx_right)
        want[("m1", start, cui)] = m.predict_batch_ids(
            [ids[lo:hi]], [(cf - lo, cl - lo)])[0]
    # the mid-token entity IS scored in token space; NULL / empty text
    # has no tokens, so nothing there
    assert ("m1", STARTS[2] + 2, "C2") in want
    assert _run(m, "centered", META_DOCS) == want


def test_kernel_centered_without_tokenizer_is_loud():
    from medcat_spark.functions.bert_np import BertMetaModel
    m = BertMetaModel(relcat_bert_fixture_model().encoder, {}, ["a", "b"])
    with pytest.raises(ValueError, match="tokenizer"):
        _run(m, "centered", META_DOCS)


# relation docs: r1 has spark(t0), join(t1, null end) and window(t2)
# twice at the same start; r2 one entity; r3 / r4 NULL / empty text
REL_TEXT = "spark join window slow vector"
REL_DOCS = [
    ("r1", REL_TEXT, [(0, 5, "C1"), (6, None, "C2"), (11, 17, "C3"),
                      (11, 17, "C4")]),
    ("r2", REL_TEXT, [(0, 5, "C1")]),
    ("r3", None, [(0, None, "C1"), (5, 6, "C2")]),
    ("r4", "", [(0, 1, "C1"), (0, 1, "C2")]),
]
REL_TOKS = REL_TEXT.split(" ")
# (start1, start2, cui1, cui2, token a, token b): no distance-0 pair
REL_PAIRS = [(0, 6, "C1", "C2", 0, 1), (0, 11, "C1", "C3", 0, 2),
             (0, 11, "C1", "C4", 0, 2), (6, 11, "C2", "C3", 1, 2),
             (6, 11, "C2", "C4", 1, 2)]


def test_kernel_linear_relations_edge_cases():
    m = relation_fixture_model()
    want = {}
    for s1, s2, c1, c2, a, b in REL_PAIRS:
        v, c = m.predict(REL_TOKS[a + 1:b], b - a)
        want[("r1", s1, s2, c1, c2)] = (v, round(c, 4))
    # r4: both entities on its one empty token — distance 0, no pair
    got = _run(m, "rel_linear", REL_DOCS)
    assert got.keys() == want.keys()
    for k, (v, c) in want.items():
        assert got[k][0] == v and abs(got[k][1] - c) < 1e-9, k


def test_kernel_marked_relations_edge_cases():
    m = rel_rnn_fixture_model()
    want = {}
    for s1, s2, c1, c2, a, b in REL_PAIRS:
        lo, hi = max(0, a - 2), min(len(REL_TOKS), b + 3)
        seq = (REL_TOKS[lo:a] + ["<e1>"] + REL_TOKS[a:b] + ["<e2>"]
               + REL_TOKS[b:hi])
        want[("r1", s1, s2, c1, c2)] = m.predict_batch([seq])[0]
    assert _run(m, "rel_marked", REL_DOCS) == want


def test_kernel_bert_relations_edge_cases():
    m = relcat_bert_fixture_model()
    ids, spans = m.tokenizer.encode_with_offsets(REL_TEXT)

    def rng(start, end):
        cf = next(i for i, (a, b) in enumerate(spans) if a <= start < b)
        return cf, max(i for i, (a, _b) in enumerate(spans) if a < end)
    ents = {"C1": (0, 5), "C2": (6, 7), "C3": (11, 17), "C4": (11, 17)}
    want = {}
    # C3/C4 share a start (and surface text): never a pair.  The kernel
    # pads all pairs into one forward; padding is mask-invariant up to
    # float rounding, hence the 4-dp tolerance on confidence
    for c1, c2 in (("C1", "C2"), ("C1", "C3"), ("C1", "C4"), ("C2", "C3"),
                   ("C2", "C4")):
        (s1, e1), (s2, e2) = ents[c1], ents[c2]
        seq, p1, p2 = mark_pair_sequence(
            ids, rng(s1, e1), rng(s2, e2), m.tag_ids, m.cntx_left,
            m.cntx_right, m.max_seq_length, *special_framing(m.tokenizer))
        want[("r1", s1, s2, c1, c2)] = m.predict(np.array([seq]),
                                                 np.array([[p1, p2]]))[0]
    got = _run(m, "rel_bert", REL_DOCS)
    assert got.keys() == want.keys()
    for k, (v, c) in want.items():
        assert got[k][0] == v and abs(got[k][1] - c) <= 1e-4, k


# ---------------------------------------------------------------------------
# plan shape of every public entry point


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_scorer_entry_points_plan_one_map_in_arrow(spark):
    sc = spark.sparkContext
    docs = spark.createDataFrame(
        [("d1", "spark join window slow vector"),
         ("d2", "hash join table scan merge")],
        "doc_id string, text string")
    ann = spark.createDataFrame(
        [("d1", 0, 5, "C1"), ("d1", 11, 17, "C2"), ("d2", 5, 9, "C3"),
         ("d2", 21, 26, "C4")],
        "doc_id string, start int, end int, cui string")
    neg = sc.broadcast(negation_fixture_model())
    plans = {
        "meta_annotations_model": meta_annotations_model(ann, docs, neg),
        "meta_annotations_mlp": meta_annotations_mlp(
            ann, docs, sc.broadcast(negation_mlp_fixture_model())),
        "meta_annotations_rnn": meta_annotations_rnn(
            ann, docs, sc.broadcast(negation_rnn_fixture_model())),
        "meta_annotations_lstm": meta_annotations_lstm(
            ann, docs, sc.broadcast(lstm_fixture_model())),
        "meta_annotations_multi": meta_annotations_multi(
            ann, docs, [("Negation", neg)]),
        "relations_model": relations_model(
            ann, docs, sc.broadcast(relation_fixture_model())),
        "relations_rnn": relations_rnn(
            ann, docs, sc.broadcast(rel_rnn_fixture_model())),
        "relations_bert": relations_bert(
            ann, docs, sc.broadcast(relcat_bert_fixture_model())),
    }
    for name, df in plans.items():
        p = _plan(df)
        assert p.count("MapInArrow") == 1, name
        assert "MapInPandas" not in p, name
        # the compute-sized repartition AQE must not coalesce away
        assert re.search(r"hashpartitioning\(xxhash64\(doc_id", p), name
        assert df.count() > 0, name

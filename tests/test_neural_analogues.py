"""MetaCAT / RelCAT trained-analogue classifiers (SURVEY §2.11):
window semantics, deterministic training, Spark operator shape.
Reference: medcat/meta_cat.py:447-517,636-651; medcat/rel_cat.py:551-613.
"""

import random

from medcat_spark.functions.meta_model import (CNTX_LEFT, CNTX_RIGHT,
                                               meta_annotations_model,
                                               negation_fixture_model)
from medcat_spark.functions.rel_model import (relation_fixture_model,
                                              relations_model)

WORDS = ("spark window vector stream the fast key order sort table "
         "scan part hash batch group query row data").split()


def test_meta_model_deterministic_and_accurate():
    m1 = negation_fixture_model()
    m2 = negation_fixture_model()
    assert m1 is m2  # process-cached
    rng = random.Random(5)
    ok = n = 0
    for length in (8, 16, CNTX_LEFT + 1 + CNTX_RIGHT):
        for _ in range(100):
            w = [rng.choice(WORDS) for _ in range(length)]
            v, c = m1.predict(w)
            ok += (v == "present")
            assert 0.5 <= c <= 1.0
            w2 = list(w)
            w2[rng.randrange(length)] = rng.choice(["slow", "small"])
            v, _ = m1.predict(w2)
            ok += (v == "negated")
            n += 2
    assert ok / n >= 0.95


def test_rel_model_connector_rule():
    m = relation_fixture_model()
    rng = random.Random(7)
    ok = n = 0
    for _ in range(200):
        length = rng.randrange(0, m.max_distance)
        tk = [rng.choice(WORDS) for _ in range(length)]
        v, _ = m.predict(tk, length + 1)
        ok += (v == "cooccurs_with")
        tk2 = list(tk)
        tk2.insert(rng.randrange(length + 1), rng.choice(["join", "merge"]))
        v, _ = m.predict(tk2, length + 2)
        ok += (v == "interacts_with")
        n += 2
    assert ok / n >= 0.95
    # adjacent pair: empty between-bag must not crash, distance drives it
    v, c = m.predict([], 1)
    assert v in {"cooccurs_with", "interacts_with"} and 0.5 <= c <= 1.0


def test_meta_model_spark_windows_clip_at_boundaries(spark):
    model = negation_fixture_model()
    bc = spark.sparkContext.broadcast(model)
    # entity at position 0: left window clipped; cue inside right window
    docs = spark.createDataFrame(
        [("d1", "spark slow table scan"),       # cue right of entity
         ("d2", "table scan spark fast key"),   # no cue
         ("d3", " ".join(["key"] * 20) + " spark " + " ".join(["row"] * 12))],
        "doc_id string, text string")
    ann = spark.createDataFrame(
        [("d1", 0, "D001"), ("d2", 11, "D001"), ("d3", 80, "D001")],
        "doc_id string, start int, cui string")
    rows = {r["doc_id"]: r for r in
            meta_annotations_model(ann, docs, bc).collect()}
    assert rows["d1"]["value"] == "negated"
    assert rows["d2"]["value"] == "present"
    # d3: window = 15 left + center + 10 right, fully in-bounds
    assert rows["d3"]["meta_name"] == "Negation"
    # parity with local predict on the same window
    toks3 = docs.where("doc_id='d3'").first()["text"].split(" ")
    center = 20
    lo, hi = center - CNTX_LEFT, center + 1 + CNTX_RIGHT
    v, c = model.predict(toks3[lo:hi])
    assert rows["d3"]["value"] == v
    assert abs(rows["d3"]["confidence"] - round(c, 4)) < 1e-9


def test_relations_model_spark_pairs(spark):
    model = relation_fixture_model()
    bc = spark.sparkContext.broadcast(model)
    docs = spark.createDataFrame(
        [("d1", "spark join window and vector"),
         ("d2", "spark " + " ".join(["x"] * 11) + " window")],  # too far
        "doc_id string, text string")
    ann = spark.createDataFrame(
        [("d1", 0, "D001"), ("d1", 11, "D003"), ("d1", 22, "D004"),
         ("d2", 0, "D001"), ("d2", 30, "D003")],
        "doc_id string, start int, cui string")
    rows = relations_model(ann, docs, bc).collect()
    got = {(r["ent1_cui"], r["ent2_cui"]): r["relation"] for r in rows}
    # d2 pair is 12 tokens apart -> beyond max_distance, no row
    assert all(r["doc_id"] == "d1" for r in rows)
    assert ("D001", "D003") in got       # 'join' between -> interacts
    assert got[("D001", "D003")] == "interacts_with"
    assert ("D003", "D004") in got       # 'and' between -> cooccurs
    assert got[("D003", "D004")] == "cooccurs_with"
    assert ("D001", "D004") in got       # pair ordering follows text order


def test_meta_multi_and_projection(spark):
    """Multiple meta tasks union into one relation and fold into the
    meta_anns map via project_output (reference meta_cats loop +
    _doc_to_out meta_anns dict)."""
    from pyspark.sql import functions as F

    from medcat_spark.functions.meta_model import (meta_annotations_multi,
                                                   negation_fixture_model)
    from medcat_spark.pipeline import project_output

    model = negation_fixture_model()
    bc = spark.sparkContext.broadcast(model)
    docs = spark.createDataFrame([("d1", "spark slow table scan")],
                                 "doc_id string, text string")
    ann = spark.createDataFrame([("d1", 0, "D001")],
                                "doc_id string, start int, cui string")
    multi = meta_annotations_multi(ann, docs,
                                   [("Negation", bc), ("Status", bc)])
    rows = multi.collect()
    assert {r["meta_name"] for r in rows} == {"Negation", "Status"}

    concepts = spark.createDataFrame(
        [("D001", "Spark", ["T001"], ["X"])],
        "cui string, preferred_name string, type_ids array<string>, "
        "ontologies array<string>")
    out = project_output(ann, concepts, meta=multi).first()
    assert set(out["meta_anns"].keys()) == {"Negation", "Status"}


def test_mlp_solves_nonlinear_cue_xor():
    """The MLP fixture solves a task a linear head cannot: negated iff
    EXACTLY ONE cue is present (XOR in mean-pooled bag-of-words space).
    A linear model trained on the same data caps well below the MLP."""
    import random

    from medcat_spark.functions.meta_model import (
        _NEGATION_CUES, _TESTDATA_WORDS, negation_mlp_fixture_model,
        train_meta_model)

    m = negation_mlp_fixture_model()
    rng = random.Random(99)
    non_cue = [w for w in _TESTDATA_WORDS if w not in _NEGATION_CUES]
    cases = []
    for _ in range(200):
        ln = rng.randrange(4, 12)
        base = [rng.choice(non_cue) for _ in range(ln)]
        cases.append((list(base), "present"))
        w1 = list(base)
        w1[rng.randrange(ln)] = rng.choice(_NEGATION_CUES)
        cases.append((w1, "negated"))
        w2 = list(base)
        p = rng.sample(range(ln), 2)
        w2[p[0]] = "slow"
        w2[p[1]] = "small"
        cases.append((w2, "present"))
    acc = sum(m.predict(w)[0] == lab for w, lab in cases) / len(cases)
    assert acc >= 0.97

    linear = train_meta_model(cases, ["present", "negated"], dim=32,
                              epochs=1500, lr=4.0, seed=13)
    lin_acc = sum(linear.predict(w)[0] == lab
                  for w, lab in cases) / len(cases)
    assert lin_acc <= 0.8          # the task really needs the hidden layer


def test_mlp_padded_batch_equals_per_window():
    """Ragged batch (padding + masking) must give bit-identical results
    to one-at-a-time scoring — the torch batch-shape contract."""
    from medcat_spark.functions.meta_model import negation_mlp_fixture_model

    m = negation_mlp_fixture_model()
    ws = [["key"], ["slow", "key", "row", "table", "scan"],
          ["slow", "small", "key"], ["unseen-oov-token", "slow"],
          ["key"] * 26]
    assert m.predict_batch(ws) == [m.predict(w) for w in ws]


def test_mlp_spark_matches_local(spark):
    from medcat_spark.functions.meta_model import (meta_annotations_mlp,
                                                   negation_mlp_fixture_model)

    m = negation_mlp_fixture_model()
    bc = spark.sparkContext.broadcast(m)
    text = "table scan " + " ".join(["key"] * 9) + " slow"
    docs = spark.createDataFrame([("d1", text)], "doc_id string, text string")
    ann = spark.createDataFrame([("d1", 0, 10, "D104"), ("d1", 11, 14, "D999")],
                                "doc_id string, start int, end int, cui string")
    rows = {r["cui"]: r for r in meta_annotations_mlp(ann, docs, bc).collect()}
    toks = text.split(" ")
    v, c = m.predict(toks[0:2 + m.cntx_right])       # bigram: last tok = 1
    assert rows["D104"]["value"] == v
    assert abs(rows["D104"]["confidence"] - c) < 1e-9


def test_rnn_order_task_statefulness():
    """The BiRNN solves an order task on which any pooled (order-blind)
    model is provably at chance — the statefulness evidence the MLP
    cannot give (reference BiLSTM shape, meta_cat.py:447-517)."""
    import numpy as np
    from medcat_spark.functions.meta_model import (
        negation_rnn_fixture_model, order_task_sequences,
        train_mlp_meta_model)
    seqs = order_task_sequences()
    m = negation_rnn_fixture_model()
    preds = m.predict_batch([s for s, _ in seqs])
    acc = sum(p == y for (p, _), (_, y) in zip(preds, seqs)) / len(seqs)
    assert acc >= 0.95
    mlp = train_mlp_meta_model([(s, y) for s, y in seqs],
                               ["present", "negated"], dim=16, hidden=8,
                               epochs=800, lr=1.0, seed=3)
    mp = mlp.predict_batch([s for s, _ in seqs])
    macc = sum(p == y for (p, _), (_, y) in zip(mp, seqs)) / len(seqs)
    assert macc <= 0.6          # multiset-identical pairs -> chance


def test_rnn_padding_and_chunk_invariance():
    """Ragged batches (padded, state-carry masking) == per-window calls,
    and chunked forwards == unchunked — the packed-sequence semantics a
    torch BiLSTM swap must preserve."""
    from medcat_spark.functions.meta_model import negation_rnn_fixture_model
    m = negation_rnn_fixture_model()
    windows = [["neg", "alpha", "ent"],
               ["alpha", "beta", "gamma", "ent", "zeta", "neg", "eps"],
               ["ent"], ["neg", "ent", "alpha", "beta", "gamma", "delta"]]
    batched = m.predict_batch(windows)
    single = [m.predict(w) for w in windows]
    assert batched == single
    m2 = negation_rnn_fixture_model()
    m2.MAX_FORWARD_BATCH = 2
    assert m2.predict_batch(windows) == batched


def test_rnn_through_spark_plumbing(spark):
    """The stateful scorer rides the identical broadcast + mapInArrow
    plan; order decides the label end to end."""
    from medcat_spark.functions.meta_model import (meta_annotations_rnn,
                                                   negation_rnn_fixture_model)
    m = negation_rnn_fixture_model()
    bc = spark.sparkContext.broadcast(m)
    docs = spark.createDataFrame(
        [("d1", "neg alpha beta ent gamma"),
         ("d2", "alpha ent beta gamma neg")],
        "doc_id string, text string")
    ann = spark.createDataFrame(
        [("d1", 15, 18, "C1"), ("d2", 6, 9, "C1")],
        "doc_id string, start int, end int, cui string")
    out = {r["doc_id"]: r["value"]
           for r in meta_annotations_rnn(ann, docs, bc).collect()}
    assert out == {"d1": "negated", "d2": "present"}


def test_rnn_tagger_bracket_task_beats_windowed_linear():
    """Per-TIMESTEP stateful outputs (the TransformersNER tensor shape):
    the BiRNN labels bracket interiors far beyond any fixed context
    window, where the windowed linear tagger structurally cannot."""
    import numpy as np
    from medcat_spark.functions.ner_model import (
        bracket_task_sentences, rnn_tagger_fixture_model,
        train_token_tagger)
    sents = bracket_task_sentences()
    rnn = rnn_tagger_fixture_model()
    pred = rnn.tag_batch([s for s, _ in sents])
    total = sum(len(g) for _, g in sents)
    racc = sum(p == g for ps, (_, gs) in zip(pred, sents)
               for p, g in zip(ps, gs)) / total
    assert racc >= 0.98
    lin = train_token_tagger(sents, ["O", "I"])

    def lin_tag(toks):
        out = []
        for i in range(len(toks)):
            lo = max(0, i - lin.window)
            hi = min(len(toks), i + lin.window + 1)
            s = lin.center_scores[toks[i]] + lin.bias + np.mean(
                [lin.ctx_scores[toks[j]] for j in range(lo, hi)], axis=0)
            out.append(lin.labels[int(np.argmax(s))])
        return out

    lacc = sum(p == g for toks, gs in sents
               for p, g in zip(lin_tag(toks), gs)) / total
    assert lacc <= 0.8 and racc - lacc >= 0.15


def test_rnn_tagger_ragged_batch_and_spark_spans(spark):
    """Ragged batches == per-sentence calls, and the Spark wrapper's
    span relation matches a driver-side loop over the same docs."""
    from medcat_spark.functions.ner_model import (rnn_tagger_fixture_model,
                                                  tag_spans_rnn)
    m = rnn_tagger_fixture_model()
    seqs = [["alpha", "open", "beta", "gamma", "delta", "eps", "zeta",
             "alpha", "beta", "gamma", "delta", "eps", "beta", "gamma",
             "close", "alpha"],
            ["beta", "gamma"],
            ["open", "alpha", "beta", "gamma", "delta", "eps", "zeta",
             "alpha", "beta", "gamma", "delta", "eps", "close"]]
    batched = m.tag_batch(seqs)
    single = [m.tag_batch([s])[0] for s in seqs]
    assert batched == single

    docs = spark.createDataFrame(
        [(f"d{i}", " ".join(s)) for i, s in enumerate(seqs)],
        "doc_id string, text string")
    bc = spark.sparkContext.broadcast(m)
    got = {(r["doc_id"], r["start"], r["end"], r["label"])
           for r in tag_spans_rnn(docs, bc).collect()}
    want = set()
    for i, (s, labels) in enumerate(zip(seqs, batched)):
        starts, pos = [], 0
        for t in s:
            starts.append(pos)
            pos += len(t) + 1
        j = 0
        while j < len(s):
            if labels[j] == "O":
                j += 1
                continue
            k = j
            while k + 1 < len(s) and labels[k + 1] == labels[j]:
                k += 1
            want.add((f"d{i}", starts[j], starts[k] + len(s[k]),
                      labels[j]))
            j = k + 1
    assert got == want and got   # non-empty


def test_rel_rnn_directionality(spark):
    """The marked-sequence recurrent pair classifier reads cue ORDER
    between entities (multiset-identical in both directions — the
    between-token BAG scorer is provably at chance), end to end through
    the relations plan."""
    from medcat_spark.functions.rel_model import (rel_direction_sequences,
                                                  rel_rnn_fixture_model,
                                                  relations_rnn)
    seqs = rel_direction_sequences()
    m = rel_rnn_fixture_model()
    preds = m.predict_batch([s for s, _ in seqs])
    acc = sum(p == y for (p, _), (_, y) in zip(preds, seqs)) / len(seqs)
    assert acc >= 0.95

    # through Spark: two docs whose between-cue order differs; entity
    # tokens at known char offsets
    t1 = "alpha ENT1 act beta rev ENT2 gamma"     # forward
    t2 = "alpha ENT1 rev beta act ENT2 gamma"     # reverse
    docs = spark.createDataFrame([("d1", t1), ("d2", t2)],
                                 "doc_id string, text string")
    ann = spark.createDataFrame(
        [("d1", t1.index("ENT1"), "C1"), ("d1", t1.index("ENT2"), "C2"),
         ("d2", t2.index("ENT1"), "C1"), ("d2", t2.index("ENT2"), "C2")],
        "doc_id string, start int, cui string")
    bc = spark.sparkContext.broadcast(m)
    out = {r["doc_id"]: r["relation"]
           for r in relations_rnn(ann, docs, bc).collect()}
    assert out == {"d1": "forward", "d2": "reverse"}

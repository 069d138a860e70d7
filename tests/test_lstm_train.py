"""In-engine MetaCAT LSTM training (VERDICT r4 next-round #5).

Certification strategy: the BPTT gradient is checked against numerical
differentiation on every parameter tensor (the strongest evidence a
hand-written backward pass can get), then the trainer must SOLVE an
order-dependent task a pooled model cannot, and the trained head must
round-trip through the reference meta_* on-disk layout back into the
Spark scoring path.
"""

import os

import numpy as np
import pytest

from medcat_spark.functions.lstm_meta import LstmMetaModel
from medcat_spark.functions.lstm_train import (
    _Adam, _forward_backward, _params, class_weights_balanced,
    collect_samples, init_lstm_meta, mct_meta_samples, prepare_window,
    tokens_overlapping_span, train_lstm_meta, train_lstm_meta_two_phase,
    undersample)


def tiny_model(n_layers=1, bidirectional=True, seed=3):
    tok2id = {f"t{i}": i for i in range(2, 12)}
    return init_lstm_meta(["a", "b"], tok2id, input_size=4, hidden_size=6,
                          num_layers=n_layers, bidirectional=bidirectional,
                          seed=seed)


def rand_batch(model, rng, n=5, lmin=2, lmax=7):
    batch = []
    V = model.E.shape[0]
    for _ in range(n):
        L = rng.randint(lmin, lmax + 1)
        ids = rng.randint(2, V, size=L).tolist()
        cf = rng.randint(0, L)
        cl = rng.randint(cf, L)
        batch.append((ids, (cf, cl), int(rng.randint(0, 2))))
    return batch


@pytest.mark.parametrize("layers,bidi", [(1, True), (2, True), (1, False)])
def test_bptt_matches_numerical_gradient(layers, bidi):
    """Analytic BPTT vs central differences on EVERY parameter tensor
    (embeddings included), variable lengths + padding + class weights."""
    rng = np.random.RandomState(7)
    model = tiny_model(n_layers=layers, bidirectional=bidi)
    batch = rand_batch(model, rng)
    cw = np.array([0.7, 1.6])
    _, grads, _ = _forward_backward(model, batch, cw, emb_grad=True)
    params = _params(model, emb_grad=True)
    eps = 1e-6
    for name, p in params.items():
        flat = p.ravel()
        # probe a sample of coordinates per tensor (all for small ones)
        n_probe = min(flat.size, 12)
        idxs = rng.choice(flat.size, size=n_probe, replace=False)
        for ix in idxs:
            old = flat[ix]
            flat[ix] = old + eps
            lp, _, _ = _forward_backward(model, batch, cw, emb_grad=False)
            flat[ix] = old - eps
            lm, _, _ = _forward_backward(model, batch, cw, emb_grad=False)
            flat[ix] = old
            num = (lp - lm) / (2 * eps)
            ana = grads[name].ravel()[ix]
            assert ana == pytest.approx(num, abs=5e-7, rel=1e-4), \
                f"{name}[{ix}]: analytic {ana} vs numerical {num}"


def test_pad_gradient_is_inert():
    """Suffix padding must not leak gradient: a mixed-length batch (the
    short window padded to the long one's length) must decompose into
    the exact average of the two unpadded single-sample runs — the
    training-side packed-sequence parity."""
    model = tiny_model()
    s_short = ([2, 3, 4], (1, 1), 0)
    s_long = ([5, 6, 7, 8, 9], (0, 2), 1)
    lb, gb, _ = _forward_backward(model, [s_short, s_long], None,
                                  emb_grad=True)
    l1, g1, _ = _forward_backward(model, [s_short], None, emb_grad=True)
    l2, g2, _ = _forward_backward(model, [s_long], None, emb_grad=True)
    assert lb == pytest.approx((l1 + l2) / 2, rel=1e-12)
    for k in gb:
        np.testing.assert_allclose(gb[k], (g1[k] + g2[k]) / 2, atol=1e-12)


def test_class_weights_and_undersample():
    y = [0] * 8 + [1] * 2
    cw = class_weights_balanced(y, 2)
    # sklearn balanced: n/(k*count) = 10/(2*8), 10/(2*2)
    np.testing.assert_allclose(cw, [0.625, 2.5])
    data = [([2], (0, 0), lbl) for lbl in y]
    under = undersample(data, 2)
    counts = np.bincount([s[2] for s in under], minlength=2)
    assert counts.tolist() == [2, 2]     # capped at minority count
    under_named = undersample(data, 2, category_undersample=0)
    assert np.bincount([s[2] for s in under_named],
                       minlength=2).tolist() == [8, 2]


def order_task_id_samples(n_pairs=120, length=8, seed=5):
    """The meta_model order task in token-id space: 'neg' before 'ent'
    -> negated; any pooled/order-blind scorer sits at 50%."""
    from medcat_spark.functions.meta_model import order_task_sequences
    seqs = order_task_sequences(n_pairs=n_pairs, length=length, seed=seed)
    vocab = sorted({t for s, _ in seqs for t in s})
    tok2id = {t: i + 2 for i, t in enumerate(vocab)}
    labels = ["present", "negated"]
    data = []
    for toks, lbl in seqs:
        ids = [tok2id[t] for t in toks]
        c = ids.index(tok2id["ent"])
        data.append((ids, (c, c), labels.index(lbl)))
    return data, tok2id, labels


def test_training_solves_order_task():
    """Loss falls and held-out weighted-F1 clears 0.95 on a task that is
    unsolvable without the recurrence — the trained weights, scored
    through the standard inference path, beat the 0.5 pooled ceiling."""
    data, tok2id, labels = order_task_id_samples()
    model = init_lstm_meta(labels, tok2id, input_size=12, hidden_size=24,
                           seed=11)
    report = train_lstm_meta(model, data, nepochs=60, lr=0.01,
                             batch_size=32, test_size=0.2, patience=15,
                             seed=42)
    assert report["weighted_f1"] >= 0.95, report
    assert report["train_loss"] < 0.3
    # winner weights are loaded back: re-score the test protocol
    preds = model.predict_batch_ids([s[0] for s in data],
                                    [s[1] for s in data])
    acc = np.mean([labels.index(p[0]) == s[2]
                   for p, s in zip(preds, data)])
    assert acc >= 0.95


def test_early_stopping_and_winner_reload():
    data, tok2id, labels = order_task_id_samples(n_pairs=40)
    model = init_lstm_meta(labels, tok2id, input_size=8, hidden_size=12,
                           seed=1)
    report = train_lstm_meta(model, data, nepochs=500, lr=0.01,
                             batch_size=16, patience=3, seed=0)
    # patience must have cut the run far short of 500 epochs
    assert report["epoch"] < 490


def test_two_phase_training_report():
    data, tok2id, labels = order_task_id_samples(n_pairs=60)
    # imbalance the data 4:1 so phase 1 (undersampled) differs
    skewed = [s for s in data if s[2] == 1][:15] + \
             [s for s in data if s[2] == 0]
    model = init_lstm_meta(labels, tok2id, input_size=8, hidden_size=16,
                           seed=2)
    rep = train_lstm_meta_two_phase(model, skewed, phase1_epochs=15,
                                    nepochs=30, lr=0.01, batch_size=16,
                                    seed=3, patience=0)
    assert set(rep) == {"phase1", "phase2"}
    assert rep["phase2"]["weighted_f1"] >= rep["phase1"]["weighted_f1"] - 0.3


def test_unshuffled_split_takes_the_head_as_test_set():
    """``shuffle_data=False``: the first ``n_test`` samples are the test
    set, so the balanced class weights are those of the rest, in data
    order."""
    data, tok2id, labels = order_task_id_samples(n_pairs=20)
    data = sorted(data, key=lambda s: s[2])[4:]      # 16 of 0, 20 of 1
    model = init_lstm_meta(labels, tok2id, input_size=6, hidden_size=8,
                           seed=2)
    rep = train_lstm_meta(model, data, nepochs=2, batch_size=16,
                          test_size=0.25, shuffle_data=False)
    assert (rep["n_test"], rep["n_train"]) == (9, 27)
    want = class_weights_balanced([s[2] for s in data[9:]], 2)
    assert rep["class_weights"] == [round(float(x), 4) for x in want]
    assert want[0] != want[1]          # a shuffled split would differ


@pytest.mark.parametrize("kw, want", [
    (dict(compute_class_weights=False), None),
    (dict(class_weights=[0.25, 4.0]), [0.25, 4.0]),
])
def test_class_weight_options_reach_the_report(kw, want):
    data, tok2id, labels = order_task_id_samples(n_pairs=20)
    model = init_lstm_meta(labels, tok2id, input_size=6, hidden_size=8,
                           seed=2)
    rep = train_lstm_meta(model, data, nepochs=2, batch_size=16, **kw)
    assert rep["class_weights"] == want


def test_macro_f1_metric_picks_the_macro_f1_maximum(monkeypatch):
    """``metric="macro_f1"``: the winner is the first epoch with the
    highest held-out macro F1 among every epoch's report."""
    from medcat_spark.functions import lstm_train
    reports = []

    def record(*a):
        reports.append(f1_report(*a))
        return reports[-1]

    f1_report = lstm_train._f1_report
    monkeypatch.setattr(lstm_train, "_f1_report", record)
    data, tok2id, labels = order_task_id_samples(n_pairs=40)
    model = init_lstm_meta(labels, tok2id, input_size=8, hidden_size=12,
                           seed=1)
    rep = train_lstm_meta(model, data, nepochs=12, lr=0.01, batch_size=16,
                          test_size=0.3, metric="macro_f1", seed=4)
    macro = [r["macro_f1"] for r in reports]
    assert len(macro) == 12 and len(set(macro)) > 1
    assert rep["epoch"] == macro.index(max(macro))
    assert rep["macro_f1"] == max(macro)


def test_engine_sources_have_one_training_loop():
    """Every trainer (LSTM and BERT meta heads, RelCAT, the token
    classifier) runs the one epoch loop, ``lstm_train._fit``."""
    import pathlib

    import medcat_spark
    pkg = pathlib.Path(medcat_spark.__file__).parent
    hits = sorted((p.relative_to(pkg).as_posix(), n)
                  for p in pkg.rglob("*.py")
                  for n in [p.read_text().count("for epoch in range")] if n)
    assert hits == [("functions/lstm_train.py", 1)]


def test_window_prep_reference_semantics():
    # offsets: "no heart attack seen" tokenized as 4 words
    offsets = [(0, 2), (3, 8), (9, 15), (16, 20)]
    ids = [10, 11, 12, 13]
    # span covers 'heart attack' (chars 3..15)
    assert tokens_overlapping_span(offsets, 3, 15) == [1, 2]
    w = prepare_window(ids, offsets, 3, 15, cntx_left=1, cntx_right=1)
    assert w == ([10, 11, 12, 13], (1, 2))
    # replace_center swaps the entity tokens and re-centers
    w2 = prepare_window(ids, offsets, 3, 15, 1, 1,
                        replace_center_ids=[99])
    assert w2 == ([10, 99, 13], (1, 1))
    # span mapping to no token -> None
    assert prepare_window(ids, offsets, 50, 60, 1, 1) is None


def test_trained_head_round_trips_reference_layout(tmp_path):
    """train -> write meta_* dir (torch-zip model.dat) -> reload via the
    pack importer -> identical scores through predict_batch_ids."""
    from medcat_spark.sources.reference_pack import (
        _load_meta_component, write_reference_meta_component)
    data, tok2id, labels = order_task_id_samples(n_pairs=50)
    model = init_lstm_meta(labels, tok2id, input_size=8, hidden_size=12,
                           seed=4)
    train_lstm_meta(model, data, nepochs=20, lr=0.01, batch_size=16,
                    seed=5, patience=5)
    d = tmp_path / "meta_Negation"
    write_reference_meta_component(str(d), model, "Negation")
    m2 = _load_meta_component(str(d))
    assert m2.labels == labels
    w = [s[0] for s in data[:20]]
    c = [s[1] for s in data[:20]]
    p1 = model.predict_batch_ids(w, c)
    p2 = m2.predict_batch_ids(w, c)
    assert [a for a, _ in p1] == [a for a, _ in p2]
    np.testing.assert_allclose([b for _, b in p1], [b for _, b in p2],
                               atol=2e-4)  # fp32 disk round trip


def test_mct_meta_samples_spark_end_to_end(spark, tmp_path):
    """MCT export with meta_anns -> distributed window prep -> collected
    samples train a head that separates the two meta values."""
    import json

    from medcat_spark.core.bbpe import train_bbpe

    pos = "patient has fever and chills today"
    neg = "patient denies fever and has no chills"
    docs = []
    for i in range(12):
        text = pos if i % 2 == 0 else neg
        start = text.index("fever")
        docs.append({
            "id": f"d{i}", "name": f"d{i}", "text": text,
            "annotations": [{
                "start": start, "end": start + 5, "cui": "C0015967",
                "value": "fever", "validated": True, "killed": False,
                "deleted": False,
                "meta_anns": {"Negation": {
                    "name": "Negation",
                    "value": "present" if i % 2 == 0 else "negated"}}}]})
    path = tmp_path / "export.json"
    path.write_text(json.dumps({"projects": [
        {"name": "p", "id": "p1", "cuis": "", "documents": docs}]}))
    tok = train_bbpe([pos, neg], vocab_size=80)
    df = mct_meta_samples(spark, str(path), "Negation", tok,
                          cntx_left=5, cntx_right=5)
    rows = df.collect()
    assert len(rows) == 12
    data, label2id = collect_samples(df)
    assert set(label2id) == {"present", "negated"}
    labels = [v for v, _ in sorted(label2id.items(), key=lambda kv: kv[1])]
    model = init_lstm_meta(labels, tok.vocab, input_size=8,
                           hidden_size=12, seed=6, tokenizer=tok)
    rep = train_lstm_meta(model, data, nepochs=40, lr=0.02, batch_size=6,
                          test_size=0.25, seed=7, patience=10)
    assert rep["weighted_f1"] == 1.0


def test_prerequisites_and_cui_filter(spark, tmp_path):
    import json
    text = "fever noted"
    base = {"start": 0, "end": 5, "value": "fever", "validated": True,
            "killed": False, "deleted": False}
    docs = [{"id": "d0", "name": "d0", "text": text, "annotations": [
        dict(base, cui="C1",
             meta_anns={"Negation": {"value": "present"},
                        "Experiencer": {"value": "Patient"}}),
        dict(base, cui="C2",
             meta_anns={"Negation": {"value": "negated"},
                        "Experiencer": {"value": "Other"}})]}]
    path = tmp_path / "e.json"
    path.write_text(json.dumps({"projects": [
        {"name": "p", "id": "p1", "cuis": "", "documents": docs}]}))
    from medcat_spark.core.bbpe import train_bbpe
    tok = train_bbpe([text], vocab_size=60)
    all_rows = mct_meta_samples(spark, str(path), "Negation", tok).collect()
    assert sorted(r["label"] for r in all_rows) == ["negated", "present"]
    pre = mct_meta_samples(spark, str(path), "Negation", tok,
                           prerequisites={"Experiencer": "Patient"}).collect()
    assert [r["label"] for r in pre] == ["present"]
    cf = mct_meta_samples(spark, str(path), "Negation", tok,
                          cui_filter={"C2"}).collect()
    assert [r["label"] for r in cf] == ["negated"]


def test_adam_matches_torch_reference_values():
    """One Adam step on a known tensor reproduces torch.optim.Adam's
    update rule (bias-corrected, wd folded into grad)."""
    p = np.array([1.0, -2.0])
    params = {"p": p}
    opt = _Adam(params, lr=0.1, weight_decay=0.0)
    g = np.array([0.5, -0.5])
    opt.step({"p": g})
    # t=1: mh = g, vh = g^2 -> update = lr * g/(|g|+eps) = lr*sign(g)
    np.testing.assert_allclose(p, [1.0 - 0.1, -2.0 + 0.1], atol=1e-6)


def test_train_meta_job_surface(spark, tmp_path):
    """jobs/train_model.py --train-meta path: fresh head initialized from
    the export (BBPE trained on its docs), written as meta_<cat>/ in the
    out pack, and loadable back through the component scanner run_kg
    --meta uses for columnar packs."""
    import argparse
    import json

    from jobs.train_model import _train_meta_head
    from medcat_spark.sources.reference_pack import load_component_dirs

    pos = "patient reports fever and chills today"
    neg = "patient denies fever no chills seen"
    docs = []
    for i in range(16):
        text = pos if i % 2 == 0 else neg
        start = text.index("fever")
        docs.append({"id": f"d{i}", "name": f"d{i}", "text": text,
                     "annotations": [{
                         "start": start, "end": start + 5,
                         "cui": "C0015967", "value": "fever",
                         "validated": True, "killed": False,
                         "deleted": False,
                         "meta_anns": {"Negation": {
                             "value": "present" if i % 2 == 0
                             else "negated"}}}]})
    mct = tmp_path / "export.json"
    mct.write_text(json.dumps({"projects": [
        {"name": "p", "id": "p1", "cuis": "", "documents": docs}]}))
    out_pack = tmp_path / "pack_out"
    out_pack.mkdir()
    args = argparse.Namespace(
        mct=str(mct), model_pack=str(tmp_path / "absent"),
        out_pack=str(out_pack), train_meta="Negation",
        meta_epochs=25, meta_lr=0.02, meta_two_phase=False,
        meta_distributed=False, meta_shards=8)
    report = _train_meta_head(spark, args, None)
    assert report["n_samples"] == 16
    assert report["report"]["weighted_f1"] >= 0.75
    comps = load_component_dirs(str(out_pack))
    m = comps.get("Negation")
    assert m is not None and m.tokenizer is not None
    ids, _ = m.tokenizer.encode_with_offsets(pos)
    assert m.predict_batch_ids([ids], [(2, 2)])[0][0] in {"present",
                                                          "negated"}


# ---------------------------------------------------------------------------
# Spark data-parallel trainer
# ---------------------------------------------------------------------------

def _clone_model(m):
    import copy
    return copy.deepcopy(m)


def test_spark_trainer_matches_sequential_exactly(spark):
    """Shard-combined gradients ARE the sequential full-batch gradient
    (linearity of the weighted-CE sum): with full-batch steps, the
    distributed trainer lands on the same weights as the driver-side
    trainer up to float summation order."""
    from medcat_spark.functions.lstm_train import train_lstm_meta_spark
    from medcat_spark.functions.lstm_train import _params
    data, tok2id, labels = order_task_id_samples(n_pairs=40)
    m_seq = init_lstm_meta(labels, tok2id, input_size=8, hidden_size=10,
                           seed=11)
    m_dist = _clone_model(m_seq)
    kw = dict(nepochs=3, lr=0.01, batch_size=10 ** 9,  # full-batch steps
              test_size=0.2, seed=42, patience=0)
    train_lstm_meta(m_seq, data, **kw)
    train_lstm_meta_spark(spark, m_dist, data, n_shards=3, **kw)
    p_seq, p_dist = _params(m_seq, True), _params(m_dist, True)
    assert set(p_seq) == set(p_dist)
    for k in p_seq:
        np.testing.assert_allclose(p_dist[k], p_seq[k], atol=1e-8,
                                   err_msg=k)


def test_spark_trainer_minibatch_converges(spark):
    """Distributed minibatch training solves the order task end-to-end
    (the recurrence-required benchmark the sequential trainer uses)."""
    from medcat_spark.functions.lstm_train import train_lstm_meta_spark
    data, tok2id, labels = order_task_id_samples(n_pairs=80)
    model = init_lstm_meta(labels, tok2id, input_size=12, hidden_size=24,
                           seed=11)
    report = train_lstm_meta_spark(spark, model, data, n_shards=4,
                                   nepochs=25, lr=0.01, batch_size=32,
                                   test_size=0.2, patience=10, seed=42)
    assert report["weighted_f1"] >= 0.9, report


@pytest.mark.parametrize("layers,bidi", [(1, True), (2, True), (1, False),
                                         (2, False)])
def test_training_logits_are_the_scoring_forward(layers, bidi):
    """The loss is taken on the scorer's own forward: on a padded
    mixed-length batch the trainer's logits equal ``forward_id_windows``
    bit for bit."""
    model = tiny_model(n_layers=layers, bidirectional=bidi)
    batch = rand_batch(model, np.random.RandomState(2), n=7, lmin=1, lmax=9)
    _, _, logits = _forward_backward(model, batch, None, emb_grad=True)
    want = model.forward_id_windows([w for w, _, _ in batch],
                                    [c for _, c, _ in batch])
    assert np.array_equal(logits, want)


def _lstm_trainer(data, **kw):
    train_lstm_meta(tiny_model(), data, nepochs=1, **kw)


def _bert_meta_trainer(data, **kw):
    from medcat_spark.functions.bert_train import train_bert_meta
    from tests.test_bert_train import tiny_meta_model
    train_bert_meta(tiny_meta_model(), data, nepochs=1, **kw)


def _relcat_trainer(data, **kw):
    from medcat_spark.functions.bert_train import train_relcat
    from tests.test_bert_train import tiny_rel_model
    train_relcat(tiny_rel_model(), data, nepochs=1, **kw)


def _token_trainer(data, **kw):
    from medcat_spark.functions.bert_train import train_token_classifier
    from tests.test_bert_train import tiny_token_classifier
    train_token_classifier(tiny_token_classifier(),
                           [(w, [lbl] * len(w)) for w, _, lbl in data], **kw)


@pytest.mark.parametrize("trainer, kw, what", [
    (_lstm_trainer, {}, "samples"),
    (_lstm_trainer, dict(compute_class_weights=False), "samples"),
    (_bert_meta_trainer, {}, "samples"),
    (_relcat_trainer, {}, "relation samples"),
    (_token_trainer, {}, "sequences"),
])
def test_split_leaving_no_training_samples_is_loud(trainer, kw, what):
    """A ``test_size`` that sends every sample to the test set raises a
    ValueError naming it, the sample count and the sample kind, instead
    of failing inside the class weights or training on nothing."""
    from tests.test_bert_train import rand_rel_batch
    data = rand_rel_batch(np.random.RandomState(1), n=4)
    data = [(w, p, lbl % 2) for w, p, lbl in data]
    with pytest.raises(ValueError, match=rf"test_size=0\.9 leaves no "
                       rf"training {what}: all 4 went to the test set"):
        trainer(data, test_size=0.9, **kw)

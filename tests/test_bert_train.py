"""In-engine RelCAT training: numpy BERT backprop certification.

Same strategy as test_lstm_train: (1) analytic gradient vs numerical
differentiation on every parameter tensor (embeddings, attention,
LayerNorms, GELU intermediate, pooler, tag-pool head, fc1-3), (2) the
trainer must solve a between-markers discrimination task, (3) the
trained component round-trips through the reference rel_* layout back
into the scoring path.
"""

import numpy as np
import pytest

from medcat_spark.functions.bert_np import (RelCatBertModel,
                                            bert_fixture_state_dict,
                                            mark_pair_sequence)
from medcat_spark.functions.bert_train import (
    _AdamW, collect_relation_samples, mct_relation_samples, relcat_params,
    relcat_forward_backward, train_relcat)

TAGS = [1, 2, 3, 4]          # [s1] [e1] [s2] [e2]
CLS, SEP = 5, 6


def tiny_rel_model(seed=17, vocab=30, hidden=8, layers=2, heads=2,
                   inter=16, with_tags=True):
    sd = bert_fixture_state_dict(vocab_size=vocab, hidden=hidden,
                                 n_layers=layers, n_heads=heads,
                                 inter=inter, max_pos=32, seed=seed,
                                 nclasses=3)
    m = RelCatBertModel.from_state_dict(sd, ["a", "b", "c"], n_heads=heads)
    m.tag_ids = TAGS if with_tags else None
    return m


def rand_rel_batch(rng, n=3, vocab=30, lmin=10, lmax=14):
    batch = []
    for _ in range(n):
        L = rng.randint(lmin, lmax + 1)
        ids = rng.randint(7, vocab, size=L).tolist()
        # plant the marker pattern: [s1] t [e1] ... [s2] t t [e2]
        ids[1], ids[3] = TAGS[0], TAGS[1]
        ids[5], ids[8] = TAGS[2], TAGS[3]
        batch.append((ids, (1, 5), int(rng.randint(0, 3))))
    return batch


@pytest.mark.parametrize("with_tags", [True, False])
def test_backprop_matches_numerical_gradient(with_tags):
    rng = np.random.RandomState(3)
    model = tiny_rel_model(with_tags=with_tags)
    batch = rand_rel_batch(rng)
    cw = np.array([0.8, 1.1, 1.4])
    _, grads, _ = relcat_forward_backward(model, batch, cw)
    params = relcat_params(model)
    assert set(grads) == set(params)
    eps = 1e-6
    for name, p in params.items():
        flat = p.ravel()
        n_probe = min(flat.size, 6)
        idxs = rng.choice(flat.size, size=n_probe, replace=False)
        for ix in idxs:
            old = flat[ix]
            flat[ix] = old + eps
            lp, _, _ = relcat_forward_backward(model, batch, cw)
            flat[ix] = old - eps
            lm, _, _ = relcat_forward_backward(model, batch, cw)
            flat[ix] = old
            num = (lp[0] if isinstance(lp, tuple) else lp)
            # relcat_forward_backward returns (loss, grads, logits)
            num = (lp - lm) / (2 * eps)
            ana = grads[name].ravel()[ix]
            assert ana == pytest.approx(num, abs=1e-6, rel=2e-4), \
                f"{name}[{ix}]: analytic {ana} vs numerical {num}"


def test_loss_and_grads_unpack():
    # relcat_forward_backward returns loss as float (used above via
    # tuple unpack in the probe loop — make the contract explicit)
    model = tiny_rel_model()
    loss, grads, logits = relcat_forward_backward(
        model, rand_rel_batch(np.random.RandomState(0)), None)
    assert isinstance(loss, float) and logits.shape == (3, 3)


def marker_task_samples(n=120, vocab=30, seed=9):
    """Label = which filler token id fills the span between [s2]..[e2];
    requires reading the content between the markers — the tag-pool
    head's exact job."""
    rng = np.random.RandomState(seed)
    data = []
    fillers = [10, 11, 12]
    for i in range(n):
        lbl = i % 3
        L = 14
        ids = rng.randint(13, vocab, size=L).tolist()
        ids[1], ids[3] = TAGS[0], TAGS[1]
        ids[2] = rng.randint(13, vocab)
        ids[6], ids[9] = TAGS[2], TAGS[3]
        ids[7] = fillers[lbl]
        ids[8] = fillers[lbl]
        data.append((ids, (1, 6), lbl))
    return data


def test_train_relcat_solves_marker_task():
    model = tiny_rel_model(seed=23, hidden=16, layers=1, inter=32)
    data = marker_task_samples()
    rep = train_relcat(model, data, nepochs=30, lr=2e-3, batch_size=24,
                       test_size=0.2, seed=1, patience=8)
    assert rep["macro_f1"] >= 0.9, rep
    assert rep["train_loss"] < 0.6
    # winner weights re-score through the inference path
    preds = model.predict(
        np.array([s[0] for s in data]),
        np.array([s[1] for s in data]))
    acc = np.mean([model.labels.index(p[0]) == s[2]
                   for p, s in zip(preds, data)])
    assert acc >= 0.9


def test_adamw_decoupled_weight_decay():
    p = np.array([1.0, -2.0])
    opt = _AdamW({"p": p}, lr=0.1, weight_decay=0.5)
    opt.step({"p": np.zeros(2)})
    # zero grad: only the decoupled decay moves p: p *= (1 - lr*wd)
    np.testing.assert_allclose(p, [0.95, -1.9], atol=1e-12)


def test_multistep_lr_and_class_weights():
    model = tiny_rel_model(seed=5, hidden=8, layers=1, inter=16)
    data = marker_task_samples(n=30)
    rep = train_relcat(model, data, nepochs=3, lr=1e-3, batch_size=10,
                       multistep_milestones=[1, 2, 3], seed=2)
    # the winner epoch's lr reflects the decay schedule: every epoch is
    # a milestone here, so epoch k records lr = base * gamma^(k+1)
    assert rep["lr"] == pytest.approx(1e-3 * 0.8 ** (rep["epoch"] + 1))
    assert rep["class_weights"] is not None


def test_mct_relation_samples_spark(spark, tmp_path):
    """MCT export with relations records -> distributed marked-sequence
    prep matching mark_pair_sequence exactly -> trainable set."""
    import json

    from medcat_spark.functions.bert_np import relcat_bert_fixture_model
    model = relcat_bert_fixture_model()
    tok = model.tokenizer

    text = "the spark stream joins the sort table"
    docs, rels = [], []
    w1 = text.index("stream")
    w2 = text.index("table")
    anns = [
        {"id": 1, "start": w1, "end": w1 + 6, "cui": "C1",
         "value": "stream", "validated": True},
        {"id": 2, "start": w2, "end": w2 + 5, "cui": "C2",
         "value": "table", "validated": True}]
    for i in range(6):
        docs.append({
            "id": f"d{i}", "name": f"d{i}", "text": text,
            "annotations": anns,
            "relations": [{
                "start_entity": 1, "start_entity_cui": "C1",
                "start_entity_value": "stream",
                "start_entity_start_idx": w1,
                "start_entity_end_idx": w1 + 6,
                "end_entity": 2, "end_entity_cui": "C2",
                "end_entity_value": "table",
                "end_entity_start_idx": w2, "end_entity_end_idx": w2 + 5,
                "relation": "Spatial" if i % 2 == 0 else "Causal",
                "validated": True}]})
    path = tmp_path / "export.json"
    path.write_text(json.dumps({"projects": [
        {"name": "p", "id": "p1", "cuis": "", "documents": docs}]}))
    df = mct_relation_samples(spark, str(path), model)
    rows = df.collect()
    assert len(rows) == 6
    assert sorted({r["label"] for r in rows}) == ["Causal", "Spatial"]
    # the marked sequence matches the scorer's own construction
    from bisect import bisect_right
    ids, spans = tok.encode_with_offsets(text)
    tok_starts = [s for s, _e in spans]

    def tok_range(start, end):
        cf = bisect_right(tok_starts, start) - 1
        cl = max(cf, bisect_right(tok_starts, end - 1) - 1)
        return cf, cl
    cls_id, sep_id = tok.vocab.get("[CLS]"), tok.vocab.get("[SEP]")
    want = mark_pair_sequence(
        ids, tok_range(w1, w1 + 6), tok_range(w2, w2 + 5), model.tag_ids,
        model.cntx_left, model.cntx_right, model.max_seq_length,
        cls_id, sep_id)
    assert list(rows[0]["ids"]) == want[0]
    assert (rows[0]["p1"], rows[0]["p2"]) == (want[1], want[2])
    data, labels = collect_relation_samples(df)
    assert len(data) == 6 and set(labels) == {"Causal", "Spatial"}


def test_other_pair_sampling(spark, tmp_path):
    import json
    text = "the spark stream joins the sort table"
    w1, w2 = text.index("spark"), text.index("table")
    docs = [{"id": "d0", "name": "d0", "text": text,
             "annotations": [
                 {"id": 1, "start": w1, "end": w1 + 5, "cui": "C1",
                  "value": "spark", "validated": True},
                 {"id": 2, "start": w2, "end": w2 + 5, "cui": "C2",
                  "value": "table", "validated": True}],
             "relations": []}]
    path = tmp_path / "e.json"
    path.write_text(json.dumps({"projects": [
        {"name": "p", "id": "p1", "cuis": "", "documents": docs}]}))
    from medcat_spark.functions.bert_np import relcat_bert_fixture_model
    model = relcat_bert_fixture_model()
    rows = mct_relation_samples(spark, str(path), model,
                                other_sample_per_doc=5).collect()
    assert len(rows) == 1 and rows[0]["label"] == "Other"


def test_trained_relcat_round_trips_reference_layout(tmp_path):
    from medcat_spark.core.bbpe import train_bbpe
    from medcat_spark.sources.reference_pack import (
        _load_rel_component, write_reference_rel_component)
    # the loader requires a tokenizer + 4 tag ids in config
    tok = train_bbpe(["spark merge window vector stream filter"] * 3,
                     vocab_size=120)
    for t in ("[s1]", "[e1]", "[s2]", "[e2]"):
        tok.vocab[t] = len(tok.vocab)
        tok.id2tok[tok.vocab[t]] = t
    model = tiny_rel_model(seed=31, hidden=16, layers=1, inter=32,
                           vocab=tok.get_size())
    model.tokenizer = tok
    model.tag_ids = [tok.vocab[t] for t in ("[s1]", "[e1]", "[s2]",
                                            "[e2]")]
    model.cntx_left = model.cntx_right = 4
    model.window_size_chars = 80
    model.max_seq_length = 32

    def remap(s):
        ids = list(s[0])
        ids[1], ids[3] = model.tag_ids[0], model.tag_ids[1]
        ids[6], ids[9] = model.tag_ids[2], model.tag_ids[3]
        return (ids, s[1], s[2])
    data = [remap(s) for s in marker_task_samples(n=45)]
    train_relcat(model, data, nepochs=6, lr=2e-3, batch_size=15, seed=3)
    d = tmp_path / "rel_General"
    write_reference_rel_component(str(d), model, n_heads=2)
    m2 = _load_rel_component(str(d))
    w = np.array([s[0] for s in data[:10]])
    c = np.array([s[1] for s in data[:10]])
    p1 = model.predict(w, c)
    p2 = m2.predict(w, c)
    assert [a for a, _ in p1] == [a for a, _ in p2]
    np.testing.assert_allclose([b for _, b in p1], [b for _, b in p2],
                               atol=2e-3)   # fp32 disk round trip


def test_train_relations_job_surface(spark, tmp_path):
    """jobs/train_model.py --train-relations path: loads the pack's
    rel_* component, fine-tunes on the export's relations, writes the
    trained component back (loadable by run_kg --relations)."""
    import argparse
    import json

    from jobs.train_model import _train_rel_head
    from medcat_spark.functions.bert_np import relcat_bert_fixture_model
    from medcat_spark.sources.reference_pack import (
        load_component_dirs, write_reference_rel_component)

    pack = tmp_path / "pack"
    pack.mkdir()
    fixture = relcat_bert_fixture_model()
    write_reference_rel_component(str(pack / "rel_General"), fixture,
                                  n_heads=2)

    text = "the spark stream joins the sort table"
    w1, w2 = text.index("stream"), text.index("table")
    docs = []
    for i in range(8):
        docs.append({
            "id": f"d{i}", "name": f"d{i}", "text": text,
            "annotations": [
                {"id": 1, "start": w1, "end": w1 + 6, "cui": "C1",
                 "value": "stream", "validated": True},
                {"id": 2, "start": w2, "end": w2 + 5, "cui": "C2",
                 "value": "table", "validated": True}],
            "relations": [{
                "start_entity": 1, "start_entity_cui": "C1",
                "start_entity_value": "stream",
                "start_entity_start_idx": w1, "start_entity_end_idx": w1 + 6,
                "end_entity": 2, "end_entity_cui": "C2",
                "end_entity_value": "table",
                "end_entity_start_idx": w2, "end_entity_end_idx": w2 + 5,
                "relation": "Spatial" if i % 2 == 0 else "Causal",
                "validated": True}]})
    mct = tmp_path / "export.json"
    mct.write_text(json.dumps({"projects": [
        {"name": "p", "id": "p1", "cuis": "", "documents": docs}]}))
    out_pack = tmp_path / "out"
    out_pack.mkdir()
    args = argparse.Namespace(
        mct=str(mct), model_pack=str(pack), out_pack=str(out_pack),
        train_relations="General", rel_epochs=3, rel_lr=1e-3,
        rel_other_per_doc=0)
    report = _train_rel_head(spark, args)
    assert report["n_samples"] == 8
    comps = load_component_dirs(str(out_pack))
    assert "rel_General" in comps
    assert comps["rel_General"].labels == fixture.labels


# ---------------------------------------------------------------------------
# BertForMetaAnnotation head training


def tiny_meta_model(seed=41, vocab=30, hidden=8, layers=1, heads=2,
                    inter=16, use_fc2=True, use_fc3=False):
    from medcat_spark.functions.bert_np import BertMetaModel
    sd = bert_fixture_state_dict(vocab_size=vocab, hidden=hidden,
                                 n_layers=layers, n_heads=heads,
                                 inter=inter, max_pos=32, seed=seed,
                                 relcat=False, nclasses=2)
    rng = np.random.RandomState(seed + 1)
    H2 = 2 * hidden
    sd = {f"bert.{k}": v for k, v in sd.items()
          if not k.startswith(("fc", "hf_model."))}
    fc_dims = [(H2, H2), (H2, H2), (H2, H2)]
    for i, (dout, din) in enumerate(fc_dims, start=1):
        sd[f"fc{i}.weight"] = rng.randn(dout, din).astype(np.float32) * 0.2
        sd[f"fc{i}.bias"] = np.zeros(dout, dtype=np.float32)
    sd["fc4.weight"] = rng.randn(2, H2).astype(np.float32) * 0.2
    sd["fc4.bias"] = np.zeros(2, dtype=np.float32)
    from medcat_spark.functions.bert_np import BertMetaModel
    return BertMetaModel.from_state_dict(sd, ["present", "negated"],
                                         n_heads=heads, use_fc2=use_fc2,
                                         use_fc3=use_fc3)


def test_bert_meta_backprop_matches_numerical_gradient():
    from medcat_spark.functions.bert_train import (
        bert_meta_forward_backward, bert_meta_params)
    rng = np.random.RandomState(8)
    model = tiny_meta_model()
    batch = []
    for _ in range(3):
        L = rng.randint(6, 12)
        ids = rng.randint(2, 30, size=L).tolist()
        cf = rng.randint(0, L - 1)
        cl = rng.randint(cf, L - 1)
        batch.append((ids, (cf, cl), int(rng.randint(0, 2))))
    cw = np.array([0.9, 1.3])
    _, grads, _ = bert_meta_forward_backward(model, batch, cw)
    params = bert_meta_params(model)
    assert set(grads) == set(params)
    eps = 1e-6
    for name, p in params.items():
        flat = p.ravel()
        idxs = rng.choice(flat.size, size=min(flat.size, 6), replace=False)
        for ix in idxs:
            old = flat[ix]
            flat[ix] = old + eps
            lp, _, _ = bert_meta_forward_backward(model, batch, cw)
            flat[ix] = old - eps
            lm, _, _ = bert_meta_forward_backward(model, batch, cw)
            flat[ix] = old
            num = (lp - lm) / (2 * eps)
            ana = grads[name].ravel()[ix]
            assert ana == pytest.approx(num, abs=1e-6, rel=2e-4), \
                f"{name}[{ix}]: analytic {ana} vs numerical {num}"


def test_train_bert_meta_learns_and_round_trips(tmp_path):
    """Center-token discrimination task; trained head exported in the
    model_name='bert' meta_* layout and reloaded with matching scores."""
    from medcat_spark.core.bbpe import train_bbpe
    from medcat_spark.functions.bert_train import train_bert_meta
    from medcat_spark.sources.reference_pack import (
        _load_meta_component, write_reference_meta_component)

    tok = train_bbpe(["alpha beta gamma delta negated present"] * 3,
                     vocab_size=100)
    model = tiny_meta_model(vocab=tok.get_size(), hidden=12, inter=24)
    model.tokenizer = tok
    rng = np.random.RandomState(12)
    V = tok.get_size()
    data = []
    for i in range(80):
        lbl = i % 2
        L = 9
        ids = rng.randint(7, V, size=L).tolist()
        c = rng.randint(1, L - 1)
        ids[c] = 3 if lbl else 4      # center token decides the label
        data.append((ids, (c, c), lbl))
    rep = train_bert_meta(model, data, nepochs=25, lr=2e-3, batch_size=16,
                          test_size=0.2, seed=5, patience=8)
    assert rep["weighted_f1"] >= 0.9, rep
    d = tmp_path / "meta_Negation"
    write_reference_meta_component(str(d), model, "Negation")
    m2 = _load_meta_component(str(d))
    from medcat_spark.functions.bert_np import BertMetaModel
    assert isinstance(m2, BertMetaModel)
    assert m2.use_fc2 and not m2.use_fc3
    w = [s[0] for s in data[:16]]
    c = [s[1] for s in data[:16]]
    p1 = model.predict_batch_ids(w, c)
    p2 = m2.predict_batch_ids(w, c)
    assert [a for a, _ in p1] == [a for a, _ in p2]
    np.testing.assert_allclose([b for _, b in p1], [b for _, b in p2],
                               atol=2e-3)


# ---------------------------------------------------------------------------
# BertForTokenClassification (trf_* / DeID) fine-tune


def tiny_token_classifier(seed=51, vocab=30, hidden=8, layers=1, heads=2,
                          inter=16, nclasses=3):
    from medcat_spark.functions.bert_np import BertTokenClassifier
    sd = bert_fixture_state_dict(vocab_size=vocab, hidden=hidden,
                                 n_layers=layers, n_heads=heads,
                                 inter=inter, max_pos=32, seed=seed,
                                 relcat=False, nclasses=nclasses)
    sd = {k: v for k, v in sd.items() if not k.startswith("fc")}
    rng = np.random.RandomState(seed + 1)
    sd["classifier.weight"] = rng.randn(nclasses, hidden).astype(
        np.float32) * 0.2
    sd["classifier.bias"] = np.zeros(nclasses, dtype=np.float32)
    labels = [f"L{i}" for i in range(nclasses)]
    return BertTokenClassifier.from_state_dict(sd, labels, n_heads=heads)


def test_token_classifier_backprop_numerical():
    from medcat_spark.functions.bert_train import (
        token_classifier_forward_backward, token_classifier_params)
    rng = np.random.RandomState(4)
    model = tiny_token_classifier()
    batch = []
    for _ in range(3):
        L = rng.randint(5, 10)
        ids = rng.randint(2, 30, size=L).tolist()
        labels = rng.randint(0, 3, size=L).tolist()
        labels[0] = -100          # ignore_index positions must be inert
        batch.append((ids, labels))
    _, grads, _ = token_classifier_forward_backward(model, batch)
    params = token_classifier_params(model)
    # pooler excluded: BertForTokenClassification saves none
    assert "pooler.dense.weight" not in params
    assert set(grads) >= set(params)
    eps = 1e-6
    for name in params:
        p = params[name]
        flat = p.ravel()
        idxs = rng.choice(flat.size, size=min(flat.size, 5), replace=False)
        for ix in idxs:
            old = flat[ix]
            flat[ix] = old + eps
            lp, _, _ = token_classifier_forward_backward(model, batch)
            flat[ix] = old - eps
            lm, _, _ = token_classifier_forward_backward(model, batch)
            flat[ix] = old
            num = (lp - lm) / (2 * eps)
            ana = grads[name].ravel()[ix]
            assert ana == pytest.approx(num, abs=1e-6, rel=2e-4), \
                f"{name}[{ix}]"


def test_train_token_classifier_learns():
    """Per-token task: label = token id parity band; macro F1 >= 0.9."""
    from medcat_spark.functions.bert_train import train_token_classifier
    rng = np.random.RandomState(6)
    model = tiny_token_classifier(hidden=12, inter=24, nclasses=2)
    data = []
    for _ in range(60):
        L = 8
        ids = rng.randint(2, 30, size=L).tolist()
        labels = [int(t % 2) for t in ids]
        labels[-1] = -100
        data.append((ids, labels))
    rep = train_token_classifier(model, data, nepochs=20, lr=2e-3,
                                 batch_size=12, seed=7, patience=6)
    assert rep["macro_f1"] >= 0.9, rep
    # winner weights drive the standard inference path
    ids = np.array([data[0][0]])
    best, _conf = model.predict_tokens(ids)
    want = [int(t % 2) for t in data[0][0]]
    acc = np.mean([b == w for b, w in zip(best[0][:-1], want[:-1])])
    assert acc >= 0.8


# ---------------------------------------------------------------------------
# Spark data-parallel trainers (shared spark_batch_grad combine)
# ---------------------------------------------------------------------------

def test_spark_relcat_trainer_matches_sequential(spark):
    """Shard-combined RelCAT gradients equal the sequential full-batch
    gradient: both trainers land on the same weights."""
    import copy
    from medcat_spark.functions.bert_train import (relcat_params,
                                                   train_relcat_spark)
    m_seq = tiny_rel_model(seed=23, hidden=16, layers=1, inter=32)
    m_dist = copy.deepcopy(m_seq)
    data = marker_task_samples()
    kw = dict(nepochs=2, lr=2e-3, batch_size=10 ** 9, test_size=0.2,
              seed=1, patience=0)
    train_relcat(m_seq, data, **kw)
    train_relcat_spark(spark, m_dist, data, n_shards=3, **kw)
    p_seq, p_dist = relcat_params(m_seq), relcat_params(m_dist)
    for k in p_seq:
        np.testing.assert_allclose(p_dist[k], p_seq[k], atol=1e-8,
                                   err_msg=k)


def test_spark_bert_meta_trainer_matches_sequential(spark):
    import copy
    from medcat_spark.functions.bert_train import (bert_meta_params,
                                                   train_bert_meta,
                                                   train_bert_meta_spark)
    m_seq = tiny_meta_model()
    m_dist = copy.deepcopy(m_seq)
    rng = np.random.RandomState(12)
    data = []
    for i in range(40):
        ids = rng.randint(7, 30, size=9).tolist()
        c = rng.randint(1, 8)
        ids[c] = 3 if i % 2 else 4
        data.append((ids, (c, c), i % 2))
    kw = dict(nepochs=2, lr=1e-3, batch_size=10 ** 9, test_size=0.2,
              seed=3, patience=0)
    train_bert_meta(m_seq, data, **kw)
    train_bert_meta_spark(spark, m_dist, data, n_shards=3, **kw)
    p_seq, p_dist = bert_meta_params(m_seq), bert_meta_params(m_dist)
    for k in p_seq:
        np.testing.assert_allclose(p_dist[k], p_seq[k], atol=1e-8,
                                   err_msg=k)


# ---------------------------------------------------------------------------
# loop options shared by the trainers
# ---------------------------------------------------------------------------

def _meta_samples(n=24):
    rng = np.random.RandomState(12)
    data = []
    for i in range(n):
        ids = rng.randint(7, 30, size=9).tolist()
        c = rng.randint(1, 8)
        ids[c] = 3 if i % 3 else 4
        data.append((ids, (c, c), int(i % 3 == 0)))
    return data


@pytest.mark.parametrize("kw, want", [
    (dict(compute_class_weights=False), None),
    (dict(class_weights=[0.5, 3.0]), [0.5, 3.0]),
])
def test_bert_meta_class_weight_options(kw, want):
    from medcat_spark.functions.bert_train import train_bert_meta
    rep = train_bert_meta(tiny_meta_model(), _meta_samples(), nepochs=2,
                          batch_size=8, **kw)
    assert rep["class_weights"] == want


def test_relcat_class_weights_off_and_unshuffled():
    """``enable_class_weights=False`` reports no weights;
    ``shuffle_data=False`` makes the data head the test set."""
    data = marker_task_samples(n=30)
    rep = train_relcat(tiny_rel_model(seed=5, hidden=8, layers=1, inter=16),
                       data, nepochs=2, batch_size=10,
                       enable_class_weights=False, shuffle_data=False)
    assert rep["class_weights"] is None
    assert (rep["n_test"], rep["n_train"]) == (6, 24)
    rep = train_relcat(tiny_rel_model(seed=5, hidden=8, layers=1, inter=16),
                       data[1:], nepochs=1, shuffle_data=False)
    # the test head data[1:7] holds labels 1, 2, 0, 1, 2, 0: the train
    # rest, 23 samples, is 7 of label 0 and 8 each of labels 1 and 2
    assert rep["class_weights"] == [round(23 / (3 * c), 4) for c in (7, 8, 8)]


def test_token_classifier_computed_class_weights(monkeypatch):
    """``compute_class_weights=True`` trains with the balanced weights
    of the train split's non-ignored labels (one shuffle, test set
    first) and evaluates unweighted."""
    from medcat_spark.functions import bert_train
    from medcat_spark.functions.lstm_train import class_weights_balanced
    seen = []
    fb = bert_train.token_classifier_forward_backward

    def spy(model, batch, class_weights=None):
        seen.append(class_weights)
        return fb(model, batch, class_weights)

    monkeypatch.setattr(bert_train, "token_classifier_forward_backward",
                        spy)
    rng = np.random.RandomState(6)
    data = []
    for _ in range(20):
        ids = rng.randint(2, 30, size=6).tolist()
        labels = [int(t % 5 == 0) for t in ids]
        labels[-1] = -100
        data.append((ids, labels))
    rep = bert_train.train_token_classifier(
        tiny_token_classifier(nclasses=2), data, nepochs=2, batch_size=8,
        seed=3, compute_class_weights=True)
    order = list(data)
    np.random.RandomState(3).shuffle(order)
    y = [lbl for _, labels in order[4:] for lbl in labels if lbl != -100]
    want = class_weights_balanced(y, 2)
    assert (rep["n_test"], rep["n_train"]) == (4, 16)
    train_cw = [cw for cw in seen if cw is not None]
    assert len(train_cw) == 2 * 2          # 2 batches x 2 epochs
    for cw in train_cw:
        np.testing.assert_array_equal(cw, want)
    assert want[0] < 1 < want[1]           # label 1 is the rare class
    # the held-out eval runs the inference forward, not the CE function,
    # so it is unweighted by construction
    assert len(seen) == len(train_cw)


@pytest.mark.parametrize("ids, msg", [
    ([9, TAGS[0], 10, 11, 12, TAGS[2], 13, TAGS[3], 14], "missing"),
    ([9, TAGS[0], TAGS[1], 11, 12, TAGS[2], 13, TAGS[3], 14],
     "no entity tokens between markers"),
])
def test_relcat_training_applies_the_scorer_marker_rule(ids, msg):
    """A training sample with a missing [e1] or an empty [s1][e1] span
    raises ``annotation_tag_pool``'s ValueError, as scoring does."""
    from medcat_spark.functions.bert_np import annotation_tag_pool
    model = tiny_rel_model()
    good = rand_rel_batch(np.random.RandomState(0), n=1)[0]
    with pytest.raises(ValueError, match=msg):
        annotation_tag_pool(np.zeros((1, len(ids), 8)), np.array([ids]),
                            TAGS[0], TAGS[1])
    with pytest.raises(ValueError, match=msg):
        relcat_forward_backward(model, [good, (ids, (1, 5), 0)], None)


def _mixed_windows(rng, n=6, vocab=30):
    batch = []
    for _ in range(n):
        L = rng.randint(3, 12)
        cf = rng.randint(0, L)
        batch.append((rng.randint(2, vocab, size=L).tolist(),
                      (cf, rng.randint(cf, L)), int(rng.randint(0, 2))))
    return batch


@pytest.mark.parametrize("head", ["relcat_tags", "relcat_starts",
                                  "meta_fc1", "meta_fc2", "meta_fc3",
                                  "token_classifier"])
def test_training_logits_are_the_scoring_forward(head):
    """Each trainer takes its loss on the head's inference forward: on a
    padded mixed-length batch the logits ``*_forward_backward`` returns
    equal the scorer's bit for bit, so the held-out F1 that picks the
    winner epoch scores the deployed function."""
    from medcat_spark.functions.bert_train import (
        bert_meta_forward_backward, token_classifier_forward_backward)
    from medcat_spark.functions.scorer import pad_ids
    rng = np.random.RandomState(11)
    if head.startswith("relcat"):
        model = tiny_rel_model(with_tags=head == "relcat_tags")
        batch = rand_rel_batch(rng, n=5, lmin=9, lmax=16)
        _, _, got = relcat_forward_backward(model, batch, None)
        ids, mask = pad_ids([w for w, _, _ in batch])
        want = model.logits(ids, np.array([p for _, p, _ in batch]), mask)
    elif head.startswith("meta"):
        n_fc = int(head[-1])
        model = tiny_meta_model(use_fc2=n_fc >= 2, use_fc3=n_fc == 3)
        batch = _mixed_windows(rng)
        _, _, got = bert_meta_forward_backward(model, batch, None)
        want = model.forward_id_windows([w for w, _, _ in batch],
                                        [c for _, c, _ in batch])
    else:
        model = tiny_token_classifier()
        batch = [(w, [0] * len(w)) for w, _, _ in _mixed_windows(rng)]
        _, _, got = token_classifier_forward_backward(model, batch)
        want = model.logits(*pad_ids([w for w, _ in batch]))
        best, _ = model.predict_tokens(*pad_ids([w for w, _ in batch]))
        assert np.array_equal(best, want.argmax(axis=2))
    assert np.array_equal(got, want)

"""In-engine training for the MetaCAT LSTM head — numpy BPTT.

Closes VERDICT r4 "What's missing" #3: inference consumes real torch
checkpoints (:mod:`medcat_spark.functions.lstm_meta`), but fine-tuning a
``meta_*`` component on an MCT export still required torch outside the
engine.  This module reproduces the reference training loop semantics
without torch:

  * window prep mirrors ``utils/meta_cat/data_utils.py:9-150``
    (prepare_from_json): entity token span located by char offsets, plus
    ``cntx_left``/``cntx_right`` context tokens, center positions = the
    entity tokens inside the window, optional ``replace_center``;
  * label encoding + class undersampling mirror
    ``data_utils.py:156-268`` (encode_category_values) — undersampling
    caps every class at the minority (or named class) count, in data
    order, for 2-phase learning;
  * the loop mirrors ``utils/meta_cat/ml_utils.py:178-358``
    (train_model), the one loop MedCAT trains both meta heads with, and
    is the one loop here too: ``_fit`` (behind the ``_split`` prologue)
    also runs the BERT meta, RelCAT and token-classifier trainers in
    ``bert_train``.  For this head: shuffled train/test split, balanced
    class weights (sklearn ``compute_class_weight("balanced")`` =
    n/(k·bincount)), weighted softmax cross-entropy with torch's
    ``CrossEntropyLoss(weight=w)`` normalization (Σ w[y_b] denominator),
    Adam (weight_decay 1e-5), total-grad-norm clip 0.15, per-epoch
    held-out eval with the winner state kept by weighted-avg F1
    (``config.train.metric`` default), and 2-phase learning
    (``meta_cat.py:274-301``: phase 1 on the undersampled set, phase 2
    reloads the phase-1 winner and trains on the full set);
  * optional early stopping: the reference runs fixed ``nepochs``;
    ``patience>0`` stops after that many epochs without a new winner
    (``patience=0`` reproduces the reference exactly).

BPTT runs backward over the model's taped forward: the loss is taken
on ``LstmMetaModel.forward_id_windows`` itself, called with a ``tape``
dict that records each step's gates, so training and scoring share one
forward.  The gradient is verified against numerical differentiation in
``tests/test_lstm_train.py``; the trained head round-trips through
``write_reference_meta_component`` (torch-zip ``model.dat``) back into
the existing ``meta_lstm_torch`` Spark scoring plan.

Scale posture: training itself runs on the driver over the collected
sample set — the reference's own prep comment (data_utils.py:19-20,
"would be strange to have more than 1M manually annotated documents")
bounds gold MCT data to driver scale.  The expensive step, tokenizing
documents and building windows, IS distributed (`mct_meta_samples`
runs it as one mapInArrow over the grouped export).
"""

from __future__ import annotations

from typing import Dict, List, Optional, Sequence, Tuple

import numpy as np

from medcat_spark import worker
from medcat_spark.functions.lstm_meta import LstmCell, LstmMetaModel

# sample = (window token ids, (center_first, center_last), label id)
Sample = Tuple[List[int], Tuple[int, int], int]


# ---------------------------------------------------------------------------
# window prep (reference data_utils.prepare_from_json:58-150)


def tokens_overlapping_span(offsets: Sequence[Tuple[int, int]],
                            start: int, end: int) -> List[int]:
    """Token indices covering char span [start, end) — the reference's
    ctoken_idx walk (data_utils.py:78-87): from the first token whose
    char end reaches ``start`` through the token containing ``end``."""
    idx: List[int] = []
    for ind, (s, e) in enumerate(offsets):
        if start <= s or start <= e:
            idx.append(ind)
            if end <= e:
                break
    return idx


def prepare_window(ids: Sequence[int], offsets: Sequence[Tuple[int, int]],
                   start: int, end: int, cntx_left: int, cntx_right: int,
                   replace_center_ids: Optional[Sequence[int]] = None
                   ) -> Optional[Tuple[List[int], Tuple[int, int]]]:
    """One training/inference window around one annotation →
    (window ids, (center_first, center_last)) or None when the span
    maps to no tokens."""
    ctoken = tokens_overlapping_span(offsets, start, end)
    if not ctoken:
        return None
    lo = max(0, ctoken[0] - cntx_left)
    hi = min(len(ids), ctoken[-1] + 1 + cntx_right)
    window = list(ids[lo:hi])
    cf, cl = ctoken[0] - lo, ctoken[-1] - lo
    if replace_center_ids is not None:
        window = window[:cf] + list(replace_center_ids) + window[cl + 1:]
        cl = cf + len(replace_center_ids) - 1
    return window, (cf, cl)


def mct_meta_samples(spark, mct_path: str, category: str, tokenizer,
                     cntx_left: int = 15, cntx_right: int = 10,
                     cui_filter: Optional[set] = None,
                     replace_center: Optional[str] = None,
                     prerequisites: Optional[Dict[str, str]] = None):
    """MCT export → DataFrame (doc_id, ids, c_first, c_last, label) of
    training windows for one meta task.

    The tokenize+window step is the per-document heavy part, so it runs
    distributed: documents grouped with their annotations, tokenizer
    broadcast once, one ``worker.kernel`` mapInArrow.  meta_anns are
    read as a map<category, struct> so arbitrary task names work
    without schema coupling.
    """
    from pyspark.sql import functions as F

    raw = spark.read.option("multiLine", "true").json(mct_path)
    doc = (raw.select(F.explode("projects").alias("p"))
           .select(F.explode("p.documents").alias("d")))
    ann = doc.select(
        F.col("d.id").cast("string").alias("doc_id"),
        F.col("d.text").alias("text"),
        F.explode("d.annotations").alias("a"))
    meta = F.from_json(F.to_json(F.col("a.meta_anns")),
                       "map<string,struct<value:string>>")
    have = set(ann.select("a.*").columns)

    def flag(name: str, dflt: bool):
        if name in have:
            return F.coalesce(F.col(f"a.{name}").cast("boolean"),
                              F.lit(dflt))
        return F.lit(dflt)

    rows = (ann.select(
        "doc_id", "text",
        F.col("a.start").cast("int").alias("start"),
        F.col("a.end").cast("int").alias("end"),
        F.col("a.cui").alias("cui"),
        meta.alias("meta"),
        flag("validated", True).alias("validated"),
        flag("killed", False).alias("killed"),
        flag("deleted", False).alias("deleted"),
        flag("irrelevant", False).alias("irrelevant"))
        .where(F.col("validated") & ~F.col("killed") & ~F.col("deleted")
               & ~F.col("irrelevant")))
    for name, want in (prerequisites or {}).items():
        rows = rows.where(F.col("meta")[name]["value"] == F.lit(want))
    if cui_filter:
        rows = rows.where(F.col("cui").isin(*sorted(cui_filter)))
    rows = (rows.select("doc_id", "text", "start", "end",
                        F.col("meta")[category]["value"].alias("label"))
            .where(F.col("label").isNotNull()))
    grouped = (rows.groupBy("doc_id", "text")
               .agg(F.collect_list(F.struct("start", "end", "label"))
                    .alias("anns")))
    bc_tok = spark.sparkContext.broadcast(tokenizer)

    def build(batches):
        tok = bc_tok.value
        rc_ids = tok.encode(replace_center) if replace_center else None
        for rows in batches:
            out = {"doc_id": [], "ids": [], "c_first": [], "c_last": [],
                   "label": []}
            for row in rows:
                ids, offsets = tok.encode_with_offsets(str(row["text"]))
                for a in row["anns"]:
                    w = prepare_window(ids, offsets, int(a["start"]),
                                       int(a["end"]), cntx_left, cntx_right,
                                       replace_center_ids=rc_ids)
                    if w is None:
                        continue
                    out["doc_id"].append(row["doc_id"])
                    out["ids"].append(list(w[0]))
                    out["c_first"].append(w[1][0])
                    out["c_last"].append(w[1][1])
                    out["label"].append(a["label"])
            yield out

    schema = ("doc_id string, ids array<int>, c_first int, c_last int, "
              "label string")
    return grouped.mapInArrow(worker.kernel(schema, build), schema=schema)


def collect_samples(df, label2id: Optional[Dict[str, int]] = None
                    ) -> Tuple[List[Sample], Dict[str, int]]:
    """Driver-side materialization of `mct_meta_samples` output, labels
    encoded in first-seen order when no existing map is given
    (encode_category_values semantics)."""
    rows = df.select("ids", "c_first", "c_last", "label").collect()
    if label2id is None:
        label2id = {}
        for r in rows:
            if r["label"] not in label2id:
                label2id[r["label"]] = len(label2id)
    data = [(list(r["ids"]), (int(r["c_first"]), int(r["c_last"])),
             label2id[r["label"]]) for r in rows
            if r["label"] in label2id]
    return data, label2id


def undersample(data: Sequence[Sample], n_classes: int,
                category_undersample: Optional[int] = None) -> List[Sample]:
    """Cap every class at the minority (or the named class's) count, in
    data order (data_utils.py:243-259)."""
    counts = np.bincount([y for _, _, y in data], minlength=n_classes)
    cap = int(counts[category_undersample]
              if category_undersample is not None else counts.min())
    taken = [0] * n_classes
    out = []
    for s in data:
        if taken[s[2]] < cap:
            out.append(s)
            taken[s[2]] += 1
    return out


def class_weights_balanced(y: Sequence[int], n_classes: int) -> np.ndarray:
    """sklearn compute_class_weight("balanced"): n / (k * bincount)."""
    counts = np.bincount(y, minlength=n_classes).astype(np.float64)
    counts[counts == 0] = 1.0
    return len(y) / (n_classes * counts)


def init_lstm_meta(labels: Sequence[str], token2id: Dict[str, int],
                   input_size: int = 300, hidden_size: int = 300,
                   num_layers: int = 1, bidirectional: bool = True,
                   pad_id: int = 0, unk_id: int = 1, seed: int = 13,
                   cntx_left: int = 15, cntx_right: int = 10,
                   tokenizer=None) -> LstmMetaModel:
    """Fresh randomly-initialized LSTM head (torch nn.LSTM/Linear init:
    U(-1/sqrt(H), 1/sqrt(H)); nn.Embedding: N(0,1), pad row zero).
    ``hidden_size`` is the CONCATENATED width like the reference config
    (models.py:29: per-direction H = hidden_size // num_directions)."""
    rng = np.random.RandomState(seed)
    ndir = 2 if bidirectional else 1
    H = hidden_size // ndir
    V = max(token2id.values(), default=1) + 1 if token2id else 2
    V = max(V, pad_id + 1, unk_id + 1)
    E = rng.randn(V, input_size)
    E[pad_id] = 0.0
    k = 1.0 / np.sqrt(H)

    def u(*shape):
        return rng.uniform(-k, k, size=shape)

    layers: List[Tuple[LstmCell, Optional[LstmCell]]] = []
    for lyr in range(num_layers):
        din = input_size if lyr == 0 else H * ndir
        fwd = LstmCell(u(4 * H, din), u(4 * H, H), u(4 * H), u(4 * H))
        bwd = (LstmCell(u(4 * H, din), u(4 * H, H), u(4 * H), u(4 * H))
               if bidirectional else None)
        layers.append((fwd, bwd))
    kf = 1.0 / np.sqrt(H * ndir)
    fc_W = rng.uniform(-kf, kf, size=(len(labels), H * ndir))
    fc_b = rng.uniform(-kf, kf, size=len(labels))
    return LstmMetaModel(list(labels), dict(token2id), E, layers, fc_W,
                         fc_b, pad_id=pad_id, unk_id=unk_id,
                         cntx_left=cntx_left, cntx_right=cntx_right,
                         tokenizer=tokenizer)


# ---------------------------------------------------------------------------
# BPTT over the model's taped forward


def _backward_dir(dOut: np.ndarray, X: np.ndarray, cache, cell: LstmCell):
    """Gradients for one direction of one layer.  Mask algebra: the
    forward gates state as s' = m*s_new + (1-m)*s, and emits
    out_t = m*h_new — so dOut feeds h_new directly and padded steps pass
    state gradients through untouched."""
    B, L, Din = X.shape
    H = cell.H
    dW_ih = np.zeros_like(cell.W_ih)
    dW_hh = np.zeros_like(cell.W_hh)
    db = np.zeros_like(cell.b)
    dX = np.zeros((B, L, Din))
    dh = np.zeros((B, H))
    dc = np.zeros((B, H))
    for (t, m, h_prev, c_prev, i, f, g, o, c_new, tc) in reversed(cache):
        dh_new = m * (dh + dOut[:, t])
        dh_carry = (1.0 - m) * dh
        dc_gated = m * dc
        dc_carry = (1.0 - m) * dc
        do = dh_new * tc
        dcn = dc_gated + dh_new * o * (1.0 - tc ** 2)
        df = dcn * c_prev
        di = dcn * g
        dg = dcn * i
        dpre = np.concatenate(
            [di * i * (1.0 - i), df * f * (1.0 - f),
             dg * (1.0 - g ** 2), do * o * (1.0 - o)], axis=1)
        dW_ih += dpre.T @ X[:, t]
        dW_hh += dpre.T @ h_prev
        db += dpre.sum(axis=0)
        dX[:, t] += dpre @ cell.W_ih
        dh = dh_carry + dpre @ cell.W_hh
        dc = dc_carry + dcn * f
    return dX, dW_ih, dW_hh, db


def _max_pool_bwd(dseq: np.ndarray, seq: np.ndarray, spans,
                 dpool: np.ndarray) -> None:
    """Adds the gradient ``dpool`` (B, H) of the per-row max-pools
    ``seq[b, lo:hi].max(axis=0)`` into ``dseq``, each on its span's
    first argmax."""
    B, H = dpool.shape
    am = np.stack([seq[b, lo:hi].argmax(axis=0) + lo
                   for b, (lo, hi) in enumerate(spans)])
    np.add.at(dseq, (np.repeat(np.arange(B), H), am.ravel(),
                     np.tile(np.arange(H), B)), dpool.ravel())


def _window_logits(model, samples, tape: Optional[dict] = None):
    """The head's own forward over (window, centers, label) samples."""
    return model.forward_id_windows([w for w, _, _ in samples],
                                    [c for _, c, _ in samples], tape)


def _weighted_ce(logits: np.ndarray, y: np.ndarray,
                 class_weights: Optional[np.ndarray]):
    """Weighted softmax cross-entropy with torch's
    ``CrossEntropyLoss(weight=w)`` normalization (Σ w[y_b] denominator)
    → (loss, dloss/dlogits)."""
    B = len(y)
    e = np.exp(logits - logits.max(axis=1, keepdims=True))
    p = e / e.sum(axis=1, keepdims=True)
    w = class_weights[y] if class_weights is not None else np.ones(B)
    wsum = w.sum()
    loss = float(-(w * np.log(np.maximum(p[np.arange(B), y], 1e-12))).sum()
                 / wsum)
    dlogits = p * w[:, None]
    dlogits[np.arange(B), y] -= w
    dlogits /= wsum
    return loss, dlogits


def _forward_backward(model: LstmMetaModel, batch: Sequence[Sample],
                      class_weights: Optional[np.ndarray],
                      emb_grad: bool):
    """Loss + gradients for one minibatch.  Returns (loss, grads, logits)
    where grads maps the same keys `_params` yields."""
    tape: Dict = {}
    logits = _window_logits(model, batch, tape)
    loss, dlogits = _weighted_ce(logits, _labels(batch), class_weights)
    pooled = tape["pooled"]
    grads: Dict[str, np.ndarray] = {
        "fc_W": dlogits.T @ pooled, "fc_b": dlogits.sum(axis=0)}
    dX = np.zeros_like(tape["seq"])
    _max_pool_bwd(dX, tape["seq"], tape["spans"], dlogits @ model.fc_W)
    for k in range(len(model.layers) - 1, -1, -1):
        X_in, recs = tape["layers"][k]
        fwd, bwd = model.layers[k]
        H = fwd.H
        dXf, gWihf, gWhhf, gbf = _backward_dir(
            dX[:, :, :H], X_in, recs[0], fwd)
        grads[f"l{k}f.W_ih"], grads[f"l{k}f.W_hh"] = gWihf, gWhhf
        grads[f"l{k}f.b"] = gbf
        dX_in = dXf
        if bwd is not None:
            dXb, gWihb, gWhhb, gbb = _backward_dir(
                dX[:, :, H:], X_in, recs[1], bwd)
            grads[f"l{k}b.W_ih"], grads[f"l{k}b.W_hh"] = gWihb, gWhhb
            grads[f"l{k}b.b"] = gbb
            dX_in = dX_in + dXb
        dX = dX_in
    if emb_grad:
        dE = np.zeros_like(model.E)
        np.add.at(dE, tape["ids"], dX)
        dE[model.pad_id] = 0.0     # torch Embedding padding_idx
        grads["E"] = dE
    return loss, grads, logits


def _params(model: LstmMetaModel, emb_grad: bool) -> Dict[str, np.ndarray]:
    ps: Dict[str, np.ndarray] = {"fc_W": model.fc_W, "fc_b": model.fc_b}
    for k, (fwd, bwd) in enumerate(model.layers):
        for cell, tag in ((fwd, "f"), (bwd, "b")):
            if cell is None:
                continue
            ps[f"l{k}{tag}.W_ih"] = cell.W_ih
            ps[f"l{k}{tag}.W_hh"] = cell.W_hh
            ps[f"l{k}{tag}.b"] = cell.b
    if emb_grad:
        ps["E"] = model.E
    return ps


class _Adam:
    """torch.optim.Adam semantics (L2 weight decay folded into the
    gradient, bias-corrected moments)."""

    def __init__(self, params: Dict[str, np.ndarray], lr: float,
                 weight_decay: float = 1e-5,
                 betas: Tuple[float, float] = (0.9, 0.999),
                 eps: float = 1e-8) -> None:
        self.params = params
        self.lr = lr
        self.wd = weight_decay
        self.b1, self.b2 = betas
        self.eps = eps
        self.t = 0
        self.m = {k: np.zeros_like(v) for k, v in params.items()}
        self.v = {k: np.zeros_like(v) for k, v in params.items()}

    def _decay(self, p: np.ndarray, g: np.ndarray) -> np.ndarray:
        return g + self.wd * p

    def step(self, grads: Dict[str, np.ndarray]) -> None:
        self.t += 1
        for k, p in self.params.items():
            g = self._decay(p, grads[k])
            self.m[k] = self.b1 * self.m[k] + (1 - self.b1) * g
            self.v[k] = self.b2 * self.v[k] + (1 - self.b2) * g * g
            mh = self.m[k] / (1 - self.b1 ** self.t)
            vh = self.v[k] / (1 - self.b2 ** self.t)
            p -= self.lr * mh / (np.sqrt(vh) + self.eps)


def _clip_total_norm(grads: Dict[str, np.ndarray], max_norm: float) -> None:
    """nn.utils.clip_grad_norm_ (global 2-norm across all tensors)."""
    total = float(np.sqrt(sum(float((g * g).sum())
                              for g in grads.values())))
    if total > max_norm:
        scale = max_norm / (total + 1e-6)
        for g in grads.values():
            g *= scale


def _f1_report(y_true: np.ndarray, y_pred: np.ndarray,
               n_classes: int) -> Dict[str, float]:
    """per-class F1 + macro/weighted averages (the reference picks its
    winner by classification_report[metric.base][metric.score])."""
    f1s, support = [], []
    for c in range(n_classes):
        tp = int(((y_pred == c) & (y_true == c)).sum())
        fp = int(((y_pred == c) & (y_true != c)).sum())
        fn = int(((y_pred != c) & (y_true == c)).sum())
        prec = tp / (tp + fp) if tp + fp else 0.0
        rec = tp / (tp + fn) if tp + fn else 0.0
        f1s.append(2 * prec * rec / (prec + rec) if prec + rec else 0.0)
        support.append(int((y_true == c).sum()))
    tot = max(sum(support), 1)
    return {
        "accuracy": float((y_true == y_pred).mean()) if len(y_true) else 0.0,
        "macro_f1": float(np.mean(f1s)),
        "weighted_f1": float(sum(f * s for f, s in zip(f1s, support)) / tot),
        "per_class_f1": [round(f, 4) for f in f1s],
    }


def _labels(samples) -> np.ndarray:
    return np.array([y for _, _, y in samples])


def _split(data, rng: np.random.RandomState, *, shuffle: bool,
           test_size: float, what: str, n_classes: int,
           class_weights: Optional[Sequence[float]] = None,
           compute_class_weights: bool = False, labels=_labels):
    """The trainers' shared prologue: shuffle once (when ``shuffle``),
    split the head of the data off as the test set, and resolve the
    class weights — explicit, balanced over the train labels
    (``labels(train)``), or None.  Returns (train, test, weights)."""
    data = list(data)
    if shuffle:
        rng.shuffle(data)
    if len(data) < 2:
        raise ValueError(f"need at least 2 {what} to split train/test")
    n_test = max(1, int(round(len(data) * test_size)))
    test, train = data[:n_test], data[n_test:]
    if not train:
        raise ValueError(
            f"test_size={test_size} leaves no training {what}: all "
            f"{len(data)} went to the test set")
    y_train = labels(train)
    if class_weights is not None:
        cw = np.asarray(class_weights, dtype=np.float64)
    elif compute_class_weights:
        cw = class_weights_balanced(y_train, n_classes)
    else:
        cw = None
    return train, test, cw


def _rounded(cw: Optional[np.ndarray]) -> Optional[List[float]]:
    return None if cw is None else [round(float(x), 4) for x in cw]


def _argmax_predict(logits, chunk: int):
    """``predict`` for (x, aux, label) samples: argmax of
    ``logits(samples)`` over test chunks of ``chunk`` samples."""
    def predict(test):
        preds = []
        for ofs in range(0, len(test), chunk):
            preds.extend(logits(test[ofs:ofs + chunk]).argmax(axis=1)
                         .tolist())
        return _labels(test), np.array(preds)
    return predict


def _fit(params: Dict[str, np.ndarray], opt, train, test, *, nepochs: int,
         batch_size: int, rng: np.random.RandomState, grad,
         clip_norm: float, predict, n_classes: int, metric: str,
         patience: int, on_epoch=None) -> Dict:
    """The one fine-tuning loop (reference ml_utils.train_model) every
    trainer runs.  Per epoch: ``grad(batch) -> (loss, grads)`` over one
    ``rng.permutation`` of ``train`` in mini-batches, each clipped and
    stepped; then ``_f1_report(*predict(test))`` with the epoch and mean
    loss, handed to ``on_epoch(epoch, report)``.  The winner is the
    first epoch with the best ``metric`` (``patience > 0``: stop after
    that many epochs without one); its weights are loaded back into
    ``params`` (meta_cat.py:303-310) and its report returned."""
    winner: Dict = {}
    winner_state: Dict[str, np.ndarray] = {}
    since = 0
    for epoch in range(nepochs):
        order = rng.permutation(len(train))
        losses = []
        for ofs in range(0, len(train), batch_size):
            batch = [train[i] for i in order[ofs:ofs + batch_size]]
            loss, grads = grad(batch)
            _clip_total_norm(grads, clip_norm)
            opt.step(grads)
            losses.append(loss)
        rep = _f1_report(*predict(test), n_classes)
        rep["epoch"] = epoch
        rep["train_loss"] = round(float(np.mean(losses)), 6)
        if on_epoch is not None:
            on_epoch(epoch, rep)
        if not winner or rep[metric] > winner[metric]:
            winner = rep
            winner_state = {k: v.copy() for k, v in params.items()}
            since = 0
        else:
            since += 1
            if patience > 0 and since >= patience:
                break
    for k, v in winner_state.items():
        params[k][...] = v
    winner["n_train"] = len(train)
    winner["n_test"] = len(test)
    return winner


def train_lstm_meta(model: LstmMetaModel, data: Sequence[Sample], *,
                    nepochs: int = 50, lr: float = 1e-3,
                    batch_size: int = 100, test_size: float = 0.1,
                    class_weights: Optional[Sequence[float]] = None,
                    compute_class_weights: bool = True,
                    metric: str = "weighted_f1", patience: int = 0,
                    seed: int = 42, emb_grad: bool = True,
                    clip_norm: float = 0.15,
                    weight_decay: float = 1e-5,
                    shuffle_data: bool = True,
                    grad_fn=None) -> Dict:
    """One training phase (reference ml_utils.train_model): Adam over
    the LSTM head through `_fit`, held-out eval through the scoring
    forward.  Mutates ``model`` to the winner-epoch weights and returns
    the report.

    ``grad_fn(model, batch, cw, emb_grad) -> (loss, grads)`` overrides
    the gradient computation for one macro-batch — the hook the
    Spark data-parallel trainer (train_lstm_meta_spark) plugs into, so
    the two trainers differ ONLY in where the gradient sum is
    computed."""
    rng = np.random.RandomState(seed)
    n_classes = len(model.labels)
    train, test, cw = _split(
        data, rng, shuffle=shuffle_data, test_size=test_size,
        what="samples", n_classes=n_classes,
        class_weights=class_weights,
        compute_class_weights=compute_class_weights)

    def grad(batch):
        if grad_fn is not None:
            return grad_fn(model, batch, cw, emb_grad)
        return _forward_backward(model, batch, cw, emb_grad)[:2]

    params = _params(model, emb_grad)
    winner = _fit(
        params, _Adam(params, lr=lr, weight_decay=weight_decay), train,
        test, nepochs=nepochs, batch_size=batch_size, rng=rng, grad=grad,
        clip_norm=clip_norm, n_classes=n_classes, metric=metric,
        patience=patience, predict=_argmax_predict(
            lambda chunk: _window_logits(model, chunk), 5000))
    winner["class_weights"] = _rounded(cw)
    return winner


def spark_batch_grad(spark, model, batch: Sequence[Sample],
                     cw: Optional[np.ndarray], n_shards: int, fb):
    """One synchronous data-parallel gradient, generic over the head:
    the macro-batch is split across executors, each shard runs
    ``fb(model, rows, cw) -> (loss, grads, logits)`` on ITS rows
    against the broadcast model, and the driver recombines the shard
    means weighted by their CE weight mass (wsum): because each head's
    batch loss is Σw·ce / Σw, grad_total = Σᵢ wsumᵢ·gradᵢ / Σᵢ wsumᵢ
    EXACTLY equals the sequential full-batch gradient (linearity) —
    scaling out changes wall-clock, not the math (pytest-asserted to
    1e-8 for the LSTM and BERT heads).

    RDD mapPartitions is deliberate here: a gradient shard is opaque
    per-partition imperative numpy (the SURVEY-sanctioned exception),
    not a columnar relation — there is no schema for Catalyst to
    optimize and the payload is a dict of ndarrays.

    Scale notes: the model broadcast is per STEP (params changed), so
    the efficient regime is large macro-batches (few steps/epoch);
    embedding gradients return dense from every shard — at production
    vocab sizes the shard would return (touched-row-index, rows) pairs
    instead, an O(batch·window) payload."""
    sc = spark.sparkContext
    bc = sc.broadcast(model)
    cw_list = None if cw is None else [float(x) for x in cw]

    def part(rows_iter):
        rows = list(rows_iter)
        if not rows:
            return
        cw_np = None if cw_list is None else np.asarray(cw_list)
        wsum = (float(len(rows)) if cw_np is None
                else float(cw_np[[y for _, _, y in rows]].sum()))
        loss, grads, _ = fb(bc.value, rows, cw_np)
        yield (wsum, loss, grads)

    shards = (sc.parallelize(list(batch),
                             numSlices=max(1, min(n_shards, len(batch))))
              .mapPartitions(part).collect())
    bc.unpersist()
    tw = sum(s[0] for s in shards)
    loss = sum(s[0] * s[1] for s in shards) / tw
    grads: Dict[str, np.ndarray] = {}
    for k in shards[0][2]:
        acc = None
        for wsum, _, g in shards:
            t = g[k] * (wsum / tw)
            acc = t if acc is None else acc + t
        grads[k] = acc
    return loss, grads


def train_lstm_meta_spark(spark, model: LstmMetaModel,
                          data: Sequence[Sample], *,
                          n_shards: int = 8, **kw) -> Dict:
    """Distributed fine-tuning of the LSTM meta head: train_lstm_meta
    (the one `_fit` loop: shuffle, weighted CE, clip, Adam, winner
    epoch, early stopping — reference ml_utils.train_model semantics)
    with each macro-batch's gradient computed data-parallel across the
    cluster (spark_batch_grad).  Unlike the parameter-averaging path
    documented for the context model (L7), this is NOT a divergence:
    the combined gradient is bit-for-bit the sequential full-batch
    gradient up to float summation order."""
    return train_lstm_meta(
        model, data,
        grad_fn=lambda m, batch, cw, eg: spark_batch_grad(
            spark, m, batch, cw, n_shards,
            lambda mm, rows, cc: _forward_backward(mm, rows, cc, eg)),
        **kw)


def train_lstm_meta_two_phase(model: LstmMetaModel, data: Sequence[Sample],
                              *, category_undersample: Optional[int] = None,
                              phase1_epochs: int = 20, nepochs: int = 50,
                              **kw) -> Dict:
    """Reference 2-phase learning (meta_cat.py:274-301): phase 1 trains
    on the class-undersampled set (winner kept), phase 2 continues from
    those weights on the full set."""
    under = undersample(data, len(model.labels), category_undersample)
    r1 = train_lstm_meta(model, under, nepochs=phase1_epochs, **kw)
    r2 = train_lstm_meta(model, data, nepochs=nepochs, **kw)
    return {"phase1": r1, "phase2": r2}

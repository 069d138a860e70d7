"""Pure-numpy BERT encoder consuming HuggingFace-layout state dicts —
upgrades the RelCAT / TransformersNER analogues from "torch-shaped
plumbing" to the REAL architecture, env-limited only by where the
weights come from.

The reference's RelCAT wraps ``transformers.BertModel`` and pools
entity-marker hidden states through three dense layers
(/root/reference/medcat/utils/relation_extraction/models.py:84-223,
ml_utils.py:233-240); TransformersNER is a token-classification head on
the same encoder.  This module implements the BERT forward pass from
the published architecture (Devlin et al. 2018; HF parameter naming)
in numpy, loading weights through sources/torch_pickle.py — so a real
``model.dat`` / ``pytorch_model.bin`` runs with no torch installed.

Implemented exactly as BERT-base defines them:
  * embeddings = word + position + token_type, then LayerNorm
  * per layer: multi-head self-attention (additive -1e4 mask like HF),
    residual + LayerNorm, GELU (erf-exact) intermediate, output
    projection, residual + LayerNorm
  * pooler = tanh(dense(CLS))

Numerics: float64 throughout (torch runs float32); parity asserted
against an independently-written per-example implementation in tests.
"""

from __future__ import annotations

import math
from typing import Dict, List, Optional, Sequence, Tuple

import numpy as np

from medcat_spark.functions.scorer import (center_spans, decide, max_pool,
                                           pad_ids, predict_chunked, score)


def _erf(x: np.ndarray) -> np.ndarray:
    """``math.erf`` per element as a float64 array of ``x``'s shape: one
    C call per element over a float list, with no object array between
    (numpy has no erf, and a vectorised port differs by an ulp)."""
    return np.fromiter(map(math.erf, x.ravel().tolist()), np.float64,
                       count=x.size).reshape(x.shape)


def gelu(x: np.ndarray) -> np.ndarray:
    """Exact (erf) GELU — the HF 'gelu' act BERT defaults to."""
    return 0.5 * x * (1.0 + _erf(x / math.sqrt(2.0)))


def layer_norm(x: np.ndarray, w: np.ndarray, b: np.ndarray,
               eps: float = 1e-12, tape: Optional[list] = None
               ) -> np.ndarray:
    """LayerNorm over the last axis; with a ``tape`` list, appends the
    ``(xhat, 1/std)`` pair its backward reads."""
    mu = x.mean(axis=-1, keepdims=True)
    std = np.sqrt(x.var(axis=-1, keepdims=True) + eps)
    xhat = (x - mu) / std
    if tape is not None:
        tape.append((xhat, 1.0 / std))
    return xhat * w + b


def softmax(x: np.ndarray, axis: int = -1) -> np.ndarray:
    e = np.exp(x - x.max(axis=axis, keepdims=True))
    return e / e.sum(axis=axis, keepdims=True)


class BertLayer:
    def __init__(self, p: Dict[str, np.ndarray], n_heads: int) -> None:
        self.q_w, self.q_b = p["attention.self.query.weight"], \
            p["attention.self.query.bias"]
        self.k_w, self.k_b = p["attention.self.key.weight"], \
            p["attention.self.key.bias"]
        self.v_w, self.v_b = p["attention.self.value.weight"], \
            p["attention.self.value.bias"]
        self.ao_w, self.ao_b = p["attention.output.dense.weight"], \
            p["attention.output.dense.bias"]
        self.aln_w, self.aln_b = p["attention.output.LayerNorm.weight"], \
            p["attention.output.LayerNorm.bias"]
        self.i_w, self.i_b = p["intermediate.dense.weight"], \
            p["intermediate.dense.bias"]
        self.o_w, self.o_b = p["output.dense.weight"], p["output.dense.bias"]
        self.oln_w, self.oln_b = p["output.LayerNorm.weight"], \
            p["output.LayerNorm.bias"]
        self.n_heads = n_heads

    def forward(self, x: np.ndarray, ext_mask: np.ndarray,
                tape: Optional[dict] = None) -> np.ndarray:
        """One encoder layer; a ``tape`` dict receives every
        intermediate ``bert_train.encoder_backward`` reads."""
        B, L, H = x.shape
        nh = self.n_heads
        dh = H // nh

        def split(t):  # (B, L, H) -> (B, nh, L, dh)
            return t.reshape(B, L, nh, dh).transpose(0, 2, 1, 3)

        q = split(x @ self.q_w.T + self.q_b)
        k = split(x @ self.k_w.T + self.k_b)
        v = split(x @ self.v_w.T + self.v_b)
        # (B, 1, 1, L) additive mask
        probs = softmax(q @ k.transpose(0, 1, 3, 2) / math.sqrt(dh)
                        + ext_mask)
        ctx = (probs @ v).transpose(0, 2, 1, 3).reshape(B, L, H)
        lns = None if tape is None else []
        attn_out = layer_norm(ctx @ self.ao_w.T + self.ao_b + x,
                              self.aln_w, self.aln_b, tape=lns)
        inter_pre = attn_out @ self.i_w.T + self.i_b
        ig = gelu(inter_pre)
        y = layer_norm(ig @ self.o_w.T + self.o_b + attn_out,
                       self.oln_w, self.oln_b, tape=lns)
        if tape is not None:
            tape.update(x=x, q=q, k=k, v=v, probs=probs, ctx=ctx,
                        ln1=lns[0], attn_out=attn_out, inter_pre=inter_pre,
                        ig=ig, ln2=lns[1])
        return y


class BertEncoder:
    """HF ``BertModel`` forward in numpy (embeddings + N layers +
    pooler).  ``from_state_dict`` accepts the standard HF key layout,
    optionally under a prefix (RelCAT saves it under ``hf_model.``)."""

    def __init__(self, emb: Dict[str, np.ndarray],
                 layers: List[BertLayer],
                 pooler_w: Optional[np.ndarray],
                 pooler_b: Optional[np.ndarray],
                 n_heads: int) -> None:
        self.word = emb["word_embeddings.weight"]
        self.pos = emb["position_embeddings.weight"]
        self.ttype = emb["token_type_embeddings.weight"]
        self.eln_w = emb["LayerNorm.weight"]
        self.eln_b = emb["LayerNorm.bias"]
        self.layers = layers
        self.pooler_w = pooler_w
        self.pooler_b = pooler_b
        self.n_heads = n_heads

    @classmethod
    def from_state_dict(cls, sd: Dict[str, np.ndarray], n_heads: int,
                        prefix: str = "") -> "BertEncoder":
        f64 = {k[len(prefix):]: np.asarray(v, dtype=np.float64)
               for k, v in sd.items() if k.startswith(prefix)}
        # tolerate the optional "bert." nesting (BertForTokenClassification)
        if not any(k.startswith("embeddings.") for k in f64) and \
                any(k.startswith("bert.") for k in f64):
            f64 = {k[len("bert."):]: v for k, v in f64.items()
                   if k.startswith("bert.")}
        emb = {k[len("embeddings."):]: v for k, v in f64.items()
               if k.startswith("embeddings.")}
        if "word_embeddings.weight" not in emb:
            raise ValueError("state dict has no embeddings.word_embeddings"
                             ".weight under prefix %r" % prefix)
        layers: List[BertLayer] = []
        i = 0
        while f"encoder.layer.{i}.attention.self.query.weight" in f64:
            p = {k[len(f"encoder.layer.{i}."):]: v for k, v in f64.items()
                 if k.startswith(f"encoder.layer.{i}.")}
            layers.append(BertLayer(p, n_heads))
            i += 1
        if not layers:
            raise ValueError("state dict has no encoder.layer.0.*")
        return cls(emb, layers, f64.get("pooler.dense.weight"),
                   f64.get("pooler.dense.bias"), n_heads)

    def forward(self, input_ids: np.ndarray,
                attention_mask: Optional[np.ndarray] = None,
                token_type_ids: Optional[np.ndarray] = None,
                tape: Optional[dict] = None
                ) -> Tuple[np.ndarray, Optional[np.ndarray]]:
        """→ (sequence_output (B, L, H), pooled_output (B, H) or None).
        A ``tape`` dict receives the inputs, every layer's tape and both
        outputs: what ``bert_train.encoder_backward`` reads."""
        ids = np.asarray(input_ids, dtype=np.int64)
        B, L = ids.shape
        if attention_mask is None:
            attention_mask = np.ones((B, L))
        if token_type_ids is None:
            token_type_ids = np.zeros((B, L), dtype=np.int64)
        ttype = np.asarray(token_type_ids, dtype=np.int64)
        x = (self.word[ids] + self.pos[np.arange(L)][None, :, :]
             + self.ttype[ttype])
        eln = None if tape is None else []
        x = layer_norm(x, self.eln_w, self.eln_b, tape=eln)
        # HF extended mask: (1 - m) * -1e4 (not -inf), broadcast over heads
        ext = (1.0 - np.asarray(attention_mask, dtype=np.float64)
               )[:, None, None, :] * -10000.0
        layer_tapes = [None if tape is None else {} for _ in self.layers]
        for layer, lt in zip(self.layers, layer_tapes):
            x = layer.forward(x, ext, lt)
        pooled = None
        if self.pooler_w is not None:
            pooled = np.tanh(x[:, 0] @ self.pooler_w.T + self.pooler_b)
        if tape is not None:
            tape.update(ids=ids, ttype=ttype, eln=eln[0],
                        layers=layer_tapes, seq=x, pooled=pooled)
        return x, pooled


def annotation_tag_pool(seq: np.ndarray, input_ids: np.ndarray,
                        start_tag: int, end_tag: int) -> np.ndarray:
    """numpy ``get_annotation_schema_tag`` (reference
    utils/relation_extraction/ml_utils.py:243-304): per row, take the
    FIRST occurrence of the start/end marker ids and max-pool the hidden
    states of the tokens strictly between them (the entity tokens).

    The reference asserts every row contains both markers (and errors on
    an empty between-slice via ``torch.max``); this mirrors that with a
    ValueError so a malformed batch fails loudly instead of silently
    diverging.
    """
    return max_pool(seq, tag_spans(input_ids, start_tag, end_tag))


def tag_spans(input_ids: np.ndarray, start_tag: int,
              end_tag: int) -> List[Tuple[int, int]]:
    """Per row, the ``(lo, hi)`` slice strictly between the FIRST
    start and end markers: what :func:`annotation_tag_pool` pools and
    its backward scatters into."""
    spans = []
    for b, row in enumerate(np.asarray(input_ids)):
        s_pos = np.flatnonzero(row == start_tag)
        e_pos = np.flatnonzero(row == end_tag)
        if s_pos.size == 0 or e_pos.size == 0:
            raise ValueError(
                f"annotation schema tags {start_tag}/{end_tag} missing "
                f"from row {b} — every marked sequence must contain both")
        s, e = int(s_pos[0]), int(e_pos[0])
        if e <= s + 1:
            raise ValueError(
                f"no entity tokens between markers {start_tag}..{end_tag} "
                f"in row {b} (positions {s}..{e})")
        spans.append((s + 1, e))
    return spans


# Per-chunk byte budget for the (rows, heads, L, L) attention temporary.
# Fresh large temporaries are first-touch page-faulted on this VM at up
# to ~30x the reuse cost (measured: 2000x40 pair forward 34.7 s cold vs
# 1.4 s warm); chunking keeps every temporary small enough that the
# allocator reuses the same arena pages from the second chunk on.  Same
# family as the MAX_FORWARD_BATCH fix on the meta heads.
_PAIR_TEMP_BYTES = 8 << 20


def chunked_pair_predict(model, input_ids, e1_e2_start,
                         attention_mask=None):
    """Shared relation-pair prediction: chunk rows so attention
    temporaries stay inside ``_PAIR_TEMP_BYTES``, trim each chunk's
    columns to its real max length (padding is mask-invariant —
    pytest ``test_padded_batch_equals_individual``), then
    :func:`scorer.decide` → ``[(label, conf4dp), ...]``."""
    ids = np.asarray(input_ids)
    B, L = ids.shape
    starts = np.asarray(e1_e2_start)
    mask = (np.ones((B, L)) if attention_mask is None
            else np.asarray(attention_mask, dtype=np.float64))
    heads = getattr(model.encoder, "n_heads", 8)
    out: List[Tuple[str, float]] = []
    ofs = 0
    while ofs < B:
        # row budget from the CURRENT padded width; refine with the
        # chunk's own trimmed width for the step actually taken
        step = max(32, _PAIR_TEMP_BYTES // (heads * L * L * 8))
        end = min(B, ofs + step)
        m = mask[ofs:end]
        real = np.flatnonzero(m.max(axis=0) > 0)
        Lc = int(real[-1]) + 1 if real.size else 1
        out.extend(decide(model.labels, model.logits(
            ids[ofs:end, :Lc], starts[ofs:end], m[:, :Lc])))
        ofs = end
    return out


class _RelCatHead:
    """The relation-pair read-out every RelCAT encoder shares
    (models.py:170-225): ``_encode`` gives the hidden states and a lead
    vector (pooled CLS, first-token state, ...), then
    concat(lead, e1, e2) → fc1 → fc2 → fc3 logits (dropout is an
    inference no-op).

    With ``annotation_schema_tag_ids`` configured (the reference
    default, and a hard load requirement for imported rel_* components)
    e1/e2 are max-pools over the tokens BETWEEN each [s1]../[e1] and
    [s2]../[e2] marker pair (``get_annotation_schema_tag``), and the lead
    joins that concat only when ``tag_lead`` is true; without tag ids
    e1/e2 are the hidden states AT the e1_e2_start marker positions."""

    tag_ids: Optional[List[int]] = None
    tag_lead = True

    def __init__(self, encoder, fc: Dict[str, np.ndarray],
                 labels: List[str]) -> None:
        self.encoder = encoder
        self.fc1_w, self.fc1_b = fc["fc1.weight"], fc["fc1.bias"]
        self.fc2_w, self.fc2_b = fc["fc2.weight"], fc["fc2.bias"]
        self.fc3_w, self.fc3_b = fc["fc3.weight"], fc["fc3.bias"]
        self.labels = labels

    def _pooled_concat(self, seq: np.ndarray, lead: np.ndarray,
                       input_ids: np.ndarray,
                       e1_e2_start: np.ndarray) -> np.ndarray:
        tags = self.tag_ids
        if tags and len(tags) >= 4:
            t1 = annotation_tag_pool(seq, input_ids, tags[0], tags[1])
            t2 = annotation_tag_pool(seq, input_ids, tags[2], tags[3])
            parts = [lead, t1, t2] if self.tag_lead else [t1, t2]
            return np.concatenate(parts, axis=1)
        B = seq.shape[0]
        e1 = seq[np.arange(B), np.asarray(e1_e2_start)[:, 0]]
        e2 = seq[np.arange(B), np.asarray(e1_e2_start)[:, 1]]
        return np.concatenate([lead, e1, e2], axis=1)

    def logits(self, input_ids: np.ndarray, e1_e2_start: np.ndarray,
               attention_mask: Optional[np.ndarray] = None,
               tape: Optional[dict] = None) -> np.ndarray:
        """Pair logits; a ``tape`` dict receives the encoder's tape (only
        the BERT backbone records one) and the fc inputs."""
        seq, lead = self._encode(input_ids, attention_mask, tape)
        x = self._pooled_concat(seq, lead, input_ids, e1_e2_start)
        h1 = x @ self.fc1_w.T + self.fc1_b
        h2 = h1 @ self.fc2_w.T + self.fc2_b
        if tape is not None:
            tape.update(x=x, h1=h1, h2=h2)
        return h2 @ self.fc3_w.T + self.fc3_b

    def predict(self, input_ids, e1_e2_start, attention_mask=None):
        return chunked_pair_predict(self, input_ids, e1_e2_start,
                                    attention_mask)


class RelCatBertModel(_RelCatHead):
    """BertModel_RelationExtraction forward (models.py:84-223): the
    shared pair head over the BERT encoder, led by the pooler CLS
    output."""

    @classmethod
    def from_state_dict(cls, sd: Dict[str, np.ndarray], labels: List[str],
                        n_heads: int) -> "RelCatBertModel":
        prefix = "hf_model." if any(k.startswith("hf_model.") for k in sd) \
            else ""
        enc = BertEncoder.from_state_dict(sd, n_heads, prefix=prefix)
        fc = {k: np.asarray(sd[k], dtype=np.float64)
              for k in ("fc1.weight", "fc1.bias", "fc2.weight", "fc2.bias",
                        "fc3.weight", "fc3.bias")}
        return cls(enc, fc, labels)

    def _encode(self, input_ids, attention_mask, tape=None):
        return self.encoder.forward(input_ids, attention_mask, tape=tape)


class BertMetaModel:
    """BertForMetaAnnotation (meta_cat/models.py:87-215): BERT encoder →
    max over entity-center hidden states, concat with pooled CLS →
    fc1(+relu) [→ fc2(+relu) [→ fc3(+relu)]] → fc4.  Same predict API
    as LstmMetaModel's token-id path so the token-space Spark scorer
    drives either head."""

    MAX_FORWARD_BATCH = 4096

    def __init__(self, encoder: BertEncoder, fc: Dict[str, np.ndarray],
                 labels: List[str], use_fc2: bool = True,
                 use_fc3: bool = True, pad_id: int = 0,
                 cntx_left: int = 15, cntx_right: int = 10,
                 tokenizer=None) -> None:
        self.encoder = encoder
        self.fc = fc
        self.labels = labels
        self.use_fc2 = use_fc2
        self.use_fc3 = use_fc3
        self.pad_id = pad_id
        self.unk_id = pad_id
        self.cntx_left = cntx_left
        self.cntx_right = cntx_right
        self.tokenizer = tokenizer

    @classmethod
    def from_state_dict(cls, sd: Dict[str, np.ndarray], labels: List[str],
                        n_heads: int, use_fc2: bool = True,
                        use_fc3: bool = True, **kw) -> "BertMetaModel":
        enc = BertEncoder.from_state_dict(
            {k: v for k, v in sd.items() if k.startswith("bert.")},
            n_heads)
        fc = {k: np.asarray(v, dtype=np.float64) for k, v in sd.items()
              if k.startswith(("fc1.", "fc2.", "fc3.", "fc4."))}
        return cls(enc, fc, labels, use_fc2=use_fc2, use_fc3=use_fc3, **kw)

    @property
    def relu_layers(self) -> List[str]:
        """The fc(+relu) layers ahead of fc4, in order."""
        names = ["fc1"]
        if self.use_fc2:
            names.append("fc2")
            if self.use_fc3:
                names.append("fc3")
        return names

    def forward_id_windows(self, id_windows, centers,
                           tape: Optional[dict] = None) -> np.ndarray:
        """Logits (B, C); a ``tape`` dict receives the encoder's tape,
        the center ``spans`` and the fc inputs ``acts``."""
        ids, mask = pad_ids(id_windows, self.pad_id, self.pad_id,
                            self.encoder.word.shape[0])
        seq, pooled = self.encoder.forward(ids, mask, tape=tape)
        spans = center_spans(id_windows, centers)
        x = np.concatenate([max_pool(seq, spans), pooled], axis=1)
        acts = [x]
        for name in self.relu_layers:
            x = np.maximum(0.0, x @ self.fc[f"{name}.weight"].T
                           + self.fc[f"{name}.bias"])
            acts.append(x)
        if tape is not None:
            tape.update(spans=spans, acts=acts)
        return x @ self.fc["fc4.weight"].T + self.fc["fc4.bias"]

    def predict_batch_ids(self, id_windows, centers):
        return predict_chunked(self.labels, self.forward_id_windows,
                               self.MAX_FORWARD_BATCH, id_windows, centers)


class BertTokenClassifier:
    """BertForTokenClassification (TransformersNER/DeID): encoder →
    per-token linear ``classifier`` head."""

    def __init__(self, encoder: BertEncoder, cls_w: np.ndarray,
                 cls_b: np.ndarray, labels: List[str]) -> None:
        self.encoder = encoder
        self.cls_w = cls_w
        self.cls_b = cls_b
        self.labels = labels

    @classmethod
    def from_state_dict(cls, sd: Dict[str, np.ndarray], labels: List[str],
                        n_heads: int) -> "BertTokenClassifier":
        enc = BertEncoder.from_state_dict(sd, n_heads)
        return cls(enc, np.asarray(sd["classifier.weight"], np.float64),
                   np.asarray(sd["classifier.bias"], np.float64), labels)

    def logits(self, input_ids: np.ndarray,
               attention_mask: Optional[np.ndarray] = None,
               tape: Optional[dict] = None) -> np.ndarray:
        """Per-token logits (B, L, C); a ``tape`` dict receives the
        encoder's tape."""
        seq, _ = self.encoder.forward(input_ids, attention_mask, tape=tape)
        return seq @ self.cls_w.T + self.cls_b

    def predict_tokens(self, input_ids: np.ndarray,
                       attention_mask: Optional[np.ndarray] = None):
        lg = self.logits(input_ids, attention_mask)
        best = lg.argmax(axis=2)
        e = np.exp(lg - lg.max(axis=2, keepdims=True))
        conf = np.take_along_axis(
            e, best[:, :, None], axis=2)[:, :, 0] / e.sum(axis=2)
        return best, np.round(conf, 4)


# ---------------------------------------------------------------------------
# relation classification over candidate entity pairs (reference
# rel_dataset.py:73-75 marked-sequence format
# "..[s1] ent1 [e1]..[s2] ent2 [e2].."; e1_e2_start = positions of the
# [s1]/[s2] marker tokens, config_rel_cat.py:54)


def mark_pair_sequence(ids, ra, rb, tag_ids, cntx_l: int, cntx_r: int,
                       max_len: int, cls_id=None, sep_id=None):
    """Marked relation sequence for one entity pair → (seq, p1, p2) or
    None when the [e2] marker would not survive truncation (the
    reference drops those relations).  ``ra``/``rb`` are the entities'
    (first, last) token indices; markers [s1]..[e1]/[s2]..[e2] are
    spliced around them, optional [CLS]/[SEP] framing.  Shared by the
    inference scorer (:mod:`scorer`, head ``rel_bert``) and the trainer
    (:mod:`bert_train`) so both see byte-identical inputs."""
    s1, e1m, s2, e2m = tag_ids
    off = 1 if cls_id is not None else 0
    body_budget = max_len - 2 * off
    lo = max(0, ra[0] - cntx_l)
    hi = min(len(ids), rb[1] + 1 + cntx_r)
    # the [e2] marker sits at body index rb[1]-lo+4 (three markers +
    # both entity spans precede it) and must stay inside the budget
    if rb[1] - lo + 4 >= body_budget:
        return None
    seq = (list(ids[lo:ra[0]]) + [s1] + list(ids[ra[0]:ra[1] + 1])
           + [e1m] + list(ids[ra[1] + 1:rb[0]]) + [s2]
           + list(ids[rb[0]:rb[1] + 1]) + [e2m]
           + list(ids[rb[1] + 1:hi]))
    seq = seq[:body_budget]
    if cls_id is not None:
        seq = [cls_id] + seq + [sep_id]
    return seq, ra[0] - lo + off, rb[0] - lo + 2 + off


def relations_bert(ann, docs, bc, text_col: str = "text"):
    """Relation rows from the REAL BERT pair classifier (broadcast
    weights, one tokenize per doc, Arrow-batched padded forward)."""
    return score(ann, docs, bc, "rel_bert", text_col)


def relcat_bert_fixture_model():
    """Deterministic RelCAT-BERT: BBPE trained on the testdata lexicon
    with the four [s1]/[e1]/[s2]/[e2] markers appended, tiny BERT in the
    HF key layout written+read through the torch zip format."""
    from medcat_spark.core.bbpe import train_bbpe
    tok = train_bbpe(
        ["spark merge window vector stream filter fast slow small",
         "hash join sort join table scan the key query"] * 4,
        vocab_size=120)
    tag_ids = []
    for t in ("[s1]", "[e1]", "[s2]", "[e2]"):
        tok.vocab[t] = len(tok.vocab)
        tok.id2tok[tok.vocab[t]] = t
        tag_ids.append(tok.vocab[t])
    for t in ("[CLS]", "[SEP]"):   # exercise the special-token framing
        tok.vocab[t] = len(tok.vocab)
        tok.id2tok[tok.vocab[t]] = t
    import os
    import tempfile
    from medcat_spark.sources.torch_pickle import (read_state_dict,
                                                   write_state_dict)
    sd = bert_fixture_state_dict(vocab_size=tok.get_size(), max_pos=64,
                                 nclasses=3)
    path = os.path.join(tempfile.mkdtemp(prefix="relcat_bert_"),
                        "model.dat")
    write_state_dict(path, sd)
    m = RelCatBertModel.from_state_dict(
        read_state_dict(path), ["Spatial", "Causal", "None"], n_heads=2)
    m.tokenizer = tok
    m.tag_ids = tag_ids
    m.cntx_left = 4
    m.cntx_right = 4
    m.window_size_chars = 80
    m.max_seq_length = 64   # == the fixture position table
    return m


# ---------------------------------------------------------------------------
# deterministic fixture checkpoint (HF key layout, tiny dims)


def bert_fixture_state_dict(vocab_size: int = 64, hidden: int = 8,
                            n_layers: int = 2, n_heads: int = 2,
                            inter: int = 16, max_pos: int = 32,
                            seed: int = 91, relcat: bool = True,
                            nclasses: int = 3) -> Dict[str, np.ndarray]:
    rs = np.random.RandomState(seed)

    def r(*shape):
        return np.round(rs.uniform(-0.5, 0.5, size=shape),
                        4).astype(np.float32)

    sd: Dict[str, np.ndarray] = {}
    pre = "hf_model." if relcat else ""
    sd[pre + "embeddings.word_embeddings.weight"] = r(vocab_size, hidden)
    sd[pre + "embeddings.position_embeddings.weight"] = r(max_pos, hidden)
    sd[pre + "embeddings.token_type_embeddings.weight"] = r(2, hidden)
    sd[pre + "embeddings.LayerNorm.weight"] = \
        np.ones(hidden, dtype=np.float32)
    sd[pre + "embeddings.LayerNorm.bias"] = np.zeros(hidden, dtype=np.float32)
    for i in range(n_layers):
        lp = f"{pre}encoder.layer.{i}."
        for nm in ("attention.self.query", "attention.self.key",
                   "attention.self.value", "attention.output.dense"):
            sd[lp + nm + ".weight"] = r(hidden, hidden)
            sd[lp + nm + ".bias"] = r(hidden)
        sd[lp + "attention.output.LayerNorm.weight"] = \
            np.ones(hidden, dtype=np.float32)
        sd[lp + "attention.output.LayerNorm.bias"] = \
            np.zeros(hidden, dtype=np.float32)
        sd[lp + "intermediate.dense.weight"] = r(inter, hidden)
        sd[lp + "intermediate.dense.bias"] = r(inter)
        sd[lp + "output.dense.weight"] = r(hidden, inter)
        sd[lp + "output.dense.bias"] = r(hidden)
        sd[lp + "output.LayerNorm.weight"] = np.ones(hidden, dtype=np.float32)
        sd[lp + "output.LayerNorm.bias"] = np.zeros(hidden, dtype=np.float32)
    sd[pre + "pooler.dense.weight"] = r(hidden, hidden)
    sd[pre + "pooler.dense.bias"] = r(hidden)
    if relcat:
        # create_dense_layers shapes: model_size -> hidden2 -> hidden2/2
        # -> nclasses, where model_size = 3*hidden (CLS + e1 + e2)
        h2 = 12
        sd["fc1.weight"] = r(h2, 3 * hidden)
        sd["fc1.bias"] = r(h2)
        sd["fc2.weight"] = r(h2 // 2, h2)
        sd["fc2.bias"] = r(h2 // 2)
        sd["fc3.weight"] = r(nclasses, h2 // 2)
        sd["fc3.bias"] = r(nclasses)
    else:
        sd["classifier.weight"] = r(nclasses, hidden)
        sd["classifier.bias"] = r(nclasses)
    return sd

"""TransformersNER-analogue: a TRAINED per-token sequence tagger whose
inference runs entirely in native Spark window functions (SURVEY §2.11;
reference medcat/ner/transformers_ner.py — token classification over
context windows, spans from consecutive same-label tokens).

Torch is unavailable; the analogue keeps the task shape (per-token
label logits from the token identity + its context window, span
assembly from adjacent same-label tokens) with a linear head:

    logits(tok_i) = S_center[tok_i] + mean(S_ctx[tok_j], j in i±w) + b

where ``S_center = E @ Wc.T`` and ``S_ctx = E @ Wx.T`` collapse the
trained embedding + two linear blocks into per-(token, class) scalar
tables.  Inference is therefore: broadcast-join the two score tables,
one ``AVG OVER (ROWS BETWEEN w PRECEDING AND w FOLLOWING)`` window per
class, argmax in codegen, and an island window for span assembly —
ZERO Python in the scoring path (unlike meta/rel which batch through
Arrow), and exactly expressible as the DuckDB oracle.
"""

from __future__ import annotations

from functools import lru_cache
from typing import Dict, List, Tuple

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from medcat_spark import worker

WINDOW = 3  # context tokens each side


class TokenTagModel:
    """Broadcastable trained tagger: per-token center/context class
    scores (rounded to 4 decimals at export) + bias; labels[0] must be
    the outside label 'O'."""

    def __init__(self, labels: List[str],
                 center_scores: Dict[str, np.ndarray],
                 ctx_scores: Dict[str, np.ndarray],
                 bias: np.ndarray, window: int = WINDOW) -> None:
        assert labels[0] == "O"
        self.labels = labels
        self.center_scores = center_scores
        self.ctx_scores = ctx_scores
        self.bias = bias
        self.window = window


def train_token_tagger(sentences: List[Tuple[List[str], List[str]]],
                       labels: List[str], dim: int = 64,
                       epochs: int = 1200, lr: float = 2.0, seed: int = 41,
                       window: int = WINDOW) -> TokenTagModel:
    """sentences = [(tokens, per-token labels)]; deterministic numpy SGD
    on softmax cross-entropy over (center ⊕ context-mean) features."""
    from medcat_spark.fixtures import det_vec

    vocab = sorted({t for toks, _ in sentences for t in toks})
    E = np.stack([det_vec(t, dim) for t in vocab])
    tok2i = {t: i for i, t in enumerate(vocab)}
    lab2i = {l: i for i, l in enumerate(labels)}

    feats, ys = [], []
    for toks, labs in sentences:
        vecs = np.stack([E[tok2i[t]] for t in toks])
        for i in range(len(toks)):
            lo, hi = max(0, i - window), min(len(toks), i + window + 1)
            feats.append(np.concatenate([vecs[i], vecs[lo:hi].mean(axis=0)]))
            ys.append(lab2i[labs[i]])
    X = np.stack(feats)
    y = np.array(ys)

    rng = np.random.RandomState(seed)
    W = rng.normal(0, 0.01, (len(labels), 2 * dim))
    b = np.zeros(len(labels))
    onehot = np.eye(len(labels))[y]
    for _ in range(epochs):
        lg = X @ W.T + b
        lg -= lg.max(axis=1, keepdims=True)
        p = np.exp(lg)
        p /= p.sum(axis=1, keepdims=True)
        g = (p - onehot) / len(y)
        W -= lr * (g.T @ X)
        b -= lr * g.sum(axis=0)

    Wc, Wx = W[:, :dim], W[:, dim:]
    Sc = np.round(E @ Wc.T, 4)
    Sx = np.round(E @ Wx.T, 4)
    return TokenTagModel(labels,
                         {t: Sc[i] for t, i in tok2i.items()},
                         {t: Sx[i] for t, i in tok2i.items()},
                         np.round(b, 4), window)


def score_table(spark, model: TokenTagModel) -> DataFrame:
    """(tok, c0.., x0..): the per-token score rows to broadcast-join."""
    n = len(model.labels)
    rows = [(t,
             *[float(model.center_scores[t][i]) for i in range(n)],
             *[float(model.ctx_scores[t][i]) for i in range(n)])
            for t in sorted(model.center_scores)]
    schema = ("tok string, "
              + ", ".join(f"c{i} double" for i in range(n)) + ", "
              + ", ".join(f"x{i} double" for i in range(n)))
    return spark.createDataFrame(rows, schema)


def tag_spans(docs: DataFrame, model: TokenTagModel,
              scores: DataFrame, text_col: str = "text") -> DataFrame:
    """→ (doc_id, start, end, label, n_tokens): maximal runs of adjacent
    tokens sharing the same argmax non-'O' label.

    Plan: posexplode tokens (one shuffle by doc), broadcast-join score
    rows, per-class windowed AVG, codegen argmax, island detection via
    two row_number windows, one groupBy — all JVM-side.
    """
    n = len(model.labels)
    arr = F.split(F.col(text_col), " ")
    toks = docs.select(F.col("doc_id").cast("string").alias("doc_id"),
                       F.posexplode(arr).alias("pos", "tok"))
    w_off = (Window.partitionBy("doc_id").orderBy("pos")
             .rowsBetween(Window.unboundedPreceding, -1))
    toks = toks.withColumn(
        "start", F.coalesce(F.sum(F.length("tok") + 1).over(w_off),
                            F.lit(0)).cast("int"))
    j = toks.join(F.broadcast(scores), "tok", "left")
    win = (Window.partitionBy("doc_id").orderBy("pos")
           .rowsBetween(-model.window, model.window))
    for i in range(n):
        j = j.withColumn(
            f"l{i}",
            F.coalesce(F.col(f"c{i}"), F.lit(0.0))
            + F.avg(F.coalesce(F.col(f"x{i}"), F.lit(0.0))).over(win)
            + F.lit(float(model.bias[i])))
    # argmax, first max wins (ties toward lower index = 'O' first)
    lab = F.lit(model.labels[0])
    best = F.col("l0")
    for i in range(1, n):
        lab = F.when(F.col(f"l{i}") > best, F.lit(model.labels[i])) \
            .otherwise(lab)
        best = F.greatest(best, F.col(f"l{i}"))
    tagged = j.select("doc_id", "pos", "tok", "start", lab.alias("label"))

    # gaps-and-islands on the ORIGINAL token position (pos), not on
    # filtered row numbers — an O token between two same-label tokens
    # must break the span
    w_lab = Window.partitionBy("doc_id", "label").orderBy("pos")
    island = (F.col("pos") - F.row_number().over(w_lab)).alias("island")
    ent = tagged.where(F.col("label") != "O") \
        .select("doc_id", "pos", "tok", "start", "label", island)
    return (ent.groupBy("doc_id", "label", "island")
            .agg(F.min("start").alias("start"),
                 (F.max(F.col("start") + F.length("tok"))).alias("end"),
                 F.count("*").alias("n_tokens"))
            .select("doc_id", "start", "end", "label", "n_tokens"))


# ---------------------------------------------------------------------------
# deterministic fixture tagger over the testdata vocabulary
# ---------------------------------------------------------------------------

_SYS = {"spark", "stream", "vector", "window"}
_OP = {"merge", "join", "sort", "filter", "scan", "hash"}
_OTHER = ("the fast key order table part small batch dup group query row "
          "data slow customer line value agg column big a").split()
NER_LABELS = ["O", "SYS", "OP"]

@lru_cache(maxsize=None)
def ner_fixture_model() -> TokenTagModel:
    import random
    rng = random.Random(20260818)
    vocab = sorted(_SYS | _OP | set(_OTHER))
    sents = []
    for _ in range(250):
        toks, labs = [], []
        for _ in range(rng.randrange(5, 12)):
            w = rng.choice(vocab)
            toks.append(w)
            labs.append("SYS" if w in _SYS else "OP" if w in _OP else "O")
        sents.append((toks, labs))
    return train_token_tagger(sents, NER_LABELS)


# ---------------------------------------------------------------------------
# STATEFUL sequence-labeling tagger — the TransformersNER tensor shape:
# per-TIMESTEP outputs (logits at every position), unlike the meta
# scorer's final-state-only head.  A numpy BiRNN emits
# [h_fwd_t ; h_bwd_t] @ Wo per token; trained with per-step BPTT on a
# BRACKET task (label every token between 'open'..'close' markers)
# whose spans are LONGER than the linear tagger's context window, so
# interior tokens are unlabelable without carried state — the accuracy
# gap vs the windowed linear tagger is the statefulness evidence.
# ---------------------------------------------------------------------------


class RnnTokenTagger:
    """Broadcastable stateful tagger: per-step bidirectional states ->
    per-token labels; span assembly from consecutive non-'O' tokens."""

    MAX_FORWARD_BATCH = 4096

    def __init__(self, labels: List[str], vocab: List[str], E: np.ndarray,
                 fwd, bwd, Wo: np.ndarray, bo: np.ndarray) -> None:
        self.labels = labels
        self.vocab = vocab
        self.tok2i = {t: i for i, t in enumerate(vocab)}
        self.E = E
        self.fwd = fwd      # (Wx, Wh, bh)
        self.bwd = bwd
        self.Wo = Wo        # (C, 2H)
        self.bo = bo

    def _states(self, cell, X, mask, reverse: bool):
        Wx, Wh, bh = cell
        B, L, _ = X.shape
        h = np.zeros((B, Wh.shape[0]))
        out = np.zeros((B, L, Wh.shape[0]))
        steps = range(L - 1, -1, -1) if reverse else range(L)
        for t in steps:
            m = mask[:, t:t + 1]
            h = m * np.tanh(X[:, t] @ Wx.T + h @ Wh.T + bh) + (1.0 - m) * h
            out[:, t] = h
        return out

    def tag_batch(self, seqs: List[List[str]]) -> List[List[str]]:
        out: List[List[str]] = []
        for ofs in range(0, len(seqs), self.MAX_FORWARD_BATCH):
            chunk = seqs[ofs:ofs + self.MAX_FORWARD_BATCH]
            B = len(chunk)
            L = max((len(s) for s in chunk), default=1) or 1
            idx = np.zeros((B, L), dtype=np.int64)
            mask = np.zeros((B, L))
            for r, s in enumerate(chunk):
                for c, t in enumerate(s):
                    idx[r, c] = self.tok2i.get(t, 0)
                    mask[r, c] = 1.0
            X = self.E[idx]
            H = np.concatenate([self._states(self.fwd, X, mask, False),
                                self._states(self.bwd, X, mask, True)],
                               axis=2)                     # (B, L, 2H)
            lg = H @ self.Wo.T + self.bo                   # (B, L, C)
            best = lg.argmax(axis=2)
            out.extend([ [self.labels[best[r, c]] for c in range(len(s))]
                         for r, s in enumerate(chunk) ])
        return out


def train_rnn_tagger(sentences: List[Tuple[List[str], List[str]]],
                     labels: List[str], dim: int = 12, hidden: int = 16,
                     epochs: int = 300, lr: float = 0.5,
                     seed: int = 31) -> RnnTokenTagger:
    """Per-step softmax CE through both directions (full-batch BPTT,
    fixed-length training sentences, gradient clip)."""
    rng = np.random.RandomState(seed)
    vocab = ["<pad>"] + sorted({t for s, _ in sentences for t in s})
    tok2i = {t: i for i, t in enumerate(vocab)}
    C = len(labels)
    L = len(sentences[0][0])
    assert all(len(s) == L for s, _ in sentences)
    E = rng.randn(len(vocab), dim) * 0.5
    E[0] = 0.0
    idx = np.array([[tok2i[t] for t in s] for s, _ in sentences])
    y = np.array([[labels.index(l) for l in ls] for _, ls in sentences])
    X = E[idx]
    B = len(sentences)

    def init_cell():
        return [rng.randn(hidden, dim) * 0.3,
                np.eye(hidden) * 0.5 + rng.randn(hidden, hidden) * 0.1,
                np.zeros(hidden)]

    fwd, bwd = init_cell(), init_cell()
    Wo = rng.randn(C, 2 * hidden) * 0.3
    bo = np.zeros(C)

    def run(cell, reverse):
        Wx, Wh, bh = cell
        hs = np.zeros((B, L + 1, hidden))   # hs[:, i] = state BEFORE step i
        order = list(range(L - 1, -1, -1) if reverse else range(L))
        h = np.zeros((B, hidden))
        states = np.zeros((B, L, hidden))
        for i, t in enumerate(order):
            hs[:, i] = h
            h = np.tanh(X[:, t] @ Wx.T + h @ Wh.T + bh)
            states[:, t] = h
        return states, hs, order

    for _ in range(epochs):
        st_f, hsf, of = run(fwd, False)
        st_b, hsb, ob = run(bwd, True)
        Hc = np.concatenate([st_f, st_b], axis=2)          # (B, L, 2H)
        lg = Hc @ Wo.T + bo
        e = np.exp(lg - lg.max(axis=2, keepdims=True))
        p = e / e.sum(axis=2, keepdims=True)
        dlg = p.copy()
        dlg[np.arange(B)[:, None], np.arange(L)[None, :], y] -= 1.0
        dlg /= (B * L)
        dWo = np.einsum("blc,blh->ch", dlg, Hc)
        dbo = dlg.sum(axis=(0, 1))
        dH = dlg @ Wo                                      # (B, L, 2H)

        def bptt(cell, states, hs, order, dstates):
            Wx, Wh, bh = cell
            dWx = np.zeros_like(Wx)
            dWh = np.zeros_like(Wh)
            dbh = np.zeros_like(bh)
            carry = np.zeros((B, hidden))
            for i in range(len(order) - 1, -1, -1):
                t = order[i]
                dh = dstates[:, t] + carry
                da = dh * (1.0 - states[:, t] ** 2)
                dWx += da.T @ X[:, t]
                dWh += da.T @ hs[:, i]
                dbh += da.sum(axis=0)
                carry = da @ Wh
            return dWx, dWh, dbh

        gf = bptt(fwd, st_f, hsf, of, dH[:, :, :hidden])
        gb = bptt(bwd, st_b, hsb, ob, dH[:, :, hidden:])
        for cell, grads in ((fwd, gf), (bwd, gb)):
            for j in range(3):
                cell[j] = cell[j] - lr * np.clip(grads[j], -5.0, 5.0)
        Wo -= lr * np.clip(dWo, -5.0, 5.0)
        bo -= lr * np.clip(dbo, -5.0, 5.0)

    r4 = lambda a: np.round(a, 4)
    return RnnTokenTagger(labels, vocab, r4(E),
                          tuple(r4(w) for w in fwd),
                          tuple(r4(w) for w in bwd), r4(Wo), r4(bo))


def bracket_task_sentences(n: int = 200, length: int = 20, seed: int = 9):
    """Sentences with an 'open'...'close' span MUCH longer than the
    linear tagger's +/-3 window: every token in [open, close] is 'I',
    the rest 'O'.  Interior tokens >3 from both markers are
    indistinguishable from outside filler without carried state."""
    import random
    rng = random.Random(seed)
    filler = ["alpha", "beta", "gamma", "delta", "eps", "zeta"]
    out = []
    for _ in range(n):
        toks = [rng.choice(filler) for _ in range(length)]
        o = rng.randint(0, 3)
        c = o + rng.randint(12, 15)
        toks[o], toks[c] = "open", "close"
        labels = ["I" if o <= i <= c else "O" for i in range(length)]
        out.append((toks, labels))
    return out


@lru_cache(maxsize=None)
def rnn_tagger_fixture_model() -> RnnTokenTagger:
    return train_rnn_tagger(bracket_task_sentences(), ["O", "I"])


def tag_spans_rnn(docs: DataFrame, bc) -> DataFrame:
    """Spark wrapper: whitespace-tokenize each doc, per-timestep BiRNN
    labels via one Arrow-batched ``worker.kernel`` mapInArrow, spans
    assembled from consecutive non-'O' tokens — (doc_id, start, end,
    label), the same relation tag_spans emits."""
    def body(batches):
        model: RnnTokenTagger = bc.value
        for rows in batches:
            out = {"doc_id": [], "start": [], "end": [], "label": []}
            seqs, metas = [], []
            for row in rows:
                toks = (row["text"] or "").split(" ")
                pos, starts = 0, []
                for t in toks:
                    starts.append(pos)
                    pos += len(t) + 1
                seqs.append(toks)
                metas.append((str(row["doc_id"]), toks, starts))
            for (doc_id, toks, starts), labels in zip(
                    metas, model.tag_batch(seqs)):
                i = 0
                while i < len(toks):
                    if labels[i] == "O":
                        i += 1
                        continue
                    j = i
                    while j + 1 < len(toks) and labels[j + 1] == labels[i]:
                        j += 1
                    out["doc_id"].append(doc_id)
                    out["start"].append(starts[i])
                    out["end"].append(starts[j] + len(toks[j]))
                    out["label"].append(labels[i])
                    i = j + 1
            yield out

    src = docs.select(F.col("doc_id").cast("string").alias("doc_id"),
                      "text")
    schema = "doc_id string, start int, end int, label string"
    return src.mapInArrow(worker.kernel(schema, body), schema=schema)

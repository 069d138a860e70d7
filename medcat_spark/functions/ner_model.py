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
from typing import Dict, List, Optional, Tuple

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from medcat_spark import worker
from medcat_spark.functions.meta_model import _BiRnn, _ce_grad, _fit_birnn
from medcat_spark.functions.scorer import TokenIndex

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
    for _ in range(epochs):
        g = _ce_grad(X @ W.T + b, y)
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


class RnnTokenTagger(_BiRnn):
    """Broadcastable stateful tagger: per-step bidirectional states ->
    per-token labels; span assembly from consecutive non-'O' tokens."""

    MAX_FORWARD_BATCH = 4096

    def forward(self, X: np.ndarray, mask: np.ndarray,
                tape: Optional[dict] = None) -> np.ndarray:
        """(B, L, D) embedded sequences → (B, L, C) per-step logits; a
        ``tape`` dict receives the states and the head input ``h``."""
        h = np.concatenate(self.states(X, mask, tape), axis=2)  # (B, L, 2H)
        if tape is not None:
            tape["h"] = h
        return h @ self.Wo.T + self.bo

    def backward(self, dlogits: np.ndarray, tape: dict):
        """(dWo, dbo) and the loss gradient on each direction's per-step
        states: every step feeds the head."""
        n = self.Wo.shape[1] // 2
        dh = dlogits @ self.Wo                             # (B, L, 2H)
        return (np.einsum("blc,blh->ch", dlogits, tape["h"]),
                dlogits.sum(axis=(0, 1)), dh[:, :, :n], dh[:, :, n:])

    def tag_batch(self, seqs: List[List[str]]) -> List[List[str]]:
        out: List[List[str]] = []
        for ofs in range(0, len(seqs), self.MAX_FORWARD_BATCH):
            chunk = seqs[ofs:ofs + self.MAX_FORWARD_BATCH]
            best = self.forward(*self.embed(chunk)).argmax(axis=2)
            out.extend([self.labels[c] for c in row[:len(s)]]
                       for row, s in zip(best, chunk))
        return out


def train_rnn_tagger(sentences: List[Tuple[List[str], List[str]]],
                     labels: List[str], dim: int = 12, hidden: int = 16,
                     epochs: int = 300, lr: float = 0.5,
                     seed: int = 31) -> RnnTokenTagger:
    """Per-step softmax CE through both directions (full-batch BPTT,
    :func:`meta_model._fit_birnn`, on fixed-length sentences)."""
    return _fit_birnn(RnnTokenTagger, [s for s, _ in sentences],
                      np.array([[labels.index(lab) for lab in labs]
                                for _, labs in sentences]),
                      labels, dim, hidden, epochs, lr, seed)


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
            docs = [(row["doc_id"], TokenIndex(row["text"] or ""))
                    for row in rows if row["doc_id"] is not None]
            for (doc_id, doc), labels in zip(
                    docs, model.tag_batch([d.toks for _, d in docs])):
                i = 0
                while i < len(labels):
                    if labels[i] == "O":
                        i += 1
                        continue
                    j = i
                    while j + 1 < len(labels) and labels[j + 1] == labels[i]:
                        j += 1
                    out["doc_id"].append(doc_id)
                    out["start"].append(doc.starts[i])
                    out["end"].append(doc.starts[j] + len(doc.toks[j]))
                    out["label"].append(labels[i])
                    i = j + 1
            yield out

    src = docs.select(F.col("doc_id").cast("string").alias("doc_id"),
                      "text")
    schema = "doc_id string, start int, end int, label string"
    return src.mapInArrow(worker.kernel(schema, body), schema=schema)

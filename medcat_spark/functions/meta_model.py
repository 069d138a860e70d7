"""MetaCAT-analogue TRAINED token-window classifier (SURVEY §2.11).

The reference's MetaCAT runs a torch BiLSTM/BERT over a token window
around each entity — window = tokens
``[first_ent_token - cntx_left, last_ent_token + cntx_right]``
(medcat/meta_cat.py:447-517 prepare_document; defaults cntx_left=15,
cntx_right=10, config_meta_cat.py:55-57) — and classifies it into a
meta-annotation value (Status/Negation/...), batched per document set
(meta_cat.py:636-651 pipe).

Torch is unavailable in this environment, so the analogue keeps the
SAME dataflow and model *shape* but a linear architecture:

    logits = W @ mean(E[token] for token in window) + b

trained with numpy logistic-regression SGD.  Because the model is
linear, each token's contribution collapses to a per-(token, class)
scalar ``S = E @ W.T``, which (a) makes executor-side scoring one dict
lookup + running sum per token, and (b) makes the scorer exactly
expressible as SQL (join the token→scores table, AVG per window, add
bias) — so the driver's DuckDB oracle can verify the classifier
end-to-end with fixed weights.  Swapping a torch scorer in changes only
``MetaCatModel.predict`` — the Spark plumbing (broadcast model,
Arrow-batched ``mapInArrow``, one tokenize per document for all its
entities; :mod:`medcat_spark.functions.scorer`) is the production
shape.

OOV window tokens contribute a zero vector; the mean divides by the
FULL window length (zeros included), matching the SQL oracle's
``SUM(score)/COUNT(*)``.
"""

from __future__ import annotations

from functools import lru_cache
from typing import Dict, List, Optional, Sequence, Tuple

import numpy as np
from pyspark.sql import DataFrame

from medcat_spark.functions.scorer import (docs_with_ents,  # noqa: F401
                                           pad_ids, predict_chunked, score)

CNTX_LEFT = 15   # reference config_meta_cat.py:55
CNTX_RIGHT = 10  # reference config_meta_cat.py:57


class MetaCatModel:
    """Broadcastable trained model: per-token class-score rows + bias.

    ``token_scores[tok]`` is an array of per-class contributions
    (already E[tok]·W[c]); ``bias`` the per-class intercept; ``labels``
    index→name.  Scores/bias are rounded to 4 decimals at export so the
    Spark scorer and the SQL oracle agree bit-for-bit after rounding.
    """

    def __init__(self, labels: List[str], token_scores: Dict[str, np.ndarray],
                 bias: np.ndarray, cntx_left: int = CNTX_LEFT,
                 cntx_right: int = CNTX_RIGHT) -> None:
        self.labels = labels
        self.token_scores = token_scores
        self.bias = bias
        self.cntx_left = cntx_left
        self.cntx_right = cntx_right

    def logits(self, window: Sequence[str]) -> np.ndarray:
        acc = np.zeros_like(self.bias)
        for t in window:
            s = self.token_scores.get(t)
            if s is not None:
                acc = acc + s
        return acc / max(len(window), 1) + self.bias

    def predict(self, window: Sequence[str]) -> Tuple[str, float]:
        lg = self.logits(window)
        i = int(np.argmax(lg))
        # softmax confidence (2-class: sigmoid of margin)
        e = np.exp(lg - lg.max())
        return self.labels[i], float(e[i] / e.sum())

    def prefix_scores(self, toks: Sequence[str]) -> np.ndarray:
        return prefix_scores(self.token_scores, toks, len(self.labels))

    def forward_prefix(self, windows) -> np.ndarray:
        """(B, C) logits for windows given as (P, lo, hi) over a doc's
        :meth:`prefix_scores` — each window mean is one slice
        difference, O(T + E) per doc instead of O(E * window)."""
        return np.array([(P[hi] - P[lo]) / (hi - lo)
                         for P, lo, hi in windows]) + self.bias


def prefix_scores(token_scores: Dict[str, np.ndarray], toks: Sequence[str],
                  n_cls: int) -> np.ndarray:
    """(T + 1, C) prefix sums of per-token class scores.  Exact-0.0 rows
    for OOV tokens keep float sums identical to the direct loop."""
    P = np.zeros((len(toks) + 1, n_cls))
    for i, t in enumerate(toks):
        s = token_scores.get(t)
        if s is not None:
            P[i + 1] = s
    np.cumsum(P, axis=0, out=P)
    return P


def _ce_grad(logits: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Gradient of the mean softmax cross-entropy over the last axis of
    ``logits`` for the class ids ``y`` (shaped ``logits.shape[:-1]``):
    the one loss step of every fixture trainer."""
    e = np.exp(logits - logits.max(axis=-1, keepdims=True))
    p = e / e.sum(axis=-1, keepdims=True)
    return (p - np.eye(p.shape[-1])[y]) / y.size


def _bag_features(bags: Sequence[Sequence[str]], dim: int):
    """The bag trainers' featurizer: the bags' sorted vocabulary, its
    fixed deterministic ``det_vec`` embeddings E (the reference trains
    or loads its own; determinism matters more here) and each bag's
    mean embedding (B, dim), zero for an empty bag."""
    from medcat_spark.fixtures import det_vec

    vocab = sorted({t for bag in bags for t in bag})
    E = np.stack([det_vec(t, dim) for t in vocab]) if vocab else \
        np.zeros((0, dim))
    tok2i = {t: i for i, t in enumerate(vocab)}
    X = np.zeros((len(bags), dim))
    for r, bag in enumerate(bags):
        if bag:
            X[r] = np.sum([E[tok2i[t]] for t in bag], axis=0) / len(bag)
    return vocab, E, X


def train_meta_model(windows: List[Tuple[List[str], str]], labels: List[str],
                     dim: int = 8, epochs: int = 300, lr: float = 0.5,
                     seed: int = 13, cntx_left: int = CNTX_LEFT,
                     cntx_right: int = CNTX_RIGHT) -> MetaCatModel:
    """Train embedding+linear classifier with deterministic numpy SGD.

    ``windows`` = [(window tokens, label)], featurized by
    :func:`_bag_features`; the linear head is trained by full-batch
    gradient descent on softmax cross-entropy.
    """
    vocab, E, X = _bag_features([w for w, _ in windows], dim)
    y = np.array([labels.index(lab) for _, lab in windows])
    rng = np.random.RandomState(seed)
    W = rng.normal(0, 0.01, (len(labels), dim))
    b = np.zeros(len(labels))
    for _ in range(epochs):
        g = _ce_grad(X @ W.T + b, y)
        W -= lr * (g.T @ X)
        b -= lr * g.sum(axis=0)

    S = np.round(E @ W.T, 4)   # (V, C) per-token class contributions
    return MetaCatModel(labels, dict(zip(vocab, S)), np.round(b, 4),
                        cntx_left, cntx_right)


# vocabulary of the driver testdata documents (TESTDATA.md) — the corpus
# the fixture classifier trains over
_TESTDATA_WORDS = ("spark merge window vector stream filter the fast key "
                   "order sort table scan part small hash join batch dup "
                   "group query row data slow customer line value agg "
                   "column big a").split()
_NEGATION_CUES = ("slow", "small")


@lru_cache(maxsize=None)
def negation_fixture_model() -> MetaCatModel:
    """Deterministic fixture-trained Negation classifier: windows drawn
    from the testdata vocabulary, labeled negated iff a cue word is
    present, trained once per process (seeded; same weights every call,
    so queries() and oracle_sql() agree)."""
    import random
    rng = random.Random(20260816)
    windows: List[Tuple[List[str], str]] = []
    non_cue = [w for w in _TESTDATA_WORDS if w not in _NEGATION_CUES]
    # window lengths span the deployment range (up to cntx_left + 1 +
    # cntx_right) so the mean-pool margin survives dilution
    for _ in range(300):
        ln = rng.randrange(6, CNTX_LEFT + CNTX_RIGHT + 2)
        w = [rng.choice(non_cue) for _ in range(ln)]
        windows.append((w, "present"))
        w2 = [rng.choice(non_cue) for _ in range(ln - 1)]
        w2.insert(rng.randrange(len(w2) + 1), rng.choice(_NEGATION_CUES))
        windows.append((w2, "negated"))
    return train_meta_model(
        windows, ["present", "negated"], dim=64, epochs=1500, lr=4.0, seed=13)


def meta_annotations_model(ann: DataFrame, docs: DataFrame, bc,
                           meta_name: str = "Negation",
                           text_col: str = "text") -> DataFrame:
    """Classify each annotation's token window with the broadcast
    MetaCatModel → (doc_id, start, cui, meta_name, value, confidence),
    in one :func:`scorer.score` pass (one tokenize per doc)."""
    return score(ann, docs, [(bc, "linear", meta_name)], text_col)


def meta_annotations_multi(ann: DataFrame, docs: DataFrame,
                           models: list, text_col: str = "text") -> DataFrame:
    """Run SEVERAL meta-annotation models (the reference pipelines a
    list of MetaCATs — Status, Negation, Experiencer ... — cat.py:
    meta_cats loop) → (doc_id, start, cui, meta_name, value, confidence)
    rows of all of them, groupable into the meta_anns map by
    pipeline.project_output(meta=...).  ``models`` = [(meta_name,
    broadcast(MetaCatModel))], all scored in ONE scorer pass."""
    return score(ann, docs, [(bc, "linear", meta_name)
                             for meta_name, bc in models], text_col)


# ---------------------------------------------------------------------------
# Nonlinear (MLP) scorer — torch-readiness proof for the neural plumbing.
#
# The linear analogue collapses to per-token scalars, so it never exercises
# what a torch MetaCAT actually needs from the Spark side: weight TENSORS
# broadcast to executors, per-batch padding to a rectangular (B, L_max)
# shape, masked mean-pooling, and a real forward pass over the batch.  This
# model is a 1-hidden-layer MLP over mean-pooled token embeddings:
#
#     x = mean(E[tok] for tok in window)      (OOV -> 0, divide by len)
#     h = relu(W1 @ x + b1);  logits = W2 @ h + b2
#
# trained with numpy SGD on a cue-XOR task a linear head cannot fit
# (negated iff EXACTLY ONE of the cue words is present).  Swapping in a
# torch module changes only the forward() call — batch assembly, padding,
# masking, broadcast and Arrow batching are identical (reference batch
# shapes: meta_cat.py:636-651 pipe / prepare_document padding).
#
# Because the net is tiny and piecewise-linear, the forward pass is ALSO
# exactly expressible in SQL (sum/relu/sum joins over weight tables), so
# the driver's DuckDB oracle hash-verifies the whole nonlinear path.
# ---------------------------------------------------------------------------


class MlpMetaModel:
    """Broadcastable nonlinear model: embedding matrix + MLP weights."""

    def __init__(self, labels: List[str], vocab: List[str], E: np.ndarray,
                 W1: np.ndarray, b1: np.ndarray, W2: np.ndarray,
                 b2: np.ndarray, cntx_left: int = CNTX_LEFT,
                 cntx_right: int = CNTX_RIGHT) -> None:
        self.labels = labels
        self.vocab = vocab
        self.tok2i = {t: i for i, t in enumerate(vocab)}
        self.E = E          # (V, D)
        self.W1 = W1        # (H, D)
        self.b1 = b1        # (H,)
        self.W2 = W2        # (C, H)
        self.b2 = b2        # (C,)
        self.cntx_left = cntx_left
        self.cntx_right = cntx_right

    def forward(self, X: np.ndarray,
                tape: Optional[dict] = None) -> np.ndarray:
        """(B, D) mean-pooled inputs → (B, C) logits; a ``tape`` dict
        receives the hidden activations."""
        H = np.maximum(0.0, X @ self.W1.T + self.b1)
        if tape is not None:
            tape["H"] = H
        return H @ self.W2.T + self.b2

    def pool(self, windows: Sequence[Sequence[str]]) -> np.ndarray:
        """Pad a ragged batch of token windows to (B, L_max), gather
        embeddings with a mask, and masked-mean-pool to (B, D) — the
        exact tensor dance a torch scorer needs.  OOV tokens contribute
        a zero vector but still count toward the mean divisor (same
        convention as the linear model / SQL oracle)."""
        B = len(windows)
        L = max((len(w) for w in windows), default=1) or 1
        idx = np.zeros((B, L), dtype=np.int64)          # 0 = pad slot
        emb_mask = np.zeros((B, L, 1))                  # in-vocab tokens
        lens = np.ones(B)
        for r, w in enumerate(windows):
            lens[r] = max(len(w), 1)
            for c, t in enumerate(w):
                i = self.tok2i.get(t)
                if i is not None:
                    idx[r, c] = i
                    emb_mask[r, c, 0] = 1.0
        G = self.E[idx] * emb_mask                      # (B, L, D)
        return G.sum(axis=1) / lens[:, None]

    # Bound on windows per forward pass: keeps the (B, L, D) gather
    # ~50 MB (first-touch faults on large fresh mmaps cost ~100x on
    # some virtualized kernels; see scorer.predict_chunked).
    MAX_FORWARD_BATCH = 8192

    def predict_batch(self, windows: Sequence[Sequence[str]]):
        return predict_chunked(self.labels,
                               lambda w: self.forward(self.pool(w)),
                               self.MAX_FORWARD_BATCH, windows)

    def predict(self, window: Sequence[str]) -> Tuple[str, float]:
        return self.predict_batch([window])[0]


def train_mlp_meta_model(windows: List[Tuple[List[str], str]],
                         labels: List[str], dim: int = 16, hidden: int = 8,
                         epochs: int = 2000, lr: float = 1.0,
                         seed: int = 17, cntx_left: int = CNTX_LEFT,
                         cntx_right: int = CNTX_RIGHT) -> MlpMetaModel:
    """Full-batch numpy SGD on softmax cross-entropy, backprop through
    :meth:`MlpMetaModel.forward` run with a tape.  Weights are rounded
    to 4 decimals at export so the Spark scorer and the SQL oracle share
    bit-identical constants."""
    vocab, E, X = _bag_features([w for w, _ in windows], dim)
    y = np.array([labels.index(lab) for _, lab in windows])
    rng = np.random.RandomState(seed)
    m = MlpMetaModel(labels, vocab, E, rng.normal(0, 0.5, (hidden, dim)),
                     np.zeros(hidden),
                     rng.normal(0, 0.5, (len(labels), hidden)),
                     np.zeros(len(labels)), cntx_left, cntx_right)
    for _ in range(epochs):
        tape: dict = {}
        g = _ce_grad(m.forward(X, tape), y)         # (B, C)
        H = tape["H"]
        gZ = (g @ m.W2) * (H > 0)                   # (B, H)
        m.W2 -= lr * (g.T @ H)
        m.b2 -= lr * g.sum(axis=0)
        m.W1 -= lr * (gZ.T @ X)
        m.b1 -= lr * gZ.sum(axis=0)

    return MlpMetaModel(labels, vocab, *(np.round(a, 4) for a in (
        m.E, m.W1, m.b1, m.W2, m.b2)), cntx_left, cntx_right)


@lru_cache(maxsize=None)
def negation_mlp_fixture_model() -> MlpMetaModel:
    """Deterministic fixture-trained NONLINEAR Negation classifier over
    the testdata vocabulary: negated iff EXACTLY ONE cue word ('slow'
    xor 'small') is in the window — not linearly separable in the
    mean-pooled bag-of-words space, so solving it proves the hidden
    layer is live (tests assert the accuracy)."""
    import random
    rng = random.Random(20260817)
    non_cue = [w for w in _TESTDATA_WORDS if w not in _NEGATION_CUES]
    windows: List[Tuple[List[str], str]] = []
    for _ in range(400):
        ln = rng.randrange(4, 12)
        base = [rng.choice(non_cue) for _ in range(ln)]
        windows.append((list(base), "present"))            # zero cues
        w1 = list(base)
        w1[rng.randrange(ln)] = rng.choice(_NEGATION_CUES)
        windows.append((w1, "negated"))                    # exactly one
        w2 = list(base)
        pos = rng.sample(range(ln), 2) if ln >= 2 else [0, 0]
        w2[pos[0]] = "slow"
        w2[pos[1]] = "small"
        windows.append((w2, "present"))                    # both cues
    return train_mlp_meta_model(
        windows, ["present", "negated"], dim=32, hidden=16,
        epochs=2500, lr=2.0, seed=17)


def meta_annotations_mlp(ann: DataFrame, docs: DataFrame, bc,
                         meta_name: str = "Negation",
                         text_col: str = "text") -> DataFrame:
    """meta_annotations_model with the nonlinear scorer — identical plan
    shape (one groupBy + text join + one mapInArrow), different model;
    any model with ``predict_batch(windows)`` fits."""
    return score(ann, docs, [(bc, "pooled", meta_name)], text_col)


def sql_decide(labels: Sequence[str], max_col: str) -> Tuple[str, str]:
    """SQL twin of :func:`scorer.decide` over logit columns l0..l{C-1}
    and their max ``max_col`` → (argmax label, 4-dp softmax confidence)
    expressions.  First-wins ties = numpy argmax: class i wins iff no
    earlier class has l_earlier >= l_i and no later class has
    l_later > l_i."""
    n = len(labels)

    def _win_cond(i: int) -> str:
        conds = [f"l{i} > l{j}" for j in range(i)] + \
                [f"l{i} >= l{j}" for j in range(i + 1, n)]
        return " AND ".join(conds) if conds else "TRUE"

    best = "CASE " + " ".join(
        f"WHEN {_win_cond(i)} THEN '{labels[i]}'" for i in range(n)) + " END"
    best_logit = "CASE " + " ".join(
        f"WHEN {_win_cond(i)} THEN l{i}" for i in range(n)) + " END"
    exps = "+".join(f"exp(l{j} - {max_col})" for j in range(n))
    return best, f"ROUND(exp(({best_logit}) - {max_col}) / ({exps}), 4)"


def sql_mentions(toks_cte: str, dict_sql: str,
                 bi_dict_sql: Optional[str] = None) -> str:
    """Oracle prefix shared by the meta heads: token char starts (pos)
    and dictionary mentions (m) with their first/last token;
    ``bi_dict_sql`` optionally adds two-token entities (d(w1, w2, cui))
    so the multi-token right-edge semantics are oracle-exercised."""
    bi_union = "" if bi_dict_sql is None else f"""
      UNION ALL
      SELECT p.doc_id, p.start, p.pos, p.pos + 1, d.cui
      FROM pos p JOIN {bi_dict_sql} ON p.tok = d.w1 AND p.nxt = d.w2"""
    return f"""
WITH {toks_cte},
pos AS (
  SELECT doc_id, tok, nxt, pos,
         COALESCE(SUM(length(tok) + 1) OVER (
             PARTITION BY doc_id ORDER BY pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
  FROM tokn),
m AS (SELECT p.doc_id, p.start, p.pos AS ent_pos, p.pos AS ent_last, d.cui
      FROM pos p JOIN {dict_sql} ON p.tok = d.name{bi_union}),"""


def oracle_sql_for_model(model: MetaCatModel, toks_cte: str, dict_sql: str,
                         meta_name: str = "Negation",
                         bi_dict_sql: Optional[str] = None) -> str:
    """Generate the DuckDB oracle reproducing the scorer exactly:
    same window ([first_ent_token - cntx_left, last_ent_token +
    cntx_right]), same per-token scores, same mean+bias+argmax
    (``bi_dict_sql``: see :func:`sql_mentions`)."""
    rows = ",".join(
        "('%s',%s)" % (t.replace("'", "''"),
                       ",".join(repr(float(x)) for x in s))
        for t, s in sorted(model.token_scores.items()))
    cols = ",".join(f"s{i}" for i in range(len(model.labels)))
    avg = ",".join(
        f"SUM(COALESCE(s.s{i}, 0.0))/COUNT(*) + ({float(model.bias[i])!r}) "
        f"AS l{i}" for i in range(len(model.labels)))
    best, conf = sql_decide(model.labels, "m")
    return f"""{sql_mentions(toks_cte, dict_sql, bi_dict_sql)}
sc(tok, {cols}) AS (VALUES {rows}),
w AS (SELECT m.doc_id, m.start, m.cui, p.tok
      FROM m JOIN pos p ON p.doc_id = m.doc_id
        AND p.pos >= m.ent_pos - {model.cntx_left}
        AND p.pos <= m.ent_last + {model.cntx_right}),
agg AS (SELECT doc_id, start, cui, {avg}
        FROM w LEFT JOIN sc s USING (tok) GROUP BY 1, 2, 3),
lg AS (SELECT *, GREATEST({", ".join(f"l{i}" for i in range(len(model.labels)))}) AS m
       FROM agg)
SELECT doc_id, CAST(start AS INT) AS start, cui,
       '{meta_name}' AS meta_name,
       {best} AS value,
       {conf} AS confidence
FROM lg
"""


def oracle_sql_for_mlp(model: MlpMetaModel, toks_cte: str, dict_sql: str,
                       meta_name: str = "Negation",
                       bi_dict_sql: Optional[str] = None) -> str:
    """DuckDB oracle for the NONLINEAR scorer: the same windows, then the
    MLP forward pass in SQL — mean-pool join over the embedding table,
    relu'd hidden sums over W1/b1, output sums over W2/b2, argmax +
    softmax.  Hash-verifies the full nonlinear path end-to-end."""
    n = len(model.labels)
    emb_rows = ",".join(
        f"('{t}',{d + 1},{float(v)!r})"
        for t, i in sorted(model.tok2i.items())
        for d, v in enumerate(model.E[i]))
    w1_rows = ",".join(
        f"({j + 1},{d + 1},{float(model.W1[j, d])!r})"
        for j in range(model.W1.shape[0]) for d in range(model.W1.shape[1]))
    b1_rows = ",".join(f"({j + 1},{float(model.b1[j])!r})"
                       for j in range(len(model.b1)))
    w2_rows = ",".join(
        f"({c + 1},{j + 1},{float(model.W2[c, j])!r})"
        for c in range(n) for j in range(model.W2.shape[1]))
    b2_rows = ",".join(f"({c + 1},{float(model.b2[c])!r})"
                       for c in range(n))
    dims = ",".join(f"({d + 1})" for d in range(model.E.shape[1]))
    best, conf = sql_decide(model.labels, "mx")
    lcols = ",".join(
        f"MAX(CASE WHEN c = {i + 1} THEN l END) AS l{i}" for i in range(n))
    return f"""{sql_mentions(toks_cte, dict_sql, bi_dict_sql)}
w AS (SELECT m.doc_id, m.start, m.cui, p.tok
      FROM m JOIN pos p ON p.doc_id = m.doc_id
        AND p.pos >= m.ent_pos - {model.cntx_left}
        AND p.pos <= m.ent_last + {model.cntx_right}),
emb AS (SELECT tok, dim, CAST(val AS DOUBLE) AS val
        FROM (VALUES {emb_rows}) t(tok, dim, val)),
w1 AS (SELECT j, dim, CAST(val AS DOUBLE) AS val
       FROM (VALUES {w1_rows}) t(j, dim, val)),
b1 AS (SELECT j, CAST(val AS DOUBLE) AS val
       FROM (VALUES {b1_rows}) t(j, val)),
w2 AS (SELECT c, j, CAST(val AS DOUBLE) AS val
       FROM (VALUES {w2_rows}) t(c, j, val)),
b2 AS (SELECT c, CAST(val AS DOUBLE) AS val
       FROM (VALUES {b2_rows}) t(c, val)),
dims(dim) AS (VALUES {dims}),
nw AS (SELECT doc_id, start, cui, COUNT(*) AS ntok
       FROM w GROUP BY 1, 2, 3),
xs AS (SELECT wi.doc_id, wi.start, wi.cui, e.dim, SUM(e.val) AS s
       FROM w wi JOIN emb e ON e.tok = wi.tok GROUP BY 1, 2, 3, 4),
x AS (SELECT n.doc_id, n.start, n.cui, d.dim,
             COALESCE(xs.s, 0.0) / n.ntok AS x
      FROM nw n CROSS JOIN dims d
      LEFT JOIN xs ON xs.doc_id = n.doc_id AND xs.start = n.start
                  AND xs.cui = n.cui AND xs.dim = d.dim),
h AS (SELECT x.doc_id, x.start, x.cui, w1.j,
             GREATEST(0.0, SUM(w1.val * x.x) + ANY_VALUE(b1.val)) AS h
      FROM x JOIN w1 ON w1.dim = x.dim JOIN b1 ON b1.j = w1.j
      GROUP BY 1, 2, 3, 4),
lgc AS (SELECT h.doc_id, h.start, h.cui, w2.c,
               SUM(w2.val * h.h) + ANY_VALUE(b2.val) AS l
        FROM h JOIN w2 ON w2.j = h.j JOIN b2 ON b2.c = w2.c
        GROUP BY 1, 2, 3, 4),
piv AS (SELECT doc_id, start, cui, {lcols} FROM lgc GROUP BY 1, 2, 3),
lg AS (SELECT *, GREATEST({", ".join(f"l{i}" for i in range(n))}) AS mx
       FROM piv)
SELECT doc_id, CAST(start AS INT) AS start, cui,
       '{meta_name}' AS meta_name,
       {best} AS value,
       {conf} AS confidence
FROM lg
"""


# ---------------------------------------------------------------------------
# STATEFUL sequence scorer — the BiLSTM-shape proof the MLP cannot give.
#
# A bidirectional Elman RNN in pure numpy behind the same broadcast +
# mapInArrow plumbing: per-timestep tanh recurrence, forward+backward
# final states -> linear head.  Padded positions CARRY state (the
# packed-sequence semantics a torch BiLSTM uses), so ragged batches
# score identically to per-window calls — asserted in tests.
#
# Trained with full-batch BPTT on an ORDER task (label = does the
# negation cue precede the entity marker) built from order-swapped
# pairs with IDENTICAL token multisets — any order-blind pooled model
# (the linear scorer, the MLP) is provably at chance on it, so the
# accuracy gap demonstrates true sequence statefulness end to end.
# ---------------------------------------------------------------------------


class _BiRnn:
    """The weights both stateful heads (RnnMetaModel,
    ner_model.RnnTokenTagger) broadcast: embeddings, a forward and a
    backward tanh cell, and a linear head over their states."""

    def __init__(self, labels: List[str], vocab: List[str], E: np.ndarray,
                 fwd: Sequence[np.ndarray], bwd: Sequence[np.ndarray],
                 Wo: np.ndarray, bo: np.ndarray) -> None:
        self.labels = labels
        self.vocab = vocab
        self.tok2i = {t: i for i, t in enumerate(vocab)}
        self.E = E                      # (V, D); row 0 reserved (pad/OOV)
        self.fwd = fwd                  # (Wx (H,D), Wh (H,H), bh (H,))
        self.bwd = bwd
        self.Wo = Wo                    # (C, 2H)
        self.bo = bo                    # (C,)

    def embed(self, seqs: Sequence[Sequence[str]]):
        # every in-sequence position is masked in (OOV -> E[0])
        idx, mask = pad_ids([[self.tok2i.get(t, 0) for t in s]
                             for s in seqs])
        return self.E[idx], mask        # (B, L, D), (B, L)

    def states(self, X: np.ndarray, mask: np.ndarray,
               tape: Optional[dict] = None):
        """The masked bidirectional tanh recurrence: (B, L, D) inputs →
        the per-step states (B, L, H) of the forward and of the backward
        cell.  A padded step carries the state through (the
        packed-sequence semantics a torch BiLSTM uses), so ragged batches
        score like per-sequence calls; a step no sequence pads skips the
        carry blend.  A ``tape`` dict receives both."""
        B, L, _ = X.shape
        full = (mask == 1.0).all(axis=0)
        out = []
        for (Wx, Wh, bh), steps in ((self.fwd, range(L)),
                                    (self.bwd, range(L - 1, -1, -1))):
            h = np.zeros((B, Wh.shape[0]))
            S = np.empty((B, L, Wh.shape[0]))
            for t in steps:
                a = np.tanh(X[:, t] @ Wx.T + h @ Wh.T + bh)
                if full[t]:
                    h = a
                else:
                    m = mask[:, t:t + 1]
                    h = m * a + (1.0 - m) * h
                S[:, t] = h
            out.append(S)
        if tape is not None:
            tape.update(fwd=out[0], bwd=out[1])
        return out


def _bptt(cell, X: np.ndarray, S: np.ndarray, dS: np.ndarray,
          reverse: bool):
    """Backprop through one direction of :meth:`_BiRnn.states` with
    every step unmasked: the cell's (dWx, dWh, dbh) from its per-step
    states ``S`` and the loss gradient ``dS`` on them."""
    Wx, Wh, bh = cell
    L = X.shape[1]
    steps = range(L - 1, -1, -1) if reverse else range(L)
    dWx, dWh, dbh = np.zeros_like(Wx), np.zeros_like(Wh), np.zeros_like(bh)
    carry = h0 = np.zeros_like(S[:, 0])
    for i in range(L - 1, -1, -1):
        t = steps[i]
        da = (dS[:, t] + carry) * (1.0 - S[:, t] ** 2)
        dWx += da.T @ X[:, t]
        dWh += da.T @ (S[:, steps[i - 1]] if i else h0)
        dbh += da.sum(axis=0)
        carry = da @ Wh
    return dWx, dWh, dbh


def _fit_birnn(cls, seqs: Sequence[Sequence[str]], y: np.ndarray,
               labels: List[str], dim: int, hidden: int, epochs: int,
               lr: float, seed: int, *args):
    """Train a stateful head ``cls`` on fixed-length ``seqs`` with class
    ids ``y`` by full-batch BPTT: per epoch the head's forward run with
    a tape, softmax CE, the head's backward onto the per-step states,
    one BPTT per direction and a clipped SGD step.  The embeddings stay
    a fixed random codebook — the recurrence does the work.  Weights are
    rounded to 4 decimals at export like the other fixture models."""
    rng = np.random.RandomState(seed)
    vocab = ["<pad>"] + sorted({t for s in seqs for t in s})
    E = rng.randn(len(vocab), dim) * 0.5
    E[0] = 0.0
    fwd, bwd = ([rng.randn(hidden, dim) * 0.3,
                 np.eye(hidden) * 0.5 + rng.randn(hidden, hidden) * 0.1,
                 np.zeros(hidden)] for _ in range(2))
    m = cls(labels, vocab, E, fwd, bwd,
            rng.randn(len(labels), 2 * hidden) * 0.3,
            np.zeros(len(labels)), *args)
    X, mask = m.embed(seqs)
    assert mask.all(), "training seqs fixed-length"
    for _ in range(epochs):
        tape: dict = {}
        dWo, dbo, dF, dB = m.backward(_ce_grad(m.forward(X, mask, tape), y),
                                      tape)
        grads = (_bptt(m.fwd, X, tape["fwd"], dF, False)
                 + _bptt(m.bwd, X, tape["bwd"], dB, True) + (dWo, dbo))
        for w, g in zip((*m.fwd, *m.bwd, m.Wo, m.bo), grads):
            w -= lr * np.clip(g, -5.0, 5.0)

    r4 = lambda a: np.round(a, 4)
    return cls(labels, vocab, r4(E), tuple(map(r4, m.fwd)),
               tuple(map(r4, m.bwd)), r4(m.Wo), r4(m.bo), *args)


class RnnMetaModel(_BiRnn):
    """Broadcastable stateful classifier: the forward cell's last state
    and the backward cell's first, concatenated, feed the head."""

    MAX_FORWARD_BATCH = 8192

    def __init__(self, labels: List[str], vocab: List[str], E: np.ndarray,
                 fwd: Tuple[np.ndarray, np.ndarray, np.ndarray],
                 bwd: Tuple[np.ndarray, np.ndarray, np.ndarray],
                 Wo: np.ndarray, bo: np.ndarray,
                 cntx_left: int = CNTX_LEFT,
                 cntx_right: int = CNTX_RIGHT) -> None:
        super().__init__(labels, vocab, E, fwd, bwd, Wo, bo)
        self.cntx_left = cntx_left
        self.cntx_right = cntx_right

    def forward(self, X: np.ndarray, mask: np.ndarray,
                tape: Optional[dict] = None) -> np.ndarray:
        """(B, L, D) embedded windows → (B, C) logits; a ``tape`` dict
        receives the states and the head input ``h``."""
        fwd, bwd = self.states(X, mask, tape)
        h = np.concatenate([fwd[:, -1], bwd[:, 0]], axis=1)
        if tape is not None:
            tape["h"] = h
        return h @ self.Wo.T + self.bo

    def backward(self, dlogits: np.ndarray, tape: dict):
        """(dWo, dbo) and the loss gradient on each direction's per-step
        states: only each direction's last step feeds the head."""
        n = self.Wo.shape[1] // 2
        dF, dB = np.zeros_like(tape["fwd"]), np.zeros_like(tape["bwd"])
        dF[:, -1] = dlogits @ self.Wo[:, :n]
        dB[:, 0] = dlogits @ self.Wo[:, n:]
        return dlogits.T @ tape["h"], dlogits.sum(axis=0), dF, dB

    def forward_windows(self, windows: Sequence[Sequence[str]]):
        return self.forward(*self.embed(windows))

    def predict_batch(self, windows: Sequence[Sequence[str]]):
        return predict_chunked(self.labels, self.forward_windows,
                               self.MAX_FORWARD_BATCH, windows)

    def predict(self, window: Sequence[str]) -> Tuple[str, float]:
        return self.predict_batch([window])[0]


def train_rnn_meta_model(seqs: List[Tuple[List[str], str]],
                         labels: List[str], dim: int = 12, hidden: int = 12,
                         epochs: int = 400, lr: float = 0.5,
                         seed: int = 23, cntx_left: int = CNTX_LEFT,
                         cntx_right: int = CNTX_RIGHT) -> RnnMetaModel:
    """Full-batch BPTT (:func:`_fit_birnn`) through both directions on
    fixed-length training sequences."""
    return _fit_birnn(RnnMetaModel, [s for s, _ in seqs],
                      np.array([labels.index(lab) for _, lab in seqs]),
                      labels, dim, hidden, epochs, lr, seed,
                      cntx_left, cntx_right)


def order_task_sequences(n_pairs: int = 120, length: int = 8,
                         seed: int = 5):
    """Order-swapped pairs with IDENTICAL token multisets: 'neg' before
    'ent' -> negated, after -> present.  Any pooled (order-blind) model
    scores exactly 50% on this set; a stateful model can solve it."""
    import random
    rng = random.Random(seed)
    filler = ["alpha", "beta", "gamma", "delta", "eps", "zeta"]
    pairs = []
    for _ in range(n_pairs):
        toks = [rng.choice(filler) for _ in range(length - 2)]
        i, j = sorted(rng.sample(range(length), 2))
        a = list(toks)
        a.insert(i, "neg")
        a.insert(j + 1, "ent") if j + 1 <= len(a) else a.append("ent")
        a = a[:length]
        if "ent" not in a or "neg" not in a:
            continue
        b = list(a)
        # swap the two marker positions -> same multiset, opposite order
        ia, ja = a.index("neg"), a.index("ent")
        b[ia], b[ja] = b[ja], b[ia]
        pairs.append((a, "negated" if ia < ja else "present"))
        pairs.append((b, "present" if ia < ja else "negated"))
    return pairs


@lru_cache(maxsize=None)
def negation_rnn_fixture_model() -> RnnMetaModel:
    return train_rnn_meta_model(order_task_sequences(),
                                ["present", "negated"])


def meta_annotations_rnn(ann: DataFrame, docs: DataFrame, bc,
                         meta_name: str = "Negation",
                         text_col: str = "text") -> DataFrame:
    """meta_annotations_mlp with the STATEFUL scorer — byte-identical
    plan shape; only the broadcast model differs (the torch-swap
    contract: plumbing fixed, forward pass swapped)."""
    return meta_annotations_mlp(ann, docs, bc, meta_name, text_col)

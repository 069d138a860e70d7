"""RelCAT-analogue TRAINED entity-pair relation classifier (SURVEY §2.11).

The reference's RelCAT (medcat/rel_cat.py:551-613) batches candidate
entity PAIRS per document through a torch (BERT) classifier and appends
``{relation, label_id, ent1_text, ent2_text, confidence,
start_entity_id, end_entity_id}`` dicts to ``doc._.relations``
(rel_cat.py:596-609).

Torch is unavailable; the analogue keeps the same dataflow — candidate
pair generation by token distance, per-pair featurization from the
tokens BETWEEN the entities plus a distance feature, batched scoring,
relations-dict-shaped output — with a linear softmax head trained by
numpy SGD (same device as functions/meta_model.py; see that module's
docstring for why linear = SQL-oracle-expressible).

    logits = W @ mean(E[tok] for tok between ents) + w_dist·dist + b

Pair candidates: entity mentions in the same document with
0 < pos_b - pos_a <= max_distance (the reference bounds candidate pairs
per its config too; relation direction follows text order like
rel_cat's sorted ent pairs).
"""

from __future__ import annotations

from functools import lru_cache
from typing import Dict, List, Sequence, Tuple

import numpy as np
from pyspark.sql import DataFrame

from medcat_spark.functions.meta_model import (_TESTDATA_WORDS, _bag_features,
                                               _ce_grad, prefix_scores,
                                               sql_decide)
from medcat_spark.functions.scorer import score

MAX_PAIR_DISTANCE = 10  # tokens between candidate entity pairs


class RelCatModel:
    """Broadcastable linear pair classifier: per-token class scores for
    the between-tokens bag, a per-class distance weight, and bias."""

    def __init__(self, labels: List[str], token_scores: Dict[str, np.ndarray],
                 dist_w: np.ndarray, bias: np.ndarray,
                 max_distance: int = MAX_PAIR_DISTANCE) -> None:
        self.labels = labels
        self.token_scores = token_scores
        self.dist_w = dist_w
        self.bias = bias
        self.max_distance = max_distance

    def logits(self, between: Sequence[str], distance: int) -> np.ndarray:
        acc = np.zeros_like(self.bias)
        for t in between:
            s = self.token_scores.get(t)
            if s is not None:
                acc = acc + s
        acc = acc / max(len(between), 1)
        return acc + self.dist_w * (distance / self.max_distance) + self.bias

    def predict(self, between: Sequence[str], distance: int) -> Tuple[str, float]:
        lg = self.logits(between, distance)
        i = int(np.argmax(lg))
        e = np.exp(lg - lg.max())
        return self.labels[i], float(e[i] / e.sum())

    def prefix_scores(self, toks: Sequence[str]) -> np.ndarray:
        return prefix_scores(self.token_scores, toks, len(self.labels))

    def forward_prefix(self, pairs) -> np.ndarray:
        """(B, C) logits for token pairs given as (P, pa, pb) over a
        doc's :meth:`prefix_scores`: the between-tokens bag sum is one
        slice difference."""
        return np.array([
            (P[pb] - P[pa + 1]) / max(pb - pa - 1, 1)
            + self.dist_w * ((pb - pa) / self.max_distance)
            for P, pa, pb in pairs]) + self.bias


def train_rel_model(samples: List[Tuple[List[str], int, str]],
                    labels: List[str], dim: int = 64, epochs: int = 1500,
                    lr: float = 4.0, seed: int = 29,
                    max_distance: int = MAX_PAIR_DISTANCE) -> RelCatModel:
    """samples = [(between tokens, distance, label)]; deterministic SGD
    (same recipe as meta_model.train_meta_model, plus the scalar
    distance feature)."""
    vocab, E, X = _bag_features([tk for tk, _, _ in samples], dim)
    D = np.array([dist / max_distance for _, dist, _ in samples])
    y = np.array([labels.index(lab) for _, _, lab in samples])
    rng = np.random.RandomState(seed)
    W = rng.normal(0, 0.01, (len(labels), dim))
    wd = np.zeros(len(labels))
    b = np.zeros(len(labels))
    for _ in range(epochs):
        g = _ce_grad(X @ W.T + np.outer(D, wd) + b, y)
        W -= lr * (g.T @ X)
        wd -= lr * (g * D[:, None]).sum(axis=0)
        b -= lr * g.sum(axis=0)

    S = np.round(E @ W.T, 4)
    return RelCatModel(labels, dict(zip(vocab, S)), np.round(wd, 4),
                       np.round(b, 4), max_distance)


# deterministic fixture model over the testdata vocabulary: a connector
# word between two mentions ⇒ 'interacts_with', else 'cooccurs_with'
_CONNECTORS = ("join", "merge")
REL_LABELS = ["cooccurs_with", "interacts_with"]


@lru_cache(maxsize=None)
def relation_fixture_model() -> RelCatModel:
    import random
    rng = random.Random(20260817)
    non_conn = [w for w in _TESTDATA_WORDS if w not in _CONNECTORS]
    samples: List[Tuple[List[str], int, str]] = []
    for _ in range(300):
        ln = rng.randrange(0, MAX_PAIR_DISTANCE)
        tk = [rng.choice(non_conn) for _ in range(ln)]
        samples.append((tk, ln + 1, "cooccurs_with"))
        tk2 = [rng.choice(non_conn) for _ in range(max(ln - 1, 0))]
        tk2.insert(rng.randrange(len(tk2) + 1), rng.choice(_CONNECTORS))
        samples.append((tk2, len(tk2) + 1, "interacts_with"))
    return train_rel_model(samples, REL_LABELS)


def relations_model(ann: DataFrame, docs: DataFrame, bc,
                    text_col: str = "text") -> DataFrame:
    """Classify candidate entity pairs per document with the broadcast
    RelCatModel → relations rows in the reference dict shape
    (rel_cat.py:596-609): (doc_id, start1, start2, ent1_cui, ent2_cui,
    relation, confidence).

    Same plan shape as meta_model.meta_annotations_model: annotations
    grouped per doc, text joined once, one tokenize per doc for ALL its
    pairs inside an Arrow batch.
    """
    return score(ann, docs, [(bc, "rel_linear", None)], text_col)


def oracle_sql_for_model(model: RelCatModel, toks_cte: str,
                         dict_sql: str) -> str:
    """DuckDB oracle reproducing the pair scorer exactly (same candidate
    pairs, same between-token mean, distance feature, argmax)."""
    n = len(model.labels)
    rows = ",".join(
        "('%s',%s)" % (t.replace("'", "''"),
                       ",".join(repr(float(x)) for x in s))
        for t, s in sorted(model.token_scores.items()))
    cols = ",".join(f"s{i}" for i in range(n))
    lg = ",".join(
        f"SUM(COALESCE(b.s{i}, 0.0))/GREATEST(COUNT(b.tok), 1)"
        f" + ({float(model.dist_w[i])!r}) * (ANY_VALUE(dist) * 1.0 / {model.max_distance})"
        f" + ({float(model.bias[i])!r}) AS l{i}"
        for i in range(n))
    best, conf = sql_decide(model.labels, "mx")
    return f"""
WITH {toks_cte},
pos AS (
  SELECT doc_id, tok, pos,
         COALESCE(SUM(length(tok) + 1) OVER (
             PARTITION BY doc_id ORDER BY pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
  FROM tok),
m AS (SELECT p.doc_id, p.start, p.pos, d.cui
      FROM pos p JOIN {dict_sql} ON p.tok = d.name),
pairs AS (SELECT a.doc_id, a.start AS start1, b.start AS start2,
                 a.cui AS ent1_cui, b.cui AS ent2_cui,
                 a.pos AS pos1, b.pos AS pos2, b.pos - a.pos AS dist
          FROM m a JOIN m b ON a.doc_id = b.doc_id
            AND b.pos > a.pos AND b.pos - a.pos <= {model.max_distance}),
sc(tok, {cols}) AS (VALUES {rows}),
agg AS (SELECT p.doc_id, p.start1, p.start2, p.ent1_cui, p.ent2_cui, {lg}
        FROM pairs p
        LEFT JOIN (SELECT t.doc_id, t.pos, t.tok,
                          {", ".join(f"s.s{i}" for i in range(n))}
                   FROM pos t LEFT JOIN sc s USING (tok)) b
          ON b.doc_id = p.doc_id AND b.pos > p.pos1 AND b.pos < p.pos2
        GROUP BY 1, 2, 3, 4, 5),
lgt AS (SELECT *, GREATEST({", ".join(f"l{i}" for i in range(n))}) AS mx
        FROM agg)
SELECT doc_id, CAST(start1 AS INT) AS start1, CAST(start2 AS INT) AS start2,
       ent1_cui, ent2_cui,
       {best} AS relation,
       {conf} AS confidence
FROM lgt
"""

# ---------------------------------------------------------------------------
# STATEFUL pair classifier — the RelCAT/BERT shape: the pair's token
# sequence with entity MARKERS inserted ("<e1>"/"<e2>", the reference's
# special-token annotation, rel_cat.py tokenizer setup) classified by a
# recurrent model.  Trained on a DIRECTIONAL task whose between-entity
# cue tokens have identical multisets in both directions — the linear
# between-token BAG scorer is provably at chance on it; only carried
# state can read the cue ORDER.
# ---------------------------------------------------------------------------


def rel_direction_sequences(n_pairs: int = 120, length: int = 12,
                            seed: int = 13):
    """Marked sequences: '<e1>' ... cues ... '<e2>'; label 'forward'
    when cue 'act' precedes cue 'rev' between the markers, 'reverse'
    otherwise — the swapped variant has the identical token multiset."""
    import random
    rng = random.Random(seed)
    filler = ["alpha", "beta", "gamma", "delta"]
    out = []
    n_between = length - 4                   # 2 markers + 2 edge fillers
    for _ in range(n_pairs):
        between = [rng.choice(filler) for _ in range(n_between - 2)]
        i, j = sorted(rng.sample(range(len(between) + 1), 2))
        a = list(between)
        a.insert(i, "act")
        a.insert(j + 1, "rev")
        fwd = [rng.choice(filler), "<e1>"] + a + ["<e2>", rng.choice(filler)]
        b = list(a)
        ia, ja = a.index("act"), a.index("rev")
        b[ia], b[ja] = b[ja], b[ia]
        rev = [fwd[0], "<e1>"] + b + ["<e2>", fwd[-1]]
        out.append((fwd, "forward"))
        out.append((rev, "reverse"))
    return out


@lru_cache(maxsize=None)
def rel_rnn_fixture_model():
    """RnnMetaModel trained on the directional task (the sequence-
    classifier machinery is shared with the meta scorer — exactly the
    torch-swap contract: same head shape, different input marking)."""
    from medcat_spark.functions.meta_model import train_rnn_meta_model
    return train_rnn_meta_model(
        rel_direction_sequences(), ["forward", "reverse"],
        dim=12, hidden=14, epochs=500, lr=0.5, seed=29)


def relations_rnn(ann: DataFrame, docs: DataFrame, bc,
                  text_col: str = "text") -> DataFrame:
    """relations_model with the STATEFUL marked-sequence scorer —
    identical plan shape; one padded recurrent forward per Arrow batch
    over all of its pairs' marked windows."""
    return score(ann, docs, [(bc, "rel_marked", None)], text_col)

"""In-engine Word2Vec skip-gram negative-sampling (SGNS) training.

The reference's vocab embeddings come from gensim Word2Vec
(``/root/reference/medcat/utils/make_vocab.py:124-176``: 300-d,
window 10, min_count 10).  This module trains the same objective
without gensim, completing the A2 embedding half in-engine the same
way the LSTM/BERT heads were (numpy math, Spark distribution):

- vocabulary + counts: one Spark groupBy (min_count filtered);
- input vectors init: gensim's per-word seeded-hash rule
  (deterministic, partition-independent); output vectors zero;
- each partition runs sequential numpy SGNS from the broadcast init
  (skip-gram, k negative samples from the unigram^0.75 table,
  linearly-decayed lr) — hogwild-per-partition;
- combine: update-count-weighted mean of the per-partition final
  vectors (the SAME documented mean-combine divergence as the L7
  context-vector trainer; with one partition the result equals the
  sequential reference run exactly, golden-tested).

Scale shape: the corpus streams through one ``worker.kernel`` per epoch
call; the only driver-sized object is the vocabulary (gensim holds the
same in RAM); the combine is one groupBy on the word key.
"""

from __future__ import annotations

from typing import Dict, Optional, Tuple

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from medcat_spark import worker

_SCHEMA = "word string, vec array<double>, n_updates long"


def build_w2v_vocab(docs: DataFrame, min_count: int = 5,
                    text_col: str = "text"):
    """(words list, counts array) sorted by (-count, word) — a
    deterministic vocabulary order regardless of partitioning."""
    rows = (docs.select(F.explode(F.split(F.lower(F.col(text_col)), " "))
                        .alias("word"))
            .where(F.col("word") != "")
            .groupBy("word").agg(F.count("*").alias("cnt"))
            .where(F.col("cnt") >= min_count)
            .orderBy(F.col("cnt").desc(), "word")
            .collect())
    words = [r["word"] for r in rows]
    counts = np.array([r["cnt"] for r in rows], dtype=np.float64)
    return words, counts


def seeded_init(words, dim: int, seed: int = 13) -> np.ndarray:
    """gensim's init rule: each word's vector from a hash-of-word seeded
    RNG, uniform(-0.5, 0.5)/dim — identical however the corpus is
    partitioned."""
    import hashlib
    W = np.empty((len(words), dim), dtype=np.float64)
    for i, w in enumerate(words):
        h = int.from_bytes(
            hashlib.md5(f"{w}\0{seed}".encode()).digest()[:8], "little")
        rng = np.random.RandomState(h % (2 ** 32))
        W[i] = (rng.rand(dim) - 0.5) / dim
    return W


def make_neg_table(counts: np.ndarray, power: float = 0.75) -> np.ndarray:
    """Cumulative unigram^power distribution for negative draws
    (reference vocab.py:179-242 uses the same 3/4 rule)."""
    p = counts ** power
    return np.cumsum(p / p.sum())


def _sigmoid(x):
    return 1.0 / (1.0 + np.exp(-np.clip(x, -30, 30)))


def sgns_train_partition(token_id_docs, W, C, cum, window: int,
                         negative: int, lr: float, min_lr: float,
                         epochs: int, seed: int
                         ) -> Tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Sequential numpy SGNS over one partition's docs (lists of word
    ids).  Returns (W', C', per-word update counts).  Deterministic:
    negatives come from a seed derived from the caller; lr decays
    linearly over this partition's total center positions."""
    W = W.copy()
    C = C.copy()
    upd = np.zeros(len(W), dtype=np.int64)
    rng = np.random.RandomState(seed % (2 ** 32))
    total = max(sum(len(d) for d in token_id_docs) * epochs, 1)
    step = 0
    for _ in range(epochs):
        for doc in token_id_docs:
            n = len(doc)
            for pos in range(n):
                alpha = max(min_lr, lr * (1.0 - step / total))
                step += 1
                c = doc[pos]
                lo = max(0, pos - window)
                hi = min(n, pos + window + 1)
                for j in range(lo, hi):
                    if j == pos:
                        continue
                    o = doc[j]
                    # positive pair + k negatives (skip accidental hits)
                    targets = [(o, 1.0)]
                    for _k in range(negative):
                        neg = int(np.searchsorted(cum, rng.rand()))
                        if neg != o:
                            targets.append((neg, 0.0))
                    g_in = np.zeros_like(W[c])
                    for t, label in targets:
                        f = _sigmoid(np.dot(W[c], C[t]))
                        g = (label - f) * alpha
                        g_in += g * C[t]
                        C[t] += g * W[c]
                        upd[t] += 1
                    W[c] += g_in
                    upd[c] += 1
    return W, C, upd


def train_word2vec_sgns(spark: SparkSession, docs: DataFrame,
                        dim: int = 100, window: int = 5,
                        negative: int = 5, min_count: int = 5,
                        epochs: int = 1, lr: float = 0.025,
                        min_lr: float = 1e-4, seed: int = 13,
                        text_col: str = "text",
                        num_partitions: Optional[int] = None
                        ) -> DataFrame:
    """→ (word, vec array<double>, cnt long): trained input vectors +
    corpus counts, the exact shape the vocab table/broadcast wants
    (VocabModel.add_words)."""
    words, counts = build_w2v_vocab(docs, min_count, text_col)
    if not words:
        return spark.createDataFrame([], "word string, vec array<double>, "
                                         "cnt long")
    W0 = seeded_init(words, dim, seed)
    C0 = np.zeros_like(W0)
    cum = make_neg_table(counts)
    word2idx: Dict[str, int] = {w: i for i, w in enumerate(words)}
    bc = spark.sparkContext.broadcast(
        (word2idx, W0, C0, cum, window, negative, lr, min_lr, epochs,
         seed))

    def run(batches):
        (w2i, W, C, cum_, win, neg, lr_, mlr, ep, sd) = bc.value
        docs_ids = []
        id_min = None
        for rows in batches:
            for r in rows:
                ids = [w2i[w] for w in str(r["text"]).lower().split(" ")
                       if w in w2i]
                if len(ids) > 1:
                    docs_ids.append(ids)
            if rows:
                m = min(str(r["doc_id"]) for r in rows)
                id_min = m if id_min is None else min(id_min, m)
        if not docs_ids:
            return
        # partition seed from its (stable) minimum doc id
        import hashlib
        pseed = int.from_bytes(
            hashlib.md5(f"{id_min}\0{sd}".encode()).digest()[:4],
            "little")
        Wf, _Cf, upd = sgns_train_partition(
            docs_ids, W, C, cum_, win, neg, lr_, mlr, ep, pseed)
        hit = np.nonzero(upd)[0]
        inv = {i: w for w, i in w2i.items()}
        yield {"word": [inv[i] for i in hit],
               "vec": [Wf[i].tolist() for i in hit],
               "n_updates": [int(upd[i]) for i in hit]}

    src = docs.select(F.col("doc_id").cast("string").alias("doc_id"),
                      F.col(text_col).alias("text"))
    if num_partitions:
        src = src.repartition(num_partitions, "doc_id")
    partials = src.mapInArrow(worker.kernel(_SCHEMA, run), schema=_SCHEMA)
    cells = partials.select(
        "word", "n_updates",
        F.posexplode("vec").alias("pos", "val"))
    per_dim = (cells.groupBy("word", "pos")
               .agg(F.sum(F.col("val") * F.col("n_updates")).alias("s"),
                    F.sum("n_updates").alias("n")))
    trained = (per_dim.groupBy("word")
               .agg(F.collect_list(F.struct("pos", "s")).alias("cells"),
                    F.first("n").alias("n"))
               .select("word",
                       F.transform(F.array_sort("cells"),
                                   lambda e: e["s"] / F.col("n"))
                       .alias("vec")))
    cnt_rows = spark.createDataFrame(
        list(zip(words, [int(c) for c in counts])), "word string, cnt long")
    init_rows = spark.createDataFrame(
        [(w, W0[i].tolist()) for i, w in enumerate(words)],
        "word string, init_vec array<double>")
    return (F.broadcast(cnt_rows).join(init_rows, "word")
            .join(trained, "word", "left")
            .select("word",
                    F.coalesce("vec", "init_vec").alias("vec"), "cnt"))

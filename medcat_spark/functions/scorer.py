"""The scorer operator every neural head runs through.

MedCAT runs MetaCAT and RelCAT after NER under one document-level
contract (cat.py:1249-1257 pipe; meta_cat.py:447-517 prepare_document;
rel_cat.py:551-613): tokenize each document once, cut one window per
entity or one sequence per entity pair, and batch the forward pass.
Only the model differs, so this module owns everything else:

* :func:`docs_with_ents` — one (doc_id, ents, text) row per document,
  partitioned by compute rather than bytes;
* :func:`kernel` — the one ``mapInArrow`` function, run by
  ``worker.kernel``: index each document's tokens once (a whitespace
  split, or ``model.tokenizer.encode_with_offsets``), cut windows or
  pairs, call the head's batched forward once per Arrow batch, and
  yield one output batch;
* :func:`decide` — argmax label and 4-dp softmax confidence, shared by
  every head's batched predict.

A head (:data:`HEADS`) says only how a cut becomes a forward input and
which batched forward to call; the model classes keep the math.  The
broadcast model is read with ``bc.value`` in every task: PySpark loads
a broadcast once per Python worker process and keeps it
(``Broadcast.value`` caches ``_value``), so no module-level model cache
is needed.
"""

from __future__ import annotations

from bisect import bisect_right
from typing import Optional

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (DoubleType, IntegerType, StringType,
                               StructField, StructType)

from medcat_spark import worker

META_SCHEMA = StructType([
    StructField("doc_id", StringType()),
    StructField("start", IntegerType()),
    StructField("cui", StringType()),
    StructField("meta_name", StringType()),
    StructField("value", StringType()),
    StructField("confidence", DoubleType()),
])

# the reference relations dict shape (rel_cat.py:596-609)
REL_SCHEMA = StructType([
    StructField("doc_id", StringType()),
    StructField("start1", IntegerType()),
    StructField("start2", IntegerType()),
    StructField("ent1_cui", StringType()),
    StructField("ent2_cui", StringType()),
    StructField("relation", StringType()),
    StructField("confidence", DoubleType()),
])


def decide(labels, logits: np.ndarray):
    """(B, C) logits → [(argmax label, its softmax probability to 4 dp)]
    per row (first-wins ties, like numpy argmax and the SQL oracles)."""
    best = logits.argmax(axis=1)
    e = np.exp(logits - logits.max(axis=1, keepdims=True))
    conf = e[np.arange(len(logits)), best] / e.sum(axis=1)
    return [(labels[i], round(float(c), 4)) for i, c in zip(best, conf)]


def predict_chunked(labels, forward, max_batch: int, *cols):
    """:func:`decide` over ``forward(*chunk)`` for row chunks of at most
    ``max_batch``.  The padded (B, L, D) gather is the peak allocation;
    bounding it keeps executor arenas reused instead of freshly
    page-faulted, and it is the batch_size_eval knob a torch scorer
    needs (reference meta_cat.py config general.batch_size_eval)."""
    out = []
    for ofs in range(0, len(cols[0]), max_batch):
        out.extend(decide(labels, forward(
            *(c[ofs:ofs + max_batch] for c in cols))))
    return out


def pad_ids(windows, pad_id: int = 0, unk_id: int = 0,
            vocab_size: Optional[int] = None):
    """Right-pad ragged id windows to (B, L_max) int64 ids and a 0/1
    mask.  With ``vocab_size``, ids outside [0, vocab_size) become
    ``unk_id``."""
    L = max((len(w) for w in windows), default=1) or 1
    ids = np.full((len(windows), L), pad_id, dtype=np.int64)
    mask = np.zeros((len(windows), L))
    for r, w in enumerate(windows):
        if vocab_size is not None:
            w = [t if 0 <= t < vocab_size else unk_id for t in w]
        ids[r, :len(w)] = w
        mask[r, :len(w)] = 1.0
    return ids, mask


def center_spans(windows, centers):
    """Per window, the ``(lo, hi)`` row slice of its entity center
    ``(first, last)``, the last index clamped into the window."""
    return [(cf, min(cl, len(w) - 1) + 1)
            for w, (cf, cl) in zip(windows, centers)]


def max_pool(seq: np.ndarray, spans) -> np.ndarray:
    """(B, H) per-row max of ``seq[b, lo:hi]`` over each ``spans[b]``."""
    out = np.empty((seq.shape[0], seq.shape[2]), dtype=seq.dtype)
    for b, (lo, hi) in enumerate(spans):
        out[b] = seq[b, lo:hi].max(axis=0)
    return out


def docs_with_ents(ann, docs, text_col: str = "text",
                   num_partitions: Optional[int] = None):
    """(doc_id, ents, text) scoring input shared by every neural scorer
    (meta linear/MLP/LSTM/BERT, RelCAT linear/RNN/BERT).

    The explicit repartition is load-bearing: the join output is tiny
    in BYTES (KBs per doc) but heavy in downstream COMPUTE (a model
    forward per entity/pair), and AQE coalesces post-shuffle partitions
    by byte size — at bench scale it folded the whole relation-scoring
    stage into ONE task (measured: the 4-layer BERT pair bench ran 31
    minutes single-core before this fix).  Spark cannot see Python-UDF
    cost, so the stage is partitioned explicitly by doc_id; AQE does
    not re-coalesce a user-specified partition count.  At 100 TB the
    same holds: partition count must track document count, not the few
    bytes of (doc_id, spans) metadata."""
    end_col = (F.col("end").cast("int") if "end" in ann.columns
               else F.lit(None).cast("int")).alias("end")
    ents = (ann.select(F.col("doc_id").cast("string").alias("doc_id"),
                       F.col("start"), end_col, F.col("cui"))
            .groupBy("doc_id")
            .agg(F.collect_list(F.struct("start", "end", "cui"))
                 .alias("ents")))
    src = docs.select(F.col("doc_id").cast("string").alias("doc_id"),
                      F.col(text_col).alias("text"))
    joined = ents.join(src, "doc_id")
    if num_partitions is None:
        num_partitions = int(ann.sparkSession.conf.get(
            "spark.sql.shuffle.partitions"))
    # Repartition on xxhash64(doc_id), NOT doc_id: the join output is
    # already hash-partitioned by doc_id (the groupBy exchange), so a
    # repartition(n, doc_id) is planned as a no-op (EnsureRequirements
    # removes the redundant exchange) and AQE then coalesces the
    # groupBy's own exchange by BYTE size — measured at bench scale the
    # whole model-forward stage collapsed to ONE task (1.9-2.0 s
    # single-core out of each scorer's 2.4 s).  Hashing the key makes
    # the exchange semantically distinct (so it survives planning) and
    # user-specified (so AQE leaves its partition count alone), which
    # is the documented intent: partition count must track document
    # count, not the few bytes of (doc_id, spans) metadata.
    return joined.repartition(num_partitions, F.xxhash64("doc_id"))


# ---------------------------------------------------------------------------
# token index: one document tokenized once


def special_framing(tokenizer):
    """([CLS], [SEP]) ids when the vocab defines them (RoBERTa-style
    <s>/</s> accepted too), else (None, None).  The reference rel
    tokenizer wrapper is built with add_special_tokens=True
    (utils/relation_extraction/tokenizer.py:89); packs whose vocab
    lacks special tokens keep the bare sequence."""
    vocab = getattr(tokenizer, "vocab", None) or {}
    for c_t, s_t in (("[CLS]", "[SEP]"), ("<s>", "</s>")):
        if c_t in vocab and s_t in vocab:
            return vocab[c_t], vocab[s_t]
    return None, None


class TokenIndex:
    """``toks`` (whitespace words, or subword ids when a tokenizer is
    given) with their char ``starts`` — built once per document."""

    def __init__(self, text: str, tokenizer=None) -> None:
        self.text = text
        if tokenizer is None:
            self.toks, self.spans = text.split(" "), None
            self.starts, pos = [], 0
            for t in self.toks:
                self.starts.append(pos)
                pos += len(t) + 1
        else:
            self.toks, self.spans = tokenizer.encode_with_offsets(text)
            self.starts = [s for s, _e in self.spans]

    def range(self, start, end):
        """(first, last) token index of the entity at chars [start,
        end), or None.  Whitespace tokens: the entity must begin ON a
        token start.  Subwords: a token must cover ``start``
        (utils/meta_cat/data_utils.py:80-115).  ``last`` is the token
        holding ``end - 1``, never before ``first``; a null end means a
        one-token entity."""
        if start is None:
            return None
        end = end or start + 1
        first = bisect_right(self.starts, start) - 1
        if first < 0 or (self.starts[first] != start if self.spans is None
                         else self.spans[first][1] <= start):
            return None
        return first, max(first, bisect_right(self.starts, end - 1) - 1)


# ---------------------------------------------------------------------------
# heads: how a cut becomes a forward input, and which forward to call


class _Head:
    """One model family's hooks: ``seq`` (the per-doc sequence cuts
    slice), ``take`` (a cut → one forward input) and ``forward`` (all of
    a batch's inputs → [(label, confidence)]).  As is, the head of any
    model with ``predict_batch(inputs)`` (MLP, RNN)."""

    pairs = False        # one row per entity pair, else per entity
    tokenizer = None     # index docs with it, else split on spaces

    def __init__(self, model) -> None:
        self.model = model

    def seq(self, doc: TokenIndex):
        return doc.toks

    def forward(self, xs):
        return self.model.predict_batch(xs)


class _Linear:
    """Linear heads (MetaCatModel, RelCatModel): a bag mean is one
    difference of the doc's prefix sums."""

    def seq(self, doc):
        return self.model.prefix_scores(doc.toks)

    def forward(self, xs):
        return decide(self.model.labels, self.model.forward_prefix(xs))


class _Windows(_Head):
    """Meta heads: one window per entity, tokens [first - cntx_left,
    last + cntx_right] (meta_cat.py prepare_document), so multi-token
    entities keep their full right context."""

    def take(self, seq, lo: int, hi: int, first: int, last: int):
        return seq[lo:hi]

    def cut(self, doc: TokenIndex, ents):
        m, seq, n = self.model, self.seq(doc), len(doc.toks)
        for e in ents:
            r = doc.range(e["start"], e.get("end"))
            if r is None:
                continue
            first, last = r
            lo = max(0, first - m.cntx_left)
            hi = min(n, last + 1 + m.cntx_right)
            yield (e["start"], e["cui"]), self.take(seq, lo, hi, first, last)


class _LinearWindows(_Linear, _Windows):
    def take(self, P, lo, hi, first, last):
        return P, lo, hi


class _CenteredWindows(_Windows):
    """LSTM / BERT meta heads: the window plus the entity's (first,
    last) inside it for center max-pooling — in token-id space when the
    model carries a tokenizer, else over whitespace tokens."""

    def __init__(self, model) -> None:
        super().__init__(model)
        self.tokenizer = model.tokenizer
        if self.tokenizer is None and not hasattr(model, "predict_batch"):
            raise ValueError(
                f"{type(model).__name__} has no tokenizer and no "
                "whitespace-token scorer — meta components that work in "
                "token-id space (BertMetaModel) need their tokenizer "
                "files (bbpe-*/vocab.txt) present in the pack")

    def take(self, seq, lo, hi, first, last):
        return seq[lo:hi], (first - lo, last - lo)

    def forward(self, xs):
        windows, centers = [w for w, _ in xs], [c for _, c in xs]
        if self.tokenizer is None:
            return self.model.predict_batch(windows, centers)
        return self.model.predict_batch_ids(windows, centers)


class _Pairs(_Head):
    """Whitespace RelCAT heads: entity pairs in text order, 0 < token
    distance <= ``max_distance`` (relation direction follows text
    order like rel_cat's sorted entity pairs)."""

    pairs = True

    def cut(self, doc: TokenIndex, ents):
        pos = []
        for e in ents:
            r = doc.range(e["start"], None)
            if r is not None:
                pos.append((r[0], e))
        pos.sort(key=lambda x: x[0])
        if len(pos) < 2:
            return
        seq = self.seq(doc)
        for i, (pa, ea) in enumerate(pos):
            for pb, eb in pos[i + 1:]:
                d = pb - pa
                if d <= 0:
                    continue
                if d > self.max_distance:
                    break
                yield ((ea["start"], eb["start"], ea["cui"], eb["cui"]),
                       self.take(seq, pa, pb))


class _LinearPairs(_Linear, _Pairs):
    @property
    def max_distance(self):
        return self.model.max_distance

    def take(self, P, pa, pb):
        return P, pa, pb


class _MarkedPairs(_Pairs):
    """Stateful pair head: the pair's tokens with ``<e1>``/``<e2>``
    markers inserted, ``CNTX`` tokens of context each side."""

    CNTX = 2
    max_distance = 24

    def take(self, toks, pa, pb):
        lo = max(0, pa - self.CNTX)
        hi = min(len(toks), pb + 1 + self.CNTX)
        return (toks[lo:pa] + ["<e1>"] + toks[pa:pb] + ["<e2>"]
                + toks[pb:hi])


class _BertPairs(_Head):
    """RelCAT BERT pairs (rel_dataset.py:73-75, 216-217): entity starts
    at most ``window_size_chars`` apart with different surface text,
    each cut into a marked subword sequence by
    :func:`bert_np.mark_pair_sequence`; a pair whose [e2] marker would
    be truncated is dropped."""

    pairs = True

    def __init__(self, model) -> None:
        from medcat_spark.functions.bert_np import mark_pair_sequence
        super().__init__(model)
        self.mark = mark_pair_sequence
        self.tokenizer = model.tokenizer
        self.framing = special_framing(self.tokenizer)
        self.cntx_l = getattr(model, "cntx_left", getattr(model, "cntx", 15))
        self.cntx_r = getattr(model, "cntx_right", self.cntx_l)
        self.win_chars = getattr(model, "window_size_chars", 300)
        self.max_len = getattr(model, "max_seq_length", 512)
        pos_tab = getattr(getattr(model, "encoder", None), "pos", None)
        if pos_tab is not None:   # BERT position-table bound
            self.max_len = min(self.max_len, pos_tab.shape[0])

    def cut(self, doc: TokenIndex, ents):
        ents = sorted(((e["start"], e.get("end") or e["start"] + 1, e["cui"])
                       for e in ents if e["start"] is not None),
                      key=lambda x: (x[0], x[2]))
        for i, a in enumerate(ents):
            for b in ents[i + 1:]:
                # ents are start-sorted, so later b's only get farther
                if b[0] - a[0] > self.win_chars:
                    break
                if doc.text[a[0]:a[1]] == doc.text[b[0]:b[1]]:
                    continue
                ra, rb = doc.range(a[0], a[1]), doc.range(b[0], b[1])
                if ra is None or rb is None or rb[0] <= ra[1]:
                    continue
                res = self.mark(doc.toks, ra, rb, self.model.tag_ids,
                                self.cntx_l, self.cntx_r, self.max_len,
                                *self.framing)
                if res is not None:
                    yield (a[0], b[0], a[2], b[2]), res

    def forward(self, xs):
        ids, mask = pad_ids([s for s, _, _ in xs])
        starts = np.asarray([(p1, p2) for _s, p1, p2 in xs])
        return self.model.predict(ids, starts, mask)


HEADS = {
    "pooled": _Windows,              # MlpMetaModel, RnnMetaModel
    "linear": _LinearWindows,        # MetaCatModel
    "centered": _CenteredWindows,    # LstmMetaModel, BertMetaModel
    "rel_linear": _LinearPairs,      # RelCatModel
    "rel_marked": _MarkedPairs,      # RnnMetaModel over marked pairs
    "rel_bert": _BertPairs,          # RelCatBertModel and its variants
}


# ---------------------------------------------------------------------------
# the operator


def kernel(bc, head: str, meta_name: Optional[str] = None):
    """The ``worker.kernel`` function scoring (doc_id, ents, text)
    batches with the broadcast model through ``HEADS[head]``: one row
    per scored entity (META_SCHEMA, tagged ``meta_name``) or entity pair
    (REL_SCHEMA); batches with nothing to score yield nothing."""
    schema = REL_SCHEMA if HEADS[head].pairs else META_SCHEMA

    def body(batches):
        h = HEADS[head](bc.value)
        for rows in batches:
            keys, xs = [], []
            for r in rows:
                doc = TokenIndex(r["text"] or "", h.tokenizer)
                for key, x in h.cut(doc, r["ents"]):
                    keys.append((str(r["doc_id"]),) + key)
                    xs.append(x)
            if not keys:
                continue
            cols = [list(c) for c in zip(*keys)]
            if not h.pairs:
                cols.append([meta_name] * len(keys))
            preds = h.forward(xs)
            cols += [[v for v, _ in preds], [c for _, c in preds]]
            yield dict(zip(schema.names, cols))
    return worker.kernel(schema, body)


def score(ann: DataFrame, docs: DataFrame, bc, head: str,
          text_col: str = "text", meta_name: Optional[str] = None
          ) -> DataFrame:
    """Score every entity window (meta heads) or candidate entity pair
    (relation heads) of ``docs`` with the broadcast model.  Plan shape:
    annotations grouped per doc, text joined once, the xxhash64(doc_id)
    repartition, then ONE mapInArrow — the GPU-stage separation the
    reference uses for MetaCAT/RelCAT batching (cat.py:1249-1257)."""
    schema = REL_SCHEMA if HEADS[head].pairs else META_SCHEMA
    return docs_with_ents(ann, docs, text_col).mapInArrow(
        kernel(bc, head, meta_name), schema=schema)

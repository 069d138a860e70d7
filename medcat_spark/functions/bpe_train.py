"""Distributed BPE tokenizer training (Sennrich et al. 2016) — train
the corpus tokenizer inside the engine.

Split exactly where every published trainer splits it:

* **Corpus pass (distributed, the only corpus-sized work):** GPT-2
  pre-tokenization + word counting as ONE map-side-combined
  ``groupBy(word)`` in JVM codegen (``regexp_extract_all`` with the
  byte-level pre-tok pattern, ``(?U)`` so Java's ``\\w`` matches
  Python's Unicode semantics).  Output is the word-frequency table —
  O(word types), bounded by ``max_word_types`` (highest-frequency
  types win, deterministic tie-break), orders of magnitude below
  corpus size.

* **Merge learning (driver, vocab-sized):** the greedy
  highest-frequency-pair loop shared with the local trainer
  (``core.bbpe.learn_merges``) over the collected table — the same
  count-words-then-merge structure as HuggingFace tokenizers' trainer.

The result is the engine's own ``BbpeTokenizer`` and round-trips
through its ``save()`` layout (``bbpe-vocab.json`` +
``bbpe-merges.txt``), the same files the reference's MetaCAT BBPE
components ship and the pack importer already consumes
(reference: medcat/tokenizers/meta_cat_tokenizers.py:113-119).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from medcat_spark import worker
from medcat_spark.core.bbpe import (BbpeTokenizer, _B2U, learn_merges)

# core.bbpe._PRETOK re-spelled for Java's regex engine: (?U) lifts
# \w/\W/\d to the Unicode classes Python uses by default.
PRETOK_JAVA = ("(?U)'s|'t|'re|'ve|'m|'ll|'d"
               "| ?[^\\W\\d_]+| ?\\d+| ?(?:[^\\s\\w]|_)+"
               "|\\s+(?!\\S)|\\s+")


def corpus_word_counts(docs: DataFrame, text_col: str = "text",
                       lowercase: bool = True,
                       max_word_types: int = 1_000_000) -> DataFrame:
    """(w, cnt): pre-token frequency table, top ``max_word_types`` by
    count (tie-break on the token, deterministic)."""
    t = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
    toks = docs.select(
        F.explode(F.regexp_extract_all(t, F.lit(PRETOK_JAVA), 0))
        .alias("w"))
    counts = toks.groupBy("w").agg(F.count("*").alias("cnt"))
    return counts.orderBy(F.col("cnt").desc(), "w").limit(max_word_types)


def train_bbpe_distributed(docs: DataFrame, vocab_size: int = 500,
                           text_col: str = "text", lowercase: bool = True,
                           max_word_types: int = 1_000_000
                           ) -> BbpeTokenizer:
    """Train a byte-level BPE tokenizer on a document DataFrame."""
    from collections import Counter
    rows = corpus_word_counts(docs, text_col, lowercase,
                              max_word_types).collect()
    words: Counter = Counter()
    for r in rows:
        mapped = tuple(_B2U[b] for b in r["w"].encode("utf-8"))
        words[mapped] += r["cnt"]
    vocab, merges = learn_merges(words, vocab_size)
    return BbpeTokenizer(vocab, merges, lowercase=lowercase)


def bpe_token_counts(docs: DataFrame, tokenizer: BbpeTokenizer,
                     text_col: str = "text") -> DataFrame:
    """(doc_id, n_bpe_tokens, ids_sum) — encode with a (typically
    corpus-trained) tokenizer via ONE Arrow-batched ``worker.kernel``
    mapInArrow with the tokenizer broadcast; ids_sum makes the row
    sensitive to the actual token ids, not just their count."""
    bc = docs.sparkSession.sparkContext.broadcast(tokenizer)

    def body(batches):
        tok = bc.value
        for rows in batches:
            ids = [tok.encode(r[text_col]) for r in rows]
            yield {"doc_id": [r["doc_id"] for r in rows],
                   "n_bpe_tokens": [len(x) for x in ids],
                   "ids_sum": [sum(x) for x in ids]}

    schema = "doc_id long, n_bpe_tokens long, ids_sum long"
    return docs.select("doc_id", text_col).mapInArrow(
        worker.kernel(schema, body), schema=schema)

"""Seeded input generators for the four workloads.

Everything here is a pure function of ``(workload parameters, seed)``:
the same seed gives byte-identical parquet, a different seed different
documents.  The engine sees only the parquet files written by
:func:`write_docs`; the dictionaries and vocabularies are rebuilt from
the same seed by the harness, as a model pack would be loaded.
"""

from __future__ import annotations

import zlib
from dataclasses import dataclass
from typing import Dict, List, Tuple

import numpy as np

VEC_DIM = 30
MEDIA = (("image", "img://scan-{}.png"), ("audio", "aud://note-{}.wav"))


def doc_id(kind: str, i: int) -> str:
    """Seed-independent ids whose 4-char prefix names one of 64 sources:
    ``pipeline.salted_repartition`` keys on that prefix and a hash of the
    id, so every seed puts the same docs in the same partitions (with one
    prefix per corpus, its 8 salt buckets land unevenly on the partitions
    and the slowest task doubles from seed to seed)."""
    return f"{kind}{i % 64:03d}-{i:07d}"


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent stream per (seed, purpose), stable across Python runs
    (``hash()`` of a str is salted per process, crc32 is not)."""
    return np.random.default_rng([int(seed), zlib.crc32(stream.encode())])


# -- closed vocabulary, flat text (annotate_dense, score_heads) -------------

def dense_docs(seed: int, n_docs: int, n_tokens: int,
               words: List[str]) -> List[dict]:
    """Lowercase single-space text over a closed vocabulary: every word
    is a fixed point of the normalizer, so the per-doc kernel is cheap
    and the output is dominated by unambiguous dictionary hits."""
    rng = rng_for(seed, "dense")
    lens = rng.integers(n_tokens * 3 // 4, n_tokens * 5 // 4 + 1, n_docs)
    picks = rng.integers(0, len(words), int(lens.sum()))
    docs, pos = [], 0
    for i, n in enumerate(lens):
        text = " ".join(words[j] for j in picks[pos:pos + n])
        pos += n
        docs.append({"doc_id": doc_id("d", i), "text": text})
    return docs


# -- open vocabulary, interleaved spans (link_spans, kg_iceberg_resume) ----

_ONSETS = ("b c d f g h j k l m n p r s t v w z br cr dr fl gr pl pr st "
           "tr sk sp ch sh th").split()
_NUCLEI = "a e i o u ai ea io ou".split()


@dataclass
class OpenModelSpec:
    """Everything the engine's model is built from, derived from a seed:
    a Zipf-ranked word list with vectors, topic word lists, and
    dictionary rows whose names map to 1-4 CUIs with context vectors."""
    words: List[str]
    vectors: np.ndarray               # (V, VEC_DIM)
    topics: List[np.ndarray]          # word indices per topic
    rows: List[Tuple[str, str, str, str, str, str]]
    cui_topic: Dict[str, int]


def _words(rng: np.random.Generator, n: int) -> List[str]:
    """``n`` distinct pronounceable words of 2-4 syllables, in draw
    order (rank 1 first)."""
    seen, words = set(), []
    while len(words) < n:
        m = 2 * (n - len(words))
        sizes = rng.integers(2, 5, m)
        on = rng.integers(0, len(_ONSETS), (m, 4))
        nu = rng.integers(0, len(_NUCLEI), (m, 4))
        for i in range(m):
            w = "".join(_ONSETS[on[i, j]] + _NUCLEI[nu[i, j]]
                        for j in range(sizes[i]))
            if w not in seen:
                seen.add(w)
                words.append(w)
                if len(words) == n:
                    break
    return words


def open_model_spec(seed: int, n_words: int, n_topics: int,
                    n_names: int) -> OpenModelSpec:
    rng = rng_for(seed, "open-model")
    words = _words(rng, n_words)
    vectors = rng.uniform(-1, 1, (n_words, VEC_DIM))
    # topic vocabularies come from the frequent-but-not-top band, so a
    # doc's topic shows in the context windows the linker averages
    band = np.arange(30, n_words // 25)
    topics = [rng.choice(band, 150, replace=False) for _ in range(n_topics)]
    # dictionary names: mid-frequency words above the topic band (ranks
    # V/25 .. V/5, so a doc's topic does not change its mention count),
    # 30% bigrams; 70% of names are shared by 2-4 CUIs, which forces
    # disambiguation
    # Name ranks are evenly spaced over the band, so every seed's
    # dictionary covers the same share of the Zipf mass.
    rows, cui_topic = [], {}
    lo, hi = n_words // 25, n_words // 5
    pairs = [(int(a), int(rng.integers(lo, hi)) if rng.random() >= 0.7
              else None)
             for a in np.linspace(lo, hi - 1, n_names).astype(int)]
    # Name tokens end in 'qq' (no other word has a 'q'), so no other
    # word is within the spell checker's one edit of a name: which
    # words become mentions does not depend on the seed's spellings.
    for r in {r for p in pairs for r in p if r is not None}:
        words[r] += "qq"
    names = {words[a] if b is None else f"{words[a]} {words[b]}"
             for a, b in pairs}
    n_cui = 0
    for name in sorted(names):
        k = 1 if rng.random() < 0.3 else int(rng.integers(2, 5))
        for _ in range(k):
            cui = f"C{n_cui:06d}"
            n_cui += 1
            status = "P" if rng.random() < 0.5 else "A"
            rows.append((cui, name, "", status, "T001", ""))
            cui_topic[cui] = int(rng.integers(n_topics))
    return OpenModelSpec(words, vectors, topics, rows, cui_topic)


def spans_docs(seed: int, n_docs: int, median_tokens: int,
               spec: OpenModelSpec) -> List[dict]:
    """Heavy-tailed doc lengths: the lognormal's n quantiles, in one
    fixed shuffled order (every seed gives doc i the same length, so
    neither totals nor partition loads drift between seeds).  Tokens are 65% Zipf draws from the
    whole vocabulary and 35% from the doc's topic; sentences start
    capitalized and end with '.'; the doc is cut into 2-6 text spans
    with media spans in the gaps between them."""
    from statistics import NormalDist
    rng = rng_for(seed, "spans")
    V = len(spec.words)
    ranks = np.arange(1, V + 1, dtype=np.float64)
    zipf_p = ranks ** -1.07
    zipf_p /= zipf_p.sum()
    z = [NormalDist().inv_cdf((i + 0.5) / n_docs) for i in range(n_docs)]
    lens = np.clip(np.exp(np.log(median_tokens) + 0.6 * np.array(z)),
                   20, median_tokens * 8).astype(int)
    lens = lens[rng_for(0, "lengths").permutation(n_docs)]
    docs = []
    for i, n in enumerate(lens):
        topic = spec.topics[int(rng.integers(len(spec.topics)))]
        from_topic = rng.random(n) < 0.35
        idx = np.where(from_topic, topic[rng.integers(0, len(topic), n)],
                       rng.choice(V, n, p=zipf_p))
        toks = [spec.words[j] for j in idx]
        sent_end = rng.random(n) < 0.08
        for t in range(n):
            if t == 0 or sent_end[t - 1]:
                toks[t] = toks[t].capitalize()
            if sent_end[t]:
                toks[t] += "."
        n_spans = int(rng.integers(2, 7))
        cuts = sorted(rng.choice(np.arange(1, n), min(n_spans - 1, n - 1),
                                 replace=False).tolist())
        spans, pos, prev = [], 0, 0
        for k, cut in enumerate(cuts + [n]):
            text = " ".join(toks[prev:cut])
            spans.append({"kind": "text", "text": text, "media_ref": None,
                          "offset": pos})
            pos += len(text)
            prev = cut
            if cut < n:
                kind, ref = MEDIA[(i + k) % 2]
                spans.append({"kind": kind, "text": None,
                              "media_ref": ref.format(f"{i}-{k}"),
                              "offset": pos + 1})
                pos += 12
        docs.append({"doc_id": doc_id("s", i), "spans": spans})
    return docs


def write_docs(docs: List[dict], path: str, n_files: int = 4) -> None:
    """Write docs as ``n_files`` parquet files (deterministic bytes:
    fixed row order, no timestamps in the footer metadata)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    if "spans" in docs[0]:
        schema = pa.schema([
            ("doc_id", pa.string()),
            ("spans", pa.list_(pa.struct([
                ("kind", pa.string()), ("text", pa.string()),
                ("media_ref", pa.string()), ("offset", pa.int32())])))])
    else:
        schema = pa.schema([("doc_id", pa.string()), ("text", pa.string())])
    os.makedirs(path, exist_ok=True)
    step = -(-len(docs) // n_files)
    for f in range(n_files):
        part = docs[f * step:(f + 1) * step]
        if part:
            pq.write_table(pa.Table.from_pylist(part, schema=schema),
                           os.path.join(path, f"part-{f:03d}.parquet"))


def open_model(spec: OpenModelSpec):
    """CDB + vocab from a generated spec: context vectors of each CUI
    point at its topic, so disambiguation has a right answer."""
    from medcat_spark.config import EngineConfig
    from medcat_spark.core.model import VocabModel
    from medcat_spark.fixtures import build_fixture_cdb

    cfg = EngineConfig()
    cdb = build_fixture_cdb(cfg, rows=spec.rows, full_build=False)
    vocab = VocabModel()
    for r, (w, v) in enumerate(zip(spec.words, spec.vectors)):
        vocab.add(w, cnt=max(1, 1_000_000 // (r + 1)), vec=v)
    topic_vec = [spec.vectors[t].mean(axis=0) for t in spec.topics]
    rng = rng_for(len(spec.rows), "context-vectors")
    for cui, t in sorted(spec.cui_topic.items()):
        cdb.cui2context_vectors[cui] = {
            ct: topic_vec[t] + rng.normal(0, 0.05, VEC_DIM)
            for ct in cfg.context_vector_sizes}
        cdb.cui2count_train[cui] = 5
    return cdb, vocab


def flagship_model(_arg=None):
    """The demo flagship dictionary (unigram + bigram names) with an
    empty vocab, as ``bench.py`` q10 annotates with."""
    from medcat_spark import demo
    from medcat_spark.core.model import VocabModel
    return demo.flagship_cdb(), VocabModel()

"""Reference computations the Spark outputs are checked against.

Annotation keys come from ``core.annotate.annotate_document`` run
outside Spark; triples from a DuckDB aggregation of those keys; scorer
labels from each head's own in-process forward.
"""

from __future__ import annotations

import os
import sys
import zlib
from bisect import bisect_right
from collections import Counter
from typing import Dict, Iterable, List, Tuple

KEY_COLS = ["doc_id", "start", "end", "cui", "span_idx", "span_offset"]
Key = Tuple[str, int, int, str, int, int]


def doc_text(doc: dict):
    """(text, span index or None) exactly as the annotate kernel sees
    the document."""
    from medcat_spark.core.docs import reconstruct_text, span_index
    if "spans" in doc:
        return reconstruct_text(doc["spans"]), span_index(doc["spans"])
    return doc["text"], None


def annotate_keys(docs: List[dict], cdb, vocab) -> List[Key]:
    """Final entity keys of ``annotate_document`` per doc, mapped to
    span coordinates the way the Spark kernel maps them."""
    from medcat_spark.config import EngineConfig
    from medcat_spark.core.annotate import annotate_document
    from medcat_spark.core.docs import char_to_span
    from medcat_spark.core.normalizer import SpellChecker
    cfg = EngineConfig()
    sc = SpellChecker(cdb.vocab, cfg) if cfg.spell_check else None
    keys: List[Key] = []
    for doc in docs:
        text, index = doc_text(doc)
        ents, _ = annotate_document(text, cdb, vocab, cfg, sc)
        for e in ents:
            si, so = char_to_span(e.start, *index) if index else (0, e.start)
            keys.append((doc["doc_id"], e.start, e.end, e.cui,
                         -1 if si is None else si,
                         -1 if so is None else so))
    return keys


def _reference_worker() -> None:
    """Child side of annotate_reference: reads (make_model, arg, docs)
    pickled on stdin, writes the pickled keys to stdout.  Anything the
    engine prints goes to stderr."""
    import pickle
    out = os.fdopen(os.dup(1), "wb")
    os.dup2(2, 1)
    make_model, arg, docs = pickle.load(sys.stdin.buffer)
    pickle.dump(annotate_keys(docs, *make_model(arg)), out)
    out.close()


def annotate_reference(docs: List[dict], make_model, arg,
                       processes: int) -> List[Key]:
    """annotate_keys over ``docs`` split across ``processes`` child
    interpreters, each building its own model with ``make_model(arg)``
    (a module-level function, so it pickles by name).  Every child is
    waited for before this returns, on every path (no multiprocessing
    pool: it would leave its resource tracker running after exit).  Runs
    before the session starts, outside every timed region."""
    import pickle
    import subprocess
    step = -(-len(docs) // max(1, processes))
    chunks = [docs[i:i + step] for i in range(0, len(docs), step)]
    code = "from perfbench.check import _reference_worker; _reference_worker()"
    procs = []
    try:
        for chunk in chunks:
            p = subprocess.Popen([sys.executable, "-c", code],
                                 stdin=subprocess.PIPE,
                                 stdout=subprocess.PIPE)
            procs.append(p)
            pickle.dump((make_model, arg, chunk), p.stdin)
            p.stdin.close()
        parts = []
        for p in procs:
            data = p.stdout.read()
            if p.wait() != 0:
                raise RuntimeError(f"reference worker exited {p.returncode}")
            parts.append(pickle.loads(data))
    finally:
        for p in procs:
            if p.poll() is None:
                p.kill()
            p.wait()
            p.stdout.close()
    return [k for part in parts for k in part]


def key_checksum(keys: Iterable[tuple]) -> int:
    """Order-free checksum of a key multiset: the sum of CRC32 over each
    key's '|'-joined fields, as Spark's ``sum(crc32(concat_ws('|', ...)))``
    computes it."""
    return sum(zlib.crc32("|".join(map(str, k)).encode()) for k in keys)


def diff_count(got: Iterable, want: Iterable) -> int:
    """Size of the multiset symmetric difference (0 = identical)."""
    g, w = Counter(got), Counter(want)
    return sum(((g - w) + (w - g)).values())


def reference_triples(keys: List[Key]):
    """(mention rows, co-occurrence rows) aggregated by DuckDB, in the
    same shape as ``triples.mention_triples(distinct=True)`` and
    ``triples.cooccurrence_triples``."""
    import duckdb
    import pyarrow as pa
    ref = pa.table({"doc_id": [k[0] for k in keys],
                    "cui": [k[3] for k in keys]})
    con = duckdb.connect()
    try:
        con.register("ref", ref)
        mentions = con.execute(
            "SELECT DISTINCT 'doc:' || doc_id, 'mentions', 'cui:' || cui, "
            "doc_id FROM ref").fetchall()
        cooc = con.execute(
            "WITH d AS (SELECT DISTINCT doc_id, cui FROM ref) "
            "SELECT 'cui:' || a.cui, 'cooccurs_with', 'cui:' || b.cui, "
            "COUNT(*) FROM d a JOIN d b ON a.doc_id = b.doc_id "
            "AND a.cui < b.cui GROUP BY a.cui, b.cui").fetchall()
    finally:
        con.close()
    return mentions, cooc


def rows_of(table, cols: List[str]) -> List[tuple]:
    return list(zip(*[table.column(c).to_pylist() for c in cols]))


# -- scorer heads ---------------------------------------------------------------

def _windows(text: str, ents: List[Key]):
    """Per entity: (key, tokens, center, last) using the scorers' own
    whitespace tokenization and window bounds."""
    toks = text.split(" ")
    starts, tok_starts, pos = {}, [], 0
    for i, t in enumerate(toks):
        starts[pos] = i
        tok_starts.append(pos)
        pos += len(t) + 1
    out = []
    for k in ents:
        center = starts.get(k[1])
        if center is None:
            continue
        last = max(center, bisect_right(tok_starts, k[2] - 1) - 1)
        out.append((k, toks, center, last))
    return out


def expected_head_rows(texts: Dict[str, str], keys: List[Key],
                       max_distance: int) -> Dict[str, int]:
    """Rows each head must emit: one per entity at a token start for the
    meta heads, one per entity pair at most ``max_distance`` tokens
    apart for the relation head."""
    per_doc: Dict[str, List[Key]] = {}
    for k in keys:
        per_doc.setdefault(k[0], []).append(k)
    n_ent = n_pair = 0
    for doc_id, ents in per_doc.items():
        centers = sorted(c for _k, _t, c, _l in _windows(texts[doc_id], ents))
        n_ent += len(centers)
        for i, a in enumerate(centers):
            j = bisect_right(centers, a + max_distance)
            n_pair += sum(1 for b in centers[i + 1:j] if b > a)
    return {"linear": n_ent, "mlp": n_ent, "lstm": n_ent, "rel": n_pair}


def head_labels(models: Dict[str, object], texts: Dict[str, str],
                keys: List[Key]) -> Dict[str, set]:
    """In-process forward of each head over the given docs:
    {head: {(doc_id, start[, start2], label)}}."""
    per_doc: Dict[str, List[Key]] = {}
    for k in keys:
        per_doc.setdefault(k[0], []).append(k)
    out = {h: set() for h in ("linear", "mlp", "lstm", "rel")}
    lin, mlp, lstm, rel = (models[h] for h in ("linear", "mlp", "lstm", "rel"))
    for doc_id, ents in per_doc.items():
        wins = _windows(texts[doc_id], ents)
        for k, toks, center, last in wins:
            lo = max(0, center - lin.cntx_left)
            hi = min(len(toks), last + 1 + lin.cntx_right)
            out["linear"].add((doc_id, k[1], lin.predict(toks[lo:hi])[0]))
            lo = max(0, center - mlp.cntx_left)
            hi = min(len(toks), last + 1 + mlp.cntx_right)
            out["mlp"].add((doc_id, k[1], mlp.predict(toks[lo:hi])[0]))
            lo = max(0, center - lstm.cntx_left)
            hi = min(len(toks), last + 1 + lstm.cntx_right)
            label = lstm.predict_batch([toks[lo:hi]],
                                       [(center - lo, last - lo)])[0][0]
            out["lstm"].add((doc_id, k[1], label))
        by_pos = sorted((c, k) for k, _t, c, _l in wins)
        toks = texts[doc_id].split(" ")
        for i, (pa, ka) in enumerate(by_pos):
            for pb, kb in by_pos[i + 1:]:
                d = pb - pa
                if d > rel.max_distance:
                    break
                label = rel.predict(toks[pa + 1:pb], d)[0]
                out["rel"].add((doc_id, ka[1], kb[1], label))
    return out

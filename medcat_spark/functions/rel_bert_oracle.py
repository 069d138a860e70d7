"""Independent golden oracle for the ``kg_relations_bert`` query.

The engine side (``relations_bert``, bert_np.py) runs the numpy
RelCAT-BERT pair classifier distributed through the one scorer
operator's ``mapInArrow`` kernel (functions/scorer.py).  A transformer
forward is not SQL-expressible, so this module recomputes the expected
``(relation, n_pairs, avg_conf)`` rows with a fully INDEPENDENT
pipeline and emits them as literal ``VALUES``
dispatched on a fingerprint of the ``documents`` table — the same SQL
string is then correct at every known scale factor (the driver checks
sf0.01, ``tools/check_oracles.py`` checks sf0.001).

Independence from the engine path, piece by piece:

- mentions: the DuckDB word-split + offset-prefix-sum formulation that
  already hash-certifies ``ner_unigram_mentions``/``ner_offsets`` — no
  Spark, no engine tokenizer;
- pair windowing / marked-sequence build / truncation: reimplemented
  here from the reference semantics (rel_dataset.py:216-217 char-window
  + distinct-surface bounds) with a linear-scan token aligner instead
  of the engine's bisect version;
- transformer forward: a per-example, per-head brute-force
  implementation (explicit head loops, scalar tag search) — the same
  formulation family the parity pytest uses, NOT the engine's padded
  batched einsum path;
- shared with the engine: only the BBPE tokenizer instance (its
  encode is pytest-covered and certified through the meta oracles) and
  the fixture weight tensors themselves, which both sides must consume
  by definition.

Reference: ``relation_extraction/models.py:84-223`` (forward),
``utils/relation_extraction/ml_utils.py:243-304`` (tag pooling),
``rel_dataset.py:73-75,216-217`` (marked sequences, pair bounds).
"""

from __future__ import annotations

import math
import os
from decimal import ROUND_HALF_UP, Decimal
from typing import Dict, List, Tuple

import numpy as np

# the unigram demo dictionary driving _uni_ann (entry _UNI_DICT_SQL)
UNI_DICT = [("spark", "D001"), ("merge", "D002"), ("window", "D003"),
            ("vector", "D004"), ("stream", "D005"), ("filter", "D006")]

_MENTIONS_SQL = """
WITH toks AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id, text,
                     string_split(text, ' ') AS arr
              FROM read_parquet(?)),
tok AS (SELECT doc_id, unnest(arr) AS tok,
               generate_subscripts(arr, 1) AS pos FROM toks),
pos AS (SELECT doc_id, tok, pos,
        COALESCE(SUM(length(tok) + 1) OVER (
            PARTITION BY doc_id ORDER BY pos
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
        FROM tok)
SELECT p.doc_id, CAST(p.start AS INT) AS start,
       CAST(p.start + length(p.tok) AS INT) AS "end", d.cui
FROM pos p JOIN (VALUES {dict_rows}) AS d(name, cui) ON p.tok = d.name
ORDER BY p.doc_id, start
"""


def _spark_round4(x: float) -> float:
    """Spark ``round(double, 4)``: BigDecimal.valueOf (shortest decimal
    repr) then HALF_UP — ``repr`` + Decimal reproduces both steps."""
    return float(Decimal(repr(float(x))).quantize(
        Decimal("0.0001"), rounding=ROUND_HALF_UP))


def _brute_logits(model, seq: List[int]) -> np.ndarray:
    """Per-example brute-force RelCAT-BERT forward: explicit per-head
    attention loops and list-based tag search (independent of the
    engine's batched masked einsum path)."""
    enc = model.encoder
    L = len(seq)
    H = enc.word.shape[1]
    nh = enc.n_heads
    dh = H // nh

    def ln(x, w, b):
        mu = x.mean(-1, keepdims=True)
        var = x.var(-1, keepdims=True)
        return (x - mu) / np.sqrt(var + 1e-12) * w + b

    x = np.array([enc.word[t] + enc.pos[i] + enc.ttype[0]
                  for i, t in enumerate(seq)])
    x = ln(x, enc.eln_w, enc.eln_b)
    inv_sqrt2 = 1.0 / math.sqrt(2.0)
    for lay in enc.layers:
        ctx = np.zeros((L, H))
        for h in range(nh):
            sl = slice(h * dh, (h + 1) * dh)
            q = x @ lay.q_w.T[:, sl] + lay.q_b[sl]
            k = x @ lay.k_w.T[:, sl] + lay.k_b[sl]
            v = x @ lay.v_w.T[:, sl] + lay.v_b[sl]
            scores = q @ k.T / math.sqrt(dh)        # (L, L), no mask —
            w = np.exp(scores - scores.max(axis=1,  # exact-length seq
                                           keepdims=True))
            w /= w.sum(axis=1, keepdims=True)
            ctx[:, sl] = w @ v
        attn = ln(ctx @ lay.ao_w.T + lay.ao_b + x, lay.aln_w, lay.aln_b)
        inter = attn @ lay.i_w.T + lay.i_b
        flat = inter.ravel()
        erf = np.fromiter((math.erf(t * inv_sqrt2) for t in flat),
                          dtype=np.float64, count=flat.size)
        inter = (0.5 * flat * (1.0 + erf)).reshape(inter.shape)
        x = ln(inter @ lay.o_w.T + lay.o_b + attn, lay.oln_w, lay.oln_b)
    pooled = np.tanh(x[0] @ enc.pooler_w.T + enc.pooler_b)

    def tag_pool(start_tag, end_tag):
        s = seq.index(start_tag)
        e = seq.index(end_tag)
        return x[s + 1:e].max(axis=0)

    t1 = tag_pool(model.tag_ids[0], model.tag_ids[1])
    t2 = tag_pool(model.tag_ids[2], model.tag_ids[3])
    z = np.concatenate([pooled, t1, t2])
    z = z @ model.fc1_w.T + model.fc1_b
    z = z @ model.fc2_w.T + model.fc2_b
    return z @ model.fc3_w.T + model.fc3_b


def _token_range(spans: List[Tuple[int, int]], start: int, end: int):
    """Linear-scan aligner: first token whose span contains ``start``,
    last token starting at or before ``end - 1``."""
    cf = None
    for i, (s, e) in enumerate(spans):
        if s <= start < e:
            cf = i
            break
    if cf is None:
        return None
    cl = cf
    for i in range(len(spans) - 1, cf - 1, -1):
        if spans[i][0] <= end - 1:
            cl = max(cf, i)
            break
    return cf, cl


def golden_rows(sf_dir: str, model=None) -> List[Tuple[str, int, float]]:
    """Recompute the expected kg_relations_bert result for one sf dir."""
    import duckdb

    if model is None:
        from medcat_spark.functions.bert_np import relcat_bert_fixture_model
        model = relcat_bert_fixture_model()
    tok = model.tokenizer
    s1, e1m, s2, e2m = model.tag_ids
    cls_id, sep_id = tok.vocab["[CLS]"], tok.vocab["[SEP]"]
    body_budget = model.max_seq_length - 2

    dict_rows = ",".join("('%s','%s')" % r for r in UNI_DICT)
    con = duckdb.connect()
    ments = con.execute(
        _MENTIONS_SQL.format(dict_rows=dict_rows),
        [os.path.join(sf_dir, "documents.parquet")]).fetchall()
    texts = dict(con.execute(
        "SELECT CAST(doc_id AS VARCHAR), text FROM read_parquet(?)",
        [os.path.join(sf_dir, "documents.parquet")]).fetchall())
    con.close()

    by_doc: Dict[str, List[Tuple[int, int, str]]] = {}
    for doc_id, start, end, cui in ments:
        by_doc.setdefault(doc_id, []).append((start, end, cui))

    per_label: Dict[str, List[float]] = {}
    for doc_id, ents in by_doc.items():
        text = texts[doc_id]
        ids, spans = tok.encode_with_offsets(text)
        ents = sorted(ents, key=lambda t: (t[0], t[2]))
        for i, (sa, ea, ca) in enumerate(ents):
            for sb, eb, cb in ents[i + 1:]:
                if sb - sa > model.window_size_chars:
                    break
                if text[sa:ea] == text[sb:eb]:
                    continue
                ra = _token_range(spans, sa, ea)
                rb = _token_range(spans, sb, eb)
                if ra is None or rb is None or rb[0] <= ra[1]:
                    continue
                lo = max(0, ra[0] - model.cntx_left)
                hi = min(len(ids), rb[1] + 1 + model.cntx_right)
                if rb[1] - lo + 4 >= body_budget:
                    continue
                seq = (ids[lo:ra[0]] + [s1] + ids[ra[0]:ra[1] + 1] + [e1m]
                       + ids[ra[1] + 1:rb[0]] + [s2] + ids[rb[0]:rb[1] + 1]
                       + [e2m] + ids[rb[1] + 1:hi])[:body_budget]
                seq = [cls_id] + seq + [sep_id]
                lg = _brute_logits(model, seq)
                e = np.exp(lg - lg.max())
                conf = round(float(e.max() / e.sum()), 4)
                per_label.setdefault(model.labels[int(lg.argmax())],
                                     []).append(conf)
    return [(label, len(confs),
             _spark_round4(float(np.mean(confs))))
            for label, confs in sorted(per_label.items())]


def _doc_fingerprint(sf_dir: str) -> str:
    import duckdb
    con = duckdb.connect()
    # doc_ids alone collide across sf dirs (same id range, different
    # texts) — hash id AND text
    h, = con.execute(
        "SELECT md5(string_agg(CAST(doc_id AS VARCHAR) || ':' "
        "|| md5(text), ',' ORDER BY CAST(doc_id AS VARCHAR))) "
        "FROM read_parquet(?)",
        [os.path.join(sf_dir, "documents.parquet")]).fetchone()
    con.close()
    return h


_SQL_CACHE: Dict[str, str] = {}

# correctness surfaces only: the driver compares at sf0.01 and
# tools/check_oracles.py at sf0.001.  sf0.1 is bench-only (no oracle
# run) and would add ~10x golden-generation time for nothing.
GOLDEN_SF_DIRS = ("/root/testdata/sf0.001", "/root/testdata/sf0.01")


def _model_tag(model) -> str:
    """Cheap content hash of the fixture weights + vocab so a cached
    golden is invalidated when the fixture changes."""
    import hashlib
    h = hashlib.md5()
    h.update(np.ascontiguousarray(model.fc3_w).tobytes())
    h.update(np.ascontiguousarray(model.encoder.word).tobytes())
    h.update(str(sorted(model.tokenizer.vocab.items())).encode())
    return h.hexdigest()[:16]


def _cached_golden(sf_dir: str, model) -> List[Tuple[str, int, float]]:
    """Golden rows with a /tmp JSON cache keyed by (documents
    fingerprint, fixture-weights hash) — the brute recompute costs
    ~seconds per sf and the result is deterministic on that key."""
    import json
    import tempfile
    fp = _doc_fingerprint(sf_dir)
    key = f"{fp}-{_model_tag(model)}"
    path = os.path.join(tempfile.gettempdir(),
                        "medcat_spark_rel_bert_golden.json")
    cache = {}
    try:
        with open(path) as f:
            cache = json.load(f)
    except (OSError, ValueError):
        pass
    if key not in cache:
        cache[key] = [list(r) for r in golden_rows(sf_dir, model)]
        try:
            tmp = path + ".tmp.%d" % os.getpid()
            with open(tmp, "w") as f:
                json.dump(cache, f)
            os.replace(tmp, path)
        except OSError:
            pass
    return [(r[0], int(r[1]), float(r[2])) for r in cache[key]], fp


def rel_bert_oracle_sql() -> str:
    """The dispatching oracle: literal golden rows per known documents
    fingerprint, joined against the fingerprint of whatever
    ``documents`` view the checker registered."""
    key = "sql"
    if key in _SQL_CACHE:
        return _SQL_CACHE[key]
    from medcat_spark.functions.bert_np import relcat_bert_fixture_model
    model = relcat_bert_fixture_model()
    values = []
    for sf_dir in GOLDEN_SF_DIRS:
        if not os.path.exists(os.path.join(sf_dir, "documents.parquet")):
            continue
        rows, fp = _cached_golden(sf_dir, model)
        for label, n, avg in rows:
            values.append("('%s','%s',%d,%r)" % (fp, label, n, avg))
    sql = f"""
WITH fp AS (SELECT md5(string_agg(CAST(doc_id AS VARCHAR) || ':'
                    || md5(text), ','
                    ORDER BY CAST(doc_id AS VARCHAR))) AS h
            FROM documents),
g(h, relation, n_pairs, avg_conf) AS (VALUES {",".join(values)})
SELECT g.relation, CAST(g.n_pairs AS BIGINT) AS n_pairs,
       CAST(g.avg_conf AS DOUBLE) AS avg_conf
FROM g JOIN fp ON g.h = fp.h
"""
    _SQL_CACHE[key] = sql
    return sql

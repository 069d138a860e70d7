"""Exactly-once resume of the Iceberg KG sink under injected crashes,
and the model-pack round-trip (S4/S5/S6)."""

import numpy as np

from medcat_spark.config import EngineConfig
from medcat_spark.pipeline import annotate, broadcast_model
from medcat_spark.sources.iceberg import (IcebergKgSink, IcebergTable,
                                          resumable_annotate_iceberg)
from medcat_spark.sources.model_pack import load_model_pack, save_model_pack

KEY = ["doc_id", "start", "cui"]


class _Crash(Exception):
    pass


def _crash_after(monkeypatch, n):
    """Raise _Crash right after the n-th (0-based) data-file write or
    snapshot commit of any Iceberg table; returns the event counter."""
    events = [0]

    def wrap(fn):
        def inner(*a, **kw):
            out = fn(*a, **kw)
            events[0] += 1
            if events[0] == n + 1:
                raise _Crash(n)
            return out
        return inner

    for name in ("_write_data_files", "_commit_snapshot"):
        monkeypatch.setattr(IcebergTable, name,
                            wrap(getattr(IcebergTable, name)))
    return events


def test_resume_processes_each_doc_once(spark, docs_df, fixture_models,
                                        tmp_path):
    cdb, vocab = fixture_models
    bc = broadcast_model(spark, cdb, vocab, EngineConfig())
    out = str(tmp_path / "kg")

    m1 = resumable_annotate_iceberg(spark, docs_df, bc, out, max_docs=25)
    assert m1["n_docs"] == 25
    m2 = resumable_annotate_iceberg(spark, docs_df, bc, out, max_docs=25)
    assert m2["n_docs"] == 25
    m3 = resumable_annotate_iceberg(spark, docs_df, bc, out)   # the rest
    assert m3["n_docs"] == 10
    m4 = resumable_annotate_iceberg(spark, docs_df, bc, out)   # idempotent
    assert m4["n_docs"] == 0

    sink = IcebergKgSink(out)
    assert sink.committed_doc_ids(spark).count() == 60

    # committed annotations == single-shot annotate
    resumed = sink.read_annotations(spark)
    direct = annotate(docs_df, bc)
    assert resumed.select(*KEY).distinct().count() == \
        direct.select(*KEY).distinct().count()
    assert resumed.select(*KEY).exceptAll(direct.select(*KEY)).count() == 0

    # lineage rows exist and carry metrics
    lin = sink.read_lineage(spark).collect()
    assert sum(r["n_annotations"] for r in lin) == resumed.count()

    # manifests carry model/config hashes for snapshot validity
    for m in (m1, m2, m3):
        assert m["cdb_hash"] == cdb.content_hash()
        assert m["config_hash"] == EngineConfig().content_hash()


def test_crash_after_any_write_or_append_resumes_exactly_once(
        spark, docs_df, fixture_models, tmp_path, monkeypatch):
    """Two commits of 30 docs each, then an empty one, make 13 sink
    events (per commit: the staged processed_docs write, the annotations
    write and append, the lineage write and append, the processed_docs
    commit; then the empty staged write).  Crash after each one in turn,
    resume to completion, and the committed keys must equal a direct
    annotate with no duplicates."""
    cdb, vocab = fixture_models
    bc = broadcast_model(spark, cdb, vocab, EngineConfig())
    direct = sorted(tuple(r) for r in annotate(docs_df, bc)
                    .select(*KEY).collect())
    all_ids = sorted(r["doc_id"] for r in docs_df.select("doc_id")
                     .collect())
    n_events = None
    k = 0
    while n_events is None or k < n_events:
        out = str(tmp_path / f"kg{k}")
        with monkeypatch.context() as mp:
            events = _crash_after(mp, k)
            try:
                while resumable_annotate_iceberg(spark, docs_df, bc, out,
                                                 max_docs=30)["n_docs"]:
                    pass
                n_events = events[0]   # no crash: every event was seen
            except _Crash:
                pass
        while resumable_annotate_iceberg(spark, docs_df, bc, out)["n_docs"]:
            pass
        sink = IcebergKgSink(out)
        got = sorted(tuple(r) for r in sink.read_annotations(spark)
                     .select(*KEY).collect())
        assert got == direct, f"crash after event {k}"
        done = sorted(r["doc_id"] for r in sink.committed_doc_ids(spark)
                      .collect())
        assert done == all_ids, f"crash after event {k}"
        lin = sink.read_lineage(spark).collect()
        assert sum(r["n_annotations"] for r in lin) == len(direct)
        k += 1
    assert n_events == 13


def test_model_pack_roundtrip(fixture_models, tmp_path):
    cdb, vocab = fixture_models
    cfg = EngineConfig()
    path = str(tmp_path / "pack")
    man = save_model_pack(path, cdb, vocab, cfg)
    cdb2, vocab2, cfg2 = load_model_pack(path)

    assert cfg2 == cfg
    assert cdb2.name2cuis == cdb.name2cuis
    assert cdb2.name2cuis2status == cdb.name2cuis2status
    assert cdb2.snames == cdb.snames
    assert cdb2.cui2names == cdb.cui2names
    assert cdb2.cui2preferred_name == cdb.cui2preferred_name
    assert cdb2.cui2count_train == cdb.cui2count_train
    assert cdb2.vocab == cdb.vocab
    for c in cdb.cui2context_vectors:
        for ct in cdb.cui2context_vectors[c]:
            assert np.allclose(cdb2.cui2context_vectors[c][ct],
                               cdb.cui2context_vectors[c][ct])
    assert cdb2.content_hash() == cdb.content_hash() == man["cdb_hash"]
    for w in vocab.word2cnt:
        assert vocab2.word2cnt[w] == vocab.word2cnt[w]
        if vocab.vec(w) is not None:
            assert np.allclose(vocab2.vec(w), vocab.vec(w))

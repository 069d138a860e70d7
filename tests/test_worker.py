"""The one worker kernel (``worker.kernel``) and the per-task Python
floor it removes.

PySpark calls ``importlib.invalidate_caches()`` before every task; each
``zipimporter`` left in ``sys.path_importer_cache`` then re-reads its
archive.  ``worker.init`` drops them (and pins pyarrow to one thread),
so on a reused worker the next task's invalidation is near free.  Every
Python map site runs through ``worker.kernel``, which calls it at task
start: the engine has no ``mapInPandas`` and no hand-rolled batch loop.
"""

import importlib
import json
import os
import pathlib
import sys
import zipfile
import zipimport

import pytest

from medcat_spark import worker
from medcat_spark.functions.deid import match_rules
from medcat_spark.functions.media import (media_adpcm_stats,
                                          synth_adpcm_column)

_PKG = pathlib.Path(worker.__file__).parent


def _sources_with(needle):
    return sorted(p.relative_to(_PKG).as_posix()
                  for p in _PKG.rglob("*.py") if needle in p.read_text())


def test_engine_sources_have_one_worker_kernel():
    """No ``mapInPandas`` anywhere; Arrow batches are built only in the
    kernel skeleton; pandas only in the stateful streaming module
    (``applyInPandasWithState`` has no Arrow-state twin); ``init()``
    called only by the skeleton and the two Iceberg bucket UDFs."""
    assert _sources_with("mapInPandas") == []
    assert _sources_with("RecordBatch.from_pydict") == ["worker.py"]
    assert _sources_with("import pandas") == ["streaming/windows.py"]
    assert _sources_with("worker.init()") == ["sources/iceberg.py"]
    assert (_PKG / "sources/iceberg.py").read_text().count(
        "worker.init()") == 2


def test_kernel_runs_in_process_without_spark():
    """The skeleton needs no SparkContext: per-batch row dicts in,
    non-empty column dicts out as batches of the declared schema."""
    import pyarrow as pa
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType([StructField("x2", LongType())])

    def body(batches):
        for rows in batches:
            yield {"x2": [2 * r["x"] for r in rows if r["x"] % 2]}

    batches = (pa.table({"x": list(range(10))}).to_batches(max_chunksize=3)
               + [pa.record_batch({"x": [0, 2]})])   # yields no rows
    out = list(worker.kernel(schema, body)(iter(batches)))
    assert [rb.to_pydict() for rb in out] == [
        {"x2": [2]}, {"x2": [6, 10]}, {"x2": [14]}, {"x2": [18]}]
    assert all(rb.schema.field("x2").type == pa.int64() for rb in out)


def _mct_export(tmp_path):
    """One MCT document with two annotations (both carrying a Negation
    meta annotation) and one relation between them."""
    text = "the spark stream joins the sort table"
    w1, w2 = text.index("stream"), text.index("table")
    anns = [{"id": i + 1, "start": s, "end": s + len(v), "cui": f"C{i}",
             "value": v, "validated": True, "killed": False,
             "deleted": False,
             "meta_anns": {"Negation": {"name": "Negation",
                                        "value": "present"}}}
            for i, (s, v) in enumerate([(w1, "stream"), (w2, "table")])]
    rel = {"start_entity": 1, "start_entity_cui": "C0",
           "start_entity_value": "stream", "start_entity_start_idx": w1,
           "start_entity_end_idx": w1 + 6, "end_entity": 2,
           "end_entity_cui": "C1", "end_entity_value": "table",
           "end_entity_start_idx": w2, "end_entity_end_idx": w2 + 5,
           "relation": "Spatial", "validated": True}
    path = tmp_path / "export.json"
    path.write_text(json.dumps({"projects": [
        {"name": "p", "id": "p1", "cuis": "", "documents": [
            {"id": "d0", "name": "d0", "text": text, "annotations": anns,
             "relations": [rel]}]}]}))
    return str(path), text


def _texts(spark, texts):
    return spark.createDataFrame(list(enumerate(texts)),
                                 "doc_id long, text string")


def _op_prepared_names(spark, tmp_path):
    from medcat_spark.cdb_build import prepared_names
    return prepared_names(spark.createDataFrame(
        [(0, "C1", "kidney failure", "P")],
        "row_id long, cui string, name string, name_status string"))


def _op_word2vec(spark, tmp_path):
    from medcat_spark.word2vec import train_word2vec_sgns
    return train_word2vec_sgns(spark, _texts(spark, ["a b a b c"] * 4),
                               dim=4, min_count=1)


def _op_pca_partials(spark, tmp_path):
    from medcat_spark.model_ops import _pca_partials
    return _pca_partials(spark.createDataFrame(
        [("a", [1.0, 2.0]), ("b", None)], "word string, vec array<double>"))


def _op_project_vectors(spark, tmp_path):
    import numpy as np

    from medcat_spark.model_ops import _project_vectors
    return _project_vectors(
        spark.createDataFrame([("a", [1.0, 2.0])],
                              "word string, vec array<double>"),
        "vec", spark.sparkContext.broadcast(np.eye(1, 2)))


def _op_relation_samples(spark, tmp_path):
    from medcat_spark.functions.bert_np import relcat_bert_fixture_model
    from medcat_spark.functions.bert_train import mct_relation_samples
    return mct_relation_samples(spark, _mct_export(tmp_path)[0],
                                relcat_bert_fixture_model())


def _op_meta_samples(spark, tmp_path):
    from medcat_spark.core.bbpe import train_bbpe
    from medcat_spark.functions.lstm_train import mct_meta_samples
    path, text = _mct_export(tmp_path)
    return mct_meta_samples(spark, path, "Negation",
                            train_bbpe([text], vocab_size=40))


def _op_tag_spans_rnn(spark, tmp_path):
    from medcat_spark.functions.ner_model import (rnn_tagger_fixture_model,
                                                  tag_spans_rnn)
    return tag_spans_rnn(_texts(spark, ["alpha open beta close"]),
                         spark.sparkContext.broadcast(
                             rnn_tagger_fixture_model()))


def _op_bpe_token_counts(spark, tmp_path):
    from medcat_spark.core.bbpe import train_bbpe
    from medcat_spark.functions.bpe_train import bpe_token_counts
    return bpe_token_counts(_texts(spark, ["low lower lowest"]),
                            train_bbpe(["low lower lowest"], vocab_size=40))


def _op_match_rules(spark, tmp_path):
    return match_rules(_texts(spark, ["call 555-1234"]),
                       [(r"\d{3}-\d{4}", "PHONE")])


# one operator per map site besides annotate, the scorer, the context-vector
# trainers and media (those have their own plan tests)
_CONVERTED = {f.__name__[4:]: f for f in (
    _op_prepared_names, _op_word2vec, _op_pca_partials, _op_project_vectors,
    _op_relation_samples, _op_meta_samples, _op_tag_spans_rnn,
    _op_bpe_token_counts, _op_match_rules)}


@pytest.mark.parametrize("name", sorted(_CONVERTED))
def test_converted_operator_plans_as_one_map_in_arrow(spark, tmp_path, name):
    plan = (_CONVERTED[name](spark, tmp_path)._jdf.queryExecution()
            .executedPlan().toString())
    assert plan.count("MapInArrow") == 1, plan
    assert plan.count("MapInPandas") == 0, plan


def _with_null_id(spark, payload, ddl):
    """Two rows with the same payload: doc_id '7' and doc_id NULL."""
    return spark.createDataFrame([("7", payload), (None, payload)],
                                 f"doc_id string, {ddl}")


def _null_id_bytes(spark):
    import numpy as np

    from medcat_spark.functions.media import png_encode
    return _with_null_id(spark, png_encode(np.full((2, 3), 9, np.uint8)),
                         "media_bytes binary")


def _null_id_spans(spark):
    from medcat_spark.fixtures import fixture_documents
    spans = fixture_documents(1)[0]["spans"]
    return _with_null_id(spark, spans, "spans array<struct<kind:string,"
                         "text:string,media_ref:string,offset:int>>")


def _null_id_tag_spans_rnn(spark):
    from medcat_spark.functions.ner_model import (bracket_task_sentences,
                                                  rnn_tagger_fixture_model,
                                                  tag_spans_rnn)
    text = " ".join(bracket_task_sentences()[0][0])
    return tag_spans_rnn(_with_null_id(spark, text, "text string"),
                         spark.sparkContext.broadcast(
                             rnn_tagger_fixture_model()))


def _null_id_match_rules(spark):
    return match_rules(_with_null_id(spark, "call 555-1234", "text string"),
                       [(r"\d{3}-\d{4}", "PHONE")])


def _null_id_synth_column(spark):
    from medcat_spark.functions.media import synth_png_column
    return synth_png_column(spark.createDataFrame([(7,), (None,)],
                                                  "doc_id long"))


def _null_id_decode_head(spark):
    from medcat_spark.functions.media import media_pixel_stats
    return media_pixel_stats(_null_id_bytes(spark))


def _null_id_media_features_from_bytes(spark):
    from pyspark.sql import functions as F

    from medcat_spark.functions.media import media_features_from_bytes
    return media_features_from_bytes(
        _null_id_bytes(spark).withColumn("media_ref", F.lit("img://x")))


def _null_id_media_features(spark):
    from medcat_spark.functions.media import media_features
    return media_features(_null_id_spans(spark))


def _null_id_frame_sample(spark):
    from medcat_spark.functions.media import frame_sample
    return frame_sample(_null_id_spans(spark))


# every Python kernel that emits rows keyed by its input's doc_id
_NULL_ID = {f.__name__[9:]: f for f in (
    _null_id_tag_spans_rnn, _null_id_match_rules, _null_id_synth_column,
    _null_id_decode_head, _null_id_media_features_from_bytes,
    _null_id_media_features, _null_id_frame_sample)}


@pytest.mark.parametrize("name", sorted(_NULL_ID))
def test_null_doc_id_gives_no_rows(spark, name):
    """The annotate kernel's rule in every kernel: a row whose doc_id is
    NULL gives no rows — no rows under the string 'None', and no failed
    job — while the same payload under a doc_id does."""
    rows = _NULL_ID[name](spark).collect()
    assert rows and {r["doc_id"] for r in rows} == {"7"}


def test_init_drops_zip_importers_and_zip_imports_still_work(tmp_path):
    zpath = str(tmp_path / "floor_probe.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        z.writestr("floor_probe_mod.py", "VALUE = 42\n")
    sys.path.insert(0, zpath)
    try:
        sys.path_importer_cache[zpath] = zipimport.zipimporter(zpath)
        kept = {p: f for p, f in sys.path_importer_cache.items()
                if not isinstance(f, zipimport.zipimporter)}
        worker.init()
        assert zpath not in sys.path_importer_cache
        assert not any(isinstance(f, zipimport.zipimporter)
                       for f in sys.path_importer_cache.values())
        # every other finder (FileFinder, None) is left in place
        for p, f in kept.items():
            assert sys.path_importer_cache.get(p) is f
        # PathFinder rebuilds the importer on demand: the import works
        mod = importlib.import_module("floor_probe_mod")
        assert mod.VALUE == 42
        assert isinstance(sys.path_importer_cache[zpath],
                          zipimport.zipimporter)
    finally:
        sys.path.remove(zpath)
        sys.path_importer_cache.pop(zpath, None)
        sys.modules.pop("floor_probe_mod", None)


def test_reused_workers_start_tasks_without_zip_importers(spark, tmp_path):
    """Two waves of ``4 x cores`` tasks: on every worker process that
    already ran a task, the next task starts with no zip importer, its
    ``invalidate_caches()`` is fast and pyarrow is pinned.  Every map
    site runs through the kernel skeleton: after a wave that puts a zip
    importer back on every worker, a media operator wave, and then a
    ``match_rules`` wave, each leaves those workers starting their next
    task without one."""
    cores = spark.sparkContext.defaultParallelism
    n = 4 * cores

    def probe(batches):
        import time

        import pyarrow as pa

        from medcat_spark import worker as w
        zips = sum(isinstance(f, zipimport.zipimporter)
                   for f in list(sys.path_importer_cache.values()))
        t0 = time.perf_counter()
        importlib.invalidate_caches()
        ms = (time.perf_counter() - t0) * 1e3
        w.init()
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({
            "pid": [os.getpid()], "zips": [zips], "ms": [ms],
            "cpu": [pa.cpu_count()], "io": [pa.io_thread_count()]})

    schema = "pid long, zips long, ms double, cpu long, io long"
    df = spark.range(n).repartition(n).mapInArrow(probe, schema)
    first = {r.pid for r in df.collect()}
    second = [r for r in df.collect() if r.pid in first]
    assert second, "no Python worker was reused between the waves"
    for r in second:
        assert r.zips == 0, r
        assert r.ms < 20, r
        assert (r.cpu, r.io) == (1, 1), r

    zpath = str(tmp_path / "dirty.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        z.writestr("dirty_mod.py", "")

    def dirty(batches):
        import pyarrow as pa
        sys.path_importer_cache[zpath] = zipimport.zipimporter(zpath)
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"pid": [os.getpid()]})

    def peek(batches):
        import pyarrow as pa
        zips = sum(isinstance(f, zipimport.zipimporter)
                   for f in list(sys.path_importer_cache.values()))
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"pid": [os.getpid()],
                                          "zips": [zips]})

    def dirty_then(kernel_wave):
        """Put a zip importer back on every worker of one wave, run
        ``kernel_wave`` and return the next task's view of each of
        those workers."""
        dirtied = {r.pid for r in spark.range(n).repartition(n)
                   .mapInArrow(dirty, "pid long").collect()}
        kernel_wave()
        return [r for r in spark.range(n).repartition(n)
                .mapInArrow(peek, "pid long, zips long").collect()
                if r.pid in dirtied]

    # Spark hands idle workers out first-in first-out, so 2 x n kernel
    # runs reach every dirtied worker: synth + decode per media task,
    # and 2 x n match_rules tasks
    ids = spark.range(n).repartition(n).withColumnRenamed("id", "doc_id")
    docs = (spark.range(2 * n).repartition(2 * n)
            .selectExpr("id AS doc_id", "'call 555-1234' AS text"))

    def media_wave():
        assert media_adpcm_stats(synth_adpcm_column(ids)).count() == n

    def rules_wave():
        assert match_rules(docs, [(r"\d{3}-\d{4}", "PHONE")]).count() \
            == 2 * n

    for name, wave in (("media", media_wave), ("match_rules", rules_wave)):
        third = dirty_then(wave)
        assert third, f"no dirtied Python worker was reused ({name})"
        for r in third:
            assert r.zips == 0, (name, r)


class _Broadcast:
    """A broadcast stand-in for running a kernel in process: the model
    cache reads ``.value`` and keys on ``._path``."""

    def __init__(self, value, path):
        self.value = value
        self._path = path


def test_spell_index_built_once_per_model_entry_never_on_the_driver(
        spark, fixture_models, tmp_path, monkeypatch):
    """The spell checker's delete index is built lazily, once per
    executor model-cache entry (two tasks of one broadcast share it, a
    new broadcast gets a new one), and a KG commit never builds one on
    the driver although its workers do spell-fix."""
    import pyarrow as pa

    from medcat_spark import pipeline
    from medcat_spark.config import EngineConfig
    from medcat_spark.core.annotate import annotate_document
    from medcat_spark.core.normalizer import SpellChecker
    from medcat_spark.sources.iceberg import (IcebergKgSink,
                                              resumable_annotate_iceberg)

    built = []
    build = SpellChecker._build_index
    monkeypatch.setattr(SpellChecker, "_build_index",
                        lambda self: built.append(self) or build(self))
    cdb, vocab = fixture_models
    cfg = EngineConfig()
    texts = ["diabetis mellitus diagnosed last year",
             "patient with hypertensian and diabetis"]
    rows = [{"doc_id": f"d{i}", "text": t} for i, t in enumerate(texts)]
    batches = pa.Table.from_pylist(rows).to_batches(max_chunksize=1)

    def task(bc):
        return list(pipeline._annotate_batches(bc, False)(iter(batches)))

    a, b = (_Broadcast((cdb, vocab, cfg), p) for p in ("bc-a", "bc-b"))
    task(a)
    task(a)
    assert len(built) == 1
    assert built[0] is pipeline._MODEL_CACHE["bc-a"][3]
    index = built[0]._index
    task(b)
    assert len(built) == 2 and built[1] is not built[0]
    assert built[1]._index is not index
    expect = sorted((r["doc_id"], e.start, e.cui) for r in rows
                    for e in annotate_document(r["text"], cdb, vocab, cfg)[0])
    assert ("d0", 0, "C0006") in expect        # linked through the fix

    pipeline._MODEL_CACHE.clear()
    built.clear()
    bc = pipeline.broadcast_model(spark, cdb, vocab, cfg)
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    m = resumable_annotate_iceberg(spark, docs, bc, str(tmp_path / "kg"))
    assert m["n_docs"] == 2
    got = IcebergKgSink(str(tmp_path / "kg")).read_annotations(spark)
    assert sorted(tuple(r) for r in got.select(
        "doc_id", "start", "cui").collect()) == expect
    assert built == [] and pipeline._MODEL_CACHE == {}

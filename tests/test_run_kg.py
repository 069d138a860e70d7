"""jobs/run_kg.py end to end: resumable Iceberg commits, then the
triples tables.  ``main()`` stops its Spark session, so the job runs in
one child interpreter, four times over the same --out."""

import json
import os
import subprocess
import sys

from medcat_spark.config import EngineConfig
from medcat_spark.pipeline import annotate, broadcast_model
from medcat_spark.sources.iceberg import IcebergKgSink, IcebergTable
from medcat_spark.sources.model_pack import save_model_pack

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

RUNS = """
import sys
from jobs.run_kg import main
docs, pack, out = sys.argv[1:]
for extra in (["--max-docs", "25"], ["--max-docs", "25"], [],
              ["--max-docs", "25"]):
    main(["--docs", docs, "--model-pack", pack, "--out", out,
          "--master", "local[2]"] + extra)
"""


def test_run_kg_resumes_to_iceberg_triples(spark, docs_df, fixture_models,
                                          tmp_path):
    cdb, vocab = fixture_models
    pack, docs, out = (str(tmp_path / d) for d in ("pack", "docs", "kg"))
    save_model_pack(pack, cdb, vocab, EngineConfig())
    docs_df.write.parquet(docs)

    env = {**os.environ, "PYTHONPATH": ROOT, "SPARK_DRIVER_MEMORY": "2g"}
    proc = subprocess.run([sys.executable, "-c", RUNS, docs, pack, out],
                          cwd=ROOT, env=env, capture_output=True,
                          text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    manifests = [json.loads(line) for line in proc.stdout.splitlines()
                 if line.startswith("{")]
    assert [m["n_docs"] for m in manifests] == [25, 25, 10, 0]

    for table in ("mentions", "cooccurrence"):
        t = IcebergTable.load(os.path.join(out, "triples", table))
        assert t.to_df(spark).count() > 0

    key = ["doc_id", "start", "cui"]
    got = IcebergKgSink(out).read_annotations(spark).select(*key).collect()
    direct = annotate(docs_df, broadcast_model(spark, cdb, vocab,
                                               EngineConfig()))
    assert sorted(map(tuple, got)) == \
        sorted(map(tuple, direct.select(*key).collect()))


COMPONENT_RUNS = """
import sys
from jobs.run_kg import main
docs, pack, out = sys.argv[1:]
for _ in range(2):
    main(["--docs", docs, "--model-pack", pack, "--out", out,
          "--master", "local[2]", "--meta", "--relations"])
"""


def test_run_kg_meta_and_relations_write_iceberg_tables(
        spark, docs_df, fixture_models, tmp_path):
    """--meta scores two meta components in one pass, --relations the
    rel_* one; both land as Iceberg tables whose rows equal separate
    per-component scorer calls, the job line's counts are the tables'
    counts, and a re-run adds one REPLACE snapshot with the same rows."""
    import copy

    from medcat_spark.functions.bert_np import (relcat_bert_fixture_model,
                                                relations_bert)
    from medcat_spark.functions.lstm_meta import (lstm_fixture_model,
                                                  meta_annotations_lstm)
    from medcat_spark.sources.reference_pack import (
        load_component_dirs, write_reference_meta_component,
        write_reference_rel_component)

    cdb, vocab = fixture_models
    pack, docs, out = (str(tmp_path / d) for d in ("pack", "docs", "kg"))
    save_model_pack(pack, cdb, vocab, EngineConfig())
    rel = relcat_bert_fixture_model()
    subword = copy.copy(lstm_fixture_model())
    subword.tokenizer = rel.tokenizer
    write_reference_meta_component(os.path.join(pack, "meta_Negation"),
                                   lstm_fixture_model(), "Negation")
    write_reference_meta_component(os.path.join(pack, "meta_Status"),
                                   subword, "Status")
    write_reference_rel_component(os.path.join(pack, "rel_Spatial"), rel)
    docs_df.write.parquet(docs)

    env = {**os.environ, "PYTHONPATH": ROOT, "SPARK_DRIVER_MEMORY": "2g"}
    proc = subprocess.run(
        [sys.executable, "-c", COMPONENT_RUNS, docs, pack, out], cwd=ROOT,
        env=env, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    first, second = [json.loads(line) for line in proc.stdout.splitlines()
                     if line.startswith("{")]
    assert [first["n_docs"], second["n_docs"]] == [60, 0]
    assert "meta_skipped" not in first, first
    assert first["meta_components"] == ["Negation", "Status"]
    assert first["relation_component"] == "rel_Spatial"

    comps = load_component_dirs(pack)
    ann = IcebergKgSink(out).read_annotations(spark)
    src = spark.read.parquet(docs)
    sc = spark.sparkContext
    separate = {
        "meta_annotations": [
            r for name in ("Negation", "Status")
            for r in meta_annotations_lstm(
                ann, src, sc.broadcast(comps[name]), meta_name=name
            ).collect()],
        "triples/relations": relations_bert(
            ann, src, sc.broadcast(comps["rel_Spatial"])).collect(),
    }
    counts = {"meta_annotations": "n_meta_annotations",
              "triples/relations": "n_relation_triples"}
    for table, want in separate.items():
        t = IcebergTable.load(os.path.join(out, table))
        snaps = t.snapshots()
        assert [s["summary"]["operation"] for s in snaps] == \
            ["append", "overwrite"], table
        assert len(t.metadata["schemas"]) == 1, table
        want = sorted(map(tuple, want))
        assert want, table
        for snap, job in zip(snaps, (first, second)):
            rows = t.to_df(spark, snapshot_id=snap["snapshot-id"]).collect()
            assert sorted(map(tuple, rows)) == want, table
            assert job[counts[table]] == len(rows) == \
                int(snap["summary"]["added-records"]), table

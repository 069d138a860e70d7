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

"""KG-construction job entrypoint for spark-submit.

  spark-submit --py-files dist/medcat_spark.zip jobs/run_kg.py \
      --docs /path/docs.parquet --model-pack /path/pack \
      --out /path/kg --partitions 512 [--max-docs N]

Writes Iceberg tables under --out: ``annotations``, ``lineage`` and
``processed_docs`` (one sources/iceberg.IcebergKgSink commit per run;
a re-run annotates only the docs not yet in ``processed_docs``), then
``triples/mentions``, ``triples/cooccurrence`` and, with their flags,
``meta_annotations``, ``triples/relations``, ``embeddings`` and
``link_candidates`` — each recomputed from all committed annotations
as one REPLACE snapshot per run.  --export-rdf writes text shards under
``rdf/``.  Build the zip with ``python tools/package.py``.
"""

from __future__ import annotations

import argparse
import json
import sys


def _write_derived(spark, args, comps, docs, ann):
    """Write the derived tables; returns the job line's counts."""
    from medcat_spark.functions.scorer import score
    from medcat_spark.sources.iceberg import IcebergTable, overwrite_table
    from medcat_spark.triples import cooccurrence_triples, mention_triples

    stats = {}

    def replace(table, df):
        # one REPLACE snapshot; the count is its added-records
        loc = f"{args.out}/{table}"
        snap_id = overwrite_table(loc, df)
        snap = next(s for s in IcebergTable.load(loc).snapshots()
                    if s["snapshot-id"] == snap_id)
        return int(snap["summary"]["added-records"])

    replace("triples/mentions", mention_triples(ann, distinct=True))
    replace("triples/cooccurrence", cooccurrence_triples(ann))
    if args.meta:
        # meta heads only: rel_*/trf_* components load under their
        # prefixed names and are NOT meta-annotation scorers
        metas = sorted((k, v) for k, v in comps.items()
                       if k != "_skipped"
                       and not k.startswith(("rel_", "trf_")))
        if metas:
            heads = [(spark.sparkContext.broadcast(model), "centered", name)
                     for name, model in metas]
            stats["n_meta_annotations"] = replace(
                "meta_annotations", score(ann, docs, heads))
            stats["meta_components"] = [name for name, _ in metas]
    if args.relations:
        from medcat_spark.functions.bert_np import relations_bert
        rel_comps = sorted((k, v) for k, v in comps.items()
                           if k.startswith("rel_"))
        if not rel_comps:
            stats["relations_skipped"] = (
                "no loadable rel_* component in pack"
                + (" (see skip_reasons)" if comps.get("_skipped") else ""))
        else:
            name, model = rel_comps[0]
            if len(rel_comps) > 1:
                stats["relation_components_unused"] = [
                    k for k, _ in rel_comps[1:]]
            stats["n_relation_triples"] = replace(
                "triples/relations", relations_bert(
                    ann, docs, spark.sparkContext.broadcast(model)))
            stats["relation_component"] = name
    if args.export_rdf or args.embeddings or args.link_prediction:
        # the consumers read the co-occurrence table this run committed
        cooc = IcebergTable.load(
            f"{args.out}/triples/cooccurrence").to_df(spark)
        if args.export_rdf:
            from medcat_spark.sources.rdf import write_ntriples
            write_ntriples(cooc, f"{args.out}/rdf")
            stats["rdf_statements"] = \
                spark.read.text(f"{args.out}/rdf").count()
        if args.embeddings:
            from medcat_spark.functions.graph import (fastrp_embeddings,
                                                      transe_train)
            stats["embedding_rows"] = replace(
                "embeddings",
                fastrp_embeddings(cooc, dim=8)
                if args.embeddings == "fastrp"
                else transe_train(cooc, dim=8, iterations=2))
            stats["embedding_method"] = args.embeddings
        if args.link_prediction:
            from medcat_spark.functions.graph import (knn_graph,
                                                      link_prediction)
            stats["link_candidates"] = replace(
                "link_candidates", link_prediction(knn_graph(cooc, k=2)))
    return stats


def main(argv=None):
    p = argparse.ArgumentParser()
    p.add_argument("--docs", required=True)
    p.add_argument("--model-pack", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--partitions", type=int, default=None)
    p.add_argument("--max-docs", type=int, default=None)
    p.add_argument("--dedup", action="store_true",
                   help="fuzzy-dedup the corpus first and annotate only "
                        "cluster keepers (functions/dedup.dedup_clusters)")
    p.add_argument("--dedup-min-jaccard", type=float, default=0.2)
    p.add_argument("--master", default=None)
    p.add_argument("--meta", action="store_true",
                   help="run the pack's meta_* components (LSTM heads "
                        "from torch-format checkpoints) over the "
                        "committed annotations -> out/meta_annotations")
    p.add_argument("--relations", action="store_true",
                   help="run the pack's rel_* component (BERT/LLaMA/"
                        "ModernBERT pair classifier) over the committed "
                        "annotations -> out/triples/relations")
    p.add_argument("--export-rdf", action="store_true",
                   help="serialize the co-occurrence triples as RDF "
                        "N-Triples shards (RDF-star evidence counts) "
                        "-> out/rdf")
    p.add_argument("--embeddings", choices=("fastrp", "transe"),
                   default=None,
                   help="materialize node embeddings over the "
                        "co-occurrence graph -> out/embeddings")
    p.add_argument("--link-prediction", action="store_true",
                   help="score missing-edge candidates (common-"
                        "neighbors/Jaccard/Adamic-Adar on the kNN "
                        "affinity graph) -> out/link_candidates")
    args = p.parse_args(argv)

    from medcat_spark.pipeline import broadcast_model
    from medcat_spark.session import get_spark
    from medcat_spark.sources.iceberg import (IcebergKgSink,
                                              resumable_annotate_iceberg)
    from medcat_spark.sources.model_pack import (is_reference_pack,
                                                 load_model_pack)

    spark = get_spark("medcat-spark-kg", master=args.master)
    # ONE pack load: components come along when --meta asks for them
    comps: dict = {}
    is_ref = is_reference_pack(args.model_pack)
    if args.model_pack.endswith(".zip") and not is_ref:
        raise ValueError(f"{args.model_pack}: zip does not contain cdb.dat")
    if is_ref:
        from medcat_spark.sources.reference_pack import load_reference_pack
        cdb, vocab, cfg, comps = load_reference_pack(
            args.model_pack,
            load_components=args.meta or args.relations)
    else:
        cdb, vocab, cfg = load_model_pack(args.model_pack)
        if args.meta or args.relations:
            # columnar packs can carry component dirs too (written by
            # jobs/train_model.py --train-meta); scan the same way
            from medcat_spark.sources.reference_pack import (
                load_component_dirs)
            comps = load_component_dirs(args.model_pack)
            if len(comps) == 1:  # only _skipped, nothing found
                comps["_skipped"].append(
                    (args.model_pack, "columnar pack: no component dirs"))
    bc = broadcast_model(spark, cdb, vocab, cfg)
    docs = spark.read.parquet(args.docs)

    if args.dedup:
        # annotate only cluster keepers: for interleaved docs the dedup
        # text is the concatenated text spans (JVM expression — the same
        # content the annotate kernel reconstructs)
        from pyspark.sql import functions as F

        from medcat_spark.functions.dedup import dedup_clusters
        if "spans" in docs.columns:
            dd = docs.select(
                "doc_id",
                F.concat_ws(" ", F.transform(
                    F.filter("spans", lambda s: s["kind"] == "text"),
                    lambda s: s["text"])).alias("text"))
        else:
            dd = docs.select("doc_id", "text")
        clusters = dedup_clusters(dd, min_jaccard=args.dedup_min_jaccard)
        # one row per doc: both counts from one aggregate job
        n_before, n_after = clusters.agg(
            F.count("*"), F.count_if("is_keeper")).first()
        docs = docs.join(clusters.where("is_keeper").select("doc_id"),
                         "doc_id")
        dedup_stats = {"dedup_docs_in": n_before,
                       "dedup_keepers": n_after,
                       "dedup_dropped": n_before - n_after}
    else:
        dedup_stats = {}

    manifest = resumable_annotate_iceberg(
        spark, docs, bc, args.out, num_partitions=args.partitions,
        max_docs=args.max_docs, config=cfg)
    ann = IcebergKgSink(args.out).read_annotations(spark)
    meta_stats = {}
    if (args.meta or args.relations) and comps.get("_skipped"):
        meta_stats["meta_skipped"] = [c[0] for c in comps["_skipped"]]
        meta_stats["skip_reasons"] = {c[0]: c[1]
                                      for c in comps["_skipped"]}
    if ann is not None:
        meta_stats.update(_write_derived(spark, args, comps, docs, ann))
    print(json.dumps({**manifest, **dedup_stats, **meta_stats}))
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])

"""Iceberg v2 table format: avro container round-trip, snapshot commits,
time travel, partition pruning from metadata, atomic commit semantics,
and the resumable KG sink (checkpoint protocol over real Iceberg
metadata).  North-rule coverage: 'materializing triples into Iceberg
graph tables', 'resumable from Iceberg snapshot checkpoints'."""

import json
import os

import pytest

from medcat_spark.sources.iceberg import (
    IcebergKgSink, IcebergTable, avro_read_container, avro_write_container,
    deserialize_bound, manifest_entry_schema, serialize_bound,
    spark_schema_to_iceberg, _truncate_upper,
)


# ---------------------------------------------------------------------------
# Avro layer (no Spark)
# ---------------------------------------------------------------------------

def test_avro_container_roundtrip(tmp_path):
    schema = {"type": "record", "name": "t", "fields": [
        {"name": "a", "type": "long"},
        {"name": "b", "type": "string"},
        {"name": "c", "type": ["null", "double"], "default": None},
        {"name": "d", "type": {"type": "array", "items": "int"}},
        {"name": "e", "type": {"type": "map", "values": "bytes"}},
        {"name": "f", "type": "boolean"},
        {"name": "g", "type": ["null", {"type": "record", "name": "sub",
                                        "fields": [{"name": "x",
                                                    "type": "float"}]}],
         "default": None},
    ]}
    records = [
        {"a": -1, "b": "héllo", "c": None, "d": [1, -2, 3],
         "e": {"k": b"\x00\xff"}, "f": True, "g": {"x": 1.5}},
        {"a": 2 ** 40, "b": "", "c": 3.25, "d": [],
         "e": {}, "f": False, "g": None},
    ]
    path = str(tmp_path / "t.avro")
    n = avro_write_container(path, schema, records, meta={"k": "v"})
    assert n == os.path.getsize(path)
    rschema, rrecords, meta = avro_read_container(path)
    assert rschema == schema
    assert meta["k"] == b"v"
    # floats come back as float32
    assert rrecords[0]["g"]["x"] == pytest.approx(1.5)
    rrecords[0]["g"]["x"] = 1.5
    assert rrecords == records


def test_avro_empty_container(tmp_path):
    schema = {"type": "record", "name": "t",
              "fields": [{"name": "a", "type": "long"}]}
    path = str(tmp_path / "e.avro")
    avro_write_container(path, schema, [])
    _s, records, _m = avro_read_container(path)
    assert records == []


def test_single_value_bounds_roundtrip():
    for t, v in [("int", -7), ("long", 2 ** 50), ("float", 0.5),
                 ("double", -1.25), ("boolean", True), ("string", "ab¢")]:
        assert deserialize_bound(t, serialize_bound(t, v)) == v
    # int is 4 bytes, long is 8 (spec Appendix D)
    assert len(serialize_bound("int", 1)) == 4
    assert len(serialize_bound("long", 1)) == 8


def test_truncate_upper_still_upper_bounds():
    s = "abcdefghijklmnopqrstuvwxyz"
    t = _truncate_upper(s, 16)
    assert len(t) == 16 and t > s
    assert _truncate_upper("short", 16) == "short"


def test_schema_conversion_assigns_unique_ids():
    from pyspark.sql import types as T
    st = T.StructType([
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(T.StructType([
            T.StructField("kind", T.StringType()),
            T.StructField("offset", T.IntegerType()),
        ])), True),
        T.StructField("n", T.LongType(), True),
    ])
    ice = spark_schema_to_iceberg(st)
    ids = []

    def walk(t):
        if isinstance(t, dict):
            if t.get("type") == "struct":
                for f in t["fields"]:
                    ids.append(f["id"])
                    walk(f["type"])
            elif t.get("type") == "list":
                ids.append(t["element-id"])
                walk(t["element"])
    walk(ice)
    assert len(ids) == len(set(ids)) == 6
    assert ice["last-column-id"] == max(ids)
    assert ice["fields"][0]["required"] is True


def test_manifest_entry_schema_carries_spec_field_ids():
    s = manifest_entry_schema([])
    by_name = {f["name"]: f for f in s["fields"]}
    assert by_name["status"]["field-id"] == 0
    assert by_name["data_file"]["field-id"] == 2
    df = {f["name"]: f for f in by_name["data_file"]["type"]["fields"]}
    assert df["file_path"]["field-id"] == 100
    assert df["record_count"]["field-id"] == 103
    assert df["lower_bounds"]["field-id"] == 125


# ---------------------------------------------------------------------------
# Table layer
# ---------------------------------------------------------------------------

@pytest.fixture()
def triples_df(spark):
    rows = [(f"doc:{i:03d}", "mentions", f"cui:C{i % 5}", f"{i % 4}")
            for i in range(40)]
    return spark.createDataFrame(
        rows, "subj string, pred string, obj string, bucket string")


def test_create_append_read_roundtrip(spark, triples_df, tmp_path):
    loc = str(tmp_path / "kg")
    t = IcebergTable.create(loc, triples_df.schema)
    snap = t.append_dataframe(triples_df)
    assert t.current_snapshot_id() == snap
    back = IcebergTable.load(loc).to_df(spark)
    assert sorted(back.collect()) == sorted(triples_df.collect())
    # spec-required metadata fields present
    md = IcebergTable.load(loc).metadata
    for k in ("format-version", "table-uuid", "last-sequence-number",
              "last-column-id", "schemas", "partition-specs",
              "sort-orders", "current-snapshot-id"):
        assert k in md
    assert md["format-version"] == 2


def test_two_appends_time_travel_and_rollback(spark, triples_df, tmp_path):
    loc = str(tmp_path / "kg2")
    t = IcebergTable.create(loc, triples_df.schema)
    first = triples_df.filter("subj < 'doc:020'")
    second = triples_df.filter("subj >= 'doc:020'")
    s1 = t.append_dataframe(first)
    s2 = t.append_dataframe(second)
    t2 = IcebergTable.load(loc)
    assert [s["snapshot-id"] for s in t2.snapshots()] == [s1, s2]
    assert t2.snapshots()[1]["parent-snapshot-id"] == s1
    assert t2.to_df(spark).count() == 40
    assert t2.to_df(spark, snapshot_id=s1).count() == first.count()
    # rollback = metadata-only pointer move
    t2.rollback(s1)
    t3 = IcebergTable.load(loc)
    assert t3.current_snapshot_id() == s1
    assert t3.to_df(spark).count() == first.count()
    # snapshots are retained after rollback
    assert len(t3.snapshots()) == 2


def test_partition_pruning_from_metadata(spark, triples_df, tmp_path):
    loc = str(tmp_path / "kgp")
    t = IcebergTable.create(loc, triples_df.schema,
                            partition_by=["bucket"])
    t.append_dataframe(triples_df)
    t = IcebergTable.load(loc)
    all_files = t.scan_files()
    pruned = t.scan_files(partition_filter={"bucket": "2"})
    assert 0 < len(pruned) < len(all_files)
    assert all(d["partition"]["bucket"] == "2" for d in pruned)
    df = t.to_df(spark, partition_filter={"bucket": "2"})
    expected = triples_df.filter("bucket = '2'")
    assert sorted(df.collect()) == sorted(expected.collect())
    # identity-partition column restored from metadata, full read too
    assert sorted(t.to_df(spark).collect()) == sorted(triples_df.collect())


def test_murmur3_spec_vectors():
    """The Iceberg spec's own Appendix B bucket test vectors."""
    import struct
    from medcat_spark.sources.iceberg import (bucket_value, murmur3_32,
                                              truncate_value)
    assert murmur3_32(struct.pack("<q", 34)) == 2017239379
    assert murmur3_32("iceberg".encode()) == 1210000089
    # int and long hash identically (both as 8-byte little-endian)
    assert bucket_value(34, 16, "int") == bucket_value(34, 16, "long")
    assert bucket_value(None, 16, "string") is None
    # truncate floors for negatives (spec: v - (v mod W))
    assert truncate_value(-1, 10, "int") == -10
    assert truncate_value(7, 10, "long") == 0
    assert truncate_value("iceberg", 3, "string") == "ice"


def test_bucket_partition_roundtrip_and_pruning(spark, triples_df,
                                                tmp_path):
    """bucket[4] on subj: data lands in hashed dirs, source column
    stays in the files, an equality filter on the SOURCE column prunes
    to exactly one bucket via the spec's predicate transformation."""
    from medcat_spark.sources.iceberg import bucket_value
    loc = str(tmp_path / "kgbk")
    t = IcebergTable.create(loc, triples_df.schema,
                            partition_by=[("subj", "bucket[4]")])
    t.append_dataframe(triples_df)
    t = IcebergTable.load(loc)
    spec = t.partition_spec()["fields"][0]
    assert spec["transform"] == "bucket[4]"
    assert spec["name"] == "subj_bucket"
    # full read restores everything (source cols live in the files)
    assert sorted(t.to_df(spark).collect()) == sorted(triples_df.collect())
    buckets = {d["partition"]["subj_bucket"] for d in t.scan_files()}
    assert buckets == {bucket_value(f"doc:{i:03d}", 4, "string")
                       for i in range(40)}
    # source-column equality prunes to one bucket's files
    want = "doc:007"
    hit = t.scan_files(partition_filter={"subj": want})
    assert {d["partition"]["subj_bucket"] for d in hit} == \
        {bucket_value(want, 4, "string")}
    df = t.to_df(spark, partition_filter={"subj": want})
    assert df.filter(f"subj = '{want}'").count() == 1
    # filtering by the transformed field name directly also works
    b = bucket_value(want, 4, "string")
    assert {d["partition"]["subj_bucket"]
            for d in t.scan_files(partition_filter={"subj_bucket": b})} \
        == {b}


def test_bucket_long_above_2_53_with_null_in_batch(spark, tmp_path):
    """bucket[16] on a long column whose values above 2^53 share one
    Arrow batch with a NULL: each row lands in its spec bucket (the hash
    sees the exact int64, never a float64 copy) and the NULL in the
    null partition."""
    from medcat_spark.sources.iceberg import bucket_value
    ids = [2 ** 53 + 1, 2 ** 60 + 3, 2 ** 62 + 7, 2 ** 53 + 11, None]
    df = spark.createDataFrame([(v, str(v)) for v in ids],
                               "id long, v string").coalesce(1)
    loc = str(tmp_path / "bklong")
    t = IcebergTable.create(loc, df.schema,
                            partition_by=[("id", "bucket[16]")])
    t.append_dataframe(df)
    t = IcebergTable.load(loc)
    assert {d["partition"]["id_bucket"] for d in t.scan_files()} == \
        {bucket_value(v, 16, "long") for v in ids}
    assert sorted(t.to_df(spark).collect(), key=str) == \
        sorted(df.collect(), key=str)
    for v in ids[:-1]:     # the source-column lookup prunes to v's bucket
        hit = t.to_df(spark, partition_filter={"id": v})
        assert [r["v"] for r in hit.filter(f"id = {v}").collect()] == [str(v)]


def test_truncate_partition_roundtrip_and_pruning(spark, triples_df,
                                                  tmp_path):
    """truncate[5] on obj ('cui:C0'...'cui:C4' → prefix 'cui:C') plus a
    long truncate table; pruning through the source predicate."""
    from pyspark.sql import functions as F
    loc = str(tmp_path / "kgtr")
    t = IcebergTable.create(loc, triples_df.schema,
                            partition_by=[("obj", "truncate[6]")])
    t.append_dataframe(triples_df)
    t = IcebergTable.load(loc)
    assert sorted(t.to_df(spark).collect()) == sorted(triples_df.collect())
    parts = {d["partition"]["obj_trunc"] for d in t.scan_files()}
    assert parts == {f"cui:C{i}" for i in range(5)}
    hit = t.scan_files(partition_filter={"obj": "cui:C3"})
    assert {d["partition"]["obj_trunc"] for d in hit} == {"cui:C3"}
    # long truncate: negative values floor to the lower boundary
    loc2 = str(tmp_path / "kgtl")
    df2 = spark.range(100).select((F.col("id") - 50).alias("n"))
    t2 = IcebergTable.create(loc2, df2.schema,
                             partition_by=[("n", "truncate[20]")])
    t2.append_dataframe(df2)
    t2 = IcebergTable.load(loc2)
    assert {d["partition"]["n_trunc"] for d in t2.scan_files()} == \
        {-60, -40, -20, 0, 20, 40}
    # -41 truncates to bucket -60, which holds -60..-41; the table only
    # contains -50..-41 of those = 10 rows
    assert t2.to_df(spark, partition_filter={"n": -41}).count() == 10


def test_manifest_stats_and_summaries(spark, triples_df, tmp_path):
    loc = str(tmp_path / "kgs")
    t = IcebergTable.create(loc, triples_df.schema,
                            partition_by=["bucket"])
    t.append_dataframe(triples_df.coalesce(1))
    t = IcebergTable.load(loc)
    files = t.scan_files()
    total = sum(d["record_count"] for d in files)
    assert total == 40
    # lower/upper bounds recorded for the string columns
    d = next(f for f in files if f["partition"]["bucket"] == "0")
    by_id = {e["key"]: e["value"] for e in d["lower_bounds"]}
    subj_id = next(f["id"] for f in t.schema()["fields"]
                   if f["name"] == "subj")
    assert deserialize_bound("string", by_id[subj_id]).startswith("doc:")
    # manifest-list partition summaries bound the partition values
    mfs = t._manifest_files(None)
    s = mfs[0]["partitions"][0]
    assert deserialize_bound("string", s["lower_bound"]) == "0"
    assert deserialize_bound("string", s["upper_bound"]) == "3"
    assert s["contains_null"] is False


def test_value_filter_file_skipping(spark, triples_df, tmp_path):
    """Bounds-based data skipping: on range-sorted data, an equality
    value_filter prunes files whose [lower, upper] cannot contain the
    value — and never prunes a file that does contain it."""
    loc = str(tmp_path / "kgb")
    t = IcebergTable.create(loc, triples_df.schema)
    # range-partitioned write → disjoint subj ranges per file
    t.append_dataframe(triples_df.repartitionByRange(4, "subj")
                       .sortWithinPartitions("subj"))
    t = IcebergTable.load(loc)
    all_files = t.scan_files()
    assert len(all_files) == 4
    hit = t.scan_files(value_filter={"subj": "doc:000"})
    assert 0 < len(hit) < len(all_files)
    rows = spark.read.parquet(*[d["file_path"] for d in hit]) \
        .filter("subj = 'doc:000'").count()
    assert rows == 1
    # a value outside every file's range prunes everything
    assert t.scan_files(value_filter={"subj": "zzz"}) == []
    # long bounds skip correctly too (little-endian encoding must not
    # break ordering — bounds are compared as deserialized values)
    from pyspark.sql import functions as F
    loc2 = str(tmp_path / "kgl")
    df2 = spark.range(1000).select((F.col("id") - 500).alias("n"))
    t2 = IcebergTable.create(loc2, df2.schema)
    t2.append_dataframe(df2.repartitionByRange(4, "n")
                        .sortWithinPartitions("n"))
    t2 = IcebergTable.load(loc2)
    hit2 = t2.scan_files(value_filter={"n": -499})
    assert 0 < len(hit2) < 4
    assert t2.scan_files(value_filter={"n": 10_000}) == []


def test_commit_is_atomic_under_crash_before_metadata(spark, triples_df,
                                                      tmp_path):
    """Data files + manifests written but the metadata version never
    created (crash mid-commit): readers keep seeing the old snapshot —
    the orphaned files are invisible garbage, not a torn table."""
    loc = str(tmp_path / "kga")
    t = IcebergTable.create(loc, triples_df.schema)
    s1 = t.append_dataframe(triples_df.limit(10))
    # simulate the crashed writer's leftovers: an extra parquet file +
    # manifest that no committed metadata references
    data_dir = os.path.join(loc, "data", "orphan")
    triples_df.limit(5).write.parquet(data_dir)
    seen = IcebergTable.load(loc)
    assert seen.current_snapshot_id() == s1
    assert seen.to_df(spark).count() == 10


def test_stale_version_hint_is_probed_past(spark, triples_df, tmp_path):
    """The hint is best-effort: a crash after metadata creation but
    before the hint update must not hide the committed snapshot."""
    loc = str(tmp_path / "kgh")
    t = IcebergTable.create(loc, triples_df.schema)
    t.append_dataframe(triples_df.limit(10))
    mdir = IcebergTable._metadata_dir(loc)
    with open(os.path.join(mdir, "version-hint.text"), "w") as f:
        f.write("1")  # stale: points at the pre-append version
    seen = IcebergTable.load(loc)
    assert seen.to_df(spark).count() == 10


def test_concurrent_appends_serialize(spark, triples_df, tmp_path):
    """Two writers loaded at the same base version both append: the
    loser retries against the winner's metadata and neither snapshot
    is lost (serializable appends)."""
    loc = str(tmp_path / "kgc")
    IcebergTable.create(loc, triples_df.schema)
    w1 = IcebergTable.load(loc)
    w2 = IcebergTable.load(loc)  # same base version as w1
    s1 = w1.append_dataframe(triples_df.filter("subj < 'doc:020'"))
    s2 = w2.append_dataframe(triples_df.filter("subj >= 'doc:020'"))
    final = IcebergTable.load(loc)
    ids = [s["snapshot-id"] for s in final.snapshots()]
    assert set(ids) == {s1, s2}
    # the retried commit re-parented onto the winner
    assert final.snapshots()[1]["parent-snapshot-id"] == ids[0]
    assert final.to_df(spark).count() == 40
    seqs = [s["sequence-number"] for s in final.snapshots()]
    assert seqs == [1, 2]


def test_schema_evolution_add_column(spark, triples_df, tmp_path):
    """Add-column evolution: new schema-id + fresh field-id; files
    written before the column read back as null."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T
    loc = str(tmp_path / "kgv")
    t = IcebergTable.create(loc, triples_df.schema)
    t.append_dataframe(triples_df.limit(10))
    t.add_column("conf", T.DoubleType())
    with pytest.raises(ValueError):
        t.add_column("conf", T.DoubleType())
    t2 = IcebergTable.load(loc)
    assert t2.metadata["current-schema-id"] == 1
    assert len(t2.metadata["schemas"]) == 2
    new_id = next(f["id"] for f in t2.schema()["fields"]
                  if f["name"] == "conf")
    old_max = max(f["id"] for f in t2.metadata["schemas"][0]["fields"])
    assert new_id > old_max  # field-ids are never reused
    t2.append_dataframe(triples_df.limit(5).withColumn(
        "conf", F.lit(0.9)))
    back = t2.to_df(spark)
    assert back.count() == 15
    assert back.filter("conf IS NULL").count() == 10
    assert back.filter("conf = 0.9").count() == 5


def test_empty_table_reads_empty(spark, triples_df, tmp_path):
    loc = str(tmp_path / "kge")
    t = IcebergTable.create(loc, triples_df.schema)
    assert t.to_df(spark).count() == 0
    assert t.scan_files() == []


def test_nested_schema_roundtrip(spark, docs_df, tmp_path):
    """The interleaved documents table (array<struct>) round-trips —
    the input_hint shape itself can live in Iceberg."""
    loc = str(tmp_path / "docs_ice")
    t = IcebergTable.create(loc, docs_df.schema)
    t.append_dataframe(docs_df)
    back = IcebergTable.load(loc).to_df(spark)
    assert back.schema == docs_df.schema
    a = sorted(r.doc_id for r in back.collect())
    b = sorted(r.doc_id for r in docs_df.collect())
    assert a == b


# ---------------------------------------------------------------------------
# Resumable KG sink
# ---------------------------------------------------------------------------

def test_resumable_annotate_iceberg_parity(spark, docs_df, fixture_models,
                                           tmp_path):
    """The Iceberg-backed resumable annotate commits each doc exactly
    once across resumed runs and matches single-shot annotate."""
    from medcat_spark.config import EngineConfig
    from medcat_spark.pipeline import annotate, broadcast_model
    from medcat_spark.sources.iceberg import resumable_annotate_iceberg
    cdb, vocab = fixture_models
    bc = broadcast_model(spark, cdb, vocab, EngineConfig())
    out = str(tmp_path / "kg_ice")

    m1 = resumable_annotate_iceberg(spark, docs_df, bc, out, max_docs=25)
    assert m1["n_docs"] == 25
    m2 = resumable_annotate_iceberg(spark, docs_df, bc, out, max_docs=25)
    assert m2["n_docs"] == 25
    m3 = resumable_annotate_iceberg(spark, docs_df, bc, out)
    assert m3["n_docs"] == 10
    m4 = resumable_annotate_iceberg(spark, docs_df, bc, out)
    assert m4["n_docs"] == 0 and m4["n_annotations"] == 0

    sink = IcebergKgSink(out)
    assert sink.committed_doc_ids(spark).count() == 60
    resumed = sink.read_annotations(spark)
    direct = annotate(docs_df, bc)
    key = ["doc_id", "start", "cui"]
    assert resumed.select(*key).distinct().count() == \
        direct.select(*key).distinct().count()
    assert resumed.select(*key).exceptAll(direct.select(*key)).count() == 0
    # one Iceberg snapshot per non-empty commit, on all three tables
    for name in ("annotations", "lineage", "processed_docs"):
        t = IcebergTable.load(os.path.join(out, name))
        assert len(t.snapshots()) == 3
    # lineage metrics add up
    lin = sink.read_lineage(spark).collect()
    assert sum(r["n_annotations"] for r in lin) == resumed.count()
    # snapshot summaries carry the model/config hashes
    ann_t = IcebergTable.load(os.path.join(out, "annotations"))
    assert all(s["summary"]["cdb-hash"] == cdb.content_hash()
               for s in ann_t.snapshots())


def test_expire_snapshots_gc(spark, triples_df, tmp_path):
    """Expiry drops old snapshots from metadata and deletes files only
    they referenced; shared files (still referenced by kept snapshots)
    survive."""
    loc = str(tmp_path / "gc")
    t = IcebergTable.create(loc, triples_df.schema)
    t.append_dataframe(triples_df.limit(10))   # s1
    t.append_dataframe(triples_df.limit(5))    # s2 (keeps s1's files)
    t = IcebergTable.load(loc)
    s2_files = {d["file_path"] for d in t.scan_files()}
    stats = t.expire_snapshots(keep_last=1)
    assert stats["expired"] == 1
    # s1's manifest list is gone, but every s2-referenced file survives
    t2 = IcebergTable.load(loc)
    assert len(t2.snapshots()) == 1
    assert t2.to_df(spark).count() == 15
    assert {d["file_path"] for d in t2.scan_files()} == s2_files
    assert all(os.path.isfile(p) for p in s2_files)
    # expiring below the current snapshot is refused
    with pytest.raises(ValueError):
        t2.expire_snapshots(keep_last=0)


def test_overwrite_table_replace_semantics(spark, triples_df, tmp_path):
    from medcat_spark.sources.iceberg import overwrite_table
    loc = str(tmp_path / "ow")
    overwrite_table(loc, triples_df.limit(30))
    overwrite_table(loc, triples_df.limit(7))
    t = IcebergTable.load(loc)
    assert t.to_df(spark).count() == 7  # REPLACE, not append
    snaps = t.snapshots()
    assert len(snaps) == 2  # old snapshot stays time-travelable
    assert t.to_df(spark, snapshot_id=snaps[0]["snapshot-id"]).count() == 30
    assert snaps[1]["summary"]["operation"] == "overwrite"


def test_overwrite_table_replaces_a_changed_schema(spark, triples_df,
                                                   tmp_path):
    """A REPLACE with other columns (run_kg --embeddings fastrp, then
    transe, into one table) reads back as the new rows under the new
    schema; the same columns again add no schema."""
    from medcat_spark.sources.iceberg import overwrite_table
    loc = str(tmp_path / "ow")
    overwrite_table(loc, triples_df)
    other = triples_df.selectExpr("subj AS node", "length(obj) AS d")
    for _ in range(2):
        overwrite_table(loc, other)
    t = IcebergTable.load(loc)
    assert [s["schema-id"] for s in t.metadata["schemas"]] == [0, 1]
    assert t.spark_schema().simpleString() == other.schema.simpleString()
    assert sorted(t.to_df(spark).collect()) == sorted(other.collect())
    part = str(tmp_path / "part")
    overwrite_table(part, triples_df, partition_by=["bucket"])
    with pytest.raises(ValueError, match="partitioned"):
        overwrite_table(part, other)


def test_rewrite_manifests_compaction(spark, triples_df, tmp_path):
    """Folding N manifests into one preserves contents exactly and
    keeps prior snapshots time-travelable; expire then GCs the old
    manifests but no data files."""
    loc = str(tmp_path / "cmp")
    t = IcebergTable.create(loc, triples_df.schema)
    for i in range(4):
        t.append_dataframe(triples_df.filter(
            f"bucket = '{i}'").coalesce(1))
    before = sorted(t.to_df(spark).collect())
    old_manifests = [m["manifest_path"] for m in t._manifest_files(None)]
    assert len(old_manifests) == 4
    n_log = len(t.metadata["metadata-log"])
    stats = t.rewrite_manifests()
    assert stats == {"manifests_before": 4, "manifests_after": 1,
                     "snapshot_id": stats["snapshot_id"]}
    t = IcebergTable.load(loc)
    assert len(t._manifest_files(None)) == 1
    # compaction moves main like any snapshot commit and logs the
    # metadata version it replaced
    assert t.refs()["main"]["snapshot-id"] == t.current_snapshot_id() \
        == stats["snapshot_id"]
    assert len(t.metadata["metadata-log"]) == n_log + 1
    # the folded manifest: every data file EXISTING, none ADDED, and
    # the oldest carried sequence number is the first append's
    (folded,) = t.metadata_df(spark, "manifests").collect()
    assert folded["added_files_count"] == 0
    assert folded["existing_files_count"] == len(t.scan_files())
    assert folded["min_sequence_number"] == 1
    assert sorted(t.to_df(spark).collect()) == before
    assert t.snapshots()[-1]["summary"]["operation"] == "replace"
    # scan planning still works off the compacted manifest
    assert all(d["partition"] == {} for d in t.scan_files())
    assert sum(d["record_count"] for d in t.scan_files()) == len(before)
    # idempotent on an already-compact table
    assert t.rewrite_manifests()["manifests_after"] == 1
    # expire old snapshots: old manifests deleted, data files survive
    data_files = {d["file_path"] for d in t.scan_files()}
    res = t.expire_snapshots(keep_last=1)
    t = IcebergTable.load(loc)
    assert len(t.snapshots()) == 1
    assert res["manifests_deleted"] == 4
    assert not any(os.path.exists(p) for p in old_manifests)
    assert sorted(t.to_df(spark).collect()) == before
    assert all(os.path.isfile(p) for p in data_files)


def test_streaming_sink_exactly_once(spark, triples_df, tmp_path):
    """Epoch-id idempotence: a redelivered micro-batch (restart replay)
    is skipped; distinct epochs append."""
    from medcat_spark.streaming.iceberg_sink import IcebergStreamSink
    sink = IcebergStreamSink(str(tmp_path / "stream"), query_id="q1")
    sink(triples_df.limit(10), 0)
    sink(triples_df.limit(5), 1)
    sink(triples_df.limit(5), 1)   # redelivery after restart
    sink(triples_df.limit(3), 2)
    assert sink.skipped_epochs == 1
    t = IcebergTable.load(str(tmp_path / "stream"))
    assert t.to_df(spark).count() == 18
    assert len(t.snapshots()) == 3
    assert t.snapshots()[-1]["summary"]["streaming-epoch-id"] == "2"
    # a DIFFERENT query id appending to the same table does not mask
    # this query's epochs
    other = IcebergStreamSink(str(tmp_path / "stream"), query_id="q2")
    other(triples_df.limit(2), 0)
    assert IcebergStreamSink(str(tmp_path / "stream"),
                             query_id="q1").last_committed_epoch() == 2


def test_streaming_sink_live_query(spark, triples_df, tmp_path):
    """A real Structured Streaming query (file source, availableNow)
    lands its micro-batches as Iceberg snapshots."""
    from medcat_spark.streaming.iceberg_sink import IcebergStreamSink
    src = str(tmp_path / "src")
    triples_df.write.parquet(src)
    sink = IcebergStreamSink(str(tmp_path / "live"), query_id="live")
    stream = spark.readStream.schema(triples_df.schema).parquet(src)
    q = (stream.writeStream
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True)
         .foreachBatch(sink).start())
    q.awaitTermination(120)
    t = IcebergTable.load(str(tmp_path / "live"))
    assert t.to_df(spark).count() == 40
    assert all("streaming-epoch-id" in s["summary"]
               for s in t.snapshots())


def test_iceberg_kg_sink_commit_and_resume(spark, tmp_path):
    from pyspark.sql import functions as F
    sink = IcebergKgSink(str(tmp_path / "sink"))
    assert sink.committed_doc_ids(spark) is None

    docs = spark.range(20).select(
        F.format_string("d%03d", "id").alias("doc_id"))
    ann1 = docs.limit(8).withColumn("cui", F.lit("C1"))
    lin1 = spark.createDataFrame([(0, 8)], "part_id int, n_docs long")
    sink.commit(spark, ann1, lin1, ann1.select("doc_id"))

    committed = sink.committed_doc_ids(spark)
    assert committed.count() == 8
    todo = docs.join(committed, "doc_id", "left_anti")
    assert todo.count() == 12

    ann2 = todo.withColumn("cui", F.lit("C2"))
    ids = sink.commit(spark, ann2, None, ann2.select("doc_id"))
    assert set(ids) == {"annotations", "processed_docs"}
    assert sink.committed_doc_ids(spark).count() == 20
    assert sink.read_annotations(spark).count() == 20
    # nothing left: the resume anti-join drains to zero
    assert docs.join(sink.committed_doc_ids(spark), "doc_id",
                     "left_anti").count() == 0
    # each commit is one snapshot on the annotations table
    ann_t = IcebergTable.load(str(tmp_path / "sink" / "annotations"))
    assert len(ann_t.snapshots()) == 2
    assert sink.read_lineage(spark).count() == 1


# ---------------------------------------------------------------------------
# v2 row-level deletes (equality delete files, merge-on-read)
# ---------------------------------------------------------------------------

def test_delete_where_merge_on_read(spark, triples_df, tmp_path):
    from pyspark.sql import functions as F
    loc = str(tmp_path / "kg_del")
    t = IcebergTable.create(loc, triples_df.schema)
    t.append_dataframe(triples_df)
    snap_before = t.current_snapshot_id()
    dsnap = t.delete_where(spark, F.col("obj") == "cui:C0",
                           equality_cols=["subj"])
    assert dsnap is not None
    t = IcebergTable.load(loc)
    back = t.to_df(spark)
    # 8 of 40 rows have obj cui:C0 (i % 5 == 0)
    assert back.count() == 32
    assert back.where(F.col("obj") == "cui:C0").count() == 0
    # time travel to before the delete still sees all rows
    assert t.to_df(spark, snapshot_id=snap_before).count() == 40
    # apply_deletes=False exposes the raw data files
    assert t.to_df(spark, apply_deletes=False).count() == 40
    # snapshot summary records the delete
    snap = t._snapshot(None)
    assert snap["summary"]["operation"] == "delete"
    assert int(snap["summary"]["added-equality-deletes"]) == 8


def test_delete_sequence_semantics_reinsert_survives(spark, triples_df,
                                                     tmp_path):
    """An equality delete applies only to data files with SMALLER
    sequence numbers: re-inserting a deleted key afterwards must
    survive reads (the spec's scan-planning rule)."""
    from pyspark.sql import functions as F
    loc = str(tmp_path / "kg_seq")
    t = IcebergTable.create(loc, triples_df.schema)
    t.append_dataframe(triples_df)
    t.delete_where(spark, F.col("subj") == "doc:001",
                   equality_cols=["subj"])
    assert IcebergTable.load(loc).to_df(spark) \
        .where(F.col("subj") == "doc:001").count() == 0
    # re-insert the same key at a later sequence
    reinsert = triples_df.where(F.col("subj") == "doc:001")
    t = IcebergTable.load(loc)
    t.append_dataframe(reinsert)
    back = IcebergTable.load(loc).to_df(spark)
    assert back.where(F.col("subj") == "doc:001").count() == 1
    assert back.count() == 40  # 39 survivors + 1 re-inserted


def test_delete_where_nothing_matches_no_snapshot(spark, triples_df,
                                                  tmp_path):
    from pyspark.sql import functions as F
    loc = str(tmp_path / "kg_nodel")
    t = IcebergTable.create(loc, triples_df.schema)
    t.append_dataframe(triples_df)
    n_snaps = len(t.snapshots())
    assert t.delete_where(spark, F.col("subj") == "doc:999",
                          equality_cols=["subj"]) is None
    assert len(IcebergTable.load(loc).snapshots()) == n_snaps


def test_delete_with_identity_partitions(spark, triples_df, tmp_path):
    """Global (unpartitioned) equality deletes drop matching rows from
    EVERY partition of an identity-partitioned table."""
    from pyspark.sql import functions as F
    loc = str(tmp_path / "kg_del_part")
    t = IcebergTable.create(loc, triples_df.schema,
                            partition_by=["bucket"])
    t.append_dataframe(triples_df)
    t.delete_where(spark, F.col("obj") == "cui:C1",
                   equality_cols=["subj", "obj"])
    back = IcebergTable.load(loc).to_df(spark)
    assert back.where(F.col("obj") == "cui:C1").count() == 0
    assert back.count() == 32
    # partition columns restored correctly on the survivors
    assert back.select("bucket").distinct().count() == 4


def test_rewrite_manifests_preserves_delete_manifests(spark, triples_df,
                                                      tmp_path):
    from pyspark.sql import functions as F
    loc = str(tmp_path / "kg_rw")
    t = IcebergTable.create(loc, triples_df.schema)
    t.append_dataframe(triples_df.where(F.col("bucket") != "0"))
    t.append_dataframe(triples_df.where(F.col("bucket") == "0"))
    t.delete_where(spark, F.col("obj") == "cui:C2",
                   equality_cols=["subj"])
    t = IcebergTable.load(loc)
    del_seq = [m["sequence_number"] for m in t._manifest_files(None)
               if m["content"] == 1]
    assert del_seq == [3]
    res = t.rewrite_manifests()
    assert res["manifests_after"] == 2  # 1 folded data + 1 delete
    carried = IcebergTable.load(loc).metadata_df(spark, "manifests") \
        .where("content = 1").collect()
    assert [m["sequence_number"] for m in carried] == del_seq
    back = IcebergTable.load(loc).to_df(spark)
    assert back.where(F.col("obj") == "cui:C2").count() == 0
    assert back.count() == 32


# ---------------------------------------------------------------------------
# metadata tables + incremental reads
# ---------------------------------------------------------------------------

def test_metadata_tables(spark, triples_df, tmp_path):
    from pyspark.sql import functions as F
    loc = str(tmp_path / "kg_meta")
    t = IcebergTable.create(loc, triples_df.schema,
                            partition_by=["bucket"])
    t.append_dataframe(triples_df)
    t.delete_where(spark, F.col("obj") == "cui:C3",
                   equality_cols=["subj"])
    t = IcebergTable.load(loc)

    snaps = t.metadata_df(spark, "snapshots").collect()
    assert [s["operation"] for s in snaps] == ["append", "delete"]
    assert snaps[1]["parent_id"] == snaps[0]["snapshot_id"]

    hist = t.metadata_df(spark, "history").collect()
    assert len(hist) == 2 and all(h["is_current_ancestor"] for h in hist)

    mani = t.metadata_df(spark, "manifests").collect()
    assert sorted(m["content"] for m in mani) == [0, 1]

    files = t.metadata_df(spark, "files")
    # record counts in metadata match the per-partition group-by
    got = {r["partition"]["bucket"]: r["cnt"] for r in
           files.groupBy(F.col("partition")).agg(
               F.sum("record_count").alias("cnt")).collect()}
    want = {r["bucket"]: r["cnt"] for r in
            triples_df.groupBy("bucket").agg(
                F.count("*").alias("cnt")).collect()}
    assert got == want

    dels = t.metadata_df(spark, "delete_files").collect()
    assert len(dels) >= 1
    assert all(d["content"] == 2 for d in dels)
    assert all(d["equality_ids"] for d in dels)

    with pytest.raises(ValueError):
        t.metadata_df(spark, "nope")


def test_incremental_read_between_snapshots(spark, triples_df, tmp_path):
    from pyspark.sql import functions as F
    loc = str(tmp_path / "kg_incr")
    first = triples_df.where(F.col("bucket") != "3")
    second = triples_df.where(F.col("bucket") == "3")
    t = IcebergTable.create(loc, triples_df.schema)
    s1 = t.append_dataframe(first)
    s2 = t.append_dataframe(second)
    inc = t.incremental_read(spark, s1)
    assert sorted(inc.collect()) == sorted(second.collect())
    # explicit to= bound; delta from s1 to s1 is empty
    assert t.incremental_read(spark, s1, s1).count() == 0
    assert t.incremental_read(spark, s1, s2).count() == second.count()
    # non-ancestor from id raises
    with pytest.raises((ValueError, KeyError)):
        t.incremental_files(123456789, s2)


def test_incremental_read_restores_identity_partitions(spark, triples_df,
                                                       tmp_path):
    from pyspark.sql import functions as F
    loc = str(tmp_path / "kg_incr_part")
    t = IcebergTable.create(loc, triples_df.schema,
                            partition_by=["bucket"])
    s1 = t.append_dataframe(triples_df.where(F.col("bucket").isin("0", "1")))
    t.append_dataframe(triples_df.where(F.col("bucket").isin("2", "3")))
    inc = t.incremental_read(spark, s1)
    assert sorted(r["bucket"] for r in
                  inc.select("bucket").distinct().collect()) == ["2", "3"]
    assert inc.count() == 20


def test_incremental_read_across_schema_evolution(spark, triples_df,
                                                  tmp_path):
    """A consumer checkpointed BEFORE a rename/add keeps reading the
    delta: old-schema delta files resolve by field id into the current
    schema (rename carries data, added column null-fills)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T
    loc = str(tmp_path / "kg_incr_evo")
    t = IcebergTable.create(loc, triples_df.schema)
    s1 = t.append_dataframe(triples_df.where(F.col("bucket") == "0"))
    t.append_dataframe(triples_df.where(F.col("bucket") == "1"))
    t.rename_column("obj", "object")
    t.add_column("conf", T.DoubleType())
    new = (triples_df.where(F.col("bucket") == "2")
           .withColumnRenamed("obj", "object")
           .withColumn("conf", F.lit(0.9)))
    t.append_dataframe(new)
    inc = t.incremental_read(spark, s1)
    assert set(inc.columns) == {"subj", "pred", "object", "bucket", "conf"}
    assert inc.count() == 20
    old_leg = inc.where(F.col("bucket") == "1")
    assert old_leg.count() == 10
    assert old_leg.where(F.col("conf").isNull()).count() == 10
    assert old_leg.where(F.col("object").startswith("cui:")).count() == 10
    assert inc.where((F.col("bucket") == "2")
                     & (F.col("conf") == 0.9)).count() == 10


def test_incremental_read_across_spec_evolution(spark, triples_df,
                                                tmp_path):
    """A delta spanning evolve_partition_spec reads each file with ITS
    spec: identity values of the old spec are still restored from
    metadata, new-spec files read their own layout."""
    from pyspark.sql import functions as F
    loc = str(tmp_path / "kg_incr_spec")
    t = IcebergTable.create(loc, triples_df.schema,
                            partition_by=["bucket"])
    s1 = t.append_dataframe(triples_df.where(F.col("bucket") == "0"))
    t.append_dataframe(triples_df.where(F.col("bucket") == "1"))
    t.evolve_partition_spec(["pred"])
    t.append_dataframe(triples_df.where(F.col("bucket") == "2"))
    inc = t.incremental_read(spark, s1)
    assert inc.count() == 20
    assert sorted(r["bucket"] for r in
                  inc.select("bucket").distinct().collect()) == ["1", "2"]
    assert inc.where(F.col("pred") == "mentions").count() == 20


def test_upsert_one_snapshot_merge_semantics(spark, triples_df, tmp_path):
    """MERGE: updated keys replaced, new keys inserted, ONE snapshot."""
    from pyspark.sql import functions as F
    loc = str(tmp_path / "kg_upsert")
    t = IcebergTable.create(loc, triples_df.schema)
    s1 = t.append_dataframe(triples_df)
    changes = spark.createDataFrame(
        [("doc:000", "mentions", "cui:NEW", "0"),     # update
         ("doc:100", "mentions", "cui:C9", "1")],     # insert
        triples_df.schema)
    t.upsert_dataframe(spark, changes, key_cols=["subj"])
    t = IcebergTable.load(loc)
    assert len(t.snapshots()) == 2  # append + ONE merge commit
    back = t.to_df(spark)
    assert back.count() == 41  # 40 - 1 replaced + 1 updated + 1 new
    got = {r["subj"]: r["obj"] for r in back.collect()}
    assert got["doc:000"] == "cui:NEW"
    assert got["doc:100"] == "cui:C9"
    # time travel to before the merge sees the original row
    before = {r["subj"]: r["obj"]
              for r in t.to_df(spark, snapshot_id=s1).collect()}
    assert before["doc:000"] == "cui:C0"
    assert "doc:100" not in before
    snap = t._snapshot(None)
    assert snap["summary"]["operation"] == "overwrite"
    assert int(snap["summary"]["added-equality-deletes"]) == 2


def test_upsert_then_delete_then_upsert_chain(spark, triples_df, tmp_path):
    """Sequence numbers keep stacked upserts/deletes consistent."""
    from pyspark.sql import functions as F
    loc = str(tmp_path / "kg_chain")
    t = IcebergTable.create(loc, triples_df.schema)
    t.append_dataframe(triples_df)
    v2 = spark.createDataFrame([("doc:005", "mentions", "cui:V2", "1")],
                               triples_df.schema)
    t.upsert_dataframe(spark, v2, key_cols=["subj"])
    t.delete_where(spark, F.col("subj") == "doc:005",
                   equality_cols=["subj"])
    v3 = spark.createDataFrame([("doc:005", "mentions", "cui:V3", "1")],
                               triples_df.schema)
    t.upsert_dataframe(spark, v3, key_cols=["subj"])
    back = IcebergTable.load(loc).to_df(spark)
    got = {r["subj"]: r["obj"] for r in back.collect()}
    assert got["doc:005"] == "cui:V3"
    assert back.count() == 40


def test_upsert_partitioned_table(spark, triples_df, tmp_path):
    from pyspark.sql import functions as F
    loc = str(tmp_path / "kg_upsert_part")
    t = IcebergTable.create(loc, triples_df.schema,
                            partition_by=["bucket"])
    t.append_dataframe(triples_df)
    # move doc:001 to another partition value via upsert — the global
    # equality delete reaches the old partition
    moved = spark.createDataFrame([("doc:001", "mentions", "cui:C1", "3")],
                                  triples_df.schema)
    t.upsert_dataframe(spark, moved, key_cols=["subj"])
    back = IcebergTable.load(loc).to_df(spark)
    rows = back.where(F.col("subj") == "doc:001").collect()
    assert len(rows) == 1 and rows[0]["bucket"] == "3"
    assert back.count() == 40


def test_rewrite_data_files_materializes_deletes(spark, triples_df,
                                                 tmp_path):
    from pyspark.sql import functions as F
    loc = str(tmp_path / "kg_compact")
    t = IcebergTable.create(loc, triples_df.schema)
    t.append_dataframe(triples_df)
    t.delete_where(spark, F.col("obj") == "cui:C0",
                   equality_cols=["subj"])
    t = IcebergTable.load(loc)
    res = t.rewrite_data_files(spark)
    assert res["delete_files_removed"] >= 1 and res["rows"] == 32
    t = IcebergTable.load(loc)
    # no delete files remain at the head; reads skip the anti-join
    assert t.scan_delete_files() == []
    back = t.to_df(spark)
    assert back.count() == 32
    assert back.where(F.col("obj") == "cui:C0").count() == 0
    assert t._snapshot(None)["summary"]["operation"] == "replace"


# ---------------------------------------------------------------------------
# Position deletes (v2 content=1 delete files: file_path + pos)
# ---------------------------------------------------------------------------

def test_delete_where_positions_merge_on_read(spark, triples_df, tmp_path):
    from pyspark.sql import functions as F
    loc = str(tmp_path / "kg_posdel")
    t = IcebergTable.create(loc, triples_df.schema)
    t.append_dataframe(triples_df)
    snap_before = t.current_snapshot_id()
    dsnap = t.delete_where_positions(spark, F.col("obj") == "cui:C0")
    assert dsnap is not None
    t = IcebergTable.load(loc)
    back = t.to_df(spark)
    assert back.count() == 32
    assert back.where(F.col("obj") == "cui:C0").count() == 0
    # time travel / raw reads still see every row
    assert t.to_df(spark, snapshot_id=snap_before).count() == 40
    assert t.to_df(spark, apply_deletes=False).count() == 40
    snap = t._snapshot(None)
    assert snap["summary"]["operation"] == "delete"
    assert int(snap["summary"]["added-position-deletes"]) == 8
    # the delete files are content=1 with file_path bounds recorded
    dels = t.scan_delete_files()
    assert dels and all(d["content"] == 1 for d in dels)
    assert all(d["lower_bounds"] and d["upper_bounds"] for d in dels)
    # rows appended AFTER the delete are untouched even when identical
    again = spark.createDataFrame(
        [("doc:000", "mentions", "cui:C0", "0")], triples_df.schema)
    t.append_dataframe(again)
    t = IcebergTable.load(loc)
    assert t.to_df(spark).where(F.col("obj") == "cui:C0").count() == 1


def test_position_delete_one_duplicate_copy(spark, tmp_path):
    """The capability equality deletes cannot express: the table has
    NO key (true duplicate rows) and only one physical copy must go."""
    from pyspark.sql import functions as F
    loc = str(tmp_path / "kg_dupdel")
    df = spark.createDataFrame(
        [("a", 1)] * 3 + [("b", 2)], "k string, v long").coalesce(1)
    t = IcebergTable.create(loc, df.schema)
    t.append_dataframe(df)
    t = IcebergTable.load(loc)
    withpos = t.to_df(spark, with_pos=True)
    assert {"_file_path", "_pos"} <= set(withpos.columns)
    # keep the first physical copy of each row, delete the rest
    from pyspark.sql import Window
    w = Window.partitionBy("k", "v").orderBy("_file_path", "_pos")
    extras = (withpos.withColumn("rn", F.row_number().over(w))
              .where(F.col("rn") > 1)
              .select(F.col("_file_path").alias("file_path"),
                      F.col("_pos").alias("pos")))
    dsnap = t.delete_positions(spark, extras)
    assert dsnap is not None
    t = IcebergTable.load(loc)
    back = t.to_df(spark)
    assert back.count() == 2
    assert back.where("k = 'a'").count() == 1
    # nothing matched -> no empty snapshot
    assert t.delete_positions(
        spark, spark.createDataFrame([], "file_path string, pos long")) \
        is None


def test_position_and_equality_deletes_compose(spark, triples_df,
                                               tmp_path):
    from pyspark.sql import functions as F
    loc = str(tmp_path / "kg_bothdel")
    t = IcebergTable.create(loc, triples_df.schema)
    t.append_dataframe(triples_df)
    t.delete_where(spark, F.col("obj") == "cui:C0",
                   equality_cols=["subj"])          # 8 rows
    t = IcebergTable.load(loc)
    t.delete_where_positions(spark, F.col("obj") == "cui:C1")  # 8 more
    t = IcebergTable.load(loc)
    back = t.to_df(spark)
    assert back.count() == 24
    assert back.where(F.col("obj").isin("cui:C0", "cui:C1")).count() == 0
    kinds = {d["content"] for d in t.scan_delete_files()}
    assert kinds == {1, 2}
    # compaction materializes BOTH kinds and drops the delete files
    res = t.rewrite_data_files(spark)
    assert res["rows"] == 24 and res["delete_files_removed"] >= 2
    t = IcebergTable.load(loc)
    assert t.scan_delete_files() == []
    assert t.to_df(spark).count() == 24


def test_pos_delete_metadata_table_and_incremental(spark, triples_df,
                                                   tmp_path):
    from pyspark.sql import functions as F
    loc = str(tmp_path / "kg_posmeta")
    t = IcebergTable.create(loc, triples_df.schema)
    s1 = t.append_dataframe(triples_df)
    t.delete_where_positions(spark, F.col("obj") == "cui:C2")
    t = IcebergTable.load(loc)
    meta = t.metadata_df(spark, "delete_files").collect()
    assert len(meta) >= 1 and all(r["content"] == 1 for r in meta)
    # incremental read between append and delete sees no appended rows
    s2 = t.current_snapshot_id()
    inc = t.incremental_read(spark, s1, s2)
    assert inc.count() == 0


# ---------------------------------------------------------------------------
# Schema evolution: rename / drop / promote (field-id resolution)
# ---------------------------------------------------------------------------

def test_rename_column_old_files_resolve_by_field_id(spark, tmp_path):
    from pyspark.sql import functions as F
    loc = str(tmp_path / "ev_rename")
    df1 = spark.createDataFrame([("a", 1), ("b", 2)],
                                "doc_id string, n long")
    t = IcebergTable.create(loc, df1.schema)
    t.append_dataframe(df1)
    t = IcebergTable.load(loc)
    t.rename_column("n", "count")
    t = IcebergTable.load(loc)
    # write a new generation under the NEW name
    t.append_dataframe(spark.createDataFrame(
        [("c", 3)], "doc_id string, count long"))
    t = IcebergTable.load(loc)
    back = t.to_df(spark)
    assert set(back.columns) == {"doc_id", "count"}
    assert {r["count"] for r in back.collect()} == {1, 2, 3}
    # value_filter by the new name prunes OLD manifests too (id-keyed
    # bounds)
    assert len(t.scan_files(value_filter={"count": 1})) == 1
    assert len(t.scan_files(value_filter={"count": 3})) == 1


def test_rename_partition_source_column(spark, tmp_path):
    from pyspark.sql import functions as F
    loc = str(tmp_path / "ev_rename_part")
    df1 = spark.createDataFrame([("a", "en"), ("b", "de")],
                                "doc_id string, lang string")
    t = IcebergTable.create(loc, df1.schema, partition_by=["lang"])
    t.append_dataframe(df1)
    t = IcebergTable.load(loc)
    t.rename_column("lang", "language")
    t = IcebergTable.load(loc)
    t.append_dataframe(spark.createDataFrame(
        [("c", "en")], "doc_id string, language string"))
    t = IcebergTable.load(loc)
    back = t.to_df(spark)
    assert set(back.columns) == {"doc_id", "language"}
    assert back.where(F.col("language") == "en").count() == 2
    # pruning by the renamed source column reaches both generations
    pruned = t.to_df(spark, partition_filter={"language": "en"})
    assert pruned.count() == 2


def test_drop_column_and_no_resurface_on_readd(spark, tmp_path):
    loc = str(tmp_path / "ev_drop")
    from pyspark.sql import types as T
    df1 = spark.createDataFrame([("a", 10), ("b", 20)],
                                "doc_id string, secret long")
    t = IcebergTable.create(loc, df1.schema)
    t.append_dataframe(df1)
    t = IcebergTable.load(loc)
    t.drop_column("secret")
    t = IcebergTable.load(loc)
    assert t.to_df(spark).columns == ["doc_id"]
    # re-adding the NAME mints a fresh field id: old values must NOT
    # resurface (spec delete-then-add safety)
    t.add_column("secret", T.LongType())
    t = IcebergTable.load(loc)
    rows = t.to_df(spark).collect()
    assert all(r["secret"] is None for r in rows)
    # dropping a partition source or the last column is refused
    df2 = spark.createDataFrame([("x", "en")],
                                "doc_id string, lang string")
    loc2 = str(tmp_path / "ev_drop2")
    t2 = IcebergTable.create(loc2, df2.schema, partition_by=["lang"])
    with pytest.raises(ValueError):
        t2.drop_column("lang")
    with pytest.raises(ValueError):
        IcebergTable.load(loc).drop_column("nope")


def test_promote_column_int_to_long(spark, tmp_path):
    from pyspark.sql import functions as F
    from pyspark.sql import types as T
    loc = str(tmp_path / "ev_promote")
    df1 = spark.createDataFrame([("a", 1), ("b", 2)], T.StructType([
        T.StructField("doc_id", T.StringType()),
        T.StructField("n", T.IntegerType())]))
    t = IcebergTable.create(loc, df1.schema)
    t.append_dataframe(df1)
    t = IcebergTable.load(loc)
    t.promote_column("n")
    t = IcebergTable.load(loc)
    big = 1 << 40
    t.append_dataframe(spark.createDataFrame(
        [("c", big)], "doc_id string, n long"))
    t = IcebergTable.load(loc)
    back = t.to_df(spark)
    assert dict(back.dtypes)["n"] == "bigint"
    assert {r["n"] for r in back.collect()} == {1, 2, big}
    # old manifests carry 4-byte bounds; value_filter under the widened
    # type must still decode them (promoted-bound rule)
    assert len(t.scan_files(value_filter={"n": 2})) == 1
    with pytest.raises(ValueError):
        t.promote_column("doc_id")


def test_rewrite_manifests_folds_per_schema_generation(spark, tmp_path):
    loc = str(tmp_path / "ev_fold")
    df1 = spark.createDataFrame([("a", 1)], "doc_id string, n long")
    t = IcebergTable.create(loc, df1.schema)
    t.append_dataframe(df1)
    t = IcebergTable.load(loc)
    t.append_dataframe(spark.createDataFrame(
        [("b", 2)], "doc_id string, n long"))
    t = IcebergTable.load(loc)
    t.rename_column("n", "count")
    t = IcebergTable.load(loc)
    t.append_dataframe(spark.createDataFrame(
        [("c", 3)], "doc_id string, count long"))
    t = IcebergTable.load(loc)
    t.append_dataframe(spark.createDataFrame(
        [("d", 4)], "doc_id string, count long"))
    t = IcebergTable.load(loc)
    res = t.rewrite_manifests()
    # 4 manifests -> one folded manifest PER schema generation
    assert res["manifests_before"] == 4
    assert res["manifests_after"] == 2
    t = IcebergTable.load(loc)
    back = t.to_df(spark)
    assert {r["count"] for r in back.collect()} == {1, 2, 3, 4}


def test_eq_delete_survives_rename_and_promote(spark, tmp_path):
    from pyspark.sql import functions as F
    from pyspark.sql import types as T
    loc = str(tmp_path / "ev_del")
    df1 = spark.createDataFrame([("a", 1), ("b", 2), ("c", 3)],
                                T.StructType([
                                    T.StructField("doc_id", T.StringType()),
                                    T.StructField("n", T.IntegerType())]))
    t = IcebergTable.create(loc, df1.schema)
    t.append_dataframe(df1)
    t.delete_where(spark, F.col("n") == 2, equality_cols=["n"])
    t = IcebergTable.load(loc)
    t.rename_column("n", "count")
    t = IcebergTable.load(loc)
    t.promote_column("count")
    t = IcebergTable.load(loc)
    back = t.to_df(spark)
    assert dict(back.dtypes)["count"] == "bigint"
    # the delete file was written under the old name/type; field-id
    # resolution keeps it applying
    assert {r["count"] for r in back.collect()} == {1, 3}


# ---------------------------------------------------------------------------
# Partition-spec evolution: files keep their write-time spec
# ---------------------------------------------------------------------------

def test_evolve_spec_identity_to_bucket(spark, tmp_path):
    """lang-identity table re-partitioned to bucket[4] on doc_id: old
    files restore lang from metadata, new files carry it in-data; both
    generations read back as one DataFrame and each prunes by ITS
    spec."""
    from pyspark.sql import functions as F
    loc = str(tmp_path / "spec_ev1")
    df1 = spark.createDataFrame([("a", "en"), ("b", "de")],
                                "doc_id string, lang string")
    t = IcebergTable.create(loc, df1.schema, partition_by=["lang"])
    t.append_dataframe(df1)
    t = IcebergTable.load(loc)
    new_id = t.evolve_partition_spec([("doc_id", "bucket[4]")])
    assert new_id == 1
    t = IcebergTable.load(loc)
    t.append_dataframe(spark.createDataFrame(
        [("c", "en"), ("d", "fr")], "doc_id string, lang string"))
    t = IcebergTable.load(loc)
    back = t.to_df(spark)
    assert sorted((r.doc_id, r.lang) for r in back.collect()) == \
        [("a", "en"), ("b", "de"), ("c", "en"), ("d", "fr")]
    # old-spec manifests prune by lang; new-spec ones cannot (they are
    # not partitioned by lang) so they pass through conservatively
    files = t.scan_files(partition_filter={"lang": "de"})
    specs = {d["_spec"] for d in files}
    old_spec_files = [d for d in files if d["_spec"] == 0]
    assert len(old_spec_files) == 1  # only the de file from spec 0
    assert old_spec_files[0]["partition"]["lang"] == "de"
    assert specs == {0, 1}
    # doc_id equality prunes NEW-spec manifests to one bucket; all
    # old-spec files pass through
    from medcat_spark.sources.iceberg import bucket_value
    hit = t.scan_files(partition_filter={"doc_id": "c"})
    new_hits = [d for d in hit if d["_spec"] == 1]
    assert {d["partition"]["doc_id_bucket"] for d in new_hits} == \
        {bucket_value("c", 4, "string")}
    assert len([d for d in hit if d["_spec"] == 0]) == 2


def test_evolve_spec_unpartitioned_to_identity(spark, tmp_path):
    """Adding identity partitioning later: pre-evolution files carry
    the column in-data, post-evolution files restore it from the
    partition tuple."""
    loc = str(tmp_path / "spec_ev2")
    df1 = spark.createDataFrame([("a", "x"), ("b", "y")],
                                "doc_id string, kind string")
    t = IcebergTable.create(loc, df1.schema)
    t.append_dataframe(df1)
    t = IcebergTable.load(loc)
    t.evolve_partition_spec(["kind"])
    t = IcebergTable.load(loc)
    t.append_dataframe(spark.createDataFrame(
        [("c", "x")], "doc_id string, kind string"))
    t = IcebergTable.load(loc)
    assert sorted((r.doc_id, r.kind) for r in t.to_df(spark).collect()) \
        == [("a", "x"), ("b", "y"), ("c", "x")]
    new_files = [d for d in t.scan_files() if d["_spec"] == 1]
    assert all(d["partition"].get("kind") == "x" for d in new_files)


def test_evolve_spec_field_id_reuse_and_compaction(spark, tmp_path):
    """A re-added (source, transform) pair keeps its partition field
    id across specs; rewrite_manifests folds per (schema, spec) and
    the folded table still round-trips."""
    loc = str(tmp_path / "spec_ev3")
    df1 = spark.createDataFrame([("a", "en", 1), ("b", "de", 2)],
                                "doc_id string, lang string, n long")
    t = IcebergTable.create(loc, df1.schema, partition_by=["lang"])
    t.append_dataframe(df1)
    t = IcebergTable.load(loc)
    t.evolve_partition_spec([("doc_id", "bucket[4]")])
    t = IcebergTable.load(loc)
    t.append_dataframe(spark.createDataFrame(
        [("c", "en", 3)], "doc_id string, lang string, n long"))
    t = IcebergTable.load(loc)
    # back to lang identity (plus keeping the bucket): lang reuses
    # field-id 1000, the bucket keeps its id from spec 1
    t.evolve_partition_spec(["lang", ("doc_id", "bucket[4]")])
    t = IcebergTable.load(loc)
    specs = {s["spec-id"]: s for s in t.metadata["partition-specs"]}
    lang_ids = {pf["field-id"] for s in (0, 2)
                for pf in specs[s]["fields"] if pf["name"] == "lang"}
    assert len(lang_ids) == 1
    bucket_ids = {pf["field-id"] for s in (1, 2)
                  for pf in specs[s]["fields"]
                  if pf["name"] == "doc_id_bucket"}
    assert len(bucket_ids) == 1
    t.append_dataframe(spark.createDataFrame(
        [("d", "fr", 4)], "doc_id string, lang string, n long"))
    t = IcebergTable.load(loc)
    res = t.rewrite_manifests()
    assert res["manifests_before"] == 3
    assert res["manifests_after"] == 3  # one per spec generation
    t = IcebergTable.load(loc)
    assert {r.n for r in t.to_df(spark).collect()} == {1, 2, 3, 4}
    # post-compaction pruning by lang still reaches specs 0 and 2
    hit = t.scan_files(partition_filter={"lang": "en"})
    assert {(d["_spec"], d["partition"].get("lang")) for d in hit} \
        >= {(0, "en"), (1, None)}


def test_evolve_spec_with_rename_of_partition_source(spark, tmp_path):
    """Spec evolution composed with schema evolution: renaming the old
    spec's identity source still restores old files' values under the
    new name (source-id resolution)."""
    loc = str(tmp_path / "spec_ev4")
    df1 = spark.createDataFrame([("a", "en")],
                                "doc_id string, lang string")
    t = IcebergTable.create(loc, df1.schema, partition_by=["lang"])
    t.append_dataframe(df1)
    t = IcebergTable.load(loc)
    t.evolve_partition_spec([])  # unpartition new data
    t = IcebergTable.load(loc)
    t.rename_column("lang", "language")
    t = IcebergTable.load(loc)
    t.append_dataframe(spark.createDataFrame(
        [("b", "de")], "doc_id string, language string"))
    t = IcebergTable.load(loc)
    assert sorted((r.doc_id, r.language)
                  for r in t.to_df(spark).collect()) == \
        [("a", "en"), ("b", "de")]
    # dropping the historic partition source stays refused
    with pytest.raises(ValueError):
        t.drop_column("language")


def test_evolve_spec_incremental_guard(spark, tmp_path):
    """A delta entirely under the current spec reads incrementally
    (identity restored per the new spec); a delta that spans the spec
    change resolves each file with ITS write-time spec."""
    loc = str(tmp_path / "spec_ev5")
    df1 = spark.createDataFrame([("a", "en")],
                                "doc_id string, lang string")
    t = IcebergTable.create(loc, df1.schema)
    t.append_dataframe(df1)
    t = IcebergTable.load(loc)
    s1 = t.current_snapshot_id()
    t.append_dataframe(spark.createDataFrame(
        [("b", "fr")], "doc_id string, lang string"))  # old spec
    t = IcebergTable.load(loc)
    s2 = t.current_snapshot_id()
    t.evolve_partition_spec(["lang"])
    t = IcebergTable.load(loc)
    t.append_dataframe(spark.createDataFrame(
        [("c", "de")], "doc_id string, lang string"))  # new spec
    t = IcebergTable.load(loc)
    # delta s2->current is all new-spec: works, identity restored
    inc = t.incremental_read(spark, s2)
    assert [(r.doc_id, r.lang) for r in inc.collect()] == [("c", "de")]
    # delta s1->current mixes spec 0 and spec 1 files: both legs read,
    # each with its own spec's identity restoration
    inc2 = t.incremental_read(spark, s1)
    assert sorted((r.doc_id, r.lang) for r in inc2.collect()) \
        == [("b", "fr"), ("c", "de")]


def test_remove_orphan_files(spark, tmp_path):
    """Staged-but-uncommitted files are reclaimed once old enough;
    referenced files and young (possibly in-flight) files survive."""
    import os, time
    loc = str(tmp_path / "orphans")
    df = spark.createDataFrame([("a", 1), ("b", 2)],
                               "doc_id string, n long")
    t = IcebergTable.create(loc, df.schema)
    t.append_dataframe(df)
    t = IcebergTable.load(loc)
    # a crashed writer's staging leftovers: data + a manifest avro
    orphan_data = os.path.join(loc, "data", "snap-dead",
                               "part-orphan.parquet")
    os.makedirs(os.path.dirname(orphan_data), exist_ok=True)
    with open(orphan_data, "wb") as f:
        f.write(b"x" * 64)
    orphan_manifest = os.path.join(loc, "metadata", "dead-m0.avro")
    with open(orphan_manifest, "wb") as f:
        f.write(b"y" * 32)
    young_orphan = os.path.join(loc, "data", "snap-dead", "fresh.parquet")
    with open(young_orphan, "wb") as f:
        f.write(b"z")
    old = time.time() - 7 * 86400
    os.utime(orphan_data, (old, old))
    os.utime(orphan_manifest, (old, old))
    res = t.remove_orphan_files(older_than_sec=86400)
    assert res["orphans_deleted"] == 2
    assert res["bytes_reclaimed"] == 96
    assert not os.path.exists(orphan_data)
    assert not os.path.exists(orphan_manifest)
    assert os.path.exists(young_orphan)  # retention guard
    # the table itself is untouched
    t = IcebergTable.load(loc)
    assert {r.n for r in t.to_df(spark).collect()} == {1, 2}
    # metadata json / version hint never considered
    assert os.path.exists(os.path.join(loc, "metadata",
                                       "version-hint.text"))


# ---------------------------------------------------------------------------
# Nested-type evolution (struct fields inside array<struct> — the spans
# shape of the interleaved documents table)
# ---------------------------------------------------------------------------

def test_nested_add_field_in_span_struct(spark, docs_df, tmp_path):
    """add_column('spans.element.lang'): old files read the new nested
    field as null inside every span; new files carry values; row- and
    element-level nulls survive the struct rebuild."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T
    loc = str(tmp_path / "nest_add")
    t = IcebergTable.create(loc, docs_df.schema)
    t.append_dataframe(docs_df.limit(5))
    t.add_column("spans.element.lang", T.StringType())
    new = spark.createDataFrame(
        [("docX", [("text", "hola", None, 0, "es")])],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int,lang:string>>")
    t.append_dataframe(new)
    back = t.to_df(spark)
    assert back.schema["spans"].dataType.elementType.names \
        == ["kind", "text", "media_ref", "offset", "lang"]
    old_rows = back.where(F.col("doc_id") != "docX")
    assert old_rows.count() == 5
    # every span of every old row null-fills lang but keeps its text
    exploded = old_rows.select(F.explode("spans").alias("s"))
    assert exploded.where(F.col("s.lang").isNotNull()).count() == 0
    assert exploded.where(F.col("s.kind").isNull()).count() == 0
    got = back.where(F.col("doc_id") == "docX").collect()[0]
    assert got.spans[0].lang == "es" and got.spans[0].text == "hola"


def test_nested_rename_and_promote(spark, docs_df, tmp_path):
    """rename media_ref -> media_uri and promote offset int -> long
    inside the span struct: old files resolve by nested field id."""
    from pyspark.sql import functions as F
    loc = str(tmp_path / "nest_ren")
    t = IcebergTable.create(loc, docs_df.schema)
    t.append_dataframe(docs_df.limit(8))
    t.rename_column("spans.element.media_ref", "media_uri")
    t.promote_column("spans.element.offset")
    back = t.to_df(spark)
    el = back.schema["spans"].dataType.elementType
    assert el.names == ["kind", "text", "media_uri", "offset"]
    assert el["offset"].dataType.typeName() == "long"
    # old media_ref values surface under the new name
    n_media = docs_df.limit(8).select(F.explode("spans").alias("s")) \
        .where(F.col("s.media_ref").isNotNull()).count()
    got = back.select(F.explode("spans").alias("s")) \
        .where(F.col("s.media_uri").isNotNull()).count()
    assert got == n_media
    # offsets intact through the widen-cast
    a = sorted(r[0] for r in docs_df.limit(8)
               .select(F.explode("spans").alias("s"))
               .select("s.offset").collect())
    b = sorted(r[0] for r in back.select(F.explode("spans").alias("s"))
               .select("s.offset").collect())
    assert a == b


def test_nested_drop_and_no_resurface_on_readd(spark, docs_df, tmp_path):
    """Dropping a nested field and re-adding the same NAME mints a new
    field id: old per-span values do not resurface."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T
    loc = str(tmp_path / "nest_drop")
    t = IcebergTable.create(loc, docs_df.schema)
    t.append_dataframe(docs_df.limit(5))
    t.drop_column("spans.element.media_ref")
    el = t.to_df(spark).schema["spans"].dataType.elementType
    assert el.names == ["kind", "text", "offset"]
    t.add_column("spans.element.media_ref", T.StringType())
    back = t.to_df(spark).select(F.explode("spans").alias("s"))
    assert back.where(F.col("s.media_ref").isNotNull()).count() == 0


def test_nested_evolution_null_handling(spark, tmp_path):
    """Null arrays, null struct elements, and null docs survive the
    rebuild: nullness is preserved at every level."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T
    schema = ("doc_id string, spans array<struct<kind:string,"
              "text:string>>")
    df = spark.createDataFrame(
        [("a", [("text", "x"), None]), ("b", None), ("c", [])], schema)
    loc = str(tmp_path / "nest_null")
    t = IcebergTable.create(loc, df.schema)
    t.append_dataframe(df)
    t.add_column("spans.element.lang", T.StringType())
    rows = {r.doc_id: r.spans for r in t.to_df(spark).collect()}
    assert rows["b"] is None
    assert rows["c"] == []
    assert rows["a"][1] is None              # null element preserved
    assert rows["a"][0].text == "x" and rows["a"][0].lang is None


def test_nested_evolution_map_value(spark, tmp_path):
    """Evolution inside a map value struct resolves through
    map_from_arrays + transform."""
    from pyspark.sql import types as T
    df = spark.createDataFrame(
        [("a", {"k1": (1,)})],
        "doc_id string, attrs map<string,struct<n:int>>")
    loc = str(tmp_path / "nest_map")
    t = IcebergTable.create(loc, df.schema)
    t.append_dataframe(df)
    t.rename_column("attrs.value.n", "count")
    t.promote_column("attrs.value.count")
    got = t.to_df(spark).collect()[0]
    assert got.attrs["k1"]["count"] == 1
    vt = t.to_df(spark).schema["attrs"].dataType.valueType
    assert vt.names == ["count"]
    assert vt["count"].dataType.typeName() == "long"


def test_nested_evolution_incremental_read(spark, docs_df, tmp_path):
    """The CDC path resolves nested evolution too (shared reader)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T
    loc = str(tmp_path / "nest_incr")
    t = IcebergTable.create(loc, docs_df.schema)
    s1 = t.append_dataframe(docs_df.limit(3))
    t.append_dataframe(docs_df.limit(6).subtract(docs_df.limit(3)))
    t.add_column("spans.element.lang", T.StringType())
    inc = t.incremental_read(spark, s1)
    assert inc.count() == 3
    assert "lang" in inc.schema["spans"].dataType.elementType.names
    assert inc.select(F.explode("spans").alias("s")) \
        .where(F.col("s.lang").isNotNull()).count() == 0


# ---------------------------------------------------------------------------
# refs: branches, tags, write-audit-publish
# ---------------------------------------------------------------------------

def test_branch_commit_isolated_then_fast_forward(spark, triples_df,
                                                  tmp_path):
    """WAP: stage appends on an audit branch (main unmoved), validate,
    fast_forward main — the publish is one metadata commit."""
    from pyspark.sql import functions as F
    loc = str(tmp_path / "refs_wap")
    first = triples_df.where(F.col("bucket") != "3")
    second = triples_df.where(F.col("bucket") == "3")
    t = IcebergTable.create(loc, triples_df.schema)
    s1 = t.append_dataframe(first)
    t.create_branch("audit")
    s2 = t.append_dataframe(second, branch="audit")
    t = IcebergTable.load(loc)  # refs persisted
    assert t.current_snapshot_id() == s1          # main unmoved
    assert t.to_df(spark).count() == first.count()
    assert t.to_df(spark, ref="audit").count() == triples_df.count()
    refs = {r["name"]: (r["type"], r["snapshot_id"])
            for r in t.metadata_df(spark, "refs").collect()}
    assert refs == {"main": ("branch", s1), "audit": ("branch", s2)}
    # publish
    assert t.fast_forward("main", "audit") == s2
    t = IcebergTable.load(loc)
    assert t.current_snapshot_id() == s2
    assert t.to_df(spark).count() == triples_df.count()
    # CDC from the pre-branch checkpoint now sees the published rows
    assert t.incremental_read(spark, s1).count() == second.count()


def test_fast_forward_requires_ancestor(spark, triples_df, tmp_path):
    from pyspark.sql import functions as F
    loc = str(tmp_path / "refs_div")
    t = IcebergTable.create(loc, triples_df.schema)
    t.append_dataframe(triples_df.where(F.col("bucket") == "0"))
    t.create_branch("audit")
    t.append_dataframe(triples_df.where(F.col("bucket") == "1"),
                       branch="audit")
    # main advances independently -> histories diverge
    t.append_dataframe(triples_df.where(F.col("bucket") == "2"))
    with pytest.raises(ValueError, match="not an ancestor"):
        t.fast_forward("main", "audit")


def test_tag_immutable_and_expire_keeps_ref_heads(spark, triples_df,
                                                  tmp_path):
    from pyspark.sql import functions as F
    loc = str(tmp_path / "refs_tag")
    t = IcebergTable.create(loc, triples_df.schema)
    s1 = t.append_dataframe(triples_df.where(F.col("bucket") == "0"))
    t.create_tag("v1")
    t.append_dataframe(triples_df.where(F.col("bucket") == "1"))
    s3 = t.append_dataframe(triples_df.where(F.col("bucket") == "2"))
    with pytest.raises(ValueError, match="immutable"):
        t.append_dataframe(triples_df.limit(1), branch="v1")
    res = t.expire_snapshots(keep_last=1)
    assert res["expired"] == 1                    # middle snapshot only
    t = IcebergTable.load(loc)
    assert t.current_snapshot_id() == s3
    # the tagged release still reads in full after expiry
    assert t.to_df(spark, ref="v1").count() == 10
    assert t.ref_snapshot("v1") == s1
    t.drop_ref("v1")
    assert "v1" not in IcebergTable.load(loc).refs()
    with pytest.raises(ValueError):
        t.drop_ref("main")


# ---------------------------------------------------------------------------
# row-level changelog (CDC with deletes)
# ---------------------------------------------------------------------------

def test_changelog_inserts_and_deletes(spark, triples_df, tmp_path):
    from pyspark.sql import functions as F
    loc = str(tmp_path / "cdc1")
    base = triples_df.where(F.col("bucket").isin("0", "1"))
    t = IcebergTable.create(loc, triples_df.schema)
    s1 = t.append_dataframe(base)
    t.delete_where(spark, F.col("bucket") == "0",
                   equality_cols=["subj"])
    t.append_dataframe(triples_df.where(F.col("bucket") == "2"))
    cl = t.changelog(spark, s1)
    got_del = sorted(r.subj for r in
                     cl.where(F.col("_change_type") == "DELETE")
                     .collect())
    want_del = sorted(r.subj for r in
                      base.where(F.col("bucket") == "0").collect())
    assert got_del == want_del
    got_ins = sorted(r.subj for r in
                     cl.where(F.col("_change_type") == "INSERT")
                     .collect())
    want_ins = sorted(
        r.subj for r in
        triples_df.where(F.col("bucket") == "2").collect())
    assert got_ins == want_ins


def test_changelog_insert_then_delete_nets_out(spark, triples_df,
                                               tmp_path):
    """A row appended and deleted INSIDE the range is no net change."""
    from pyspark.sql import functions as F
    loc = str(tmp_path / "cdc2")
    t = IcebergTable.create(loc, triples_df.schema)
    s1 = t.append_dataframe(triples_df.where(F.col("bucket") == "0"))
    t.append_dataframe(triples_df.where(F.col("bucket") == "2"))
    t.delete_where(spark, F.col("bucket") == "2",
                   equality_cols=["subj"])
    cl = t.changelog(spark, s1).collect()
    assert cl == []   # nothing net-changed vs s1


def test_changelog_position_deletes_once_per_physical_row(
        spark, triples_df, tmp_path):
    from pyspark.sql import functions as F
    from pyspark.sql import Window
    loc = str(tmp_path / "cdc3")
    docs = triples_df.where(F.col("bucket") == "1")
    t = IcebergTable.create(loc, triples_df.schema)
    t.append_dataframe(docs)
    s1 = t.append_dataframe(docs)       # true duplicates
    # remove exactly one physical copy of each subject
    withpos = t.to_df(spark, with_pos=True)
    w = Window.partitionBy("subj").orderBy("_file_path", "_pos")
    one = (withpos.withColumn("rn", F.row_number().over(w))
           .where(F.col("rn") == 1)
           .select(F.col("_file_path").alias("file_path"),
                   F.col("_pos").alias("pos")))
    t.delete_positions(spark, one)
    cl = t.changelog(spark, s1)
    assert cl.where(F.col("_change_type") == "INSERT").count() == 0
    dels = cl.where(F.col("_change_type") == "DELETE")
    assert dels.count() == docs.count()          # one per subject
    assert dels.select("subj").distinct().count() == docs.count()


def test_to_df_value_filter_skips_files(spark, triples_df, tmp_path):
    """to_df(value_filter=) prunes data files by column bounds before
    opening any (conservative pre-filter; rows of the surviving file
    all come back)."""
    from pyspark.sql import functions as F
    loc = str(tmp_path / "vf")
    lo = triples_df.where(F.col("subj") < "doc:020")
    hi = triples_df.where(F.col("subj") >= "doc:020")
    t = IcebergTable.create(loc, triples_df.schema)
    t.append_dataframe(lo)
    t.append_dataframe(hi)
    planned = t.scan_files(value_filter={"subj": "doc:005"})
    all_files = t.scan_files()
    assert 0 < len(planned) < len(all_files)   # real skipping happened
    got = t.to_df(spark, value_filter={"subj": "doc:005"})
    # conservative pre-filter: exactly the surviving files' rows
    assert got.count() == sum(f["record_count"] for f in planned)
    assert got.where(F.col("subj") == "doc:005").count() == 1
    # and no row from the hi range leaks in
    assert got.where(F.col("subj") >= "doc:020").count() == 0


def test_branch_scoped_delete_and_upsert(spark, triples_df, tmp_path):
    """delete_where/upsert on an audit branch stage against the BRANCH
    state and leave main untouched until fast_forward."""
    from pyspark.sql import functions as F
    loc = str(tmp_path / "refs_wap2")
    t = IcebergTable.create(loc, triples_df.schema)
    t.append_dataframe(triples_df)
    n_all = triples_df.count()
    t.create_branch("audit")
    t.delete_where(spark, F.col("bucket") == "0",
                   equality_cols=["subj"], branch="audit")
    changes = (triples_df.where(F.col("bucket") == "1")
               .withColumn("obj", F.lit("cui:NEW")))
    t.upsert_dataframe(spark, changes, key_cols=["subj"],
                       branch="audit")
    # main unchanged; audit = deletes + upsert applied
    assert t.to_df(spark).count() == n_all
    assert t.to_df(spark).where(F.col("obj") == "cui:NEW").count() == 0
    audit = t.to_df(spark, ref="audit")
    assert audit.where(F.col("bucket") == "0").count() == 0
    assert audit.where(F.col("obj") == "cui:NEW").count() == \
        changes.count()
    t.fast_forward("main", "audit")
    pub = IcebergTable.load(loc).to_df(spark)
    assert pub.where(F.col("bucket") == "0").count() == 0
    assert pub.where(F.col("obj") == "cui:NEW").count() == changes.count()


def test_ref_ops_survive_commit_races(spark, triples_df, tmp_path):
    """Two handles to the same table racing metadata-only commits: the
    loser retries against the winner's metadata, both changes land."""
    loc = str(tmp_path / "refs_race")
    t1 = IcebergTable.create(loc, triples_df.schema)
    s1 = t1.append_dataframe(triples_df)
    t2 = IcebergTable.load(loc)     # second writer, snapshot of v2
    t1.create_branch("audit")       # advances to v3; t2 is now stale
    t2.create_tag("v1", s1)         # must lose the race, retry, land
    final = IcebergTable.load(loc)
    assert set(final.refs()) == {"main", "audit", "v1"}
    assert final.refs()["v1"]["type"] == "tag"
    # validation still runs against the FRESH state on retry
    t3 = IcebergTable.load(loc)
    t1.drop_ref("v1")
    with pytest.raises(ValueError, match="no such ref"):
        t3.drop_ref("v1")           # already gone in the fresh state


def test_schema_spec_and_expire_commits_survive_races(spark, triples_df,
                                                      tmp_path):
    """Handles loaded before another writer's commit retry schema,
    partition-spec and expiry commits against the winner's metadata:
    every change lands, and field ids minted by racing add_columns
    stay distinct."""
    from pyspark.sql import types as T
    loc = str(tmp_path / "meta_race")
    t1 = IcebergTable.create(loc, triples_df.schema)
    t1.append_dataframe(triples_df)
    t1.append_dataframe(triples_df)
    last_id = t1.metadata["last-column-id"]
    stale = [IcebergTable.load(loc) for _ in range(4)]
    t1.create_tag("t0")             # every handle above is now stale
    stale[0].add_column("a", T.LongType())
    stale[1].add_column("b", T.StringType())
    stale[2].evolve_partition_spec(["bucket"])
    assert stale[3].expire_snapshots(keep_last=1)["expired"] == 1
    final = IcebergTable.load(loc)
    ids = {f["name"]: f["id"] for f in final.schema()["fields"]}
    assert sorted([ids["a"], ids["b"]]) == [last_id + 1, last_id + 2]
    assert final.metadata["last-column-id"] == last_id + 2
    assert [f["name"] for f in final.partition_spec()["fields"]] == \
        ["bucket"]
    assert len(final.snapshots()) == 1 and "t0" in final.refs()
    # every commit after v1 logged the metadata version it replaced
    assert len(final.metadata["metadata-log"]) == final._base_version - 1
    assert final.to_df(spark).count() == 2 * triples_df.count()


def test_replace_commits_refuse_a_moved_head(spark, triples_df, tmp_path):
    """Compaction commits files derived from one snapshot: when another
    append lands first, it raises instead of replacing the newer head
    (rewrite_data_files would otherwise drop the winner's rows)."""
    loc = str(tmp_path / "replace_race")
    t1 = IcebergTable.create(loc, triples_df.schema)
    t1.append_dataframe(triples_df)
    t1.append_dataframe(triples_df)
    stale = [IcebergTable.load(loc) for _ in range(2)]
    head = t1.append_dataframe(triples_df)
    with pytest.raises(RuntimeError, match="moved past"):
        stale[0].rewrite_manifests()
    with pytest.raises(RuntimeError, match="moved past"):
        stale[1].rewrite_data_files(spark)
    final = IcebergTable.load(loc)
    assert final.current_snapshot_id() == head
    assert final.to_df(spark).count() == 3 * triples_df.count()


def test_sort_order_clusters_for_data_skipping(spark, tmp_path):
    """With a declared sort order, files get disjoint bounds and a
    point value_filter prunes to exactly one file; the same shuffled
    input without a sort order leaves overlapping bounds."""
    import random
    from pyspark.sql import functions as F
    rows = [(f"doc:{i:03d}", i) for i in range(200)]
    random.Random(7).shuffle(rows)
    df = spark.createDataFrame(rows, "subj string, n long") \
        .repartition(4)    # interleaved: every partition spans the range

    loc_u = str(tmp_path / "unsorted")
    tu = IcebergTable.create(loc_u, df.schema)
    tu.append_dataframe(df)
    n_files_u = len(tu.scan_files())
    planned_u = tu.scan_files(value_filter={"subj": "doc:100"})
    assert n_files_u > 1 and len(planned_u) == n_files_u  # no pruning

    loc_s = str(tmp_path / "sorted")
    ts = IcebergTable.create(loc_s, df.schema)
    oid = ts.set_sort_order(["subj"])
    assert ts.metadata["default-sort-order-id"] == oid
    ts.append_dataframe(df)
    all_s = ts.scan_files()
    planned_s = ts.scan_files(value_filter={"subj": "doc:100"})
    assert len(all_s) > 1
    assert len(planned_s) == 1                  # disjoint bounds
    got = ts.to_df(spark, value_filter={"subj": "doc:100"})
    assert got.where(F.col("subj") == "doc:100").count() == 1
    # full read unaffected by the clustering
    assert ts.to_df(spark).count() == 200


def test_cooc_incremental_merge_writes_only_delta(spark, tmp_path):
    """The daily-ingest KG maintenance path: the MERGE snapshot's
    added-records must equal the touched+new pair count, NOT the table
    size — the property that makes the incremental path viable when
    the base table is 100 TB-scale."""
    from pyspark.sql import functions as F

    from medcat_spark.sources.iceberg import IcebergTable

    base = spark.createDataFrame(
        [("cui:A", "cooccurs_with", "cui:B", 5),
         ("cui:A", "cooccurs_with", "cui:C", 2),
         ("cui:B", "cooccurs_with", "cui:C", 7),
         ("cui:C", "cooccurs_with", "cui:D", 1)],
        "subj string, pred string, obj string, n_docs long")
    delta = spark.createDataFrame(
        [("cui:A", "cooccurs_with", "cui:B", 3),      # touched
         ("cui:D", "cooccurs_with", "cui:E", 4)],     # new pair
        "subj string, pred string, obj string, n_docs long")

    loc = str(tmp_path / "cooc")
    t = IcebergTable.create(loc, base.schema)
    t.append_dataframe(base)
    touched = t.to_df(spark).join(delta.select("subj", "obj"),
                                  ["subj", "obj"], "left_semi")
    merged = (delta.unionByName(touched)
              .groupBy("subj", "pred", "obj")
              .agg(F.sum("n_docs").alias("n_docs")))
    t.upsert_dataframe(spark, merged, key_cols=["subj", "obj"])

    snaps = IcebergTable.load(loc).snapshots()
    merge_snap = snaps[-1]
    assert int(merge_snap["summary"]["added-records"]) == 2  # not 5
    assert int(merge_snap["summary"]["added-equality-deletes"]) == 2

    got = {(r["subj"], r["obj"]): r["n_docs"]
           for r in IcebergTable.load(loc).to_df(spark).collect()}
    assert got == {("cui:A", "cui:B"): 8, ("cui:A", "cui:C"): 2,
                   ("cui:B", "cui:C"): 7, ("cui:C", "cui:D"): 1,
                   ("cui:D", "cui:E"): 4}

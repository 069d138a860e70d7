"""The one media operator (functions/media.py ``_map_rows``): every public
media operator plans as exactly one MapInArrow and no MapInPandas, every
decode head skips a row whose bytes are NULL and every spans operator a
row whose spans are NULL, instead of failing the job."""

import pytest
from pyspark.sql import functions as F

from medcat_spark.fixtures import fixture_documents
from medcat_spark.functions import jpeg, media

_SPANS = ("doc_id string, spans array<struct<kind:string,text:string,"
          "media_ref:string,offset:int>>")

# decode head -> the synth generator whose bytes it decodes
_HEADS = {
    "media_pixel_stats": (media.media_pixel_stats, media.synth_png_column),
    "media_audio_stats": (media.media_audio_stats, media.synth_wav_column),
    "media_adpcm_stats": (media.media_adpcm_stats, media.synth_adpcm_column),
    "media_gif_frames": (media.media_gif_frames, media.synth_gif_column),
    "media_jpeg_stats": (jpeg.media_jpeg_stats, jpeg.synth_jpeg_column),
}


def _ids(spark):
    return (spark.range(0, 12, numPartitions=4)
            .withColumnRenamed("id", "doc_id"))


def _bytes_table(spark, synth, null_row=False):
    """The synth generator's (doc_id, media_bytes) rows as a plain
    scanned table (no Python node below the head), plus optionally one
    NULL-bytes row."""
    rows = [tuple(r) for r in synth(_ids(spark)).collect()]
    if null_row:
        rows.append(("null-doc", None))
    return spark.createDataFrame(rows, "doc_id string, media_bytes binary")


def _spans(spark):
    return spark.createDataFrame(fixture_documents(20), _SPANS)


_OPERATORS = {
    "media_features": lambda s: media.media_features(_spans(s)),
    "frame_sample": lambda s: media.frame_sample(_spans(s)),
    "media_features_from_bytes": lambda s: media.media_features_from_bytes(
        _bytes_table(s, media.synth_png_column)
        .withColumn("media_ref", F.lit("img://x"))),
    "synth_png_column": lambda s: media.synth_png_column(_ids(s)),
    "synth_wav_column": lambda s: media.synth_wav_column(_ids(s)),
    "synth_gif_column": lambda s: media.synth_gif_column(_ids(s)),
    "synth_adpcm_column": lambda s: media.synth_adpcm_column(_ids(s)),
    "synth_jpeg_column": lambda s: jpeg.synth_jpeg_column(_ids(s)),
    **{name: (lambda s, h=head, g=gen: h(_bytes_table(s, g)))
       for name, (head, gen) in _HEADS.items()},
}


@pytest.mark.parametrize("name", sorted(_OPERATORS))
def test_media_operator_plans_as_one_map_in_arrow(spark, name):
    plan = (_OPERATORS[name](spark)._jdf.queryExecution()
            .executedPlan().toString())
    assert plan.count("MapInArrow") == 1, plan
    assert plan.count("MapInPandas") == 0, plan


@pytest.mark.parametrize("name", sorted(_HEADS))
def test_decode_head_skips_null_bytes(spark, name):
    head, synth = _HEADS[name]
    want = sorted(tuple(r) for r in head(_bytes_table(spark, synth))
                  .collect())
    got = sorted(tuple(r) for r in head(_bytes_table(spark, synth,
                                                     null_row=True))
                 .collect())
    assert want and got == want


@pytest.mark.parametrize("name", ["frame_sample", "media_features"])
def test_spans_operator_skips_null_spans(spark, name):
    op = getattr(media, name)
    want = sorted(tuple(r) for r in op(_spans(spark)).collect())
    null_row = spark.createDataFrame([("null-doc", None)], _SPANS)
    got = sorted(tuple(r) for r in op(_spans(spark).unionByName(null_row))
                 .collect())
    assert want and got == want


def test_header_decode_keeps_null_bytes_as_unknown(spark):
    df = (_bytes_table(spark, media.synth_png_column, null_row=True)
          .withColumn("media_ref", F.lit("img://x")))
    got = {r["doc_id"]: r for r in media.media_features_from_bytes(df)
           .collect()}
    assert len(got) == 13
    assert (got["null-doc"]["format"], got["null-doc"]["width"]) == (
        "unknown", None)
    assert got["0"]["format"] == "png"

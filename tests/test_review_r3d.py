"""Round-3 fourth-batch review regressions: run_spatial_sql guards, short
audio clips, visibility whitespace, checkpoint crash tolerance, PSNR
metadata validation."""

from __future__ import annotations

import json
import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_run_spatial_sql_uppercase_dwithin(spark, sf_dir):
    """ST_DWITHIN_POINT in any case must execute as a dwithin join, not
    silently fall back to intersects."""
    from geowave_spark import entry_queries as eq
    from geowave_spark.functions import sqlregistry

    sqlregistry.register_sql_udfs(spark)
    eq._events(spark, sf_dir).createOrReplaceTempView("pts_v")
    spark.createDataFrame(
        [("z1", "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))")], "polygon_id string, wkt string"
    ).createOrReplaceTempView("polys_v")
    lo = sqlregistry.run_spatial_sql(
        spark,
        "SELECT p.event_id, g.polygon_id FROM pts_v p, polys_v g "
        "WHERE st_dwithin_point(g.wkt, p.lon, p.lat, 5.0)",
    ).count()
    hi = sqlregistry.run_spatial_sql(
        spark,
        "SELECT p.event_id, g.polygon_id FROM pts_v p, polys_v g "
        "WHERE ST_DWITHIN_POINT(g.wkt, p.lon, p.lat, 5.0)",
    ).count()
    inner = sqlregistry.run_spatial_sql(
        spark,
        "SELECT p.event_id, g.polygon_id FROM pts_v p, polys_v g "
        "WHERE st_contains_point(g.wkt, p.lon, p.lat)",
    ).count()
    assert hi == lo > inner  # case-insensitive AND actually buffered


def test_run_spatial_sql_nonunique_first_column_falls_back(spark):
    """A first column that is not a unique key must not silently change
    row multiplicity — the accelerated rewrite steps aside."""
    from geowave_spark.functions import sqlregistry

    sqlregistry.register_sql_udfs(spark)
    spark.createDataFrame(
        [(1.0, 1.0, 1), (1.0, 2.0, 2)],  # first col 'lon' duplicated
        "lon double, lat double, event_id long",
    ).createOrReplaceTempView("nu_pts")
    spark.createDataFrame(
        [("z", "POLYGON ((0 0, 5 0, 5 5, 0 5, 0 0))")], "polygon_id string, wkt string"
    ).createOrReplaceTempView("nu_polys")
    out = sqlregistry.run_spatial_sql(
        spark,
        "SELECT p.event_id, g.polygon_id FROM nu_pts p, nu_polys g "
        "WHERE st_contains_point(g.wkt, p.lon, p.lat)",
    )
    assert sorted(r["event_id"] for r in out.collect()) == [1, 2]


def test_audio_features_short_clip(spark):
    """A clip shorter than one window emits n_windows=0 with zero
    features instead of a NaN->int crash."""
    from geowave_spark.functions import multimodal as mm

    df = spark.createDataFrame(
        [("m1", bytes(10), "pcm16")], "image_id string, bytes binary, fmt string"
    )
    out = mm.audio_features(df, window=2000, decoder=mm.fake_audio).collect()
    assert len(out) == 1 and out[0]["n_windows"] == 0
    assert out[0]["rms_mu"] == 0 and out[0]["zcr_mu"] == 0


def test_visibility_trailing_whitespace():
    from geowave_spark.functions.visibility import evaluate_expression

    assert evaluate_expression("a ", {"a"}) is True
    assert evaluate_expression(" a & b ", {"a", "b"}) is True
    assert evaluate_expression(" a & b ", {"a"}) is False


def test_checkpoint_corrupt_manifest_reruns(spark, tmp_path):
    """A truncated manifest (crash mid-write) must mean 'no checkpoint',
    not a JSONDecodeError that blocks resume forever."""
    from geowave_spark.plans.checkpoint import CheckpointedPipeline

    cp = CheckpointedPipeline(spark, str(tmp_path), "run")
    df = spark.range(5).withColumnRenamed("id", "v")
    cp.stage("s1", lambda: df, fingerprint="f1")
    # corrupt the manifest like an interrupted write
    with open(cp._manifest_path("s1"), "w") as f:
        f.write('{"stage": "s1", "fing')
    cp2 = CheckpointedPipeline(spark, str(tmp_path), "run")
    out = cp2.stage("s1", lambda: df, fingerprint="f1")
    assert out.count() == 5 and cp2.results["s1"].resumed is False


def test_image_psnr_validates_metadata(spark):
    from geowave_spark.functions import geo_udfs as g
    from geowave_spark.sources import images as img

    fx = img.generate_images(spark, 4)
    idx = F.substring(F.col("image_id"), 4, 10).cast("long")
    ok = fx.select(
        g.image_psnr(F.col("bytes"), F.col("fmt"), F.col("w"), F.col("h"), idx).alias("p")
    )
    # wrong metadata must raise, not silently compute
    bad = fx.select(
        g.image_psnr(F.col("bytes"), F.col("fmt"), F.col("w") + 1, F.col("h"), idx).alias("p")
    )
    assert ok.count() == 4
    with pytest.raises(Exception, match="metadata"):
        bad.collect()

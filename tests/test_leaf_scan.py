"""Chunked leaf scans return exactly what a pandas model holds.

Every manifest read plans its leaf directories as a union of scans of
at most ``spark.sql.sources.parallelPartitionDiscovery.threshold`` (32)
paths each. The table here has 40 buckets, so one segment alone has
more leaves than that, and it mixes the three shapes a read assembles:
segments written before a column rename (read through their manifest
``segcols`` names), a segment written after it, and a leaf covered by
a deletion vector.
"""

from __future__ import annotations

import base64
from dataclasses import replace

import pandas as pd
import pytest
from pyspark.sql import functions as F

from pandabase_spark.io import KeyedCatalog, _bucket_expr

NB = 40


def _rows(spark, lo: int, hi: int, vcol: str = "v"):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"),
        (F.col("id") * 1.5).alias(vcol),
        F.format_string("n%d", F.col("id")).alias("name"),
    )


def _model(keys) -> pd.DataFrame:
    keys = sorted(keys)
    return pd.DataFrame(
        {
            "k": keys,
            "val": [k * 1.5 for k in keys],
            "name": [f"n{k}" for k in keys],
        }
    )


def _pdf(df) -> pd.DataFrame:
    return (
        df.toPandas()[["k", "val", "name"]]
        .sort_values("k")
        .reset_index(drop=True)
    )


@pytest.fixture()
def table(spark, tmp_path):
    cat = KeyedCatalog(spark, str(tmp_path / "wh"), default_buckets=NB)
    # no sketch_columns: a sketched table deletes by rewrite, not DV
    cat.to_table(_rows(spark, 0, 400), "ls", keys=["k"], stats_columns=["v"])
    cat.to_table(_rows(spark, 400, 800), "ls", keys=["k"], how="append")
    cat.rename_column("ls", "v", "val")
    cat.to_table(
        _rows(spark, 800, 1200, "val"), "ls", keys=["k"], how="append"
    )
    assert cat.delete_rows("ls", "k = 417") == 1
    return cat


def test_chunked_reads_match_model(spark, table):
    cat = table
    man = cat._manifest("ls")
    segs = list(man["segments"])
    assert [len(man["segments"][s]) for s in segs] == [NB, NB, NB]
    # segments 1-2 hold the pre-rename physical name, segment 3 the new
    assert [man["segcols"][s]["v"] for s in segs] == ["v", "v", "val"]
    # the DV covers key 417's bucket leaf in every segment
    (dv,) = man["dvs"].values()
    assert sorted(dv["leaves"]) == sorted(segs)
    assert all(len(bs) == 1 for bs in dv["leaves"].values())

    live = set(range(1200)) - {417}
    pd.testing.assert_frame_equal(_pdf(cat.read_table("ls")), _model(live))
    pd.testing.assert_frame_equal(
        _pdf(cat.read_table("ls", lowest=100, highest=700)),
        _model(k for k in live if 100 <= k <= 700),
    )
    for k in (5, 417, 433, 1000):
        pd.testing.assert_frame_equal(
            _pdf(cat.read_table("ls", lowest=k, highest=k)),
            _model([k] if k in live else []),
            check_dtype=k in live,
        )
    got = cat.read_pandas(
        "ls", lowest=395, highest=420, columns=["val"]
    ).sort_index()
    assert list(got.index) == [k for k in range(395, 421) if k != 417]
    assert list(got["val"]) == [k * 1.5 for k in got.index]


def test_chunked_segment_metadata_matches_model(spark, table):
    """Stats and sketches recomputed from a pre-rename segment's 40
    leaves (``_segment_frame``): per-bucket min/max of the renamed
    column, and the KLL count and extremes, equal the pandas model of
    the rows written to that segment."""
    cat = table
    m = cat.meta("ls")
    man = cat._manifest("ls")
    seg = list(man["segments"])[0]  # keys 0..399, written as "v"
    live = man["segments"][seg]

    buckets = {
        r["k"]: r["b"]
        for r in spark.range(400)
        .select(
            F.col("id").alias("k"), _bucket_expr(["id"], NB).alias("b")
        )
        .collect()
    }
    model = pd.DataFrame({"k": range(400)})
    model["b"] = model["k"].map(buckets).astype(str)
    model["val"] = model["k"] * 1.5
    want = {
        b: {"val": [g["val"].min(), g["val"].max()]}
        for b, g in model.groupby("b")
    }
    assert cat._segment_stats("ls", seg, m, man, buckets=live) == want

    sk = cat._segment_sketches(
        "ls", seg, replace(m, sketch_columns=["val"]), buckets=live, man=man
    )["val"]
    kll = F.lit(base64.b64decode(sk["kll"]))
    row = spark.range(1).select(
        F.kll_sketch_get_n_double(kll).alias("n"),
        F.kll_sketch_get_quantile_double(kll, F.lit(0.0)).alias("lo"),
        F.kll_sketch_get_quantile_double(kll, F.lit(1.0)).alias("hi"),
    ).first()
    assert (row["n"], row["lo"], row["hi"]) == (400, 0.0, 399 * 1.5)


def test_wrong_bound_type_raises_before_any_job(spark, table):
    sc = spark.sparkContext
    sc.setJobGroup("ls-badbound", "bad bound")
    try:
        for bound in (dict(lowest="x"), dict(lowest="x", highest="x")):
            with pytest.raises(TypeError, match="incompatible"):
                table.read_table("ls", **bound)
    finally:
        sc.setJobGroup(None, None)
    assert list(sc.statusTracker().getJobIdsForGroup("ls-badbound")) == []

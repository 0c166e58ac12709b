"""Z-order layout: the written files must cover small RECTANGLES of the
2-D space (both dimensions bounded — the property single-column sorting
cannot give), making min/max file pruning effective for box filters."""

import glob
import os

import pytest
from pyspark.sql import functions as F

from gitnexus_spark.operators.zorder import with_zorder, zordered


@pytest.fixture(scope="module")
def xy(spark):
    # a full 200x200 grid: genuinely independent dimensions
    return spark.range(0, 40000).select(
        F.col("id"),
        ((F.col("id") % 200) * 50).alias("x"),
        (F.floor(F.col("id") / 200) * 50).alias("y"))


def _file_spans(spark, path):
    spans = []
    for f in sorted(glob.glob(os.path.join(path, "part-*.parquet"))):
        df = spark.read.parquet(f)
        r = df.agg(F.min("x"), F.max("x"), F.min("y"), F.max("y")).collect()[0]
        spans.append((r[1] - r[0], r[3] - r[2]))
    return spans


def test_files_cover_small_rectangles(spark, xy, tmp_path):
    path = str(tmp_path / "z")
    zordered(xy, ["x", "y"], num_files=16).write.parquet(path)

    back = spark.read.parquet(path)
    assert back.count() == 40000
    assert {r["id"] for r in back.select("id").collect()} == set(range(40000))

    spans = _file_spans(spark, path)
    assert len(spans) >= 8
    mean_x = sum(s[0] for s in spans) / len(spans)
    mean_y = sum(s[1] for s in spans) / len(spans)
    # 16 curve segments -> ~1/4 x 1/4 rectangles; allow 2x slack.
    # A single-column sort would leave the OTHER dimension at ~10000.
    assert mean_x < 5000, spans
    assert mean_y < 5000, spans


def _stats(spark, path):
    out = []
    for f in sorted(glob.glob(os.path.join(path, "part-*.parquet"))):
        out.append(spark.read.parquet(f)
                   .agg(F.min("x"), F.max("x"), F.min("y"), F.max("y"))
                   .collect()[0])
    return out


def test_y_band_pruning_beats_x_sorted(spark, xy, tmp_path):
    """The point of z-order vs a plain sort: a filter on the OTHER
    dimension still prunes. A y-band filter must touch (by min/max
    stats) far fewer z-ordered files than x-sorted files — where it
    touches ALL of them — and box filters must prune on average."""
    zp = str(tmp_path / "z2")
    zordered(xy, ["x", "y"], num_files=16).write.parquet(zp)
    xp = str(tmp_path / "xsorted")
    xy.repartitionByRange(16, F.col("x")).sortWithinPartitions("x") \
        .write.mode("overwrite").parquet(xp)
    zs, xs = _stats(spark, zp), _stats(spark, xp)

    def touched_y_band(stats, lo, hi):
        return sum(1 for r in stats if r[2] <= hi and r[3] >= lo)

    bands = [(500, 1500), (2500, 3500), (6000, 7000), (8000, 9000)]
    z_frac = sum(touched_y_band(zs, *b) for b in bands) / (len(bands) * len(zs))
    x_frac = sum(touched_y_band(xs, *b) for b in bands) / (len(bands) * len(xs))
    assert x_frac > 0.9, x_frac          # x-sort cannot prune on y
    assert z_frac < 0.6, (z_frac, zs)    # z-order can
    # 2-D box filters prune too, averaged over off- and on-center boxes
    boxes = bands + [(4000, 5000)]
    tb = sum(1 for b in boxes for r in zs
             if r[0] <= b[1] and r[1] >= b[0] and r[2] <= b[1] and r[3] >= b[0])
    assert tb / (len(boxes) * len(zs)) < 0.45, (tb, zs)


def test_string_columns_cluster_native_stats(spark, tmp_path):
    """String dims ride a 6-byte order-preserving prefix proxy: the
    written files carry NARROW native string min/max spans on both
    columns, so endpoint filters prune without helper columns."""
    df = spark.range(0, 40000).select(
        F.md5((F.col("id") % 200).cast("string")).alias("src"),
        F.md5(F.floor(F.col("id") / 200).cast("string")).alias("dst"))
    path = str(tmp_path / "zs")
    zordered(df, ["src", "dst"], num_files=16).write.parquet(path)
    stats = []
    for f in sorted(glob.glob(os.path.join(path, "part-*.parquet"))):
        stats.append(spark.read.parquet(f).agg(
            F.min("src"), F.max("src"),
            F.min("dst"), F.max("dst")).collect()[0])
    assert len(stats) >= 8
    probes = [r["src"] for r in df.select("src").distinct().limit(64)
              .collect()][::4]
    dsts = [r["dst"] for r in df.select("dst").distinct().limit(64)
            .collect()][::4]
    s_frac = sum(1 for v in probes for r in stats if r[0] <= v <= r[1]) \
        / (len(probes) * len(stats))
    d_frac = sum(1 for v in dsts for r in stats if r[2] <= v <= r[3]) \
        / (len(dsts) * len(stats))
    # unsorted/one-column layouts touch ~all files on at least one side
    assert s_frac < 0.6, s_frac
    assert d_frac < 0.6, d_frac

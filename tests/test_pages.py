"""Pages synthesis + extraction: determinism, byte-identity invariant
(BASELINE.json input_hint), and distributed-vs-local equivalence."""

from __future__ import annotations

import numpy as np

from geospark.extract import extract_points
from geospark.pages import extract_text_from_html, synth_pages, synth_pages_batch


def test_synth_batch_deterministic():
    a = synth_pages_batch(np.arange(100))
    b = synth_pages_batch(np.arange(100))
    assert a.equals(b)
    # partitioning-independent: generating id 57 alone == row 57 of a batch
    solo = synth_pages_batch(np.array([57]))
    assert solo.column("text")[0].as_py() == a.column("text")[57].as_py()
    assert solo.column("url")[0].as_py() == a.column("url")[57].as_py()


def test_text_byte_identical_to_reference_extractor():
    """Per-url invariant: pages.text == reference extractor(html), bytes."""
    batch = synth_pages_batch(np.arange(500))
    for html, text in zip(batch.column("html"), batch.column("text")):
        assert extract_text_from_html(html.as_py()) == text.as_py().encode("utf-8")


def test_extract_points_spark(spark):
    pages = synth_pages(spark, 200, partitions=4)
    pts = extract_points(pages).toPandas()
    assert set(pts.columns) == {"url", "point_id", "lat", "lng"}
    assert (pts["lat"].abs() <= 85.0).all()
    assert (pts["lng"].abs() <= 180.0).all()
    # mean ~1.5 mentions/page (n_points uniform over {0,1,2,3})
    assert 100 <= len(pts) <= 500

    # repartitioning must not change the extracted set (determinism)
    pts2 = extract_points(synth_pages(spark, 200, partitions=13)).toPandas()
    key = ["url", "point_id"]
    a = pts.sort_values(key).reset_index(drop=True)
    b = pts2.sort_values(key).reset_index(drop=True)
    assert a.equals(b)


def test_extract_points_mentions(spark):
    """Null text and mention-free pages yield nothing; mentions keep
    text order; signs parse; only ASCII digits count."""
    from geospark import goldens

    arabic = "coord: \u0661\u0662.\u0663\u0664\u0665\u0666\u0667\u0668, 9.000000"
    rows = [
        ("null", None),
        ("none", "a page with no coordinates"),
        ("three", "coord: 5.500000, 6.250000 then coord: 1.000000, 2.000000"
                  " and coord: 3.000001, 4.000002"),
        ("neg", "at coord: -33.868800, -151.209300."),
        ("arabic", arabic),
    ]
    pages = spark.createDataFrame(rows, "url string, text string")
    got = sorted(tuple(r) for r in extract_points(pages).collect())
    assert got == [
        ("neg", 0, -33.8688, -151.2093),
        ("three", 0, 5.5, 6.25),
        ("three", 1, 1.0, 2.0),
        ("three", 2, 3.000001, 4.000002),
    ]
    assert goldens._COORD.search(arabic) is None


def test_city_skew_present(spark):
    """Zipf city skew: hottest z8 cell should hold >> uniform share."""
    from pyspark.sql import functions as F

    from geospark.functions import kernels as K

    pages = synth_pages(spark, 2000, partitions=8)
    pts = extract_points(pages)
    counts = (
        pts.withColumn("cell", K.cell_at_zoom(F.col("lat"), F.col("lng"), 8))
        .groupBy("cell")
        .count()
        .orderBy(F.desc("count"))
        .limit(1)
        .collect()
    )
    total = pts.count()
    assert counts[0]["count"] / total > 0.02  # hot cell ≫ 1/512 uniform share

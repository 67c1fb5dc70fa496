"""Driver-contract smoke: entry() runs, queries()/oracle_sql() agree."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as E


def test_entry_smoke(spark):
    df = E.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"area_id", "tile_x", "tile_y", "n_points"}


def test_queries_have_oracles():
    qs = E.queries()
    oracles = E.oracle_sql()
    assert len(qs) >= 10
    missing = set(oracles) - set(qs)
    assert not missing, f"oracles without queries: {missing}"


# Arrow type of a DuckDB result column -> the Spark type it must equal
_ARROW_TO_SPARK = {"int64": "bigint", "string": "string",
                   "large_string": "string"}


@pytest.mark.parametrize("name", ["radius_join", "knn", "knn_classify",
                                  "doc_bm25"])
def test_oracle_strict_parity(spark, name):
    """Spark rows equal the DuckDB oracle's rows (order-insensitive) and
    the oracle's column TYPES equal the Spark schema as returned — no
    dtype coercion, so an int32 query_id or a HUGEINT/decimal sum in
    the oracle fails here."""
    import duckdb

    df = E.queries()[name](spark, E.SF0001)
    con = duckdb.connect()
    for t in ("events", "documents"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{E.SF0001}/{t}.parquet'")
    duck = con.execute(E.oracle_sql()[name]).arrow()
    con.close()

    spark_types = [(f.name, f.dataType.simpleString()) for f in df.schema]
    duck_types = [(f.name, _ARROW_TO_SPARK.get(str(f.type), str(f.type)))
                  for f in duck.schema]
    assert sorted(duck_types) == sorted(spark_types)

    got = sorted(tuple(r) for r in df.collect())
    want = sorted(tuple(r[c] for c in df.columns) for r in duck.to_pylist())
    assert got == want and len(got) > 0


def test_tile_range_relation(spark):
    from geospark.cells import tile_range

    rows = tile_range(spark, 2, 1, 4, 2, 5).collect()
    # row-major y-then-x (src/tile.cc:44-52)
    assert [(r["tile_x"], r["tile_y"]) for r in rows] == [
        (2, 1), (3, 1), (4, 1), (2, 2), (3, 2), (4, 2),
    ]
    assert all(r["zoom"] == 5 for r in rows)


def test_tile_pyramid_counts(spark):
    from pyspark.sql import functions as F

    from geospark.cells import tile_pyramid

    got = tile_pyramid(spark, 3).groupBy("zoom").count().orderBy("zoom").collect()
    assert [(r["zoom"], r["count"]) for r in got] == [
        (0, 1), (1, 4), (2, 16), (3, 64),
    ]


def test_tile_relevel_fixtures(spark):
    """tile::range_on_z / direct_children fixtures (tile_test.cc:15-117)."""
    from geospark.cells import direct_children, tile_relevel, tile_range_relevel

    one = spark.createDataFrame([(8585, 5565)], "tile_x long, tile_y long")
    kids = sorted(
        (r["tile_x"], r["tile_y"], r["zoom"])
        for r in direct_children(one, 14).collect()
    )
    assert kids == [
        (17170, 11130, 15), (17170, 11131, 15),
        (17171, 11130, 15), (17171, 11131, 15),
    ]

    # 2 levels down: {56,84,7} -> 4x4 block at z9 (tile_test.cc:64-80)
    t = spark.createDataFrame([(56, 84)], "tile_x long, tile_y long")
    down = sorted(
        (r["tile_x"], r["tile_y"]) for r in tile_relevel(t, 7, 9).collect()
    )
    assert down == [(x, y) for x in range(224, 228) for y in range(336, 340)]

    # same level is identity; 3 levels up -> single ancestor
    same = tile_relevel(t, 7, 7).collect()
    assert [(r["tile_x"], r["tile_y"], r["zoom"]) for r in same] == [(56, 84, 7)]
    up = spark.createDataFrame([(15670, 131)], "tile_x long, tile_y long")
    got = tile_relevel(up, 15, 12).collect()
    assert [(r["tile_x"], r["tile_y"], r["zoom"]) for r in got] == [(1958, 16, 12)]

    # P14 rectangle re-level round trip (tile_test.cc:170-186 semantics)
    r = tile_range_relevel(spark, 2, 3, 5, 6, 4, 6)  # down 2
    rows = [(x["tile_x"], x["tile_y"]) for x in r.collect()]
    assert len(rows) == (4 * 4) * (4 * 4)
    assert min(rows) == (8, 12) and max(rows) == (23, 27)
    back = tile_range_relevel(spark, 8, 12, 23, 27, 6, 4)
    rows_b = sorted((x["tile_x"], x["tile_y"]) for x in back.collect())
    assert rows_b == [(x, y) for x in range(2, 6) for y in range(3, 7)]


def test_encode_polyline_nonzero_g2():
    """G2 push_nonzero_diff (polyline_format.h:41-58): threshold skip
    is strict >, quantization is llrint (ties to even)."""
    from geospark.functions import numpy_kernels as nk

    # zero-threshold: duplicate points collapse, others keep
    enc, kept = nk.encode_polyline_nonzero(
        [38.5, 38.5, 40.7], [-120.2, -120.2, -120.95], 5, 0
    )
    assert kept == 2
    full = nk.encode_polyline([38.5, 40.7], [-120.2, -120.95], 5)
    assert enc == full

    # threshold skips small deltas (strict >): 0.00001 deg = 1 unit
    enc2, kept2 = nk.encode_polyline_nonzero(
        [38.5, 38.50001, 38.6], [-120.2, -120.2, -120.2], 5, 1
    )
    assert kept2 == 2  # middle point delta == 1 unit, NOT > 1 -> skipped

    # llrint vs llround: 0.000005 * 1e5 = 0.5 -> rint 0, llround 1
    enc3, kept3 = nk.encode_polyline_nonzero([0.000005], [0.0], 5, 0)
    assert kept3 == 0  # rint(0.5) == 0 -> both diffs zero -> skipped
    assert nk.encode_polyline([0.000005], [0.0], 5) != ""


def test_nonzero_codec_golden_engine_tie_parity():
    """The GOLDEN twin must reproduce the engine's llrint (ties-to-
    even) quantization on exact .5-unit ties — the one input where
    llrint and llround (the G1 rule) diverge."""
    from geospark import goldens as GO
    from geospark.functions import numpy_kernels as nk

    pts = [(0.000005, 0.0), (0.000015, 0.0), (0.000025, 0.0)]
    g_enc, g_kept = GO.encode_polyline_nonzero(pts, precision=5,
                                               simplification=0)
    e_enc, e_kept = nk.encode_polyline_nonzero(
        [p[0] for p in pts], [p[1] for p in pts], 5, 0)
    assert (g_enc, g_kept) == (e_enc, e_kept)
    # ties-to-even: 0.5->0, 1.5->2, 2.5->2 (llround would give 1,2,3)
    assert g_kept == 1

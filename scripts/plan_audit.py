"""Physical-plan audit: assert the plan SHAPE claims the engine makes
(broadcast joins, pushed filters, whole-stage codegen, no Python in
hot paths) against `.explain("formatted")`, and write the evidence to
PLANS.md. Run with AQE off so codegen markers are visible.

Usage: python scripts/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import io
import sys
from contextlib import redirect_stdout
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

REPO = Path(__file__).resolve().parent.parent


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    from pyspark.sql import functions as F

    import __spark_entry__ as E
    from geospark import geodata as G
    from geospark.session import get_spark, host

    cores, _ = host()
    spark = get_spark(
        "plan-audit", master=f"local[{cores}]", shuffle_partitions=cores,
        extra_conf={
            "spark.ui.enabled": "false",
            # AQE hides codegen markers in explain output
            "spark.sql.adaptive.enabled": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    sections: list[tuple[str, str, list[str]]] = []
    failures: list[str] = []

    def audit(name: str, df, must: list[str], must_not: list[str],
              notes: str) -> None:
        txt = plan_of(df)
        checks = []
        for m in must:
            ok = m in txt
            checks.append(f"- [{'x' if ok else ' '}] contains `{m}`")
            if not ok:
                failures.append(f"{name}: missing {m}")
        for m in must_not:
            ok = m not in txt
            checks.append(f"- [{'x' if ok else ' '}] free of `{m}`")
            if not ok:
                failures.append(f"{name}: contains {m}")
        sections.append((name, notes, checks))

    q = E.queries()

    # 1. tile assignment: one codegen'd scan->project->agg, no Python
    audit(
        "tile_assign (P3 webmercator tile keys)",
        q["tile_assign"](spark, sf_dir),
        must=["* HashAggregate"],
        must_not=["BatchEvalPython", "ArrowEvalPython"],
        notes="pure Column projection folds into the scan stage; "
              "partial+final hash aggregation.",
    )

    # 2. PIP join: two broadcast joins (cell cover, then latitude-band
    # slab edges) and a JVM ray-cast over the band's edges, whatever
    # the layer size. The default demo layer is great-circle DENSIFIED
    # (~800 edges, spherical reference semantics).
    audit(
        "pip_join (Q14 point-in-polygon, densified layer, slab refine)",
        q["pip_join"](spark, sf_dir),
        must=["* BroadcastHashJoin"],
        must_not=["BatchEvalPython", "ArrowEvalPython", "MapInArrow",
                  "SortMergeJoin"],
        notes="cell-cover build side broadcast (no shuffle of the "
              "point table) and codegen'd; cover candidates then "
              "join the broadcast (area_id, latitude band) slab table "
              "and the spherical-parity densified polygons refine as "
              "an interpreted aggregate/exists ray-cast over the "
              "band's few edges — zero Python.",
    )

    # 2b. a small planar layer takes the same slab refine
    from geospark.joins import Area, PolygonLayer, pip_join, pip_join_table
    from geospark.sources import areas_to_df

    small = PolygonLayer(
        [Area(1, [[(10.0, 10.0), (10.0, 12.0), (8.0, 12.0), (8.0, 10.0)]])],
        cover_zoom=6,
    )
    audit(
        "pip_join (small planar layer, slab refine)",
        pip_join(G.events_points(spark, sf_dir)
                 .select("event_id", "lat", "lng"), small),
        must=["* BroadcastHashJoin"],
        must_not=["BatchEvalPython", "ArrowEvalPython", "MapInArrow",
                  "SortMergeJoin"],
        notes="short-edge layers skip densification (semantic no-op) "
              "and refine through the same broadcast slab table as "
              "the densified layer — zero Python.",
    )

    # 2c. a polygon TABLE is read into a layer and takes the same joins
    audit(
        "pip_join_table (polygon table, same broadcast slab refine)",
        pip_join_table(G.events_points(spark, sf_dir)
                       .select("event_id", "lat", "lng"),
                       areas_to_df(spark, small.areas),
                       cover_zoom=small.cover_zoom),
        must=["* BroadcastHashJoin"],
        must_not=["FlatMapCoGroupsInPandas", "ArrowEvalPython",
                  "BatchEvalPython"],
        notes="the table's rings are collected into a planar "
              "PolygonLayer, so the plan is pip_join's: broadcast cell "
              "cover, broadcast slab table, JVM ray-cast — no cogroup, "
              "zero Python.",
    )

    # 2d. the flagship path: parquet pages -> extract -> pip -> tiles
    import tempfile

    from geospark.cells import with_tile
    from geospark.extract import extract_points
    from geospark.pages import synth_pages

    tmp = tempfile.mkdtemp(prefix="plan_audit_")
    synth_pages(spark, 2000, partitions=2).write.parquet(f"{tmp}/pages")
    flagship = with_tile(
        pip_join(extract_points(spark.read.parquet(f"{tmp}/pages")),
                 G.demo_layer()), 8,
    ).groupBy("area_id", "tile_x", "tile_y").count()
    audit(
        "flagship (pages -> extract_points -> pip_join -> tile counts)",
        flagship,
        must=["* BroadcastHashJoin", "* HashAggregate"],
        must_not=["MapInArrow", "ArrowEvalPython", "BatchEvalPython"],
        notes="extraction is two regexp_extract_all captures zipped "
              "and posexploded, the PIP join is the broadcast cover "
              "join plus the slab join, tiles are Column math: the "
              "page scan never leaves the JVM.",
    )

    # 3. radius join: Arrow cover UDF + broadcast + codegen refine
    audit(
        "radius_join (Q2 filter-refine radius query)",
        q["radius_join"](spark, sf_dir),
        must=["* BroadcastHashJoin"],
        must_not=["BatchEvalPython", "SortMergeJoin", "CartesianProduct"],
        notes="per-center buffered-bbox cover cells come from an "
              "Arrow-batched UDF over the centers relation (the only "
              "Python crossing) and broadcast; exact haversine refine "
              "stays in codegen.",
    )

    # 4. box query: predicate reaches the parquet scan
    pts = G.events_points(spark, sf_dir).select("event_id", "lat", "lng")
    from geospark.layout import write_cell_sorted

    write_cell_sorted(pts, f"{tmp}/pts", zoom=8, partitions=4)
    scan = spark.read.parquet(f"{tmp}/pts").filter(
        (F.col("lat") > 10.0) & (F.col("lat") < 20.0)
        & (F.col("lng") > -5.0) & (F.col("lng") < 5.0)
    )
    audit(
        "box_query on cell-sorted layout (Q5; the table IS the index)",
        scan,
        must=["PushedFilters", "* Filter"],
        must_not=["BatchEvalPython"],
        notes="lat/lng predicates are pushed into the parquet scan; on "
              "the cell-sorted layout the row-group min/max stats prune "
              "like R-tree node descent.",
    )

    # 5. polyline length: higher-order array fold, one agg, no Python
    audit(
        "polyline_length (L1 zip_with/aggregate fold)",
        q["polyline_length"](spark, sf_dir),
        must=["HashAggregate", "ObjectHashAggregate"],
        must_not=["BatchEvalPython"],
        notes="segment haversine folds JVM-side inside the collect_list "
              "aggregation stage; no Python anywhere.",
    )

    # 6. exact polyline distance: min-struct aggregate argmin (the lag
    # window derives SEGMENTS per user — one small-keyed window over the
    # event table — but the 5x-amplified per-center scoring aggregates
    # with partial aggregation, never window-sorts)
    audit(
        "polyline_dist (L6/S8 min-struct argmin)",
        q["polyline_dist"](spark, sf_dir),
        must=["SortAggregate", "BroadcastNestedLoopJoin", "partial_min"],
        must_not=["BatchEvalPython"],
        notes="argmin is a partial-aggregatable min(struct); the only "
              "window is the per-user lag() that derives segments "
              "BEFORE the x5 center amplification.",
    )

    # 6b. S2 containment: broadcast RANGE join on the [min,max] leaf
    # interval — no exploded cover relation; the ONE ArrowEvalPython is
    # the vectorized leaf encode (the sanctioned Arrow-batched UDF),
    # everything after it is JVM bit-ops + hash agg
    audit(
        "s2_range_join (S2 hierarchy containment as a range join)",
        q["s2_range_join"](spark, sf_dir),
        must=["BroadcastNestedLoopJoin", "ArrowEvalPython",
              "HashAggregate"],
        must_not=["BatchEvalPython", "Generate", "SortMergeJoin"],
        notes="each query cell is one [range_min, range_max] interval "
              "(S2's contiguous-descendants property); containment is "
              "a broadcast range join — no cover explosion, no shuffle "
              "of the point table. Leaf encode is a single "
              "Arrow-batched numpy pass; re-leveling stays JVM-side.",
    )

    audit(
        "s2_radius_query (cap cover as ancestor-at-level equi-join)",
        q["s2_radius_query"](spark, sf_dir),
        must=["* BroadcastHashJoin", "ArrowEvalPython"],
        must_not=["BatchEvalPython", "BroadcastNestedLoopJoin",
                  "SortMergeJoin"],
        notes="the mixed-level cap cover joins as a broadcast HASH "
              "join on (level, ancestor) — one key per distinct cover "
              "level, cover cells disjoint so no dedup. The interval "
              "BETWEEN form this replaced degenerated to a "
              "BroadcastNestedLoopJoin (O(points x intervals)); the "
              "must_not pins that regression.",
    )

    # 7. doc exact dedup: single hash shuffle
    audit(
        "doc_dedup_exact (one shuffle on the md5 content key)",
        q["doc_dedup_exact"](spark, sf_dir),
        must=["Exchange", "hashpartitioning", "Window"],
        must_not=["BatchEvalPython"],
        notes="canonical-id + group-size via one hash exchange.",
    )

    audit(
        "hex_assign (aperture-7 hex binning, pure Column encode)",
        q["hex_assign"](spark, sf_dir),
        must=["* HashAggregate"],
        must_not=["BatchEvalPython", "ArrowEvalPython"],
        notes="the hex encode (mercator + rotation + cube round) is "
              "all codegen'd Column arithmetic folded into the scan "
              "stage; one partial-aggregatable shuffle on the cell id.",
    )

    audit(
        "hex_kring_join (k-ring as integer shifts -> broadcast equi-join)",
        q["hex_kring_join"](spark, sf_dir),
        must=["* BroadcastHashJoin"],
        must_not=["BatchEvalPython", "ArrowEvalPython", "SortMergeJoin"],
        notes="ring probes are literal id offsets exploded on the tiny "
              "center side and broadcast; the big cell relation "
              "streams through the join with no shuffle.",
    )

    audit(
        "events_attribution (as-of join: union + ONE window, no join op)",
        q["events_attribution"](spark, sf_dir),
        must=["Window", "Union"],
        must_not=["BatchEvalPython", "ArrowEvalPython", "Join",
                  "CartesianProduct"],
        notes="the as-of match is last(ignorenulls) over a rows frame "
              "on the unioned stream — one shuffle on user_id, no "
              "range self-join, no join operator at all.",
    )

    audit(
        "traj_tile_cover (scanline supercover rasterization)",
        q["traj_tile_cover"](spark, sf_dir),
        must=["* HashAggregate", "* Generate", "explode(sequence(",
              "Window"],
        must_not=["BatchEvalPython", "ArrowEvalPython"],
        notes="segments from one per-user lag window; the two explodes "
              "(y-rows, then the contiguous x-range) are output-linear "
              "— never a bbox enumeration — and every coordinate is "
              "codegen'd Column math.",
    )

    # connected components: one large-star/small-star round — all
    # Catalyst joins/aggs, no Python, no collect
    from geospark.graph import _large_star, _small_star

    cc_edges = spark.createDataFrame(
        [(i, i + 1) for i in range(100)], "a long, b long"
    )
    audit(
        "connected_components round (large-star + small-star)",
        _small_star(_large_star(cc_edges)),
        must=["* HashAggregate", "HashAggregate"],
        must_not=["BatchEvalPython", "ArrowEvalPython",
                  "CartesianProduct"],
        notes="each half-round is groupBy-min + re-emit; the star "
              "contraction is pure Catalyst (exchange reuse across the "
              "two halves), so dedup closure needs no driver collect "
              "and no per-row Python.",
    )

    # chunking: a zero-shuffle map over the corpus — generator explode
    # inside one codegen'd stage, no Exchange, no Python
    from geospark.textops import chunk_documents

    audit(
        "doc_chunk (sliding-window training chunks)",
        chunk_documents(
            spark.read.parquet(f"{sf_dir}/documents.parquet"),
            chunk_size=E.CHUNK_SIZE, stride=E.CHUNK_STRIDE,
        ),
        must=["Generate"],
        must_not=["Exchange", "BatchEvalPython", "ArrowEvalPython"],
        notes="split + sequence + posexplode + slice as pure Column "
              "exprs: the whole chunker is a map over the scan with "
              "ZERO shuffles — at 100 TB it reads and writes linearly "
              "with no cluster-wide data movement. (The driver query "
              "adds one repartition purely to fan out the single-file "
              "test table; real many-split corpora skip it.)",
    )

    # shingles: the generator behind every MinHash entry point — a
    # codegen'd explode of token positions, no interpreted lambda
    from geospark.textops import shingles

    audit(
        "doc_shingles (word n-gram shingles for MinHash)",
        shingles(spark.read.parquet(f"{sf_dir}/documents.parquet")),
        must=["explode(", "* Generate"],
        must_not=["lambdafunction", "BatchEvalPython", "ArrowEvalPython"],
        notes="split once, explode sequence(0, size - n) inside the "
              "scan's codegen stage, and concat_ws over n indexed "
              "tokens; no transform lambda (interpreted per element). "
              "minhash_neardup_pairs feeds the same rows, without the "
              "distinct, into its one per-document groupBy.",
    )

    # tf-idf: tf/df aggregations shuffle, corpus size N arrives via a
    # broadcast 1-row relation (never a driver-side collect)
    audit(
        "doc_tfidf (per-doc top-k TF-IDF terms)",
        q["doc_tfidf"](spark, sf_dir),
        must=["* HashAggregate", "BroadcastNestedLoopJoin"],
        must_not=["BatchEvalPython", "ArrowEvalPython"],
        notes="tf groupBy(doc, token) and df groupBy(token) both get "
              "map-side partial aggregation; N joins in as a broadcast "
              "single-row relation so the plan stays fully "
              "distributed; top-k is one window over doc_id.",
    )

    # int8 quantization: narrow per-row array math, nothing else
    audit(
        "emb_quantize (symmetric int8 vector quantization)",
        __import__("geospark.embeddings", fromlist=["quantize_int8"])
        .quantize_int8(
            spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        ),
        must=["Project"],
        must_not=["Exchange", "BatchEvalPython", "ArrowEvalPython"],
        notes="transform/array_max fold per row inside the scan "
              "stage: a map-only 4x compression pass with zero "
              "shuffles — partitioning of the input table is "
              "preserved for downstream bucketed use.",
    )

    # map matching: codegen'd streamed join stage (only the tiny
    # latitude lower-bound prefilter in the join condition), refine
    # staged through _cos_* Projects feeding a MAP-SIDE partial
    # min-struct aggregate — the exchange carries one candidate-
    # minimum per (probe, map partition), never the raw candidate
    # relation (the repartition(point_id) form spilled >37 GB and
    # died ENOSPC at 12M segments)
    mm_df = q["map_match"](spark, sf_dir)
    audit(
        "map_match (probe -> road-network snap join)",
        mm_df,
        must=["* BroadcastHashJoin", "hashpartitioning(point_id",
              "partial_min"],
        must_not=["BatchEvalPython", "SortMergeJoin"],
        notes="probe ancestor keys broadcast; the network cover "
              "streams with NO candidate shuffle (one ArrowEvalPython "
              "for the int64 cover keys only); the codegen'd (*) join "
              "stage carries only the ~100-byte latitude lower-bound "
              "prefilter; the closest-on-segment + haversine refine "
              "and the struct-min argmin run map-side into a "
              "partial_min, so the point_id exchange moves per-"
              "(probe, partition) minima only.",
    )
    # the refine tree must never fold into the join condition: a
    # giant BroadcastHashJoin line is the 64 KB codegen fallback
    # (and, pre-aggregation, the raw-candidate shuffle) coming back
    mm_bhj = [l for l in plan_of(mm_df).splitlines()
              if "BroadcastHashJoin" in l]
    if any(len(l) > 2000 for l in mm_bhj):
        failures.append(
            "map_match: BroadcastHashJoin line exceeds 2000 chars — "
            "the exact refine leaked into the join condition")

    # toponym resolution: broadcast gazetteer dim + map-side partial
    # argmin; the mention relation never shuffles raw
    audit(
        "geocode_resolve (toponym resolution / forward geocoding)",
        q["geocode_resolve"](spark, sf_dir),
        must=["BroadcastHashJoin", "partial_min"],
        must_not=["BatchEvalPython", "ArrowEvalPython",
                  "SortMergeJoin", "CartesianProduct"],
        notes="the 1500-row ambiguous gazetteer broadcasts; candidates "
              "(x3 per mention) score map-side with pure-BIGINT "
              "population/distance arithmetic and fold into a "
              "partial_min struct argmax below the mention exchange — "
              "one broadcast join, one minima-only shuffle.",
    )

    # reverse geocoding: windowless kNN k=1 over the gazetteer — the
    # attribute rejoin broadcasts, nothing falls back to a cartesian
    audit(
        "reverse_geocode (nearest-place kNN k=1)",
        q["reverse_geocode"](spark, sf_dir),
        must=["BroadcastHashJoin"],
        must_not=["BatchEvalPython", "CartesianProduct"],
        notes="each point's d_1 bound comes from one spooled count of "
              "places per cell (z16..z1); the radius join covers each "
              "point's own bound and the exact argmin is a "
              "partial-aggregatable min(struct) per point, no window; "
              "gaz attributes rejoin by broadcast.",
    )

    # kNN: per-center radius bound, then one radius join + top-k
    # window — no rounds, so no straggler cross join
    audit(
        "knn (Q4 point_rtree::nearest, bounded radius join)",
        q["knn"](spark, sf_dir),
        must=["Window"],
        must_not=["BatchEvalPython", "CartesianProduct"],
        notes="each center's d_k bound comes from one spooled count of "
              "points per cell (z16..z1); phase 2 is the radius join "
              "with that per-center radius (Arrow cover UDF over the "
              "centers only) and a row_number top-k window per center; "
              "centers short of k points take a world radius instead "
              "of a cross join.",
    )

    # exact-substring scrubbing: gram window + anti-join + rollup,
    # all JVM — the token relation never meets a python worker
    audit(
        "doc_span_scrub (exact-substring scrubbing)",
        q["doc_span_scrub"](spark, sf_dir),
        must=["Window", "* HashAggregate"],
        must_not=["BatchEvalPython", "ArrowEvalPython",
                  "CartesianProduct"],
        notes="ONE gh-partitioned window marks keeper + cross-doc per "
              "gram; covered positions explode only from duplicated "
              "windows; the token relation LEFT ANTI joins the "
              "covered set and regroups per doc with an array_sort "
              "reconstruction — linear shuffles, zero Python.",
    )

    # raster->vector rectangle decomposition: window passes only
    audit(
        "tile_vectorize (raster->vector rectangle decomposition)",
        q["tile_vectorize"](spark, sf_dir),
        must=["* HashAggregate", "Window"],
        must_not=["BatchEvalPython", "ArrowEvalPython", "CartesianProduct"],
        notes="two gaps-and-islands passes: run-key window partitions "
              "by (area, tile_y), merge-key window by (area, x0, x1) "
              "— per-row/per-extent granularity, never a global sort; "
              "aggregations are hash aggs on the window keys.",
    )

    # zonal stats: broadcast raster side, integer-key equi-join
    audit(
        "zonal_stats (points x rasterized areas)",
        q["zonal_stats"](spark, sf_dir),
        must=["BroadcastHashJoin", "* HashAggregate"],
        must_not=["BatchEvalPython", "ArrowEvalPython",
                  "BroadcastNestedLoopJoin"],
        notes="the polygon raster (small side) broadcasts; points "
              "stream through an integer (tile_x, tile_y) hash join "
              "with no geometry evaluated at join time; per-area agg "
              "gets map-side partials.",
    )

    # tile payloads: the only Python is the three Arrow UDF stages
    # (DP mask, mask apply, polyline encode) — cover + grouping are JVM
    audit(
        "tile_payload (per-tile simplified geometry payloads)",
        q["tile_payload"](spark, sf_dir),
        must=["ArrowEvalPython", "ObjectHashAggregate"],
        must_not=["BatchEvalPython", "CartesianProduct",
                  "BroadcastNestedLoopJoin"],
        notes="trajectory collect + segment explode + scanline "
              "supercover + per-tile grouping are all JVM Column "
              "math; Python appears only as Arrow-batched UDFs for "
              "the DP mask family and the polyline codec (the "
              "reference's own per-line scalar kernels).",
    )

    # audit the PAIR BUILD subplan (the full query spools it eagerly,
    # which hides the cover UDF behind a checkpoint scan in explain)
    from geospark.density import eps_pairs as _eps_pairs

    audit(
        "density_classify pair build (DBSCAN eps-disk cover join)",
        _eps_pairs(G.events_points(spark, sf_dir), 250_000.0,
                   id_col="event_id"),
        must=["ArrowEvalPython"],
        must_not=["BatchEvalPython", "CartesianProduct",
                  "BroadcastNestedLoopJoin"],
        notes="the only Python is the Arrow-batched eps-disk cover "
              "(the cluster module's numpy kernel); the pair build is "
              "a cell equi-join + codegen haversine refine; the label "
              "stages downstream are a count aggregate and a "
              "semi-join over the spooled pairs — no quadratic "
              "operator anywhere.",
    )

    audit(
        "geohash_rollup (flat-interleave encode + prefix rollup)",
        q["geohash_rollup"](spark, sf_dir),
        must=["* HashAggregate"],
        must_not=["BatchEvalPython", "ArrowEvalPython"],
        notes="the 6-char encode is one narrow codegen projection "
              "(flat bit terms, no Morton-spread chains); the only "
              "shuffle is the prefix aggregate; the center decode "
              "runs post-aggregate on cell-count rows.",
    )

    audit(
        "geohash_kring_join (axis-step neighbors, equi-join)",
        q["geohash_kring_join"](spark, sf_dir),
        must=["BroadcastHashJoin"],
        must_not=["BatchEvalPython", "ArrowEvalPython",
                  "BroadcastNestedLoopJoin", "SortMergeJoin",
                  "CartesianProduct"],
        notes="ring probes are +-1 integer steps on the quantized "
              "axes re-interleaved to long keys; both the ring join "
              "and the zero-fill join broadcast; no geometry at join "
              "time.",
    )

    audit(
        "hll_users (mergeable distinct-count sketch)",
        q["hll_users"](spark, sf_dir),
        must=["* HashAggregate"],
        must_not=["BatchEvalPython", "ArrowEvalPython"],
        notes="three shuffles by design — distinct(keys,item), "
              "register max, per-key fold — the last two on "
              "register-relation cardinality (cells x 2^p rows), not "
              "event volume; all md5/bit math is codegen.",
    )

    audit(
        "doc_weighted_sample (ES order sampling)",
        q["doc_weighted_sample"](spark, sf_dir),
        must=["TakeOrderedAndProject"],
        must_not=["BatchEvalPython", "ArrowEvalPython",
                  "Exchange hashpartitioning",
                  "Exchange rangepartitioning"],
        notes="per-partition top-k heaps merged once on the driver — "
              "no global sort and no key shuffle (the only Exchange "
              "is the round-robin test-data fan-out in _docs).",
    )

    audit(
        "cms_heavy_hitters (Count-Min sketch, mergeable frequency state)",
        q["cms_heavy_hitters"](spark, sf_dir),
        must=["* HashAggregate", "BroadcastHashJoin"],
        must_not=["BatchEvalPython", "ArrowEvalPython",
                  "SortMergeJoin"],
        notes="sketch build is one groupBy(row,bucket) whose map-side "
              "partial agg caps each task at d*w cells before the "
              "shuffle; the <=4096-row sketch broadcasts into the "
              "lookup; all salted-md5 bucket math is codegen.",
    )

    audit(
        "bloom_crawl_filter (bit-set membership, zero false negatives)",
        q["bloom_crawl_filter"](spark, sf_dir),
        must=["BroadcastHashJoin"],
        must_not=["BatchEvalPython", "ArrowEvalPython",
                  "SortMergeJoin"],
        notes="the <=2^14-row lit-bit relation broadcasts into the "
              "probe join (LEFT + min fold = all-k-bits test); the "
              "seen-set equality join also broadcasts — no shuffle "
              "scales with probe volume beyond the per-item fold.",
    )

    audit(
        "kmv_overlap (k-minimum-values set overlap)",
        q["kmv_overlap"](spark, sf_dir),
        must=["TakeOrderedAndProject"],
        must_not=["BatchEvalPython", "ArrowEvalPython",
                  "Window"],
        notes="un-keyed k-smallest plans as TakeOrderedAndProject "
              "(per-partition heaps, driver merge of k rows) — no "
              "single-partition window sort; the set algebra runs on "
              "<= 3k-row relations.",
    )

    audit(
        "staypoints (GPS stay segmentation)",
        q["staypoints"](spark, sf_dir),
        must=["Window"],
        must_not=["BatchEvalPython", "ArrowEvalPython"],
        notes="lag/cumsum windows, segment rollup and stay "
              "re-numbering all cluster on user_id — "
              "test_staypoints_single_exchange asserts exactly ONE "
              "Exchange; all step/dwell/centroid math integer-exact "
              "and codegen.",
    )

    audit(
        "colocate (spatiotemporal co-location join)",
        q["colocate"](spark, sf_dir),
        must=["* HashAggregate"],
        must_not=["BatchEvalPython", "CartesianProduct",
                  "BroadcastNestedLoopJoin"],
        notes="the quadratic range self-join becomes ONE hash "
              "equi-join on (cell, time-bucket) — left side explodes "
              "the latitude-aware d-disk cover (the one Arrow UDF) x "
              "2 time replicas; refine + per-pair rollup are codegen.",
    )

    def _pagerank_unspooled():
        # the driver query spools ranks each iteration (eager), so its
        # returned plan is just the final spool scan; audit the same
        # operator with the spool off to see the iteration shape
        from geospark.graph import pagerank

        ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
            F.col("event_id").alias("node"))
        nn = ev.agg(F.count("*").alias("_n"))
        edges = ev.crossJoin(F.broadcast(nn)).select(
            F.col("node").alias("src"),
            F.explode(F.array(
                (F.col("node") * 7919 + 1) % F.col("_n"),
                (F.col("node") * 104729 + 2) % F.col("_n"),
            )).alias("dst"),
        )
        return pagerank(ev, edges, iters=2, use_spool=False)

    audit(
        "pagerank (integer-exact link authority)",
        _pagerank_unspooled(),
        must=["* HashAggregate"],
        must_not=["BatchEvalPython", "ArrowEvalPython",
                  "CartesianProduct"],
        notes="per iteration: rank x degree-annotated edges join on "
              "src + contribution sum on dst + left-join back to "
              "nodes — the standard distributed shape; BIGINT floor "
              "divisions only. The driver query additionally spools "
              "ranks between iterations to keep lineage shallow "
              "(audited here with the spool off so the iteration "
              "plan is visible).",
    )

    audit(
        "polygon_area (exact ring shoelace)",
        q["polygon_area"](spark, sf_dir),
        must=["Window", "* HashAggregate"],
        must_not=["BatchEvalPython", "ArrowEvalPython"],
        notes="wraparound lead/first window and the ring rollup share "
              "the ring-key partitioning; integer cross products in "
              "codegen — no Python, no float summation.",
    )

    audit(
        "convex_hull (per-x extreme prefilter + bucket-batched chain)",
        q["convex_hull"](spark, sf_dir),
        must=["* HashAggregate"],
        must_not=["BatchEvalPython", "FlatMapGroupsInPandas"],
        notes="the LOSSLESS min/max-y-per-x reduction runs as a "
              "codegen aggregate BEFORE Python; the chain kernel is "
              "mapInPandas over group-colocated buckets (one Python "
              "call per partition), not per-group applyInPandas.",
    )

    audit(
        "hausdorff (literal-ref explode + max-min trees)",
        q["hausdorff"](spark, sf_dir),
        must=["* HashAggregate", "Generate", "explode(["],
        must_not=["BatchEvalPython", "ArrowEvalPython",
                  "CartesianProduct"],
        notes="the m reference vertices explode from an array literal "
              "— no join builds the n x m distance matrix; both "
              "directed reductions are partial-aggregatable "
              "HashAggregates (map-side combine shrinks n x m to n "
              "and u x m before their exchanges).",
    )

    # polygon x polygon overlap: every join keyed (tile cover /
    # candidate ids), no Python, no cross product; the candidate
    # relation feeds three consumers through one reused exchange
    audit(
        "polygon_overlap (polygon x polygon overlay join)",
        q["polygon_overlap"](spark, sf_dir),
        must=["ReusedExchange"],
        must_not=["BatchEvalPython", "ArrowEvalPython",
                  "CartesianProduct"],
        notes="candidates from the tile-cover equi-join are consumed "
              "by the edge-cross left join and both containment "
              "parity aggregates — Spark reuses the exchange instead "
              "of recomputing the cover three times; the orientation "
              "and parity refines are pure codegen arithmetic.",
    )

    # decontamination: map-side distinct n-grams, broadcast eval set,
    # one partial-aggregatable shuffle
    audit(
        "doc_decontaminate (eval-set n-gram decontamination)",
        q["doc_decontaminate"](spark, sf_dir),
        must=["* BroadcastHashJoin", "partial_count"],
        must_not=["BatchEvalPython", "ArrowEvalPython",
                  "SortMergeJoin"],
        notes="the corpus never shuffles on shingles: per-doc "
              "distinct 5-grams come from a map-side array_distinct, "
              "the eval set broadcasts, and the only corpus exchange "
              "is the partial-aggregated rollup on doc_id.",
    )

    # BM25: query vocabulary filtered BEFORE the tf shuffle, df +
    # query relations broadcast, scores integer from the quantization
    audit(
        "doc_bm25 (BM25 top-k retrieval)",
        q["doc_bm25"](spark, sf_dir),
        must=["* BroadcastHashJoin", "partial_count",
              "BroadcastNestedLoopJoin"],
        must_not=["BatchEvalPython", "ArrowEvalPython",
                  "SortMergeJoin", "CartesianProduct"],
        notes="the corpus explode is filtered to the query vocabulary "
              "before the tf groupBy (the one real exchange carries "
              "matched hits only); the query and df relations "
              "broadcast-hash-join; the 1-row corpus stats join is a "
              "broadcast nested loop; per-term scores floor-quantize "
              "to BIGINT micro-units so the final rank is integer "
              "order, no float-summation hazard.",
    )

    # bigram LM: lang predicate reaches the reference scan; the
    # vocab-sized model relations broadcast; the corpus bigram stream
    # stays in one codegen stage through both joins + the partial agg
    audit(
        "doc_lm_ppl (bigram-LM perplexity scoring)",
        q["doc_lm_ppl"](spark, sf_dir),
        must=["* BroadcastHashJoin", "EqualTo(lang,en)",
              "partial_count"],
        must_not=["BatchEvalPython", "ArrowEvalPython",
                  "SortMergeJoin"],
        notes="the reference slice predicate is pushed to the parquet "
              "scan; unigram/bigram count relations (vocab-sized) "
              "broadcast; the only corpus-sized exchange is the "
              "partial-aggregated doc rollup.",
    )

    # PQ-ADC: codebook + per-query LUTs are LITERAL integer arrays
    # (collected once, n_codes rows), so encode is map-side and each
    # query is a narrow projection over the m-byte codes relation
    # ending in a per-partition top-k heap — zero joins, zero
    # corpus shuffles
    audit(
        "emb_pq (product-quantization ADC top-k)",
        q["emb_pq"](spark, sf_dir),
        must=["TakeOrderedAndProject"],
        must_not=["BatchEvalPython", "ArrowEvalPython",
                  "SortMergeJoin", "BroadcastHashJoin"],
        notes="codebook and ADC lookup tables inlined as literals; "
              "per-query ADC distance = m integer array lookups in a "
              "projection; top-k via TakeOrderedAndProject heaps (no "
              "per-query window over the corpus, no join, no corpus "
              "exchange); the final rn window ranks only 5*k rows.",
    )

    # triangles: degree-oriented wedge join — no Python, all
    # partial-aggregatable counts
    audit(
        "triangles (degree-oriented triangle counting)",
        q["triangles"](spark, sf_dir),
        must=["* HashAggregate", "partial_count"],
        must_not=["BatchEvalPython", "ArrowEvalPython"],
        notes="orientation bounds wedge fan-out by O(sqrt m) "
              "out-degree; the apex self-join and the closing "
              "semi-join are plain hash joins AQE can re-plan; "
              "corner counts partial-aggregate.",
    )

    # graph_cc: the plan a caller sees is the FINAL label/size rollup
    # over the converged (spooled) star forest — the contraction
    # rounds themselves materialize behind the spool, so the audit
    # asserts the visible plan is join/agg-only with no Python and
    # the component-size rollup partial-aggregates
    audit(
        "graph_cc (large/small-star connected components)",
        q["graph_cc"](spark, sf_dir),
        must=["* HashAggregate", "partial_count"],
        must_not=["BatchEvalPython", "ArrowEvalPython"],
        notes="every contraction round is two Catalyst shuffles "
              "(groupBy-min + distinct) plus ONE fused convergence "
              "aggregate; rounds spool so lineage stays flat; the "
              "final label join and comp_size rollup are ordinary "
              "hash join + partial-aggregated count.",
    )

    audit(
        "hdr_quantiles (mergeable bounded-error quantile sketch)",
        q["hdr_quantiles"](spark, sf_dir),
        must=["partial_count", "Window"],
        must_not=["BatchEvalPython", "ArrowEvalPython"],
        notes="ONE partial-aggregatable shuffle on (lang, shard, "
              "bucket) — the map-side combine collapses each task to "
              "its distinct buckets before the exchange; the merge "
              "and the cumulative-rank quantile extraction window "
              "run over the tiny sketch relation only (<= ~250 rows "
              "per lang), and n_buckets rides in the same aggregate "
              "so the whole query is a single raw-data scan.",
    )

    def _sssp_flat():
        from geospark.graph import sssp

        ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
            F.col("event_id").alias("node")).limit(2000)
        nn = ev.agg(F.count("*").alias("_n"))
        edges = ev.crossJoin(F.broadcast(nn)).select(
            F.col("node").alias("src"),
            ((F.col("node") * 7919 + 1) % F.col("_n")).alias("dst"),
            (F.lit(1) + (F.col("node") * 31 + 7) % 100).alias("w"),
        )
        return sssp(edges, [0, 1, 2], hops=2, use_spool=False)

    audit(
        "graph_sssp relaxation round (spool off, 2 hops)",
        _sssp_flat(),
        must=["partial_min"],
        must_not=["BatchEvalPython", "ArrowEvalPython",
                  "CartesianProduct"],
        notes="per round the frontier joins the edge relation and the "
              "candidate min on dst is PARTIAL-aggregated before its "
              "exchange (map-side combine — shuffle volume is distinct "
              "dst per task, not relaxations); the state merge is an "
              "ordinary full-outer hash join on node. The driver query "
              "spools state/frontier per round, so its visible plan is "
              "only the final scan (the pagerank precedent) — this "
              "audit runs the loop un-spooled to expose the round "
              "shape.",
    )

    audit(
        "emb_kmeans (integer-exact Lloyd training, Arrow path)",
        q["emb_kmeans"](spark, sf_dir),
        must=["BroadcastHashJoin", "partial_count", "ArrowEvalPython"],
        must_not=["BatchEvalPython", "SortMergeJoin"],
        notes="round 5 defaults the driver query to the Arrow "
              "assignment kernel (bit-identical to the literal-array "
              "argmin by test, 4.7-10.6x at 5M vectors): the "
              "final-assignment pass is ONE numpy-matmul Arrow batch "
              "per partition — still map-side, still no centroid "
              "relation join; the per-centroid rollup "
              "partial-aggregates before its exchange and the "
              "model-sized centroid-stats relation joins back as a "
              "broadcast.",
    )

    audit(
        "doc_pack (two-level prefix scan sequence packing)",
        q["doc_pack"](spark, sf_dir),
        must=["Window", "hashpartitioning(_sh"],
        must_not=["BatchEvalPython", "ArrowEvalPython",
                  "Exchange SinglePartition"],
        notes="the global token-stream offset never materializes a "
              "single-partition window: local cumsums run per range "
              "shard in parallel (window partitioned by _sh) and the "
              "n_shards exclusive prefix joins back as a broadcast; "
              "the span explode is a codegen Generate over at most "
              "(n_tok / seq_len + 1) sequences per doc.",
    )

    audit(
        "corridor_join (per-(point, line) radius corridor)",
        q["corridor_join"](spark, sf_dir),
        must=["* BroadcastHashJoin", "partial_min"],
        must_not=["BatchEvalPython", "SortMergeJoin",
                  "CartesianProduct"],
        notes="the map_match plan with the argmin keyed by (point, "
              "line): same multi-zoom cover join (ArrowEvalPython for "
              "the int64 cover keys only), same aggregate-output "
              "radius filter as a pushdown barrier, and the exchange "
              "still carries per-(probe, line, partition) partial "
              "minima — never the raw candidate relation.",
    )

    audit(
        "emb_ivfpq (IVF-PQ composed ANN, trained coarse quantizer)",
        q["emb_ivfpq"](spark, sf_dir),
        must=["* BroadcastHashJoin"],
        must_not=["BatchEvalPython", "ArrowEvalPython",
                  "SortMergeJoin", "CartesianProduct"],
        notes="assignment + residual + PQ encode are ONE map-side "
              "projection (centroids and the residual codebook are "
              "literal arrays — the corpus never joins during "
              "encode); the |Q|*n_probe probe/LUT relation broadcasts "
              "into the codes join, ADC is m array lookups folded in "
              "codegen, and only the probed lists reach the per-query "
              "top-k window.",
    )

    audit(
        "doc_bpe_encode (merge-rule replay + token rollup)",
        q["doc_bpe_encode"](spark, sf_dir),
        must=["* HashAggregate"],
        must_not=["BatchEvalPython", "ArrowEvalPython"],
        notes="the corpus is touched by the word-count shuffle only; "
              "the 12 merge folds are chained codegen aggregate() "
              "expressions with the rules as literals on the "
              "vocab-sized relation; the token rollup (explode + "
              "count-distinct-word) partial-aggregates before its "
              "exchange.",
    )

    audit(
        "idw_tiles (inverse-distance-weighted tile surface)",
        q["idw_tiles"](spark, sf_dir),
        must=["* BroadcastHashJoin", "partial_sum"],
        must_not=["BatchEvalPython", "SortMergeJoin",
                  "CartesianProduct"],
        notes="the ~160-row target grid broadcasts with its cover "
              "cells (Arrow UDF on the tiny center side only); the "
              "point side takes one narrow cell projection, the "
              "haversine refine is codegen, and the integer weight "
              "sums partial-aggregate per center before the single "
              "exchange.",
    )

    audit(
        "hmm_map_match (Viterbi trajectory matching)",
        q["hmm_map_match"](spark, sf_dir),
        must=["FlatMapGroupsInPandas", "partial_min"],
        must_not=["BatchEvalPython", "CartesianProduct"],
        notes="candidates come from the corridor join (multi-zoom "
              "cover + partial min-struct per (point, line)) and a "
              "per-point top-k window that prunes to k rows BEFORE "
              "the metadata join (globally-unique point_id is a "
              "documented requirement; the window-after-join variant "
              "measured 1.8x slower at 12M); the only Python is the "
              "ONE Arrow-batched Viterbi kernel "
              "(FlatMapGroupsInPandas on user-hash BUCKETS, ~one per "
              "core, many trajectories per batch sliced at user "
              "boundaries) — O(len * k^2) integer ops per "
              "trajectory, buckets are the parallelism axis.",
    )

    audit(
        "polyline_utils (L4 extract + L5 serde + M7 one-shot DP)",
        q["polyline_utils"](spark, sf_dir),
        must=["ArrowEvalPython"],
        must_not=["BatchEvalPython", "CartesianProduct"],
        notes="extract/serde/roundtrip-bits are pure JVM array exprs "
              "(slice/flatten/transform) over the one per-user "
              "trajectory aggregation; the only Python is the "
              "Arrow-batched one-shot DP UDF, fanned across cores by "
              "an explicit repartition of the tiny per-user relation.",
    )

    audit(
        "poly_file_pip (Q11 .poly sources -> PIP join, slab refine)",
        q["poly_file_pip"](spark, sf_dir),
        must=["BroadcastHashJoin", "partial_count"],
        must_not=["BatchEvalPython", "ArrowEvalPython", "MapInArrow",
                  "CartesianProduct", "SortMergeJoin"],
        notes="the parsed fixtures densify to ~1800 ring edges and "
              "refine through the same broadcast cover + slab joins "
              "as the demo layer — zero Python; per-area aggregation "
              "partial-aggregates before one exchange, and the 2-row "
              "n_ring relation broadcasts.",
    )

    audit(
        "doc_importance_resample (DSIR target-vs-raw reweighting)",
        q["doc_importance_resample"](spark, sf_dir),
        must=["TakeOrderedAndProject", "BroadcastHashJoin",
              "partial_count"],
        must_not=["BatchEvalPython", "ArrowEvalPython",
                  "CartesianProduct", "SortMergeJoin"],
        notes="one corpus token pass -> bucket-keyed partial-agg "
              "model (B rows/task cap via map-side combine); totals "
              "aggregate the MODEL, not the corpus; the B-row delta "
              "relation broadcasts into the scoring pass whose "
              "per-doc sum partial-aggregates before its single "
              "exchange; top-k is a heap merge, never a global sort.",
    )

    audit(
        "emb_semdedup (cluster-bounded semantic dedup)",
        q["emb_semdedup"](spark, sf_dir),
        must=["FlatMapGroupsInPandas"],
        must_not=["BatchEvalPython", "CartesianProduct", "SortMergeJoin"],
        notes="one shuffle on centroid_id feeds a grouped-map pandas "
              "kernel (FlatMapGroupsInPandas) that runs per cluster: "
              "exact int64 Gram tiles for the integer cosine predicate "
              "(the SemDeDup n^2 -> sum(|cluster|^2) bound) and min-id "
              "label propagation for the groups — no self-join, no CC "
              "rounds, no join back; a hot cluster is not skew-split. "
              "The other Python is the kmeans Arrow assignment "
              "kernel.",
    )

    audit(
        "doc_importance_sample (DSIR Gumbel-top-k draw)",
        q["doc_importance_sample"](spark, sf_dir),
        must=["TakeOrderedAndProject", "BroadcastHashJoin",
              "partial_count"],
        must_not=["BatchEvalPython", "ArrowEvalPython",
                  "CartesianProduct", "SortMergeJoin"],
        notes="identical model/scoring plan to doc_importance_"
              "resample; the Gumbel key is one extra codegen "
              "projection and the draw stays a TakeOrdered heap "
              "merge — sampling adds zero shuffles.",
    )

    audit(
        "doc_lm_kn (interpolated Kneser-Ney scoring)",
        q["doc_lm_kn"](spark, sf_dir),
        must=["partial_count"],
        must_not=["BatchEvalPython", "ArrowEvalPython",
                  "CartesianProduct"],
        notes="model relations (bigram types, per-context totals, "
              "distinct-continuation counts, two scalars) are all "
              "VOCAB-sized partial aggregations of the reference "
              "slice; the corpus bigram stream hash-joins them (AQE "
              "broadcasts vocab-sized sides at runtime) and the "
              "per-doc rollup partial-aggregates before its "
              "exchange; the KN formula is one codegen expression — "
              "no Python anywhere.",
    )

    out = ["# PLANS — physical-plan audit (generated by "
           "scripts/plan_audit.py; AQE off)", ""]
    for name, notes, checks in sections:
        out.append(f"## {name}")
        out.append("")
        out.append(notes)
        out.append("")
        out.extend(checks)
        out.append("")
    if failures:
        out.append("## FAILURES")
        out.extend(f"- {f}" for f in failures)
    (REPO / "PLANS.md").write_text("\n".join(out) + "\n")
    print("\n".join(failures) if failures else "ALL PLAN CHECKS PASS")
    spark.stop()
    if failures:
        sys.exit(1)


if __name__ == "__main__":
    main()

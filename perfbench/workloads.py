"""The benchmark's workloads.

A workload is a list of suites. A suite writes its seeded inputs
(``generate``), computes the answers its outputs must match outside the
measured path (``expect``), and lists the calls one iteration makes
(``ops``). Each ``Op`` is one timed call into a public geospark
function whose result is pulled to the driver and checked. The traced
run repeats the iteration under ``Tracer`` spans and derives the
per-layer metrics in ``layers``.
"""

from __future__ import annotations

import json
import os
import statistics
import time
import traceback
import uuid
from collections.abc import Callable
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from perfbench import inputs
from perfbench import oracles as O

TILE_ZOOM = 8
BROADCAST = "spark.sql.autoBroadcastJoinThreshold"
COALESCE = "spark.sql.adaptive.coalescePartitions.enabled"


@dataclass
class Op:
    name: str  # the layer the call exercises; prefixes its busy_s metric
    run: Callable[[], object]
    check: Callable[[object], bool]


@dataclass
class Ctx:
    spark: object
    work: str  # scratch directory inside the checkout
    seed: int
    cores: int

    def path(self, name: str) -> str:
        return f"{self.work}/{name}"


@dataclass
class Tracer:
    """Spans around calls into the program, kept in memory. Each call
    runs under its own Spark job group, ``<name>#<iteration>``, so the
    event log can be folded per call."""

    sc: object
    iteration: int = 0
    spans: list[tuple[str, int, float, float]] = field(default_factory=list)

    def call(self, name: str, fn: Callable[[], object]) -> object:
        tag = f"{name}#{self.iteration}"
        self.sc.setJobGroup(tag, tag)
        t0 = time.time()
        try:
            return fn()
        finally:
            self.spans.append((name, self.iteration, t0, time.time()))
            # jobs run between calls (layer counts) fold into no span
            self.sc.setJobGroup("untraced", "untraced")

    def busy(self, name: str) -> float:
        return statistics.median(e - s for n, _, s, e in self.spans if n == name)


def _rows(df, *cols) -> list[tuple]:
    return sorted(tuple(r) for r in df.select(*cols).toPandas().itertuples(index=False))


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


class Suite:
    rows = 0  # input rows one iteration reads (the rows_per_s numerator)
    # ops whose job groups the spark.* layer metrics fold; None = all
    spark_ops: tuple[str, ...] | None = None

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.spark = ctx.spark

    def generate(self) -> None:
        raise NotImplementedError

    def expect(self) -> None:
        raise NotImplementedError

    def ops(self) -> list[Op]:
        raise NotImplementedError

    def traced_iteration(self, tr: Tracer) -> tuple[int, int]:
        """One iteration under spans; returns (attempted, failed)."""
        ops = self.ops()
        failed = 0
        for op in ops:
            try:
                failed += not op.check(tr.call(op.name, op.run))
            except Exception:  # counted as the untraced loop counts it
                traceback.print_exc()
                failed += 1
        return len(ops), failed

    def layers(self, tr: Tracer) -> dict[str, float]:
        return {f"{op.name}.busy_s": tr.busy(op.name) for op in self.ops()}

    def record(self) -> dict:
        """Extra fields for the run's JSONL record."""
        return {}


# ---------------------------------------------------------------------------
class FlagshipPages(Suite):
    """Two calls per iteration over seeded pages:

    - ``flagship``: read parquet -> extract_points -> pip_join(demo
      layer) -> with_tile(z=8) -> count per (area, tile);
    - ``runtime.pipeline``: the same three stages through
      runtime.Pipeline on one of the eight page files, committing snapshots
      and lineage; then the last stage's manifest is dropped (a
      simulated crash) and the pipeline resumes, which must reproduce
      the first run's output.
    """

    n_pages = 60_000
    n_files = 8
    ckpt_files = 1
    stage_names = ("extract", "pip", "tiles")
    spark_ops = ("flagship",)

    def generate(self) -> None:
        from geospark import geodata as G

        self.pages = inputs.pages(self.ctx.path("pages"), self.ctx.seed,
                                  self.n_pages, self.n_files)
        self.ckpt_pages = sorted(os.path.join(self.pages, f)
                                 for f in os.listdir(self.pages))[: self.ckpt_files]
        self.rows = self.n_pages + self.n_pages * self.ckpt_files // self.n_files
        self.layer = G.demo_layer()
        self.resume_s: list[float] = []
        self.cycles: list[dict] = []

    def expect(self) -> None:
        self.want = O.flagship_counts(self.pages, TILE_ZOOM)
        self.ckpt_want = O.flagship_counts(self.ckpt_pages, TILE_ZOOM)

    # cumulative plan prefixes: each adds one layer to the one before
    def _scan(self):
        return self.spark.read.parquet(self.pages).select("url", "text")

    def _extract(self):
        from geospark.extract import extract_points

        return extract_points(self.spark.read.parquet(self.pages))

    def _pip(self):
        from geospark.joins import pip_join

        return pip_join(self._extract(), self.layer)

    @staticmethod
    def _tile_counts(df):
        from geospark.cells import with_tile

        return (with_tile(df, TILE_ZOOM)
                .groupBy("area_id", "tile_x", "tile_y").agg(F.count("*").alias("n")))

    # -- checkpoint / resume ----------------------------------------------------
    def _stages(self):
        from geospark.extract import extract_points
        from geospark.joins import pip_join
        from geospark.runtime import Stage

        return [Stage("extract", extract_points),
                Stage("pip", lambda df: pip_join(df, self.layer)),
                Stage("tiles", self._tile_counts)]

    @staticmethod
    def _manifests(root: str, table: str) -> list[str]:
        d = f"{root}/{table}/_snapshots"
        return sorted(f for f in os.listdir(d) if f.endswith(".json") and not f.startswith("."))

    def _cycle(self) -> tuple[list, list, str, float]:
        from geospark.runtime import Pipeline

        root = self.ctx.path(f"ckpt/{uuid.uuid4().hex[:8]}")
        cols = ("area_id", "tile_x", "tile_y", "n")
        t0 = time.perf_counter()
        fresh = _rows(Pipeline(self.spark, root).run(
            self.spark.read.parquet(*self.ckpt_pages), self._stages()), *cols)
        run_s = time.perf_counter() - t0
        last = self.stage_names[-1]
        os.remove(f"{root}/{last}/_snapshots/{self._manifests(root, last)[-1]}")
        t1 = time.perf_counter()
        resumed = _rows(Pipeline(self.spark, root).run(
            self.spark.read.parquet(*self.ckpt_pages), self._stages()), *cols)
        self.resume_s.append(time.perf_counter() - t1)
        return fresh, resumed, root, run_s

    def _check_cycle(self, got) -> bool:
        import shutil

        fresh, resumed, root, run_s = got
        tables = ("_source", *self.stage_names)
        walls = {}
        for t in tables:
            with open(f"{root}/{t}/_snapshots/{self._manifests(root, t)[0]}") as fh:
                walls[t] = json.load(fh)["wall_s"]
        self.cycles.append({
            "commit_s": {t: walls[t] for t in self.stage_names},
            # what Pipeline.run spends outside its snapshot writes:
            # lineage aggregation + append, manifest scans
            "lineage_s": run_s - sum(walls.values()),
            "bytes_written": _du(root),
            "resume_skipped_stages": sum(len(self._manifests(root, t)) == 1
                                         for t in tables[:-1]),
        })
        shutil.rmtree(root)
        return fresh == resumed == self.ckpt_want

    def ops(self) -> list[Op]:
        return [
            Op("flagship",
               lambda: _rows(self._tile_counts(self._pip()), "area_id", "tile_x", "tile_y", "n"),
               lambda got: got == self.want),
            Op("runtime.pipeline", self._cycle, self._check_cycle),
        ]

    def traced_iteration(self, tr: Tracer) -> tuple[int, int]:
        for name, prefix in (("pages.scan", self._scan), ("extract", self._extract),
                             ("joins.pip", self._pip)):
            tr.call(name, lambda: _noop(prefix()))
        return super().traced_iteration(tr)

    def layers(self, tr: Tracer) -> dict[str, float]:
        from geospark.cells import with_linear_cell_at_zoom

        scan, ext, pip, full = (tr.busy(n) for n in
                                ("pages.scan", "extract", "joins.pip", "flagship"))
        n_points = self._extract().count()
        z = self.layer.cover_zoom
        cand = (with_linear_cell_at_zoom(self._extract(), z, "lat", "lng", "_c")
                .join(F.broadcast(self.layer.cover_df(self.spark)),
                      F.col("_c") == F.col("cell_cov")).count())
        hits = self._pip().count()
        med = lambda k: statistics.median(c[k] for c in self.cycles)  # noqa: E731
        return {
            "extract.busy_s": ext - scan,
            "extract.points_per_page": n_points / self.n_pages,
            "joins.pip.busy_s": pip - ext,
            "joins.pip.candidates": cand,
            "joins.pip.hit_ratio": hits / cand,
            "cells.busy_s": full - pip,
            "runtime.commit_s": statistics.median(
                statistics.mean(c["commit_s"].values()) for c in self.cycles),
            "runtime.lineage_s": med("lineage_s"),
            "runtime.bytes_written": med("bytes_written"),
            "runtime.stored_bytes_per_input_byte":
                med("bytes_written") / sum(os.path.getsize(f) for f in self.ckpt_pages),
            "runtime.resume_skipped_stages": med("resume_skipped_stages"),
            "runtime.resume_s": statistics.median(self.resume_s),
        }

    def record(self) -> dict:
        return {"resume_s": self.resume_s, "checkpoint_cycles": self.cycles}


# ---------------------------------------------------------------------------
class SpatialJoins(Suite):
    """Operator calls over a city-skewed points table: radius, kNN,
    polygon-table PIP, box overlap, tile rollup and a salted join."""

    n_points = 30_000
    n_centers = 60
    n_boxes = 1_200
    radius_m = 1_000.0
    k = 8
    sample = 20  # centres checked by brute force per radius and kNN call

    def generate(self) -> None:
        tables = inputs.spatial(self.ctx.seed, self.n_points, self.n_centers, self.n_boxes)
        tables["polygons"] = inputs.polygons()
        self.t = tables
        self.dirs = {name: inputs.write_parquet(df, self.ctx.path(name),
                                                2 * self.ctx.cores if name == "points" else 1)
                     for name, df in tables.items()}
        self.rows = 4 * self.n_points + 2 * self.n_boxes + len(tables["tiles"])

    def _read(self, name: str):
        return self.spark.read.parquet(self.dirs[name])

    def expect(self) -> None:
        t = self.t
        pts, cen = t["points"], t["centers"]
        rng = np.random.default_rng(self.ctx.seed + 1)
        self.radius_q = set(rng.choice(self.n_centers, self.sample, replace=False).tolist())
        self.knn_q = set(rng.choice(self.n_centers, self.sample, replace=False).tolist())
        lat, lng, ids = pts.lat.to_numpy(), pts.lng.to_numpy(), pts.point_id.to_numpy()
        self.dist = {q: O.haversine(cen.q_lat[q], cen.q_lng[q], lat, lng)
                     for q in self.radius_q | self.knn_q}
        self.ids = ids
        self.pip_want = O.pip_pairs(pts)
        self.box_want = O.box_overlaps(t["boxes_a"], t["boxes_b"])
        tl = t["tiles"]
        self.rollup_want = sorted(
            tuple(int(v) for v in r) for r in
            tl.assign(tile_x=tl.tile_x.to_numpy() >> 4, tile_y=tl.tile_y.to_numpy() >> 4)
            .groupby(["tile_x", "tile_y"]).n.sum().reset_index().itertuples(index=False))
        self.skew_want = sorted(
            tuple(int(v) for v in r) for r in
            pts.merge(t["dim"], on="cell")[["point_id", "region"]].itertuples(index=False))

    # -- checks ---------------------------------------------------------------
    def _check_radius(self, got: pd.DataFrame) -> bool:
        eps = 1e-6  # metres: libm and the JVM may differ in the last ulp
        for q in self.radius_q:
            d = self.dist[q]
            must = set(self.ids[d < self.radius_m - eps].tolist())
            may = set(self.ids[d < self.radius_m + eps].tolist())
            have = set(got.point_id[got.query_id == q].tolist())
            if not must <= have <= may:
                return False
        return True

    def _check_knn(self, got: pd.DataFrame) -> bool:
        for q in self.knn_q:
            d = self.dist[q]
            want = np.sort(d)[: self.k]
            have = got.point_id[got.query_id == q].to_numpy()
            if len(have) != len(want) or len(set(have.tolist())) != len(have):
                return False
            if not np.allclose(np.sort(d[have]), want, rtol=0, atol=1e-6):
                return False
        return True

    def _check_boxes(self, got: pd.DataFrame) -> bool:
        have = {(int(a), int(b)): (bool(x), bool(y)) for a, b, x, y in
                got[["id_a", "id_b", "a_contains_b", "b_contains_a"]].itertuples(index=False)}
        return len(have) == len(got) and have == self.box_want

    def ops(self) -> list[Op]:
        from geospark import cells, joins

        pts = lambda: self._read("points")  # noqa: E731
        centers = lambda: self._read("centers")  # noqa: E731
        return [
            Op("joins.radius",
               lambda: joins.radius_join_df(pts(), centers(), self.radius_m)
               .select("query_id", "point_id").toPandas(),
               self._check_radius),
            Op("joins.knn",
               lambda: joins.knn_join_df(pts(), centers(), self.k)
               .select("query_id", "point_id").toPandas(),
               self._check_knn),
            Op("joins.pip_table",
               lambda: set(_rows(joins.pip_join_table(pts(), self._read("polygons")),
                                 "point_id", "area_id")),
               lambda got: got == self.pip_want),
            Op("joins.box_overlap",
               lambda: joins.box_overlap_join(self._read("boxes_a"), self._read("boxes_b"),
                                              zoom=10).toPandas(),
               self._check_boxes),
            Op("cells.tile_rollup",
               lambda: _rows(cells.tile_rollup(self._read("tiles"),
                                               [F.sum("n").cast("long").alias("n")], 8, 12),
                             "tile_x", "tile_y", "n"),
               lambda got: got == self.rollup_want),
            Op("skew", self._salted_join, lambda got: got == self.skew_want),
        ]

    def _salted_join(self) -> list[tuple]:
        """salted_join as the shuffle join salting is for: at this size
        the dimension would be broadcast and AQE would coalesce the
        join into one task, leaving no skew to split."""
        from geospark.plans import skew

        conf = self.spark.conf
        saved = {k: conf.get(k) for k in (BROADCAST, COALESCE)}
        conf.set(BROADCAST, "-1")
        conf.set(COALESCE, "false")
        try:
            return _rows(skew.salted_join(self._read("points"), self._read("dim"), "cell"),
                         "point_id", "region")
        finally:
            for k, v in saved.items():
                conf.set(k, v)

    def layers(self, tr: Tracer) -> dict[str, float]:
        from geospark.cells import with_linear_cell_at_zoom
        from geospark.joins import cover_cells_series, radius_join_df

        out = super().layers(tr)
        # radius candidates: the same bbox cover join radius_join_df
        # makes before its haversine refine, rebuilt from public parts
        z = 0
        while z < 20 and 40075016.686 / (1 << (z + 1)) >= self.radius_m:
            z += 1
        cen = self.t["centers"]
        la, ln = cen.q_lat.to_numpy(), cen.q_lng.to_numpy()
        d_lat = self.radius_m / 111000.0
        covers = cover_cells_series(
            la - d_lat, ln - np.abs(self.radius_m / (111200.0 * np.cos(np.radians(la - d_lat)))),
            la + d_lat, ln + np.abs(self.radius_m / (111200.0 * np.cos(np.radians(la + d_lat)))),
            z, pad=1)
        cover = self.spark.createDataFrame(
            [(int(c),) for cs in covers for c in cs], "_q_cell long")
        cand = (with_linear_cell_at_zoom(self._read("points"), z, "lat", "lng", "_c")
                .join(cover, F.col("_c") == F.col("_q_cell")).count())
        hits = radius_join_df(self._read("points"), self._read("centers"), self.radius_m).count()
        out["joins.radius.hit_ratio"] = hits / cand
        return out


# ---------------------------------------------------------------------------
class TextDedup(Suite):
    """exact_dedup and minhash_neardup_pairs over planted documents."""

    n_docs = 5_000
    jaccard_min = 0.5

    def generate(self) -> None:
        self.docs = inputs.documents(self.ctx.seed, self.n_docs)
        self.docs_dir = inputs.write_parquet(self.docs, self.ctx.path("docs"), 2 * self.ctx.cores)
        self.rows = 2 * self.n_docs

    def expect(self) -> None:
        d = self.docs
        g = d.groupby("text").doc_id
        d = d.assign(canonical_id=g.transform("min"), group_size=g.transform("size"))
        self.exact_want = sorted(tuple(int(v) for v in r) for r in
                                 d[["doc_id", "canonical_id", "group_size"]].itertuples(index=False))
        self.shingles = dict(zip(d.doc_id.tolist(), map(O.shingle_set, d.text)))
        self.identical = {tuple(sorted(p)) for grp in g.apply(list) if len(grp) > 1
                          for p in ((a, b) for i, a in enumerate(grp) for b in grp[i + 1:])}

    def _check_minhash(self, got: pd.DataFrame) -> bool:
        pairs = set()
        for a, b, j in got[["doc_id_a", "doc_id_b", "jaccard"]].itertuples(index=False):
            exact = O.jaccard(self.shingles[a], self.shingles[b])
            if abs(exact - j) > 1e-6 or exact < self.jaccard_min:
                return False
            pairs.add((min(a, b), max(a, b)))
        return len(pairs) == len(got) and self.identical <= pairs

    def ops(self) -> list[Op]:
        from geospark import textops

        docs = lambda: self.spark.read.parquet(self.docs_dir)  # noqa: E731
        return [
            Op("textops.exact_dedup",
               lambda: _rows(textops.exact_dedup(docs()), "doc_id", "canonical_id", "group_size"),
               lambda got: got == self.exact_want),
            Op("textops.minhash",
               lambda: textops.minhash_neardup_pairs(docs(), self.jaccard_min).toPandas(),
               self._check_minhash),
        ]

    def layers(self, tr: Tracer) -> dict[str, float]:
        from geospark import textops

        out = super().layers(tr)
        docs = self.spark.read.parquet(self.docs_dir)
        cand = textops.lsh_candidates(textops.minhash_signatures_from_shingles(
            textops.shingles(docs))).count()
        verified = textops.minhash_neardup_pairs(docs, self.jaccard_min).count()
        out["textops.minhash.cand_ratio"] = verified / cand
        return out


# ---------------------------------------------------------------------------
class SemDedup(Suite):
    """semdedup over planted embeddings: a k-means bucketing, then an
    all-pairs cosine test inside each bucket."""

    n_vecs = 1_000
    dim = 64
    # cos > 0.8 (0.8^2 = 16/25): planted duplicates sit at cos >= 0.9,
    # unrelated 64-d unit vectors essentially never above 0.8
    tau = (16, 25)

    def generate(self) -> None:
        self.emb = inputs.embeddings(self.ctx.seed, self.n_vecs, self.dim)
        self.emb_dir = inputs.write_parquet(self.emb[["vec_id", "embedding"]],
                                            self.ctx.path("emb"), 2 * self.ctx.cores)
        self.rows = self.n_vecs

    def expect(self) -> None:
        e = self.emb
        self.group = dict(zip(e.vec_id.tolist(), e.src_id.tolist()))

    def _check_semdedup(self, got: pd.DataFrame) -> bool:
        """No vector joins another planted group; every duplicate that
        shares its source's cluster joins the source's component;
        components stay inside one cluster."""
        if len(got) != self.n_vecs:
            return False
        cent = dict(zip(got.vec_id.tolist(), got.centroid_id.tolist()))
        canon = dict(zip(got.vec_id.tolist(), got.canonical_id.tolist()))
        for v, c in canon.items():
            src = self.group[v]
            if self.group[c] != src or cent[c] != cent[v] or c > v:
                return False
            if src != v and cent[src] == cent[v] and canon[src] != c:
                return False
        return True

    def ops(self) -> list[Op]:
        from geospark import embeddings

        return [
            Op("embeddings.semdedup",
               lambda: embeddings.semdedup(self.spark.read.parquet(self.emb_dir),
                                           tau_num=self.tau[0], tau_den=self.tau[1])
               .select("vec_id", "centroid_id", "canonical_id").toPandas(),
               self._check_semdedup),
        ]


# ---------------------------------------------------------------------------
class Workload:
    """The suites of one workload, run one after another as one
    iteration. Inputs, checks and layer metrics stay per suite."""

    def __init__(self, ctx: Ctx, suites: tuple[type[Suite], ...]):
        self.suites = [cls(ctx) for cls in suites]

    @property
    def rows(self) -> int:
        return sum(s.rows for s in self.suites)

    @property
    def spark_ops(self) -> tuple[str, ...]:
        return tuple(name for s in self.suites for name in
                     (s.spark_ops if s.spark_ops is not None else [op.name for op in s.ops()]))

    def generate(self) -> None:
        for s in self.suites:
            s.generate()

    def expect(self) -> None:
        for s in self.suites:
            s.expect()

    def ops(self) -> list[Op]:
        return [op for s in self.suites for op in s.ops()]

    def traced_iteration(self, tr: Tracer) -> tuple[int, int]:
        attempted = failed = 0
        for s in self.suites:
            a, f = s.traced_iteration(tr)
            attempted += a
            failed += f
        return attempted, failed

    def layers(self, tr: Tracer) -> dict[str, float]:
        return {k: v for s in self.suites for k, v in s.layers(tr).items()}

    def record(self) -> dict:
        return {k: v for s in self.suites for k, v in s.record().items()}


# name -> suites; checkpoint/resume rides in FlagshipPages' second call
WORKLOADS = {
    "flagship_pages": (FlagshipPages, TextDedup),
    "spatial_joins": (SpatialJoins, SemDedup),
}

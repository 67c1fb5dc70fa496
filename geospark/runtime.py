"""Scale machinery: snapshot tables, checkpoint/resume pipelines,
per-file lineage metrics (SURVEY §7.8).

The north rule asks for Iceberg-snapshot checkpoints. The sandbox has
no Iceberg runtime jar (and no network), so this module implements the
documented fallback: parquet data files + JSON snapshot manifests with
the SAME resume API — each committed snapshot records its id, parent,
stage name, row count, schema and per-file (rows, bytes) list; commits
are atomic (manifest written via tmp + rename, data written before the
manifest). Swapping in a real Iceberg catalog replaces
``SnapshotTable`` internals only (``writeTo(...).append()`` + snapshot
ids from the table metadata).

A commit is ONE Spark job, the data write. Its metadata comes from the
files themselves: the driver reads the parquet footers of the part
files just written (pyarrow, local ``os`` paths like the manifests)
for each file's row count and Spark's own schema JSON — what Iceberg
manifests keep as ``record_count`` / ``file_size_in_bytes`` and the
table schema. Reads pass that schema to the reader, so a read starts
no inference job.

Lineage: every pipeline stage appends one row per written part file to
``<root>/_lineage`` — (partition_id, rows, run_id, stage,
input_snapshot, output_snapshot, wall_ms), where ``partition_id`` is
the part file's index in the snapshot — built from the manifest and
written by one local pyarrow write; queryable as a plain parquet
table.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from collections.abc import Callable
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# footer key under which Spark's parquet writer stores its schema JSON
SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"

LINEAGE_SCHEMA = pa.schema([
    ("partition_id", pa.int32()),
    ("rows", pa.int64()),
    ("run_id", pa.string()),
    ("stage", pa.string()),
    ("input_snapshot", pa.string()),
    ("output_snapshot", pa.string()),
    ("wall_ms", pa.float64()),
])


def _footers(data_dir: str) -> tuple[list[dict], dict]:
    """(per part file {path, rows, bytes}, Spark schema JSON) of a
    directory Spark just wrote, from the parquet footers — driver-local,
    no Spark job. Task 0 always writes a file, even for an empty
    output, so there is at least one footer to take the schema from."""
    files: list[dict] = []
    schema = None
    for name in sorted(os.listdir(data_dir)):
        if name.startswith(("_", ".")) or not name.endswith(".parquet"):
            continue  # _SUCCESS, .crc: what Spark's reader skips too
        path = f"{data_dir}/{name}"
        md = pq.read_metadata(path)
        files.append({"path": path, "rows": md.num_rows,
                      "bytes": os.path.getsize(path)})
        if schema is None:
            schema = json.loads(md.metadata[SPARK_SCHEMA_KEY])
    return files, schema


class SnapshotTable:
    """Parquet-backed table with atomic snapshot commits.

    Layout: ``<path>/data/snap-<id>/part-*.parquet`` plus
    ``<path>/_snapshots/<seq>-<id>.json`` manifests. The latest
    committed manifest is the current snapshot; uncommitted data dirs
    (crash between data write and manifest rename) are ignored — the
    same recovery contract as Iceberg's metadata pointer.

    A manifest carries ``rows``, ``files`` (one ``{path, rows, bytes}``
    per part file) and ``schema`` (Spark's schema JSON), all read from
    the written files' footers; ``read`` uses the stored schema and
    infers only for manifests that predate it."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path.rstrip("/")
        os.makedirs(f"{self.path}/_snapshots", exist_ok=True)
        os.makedirs(f"{self.path}/data", exist_ok=True)

    # -- manifest helpers ---------------------------------------------------
    def _names(self) -> list[str]:
        """Committed manifest file names, in commit order."""
        # '.tmp-*.json' is an in-flight (possibly truncated) commit — a
        # crash before os.rename must leave it invisible, or a
        # half-written file bricks every later read and a complete one
        # counts as committed without ever entering a parent chain
        return sorted(f_ for f_ in os.listdir(f"{self.path}/_snapshots")
                      if f_.endswith(".json") and not f_.startswith("."))

    def _load(self, name: str) -> dict:
        with open(f"{self.path}/_snapshots/{name}") as fh:
            return json.load(fh)

    def _manifests(self) -> list[dict]:
        return [self._load(n) for n in self._names()]

    def current(self) -> dict | None:
        names = self._names()
        return self._load(names[-1]) if names else None

    def snapshot(self, snapshot_id: str) -> dict | None:
        for m in self._manifests():
            if m["snapshot_id"] == snapshot_id:
                return m
        return None

    # -- IO -----------------------------------------------------------------
    def write(self, df: DataFrame, stage: str = "", mode: str = "overwrite") -> dict:
        """Materialize df as a new snapshot; returns the manifest.
        ``mode='append'`` makes the new snapshot the union of the
        parent's files and the new files (file-level append, no
        rewrite). One Spark job; the commit parses at most one manifest
        (the parent)."""
        snap_id = uuid.uuid4().hex[:16]
        data_dir = f"{self.path}/data/snap-{snap_id}"
        t0 = time.time()
        df.write.mode("overwrite").parquet(data_dir)
        files, schema = _footers(data_dir)
        rows = sum(f_["rows"] for f_ in files)
        names = self._names()
        parent = self._load(names[-1]) if names else None
        dirs = [data_dir]
        total_rows = rows
        if mode == "append" and parent is not None:
            dirs = parent["data_dirs"] + dirs
            files = parent.get("files", []) + files
            total_rows += parent["rows"]
        manifest = {
            "snapshot_id": snap_id,
            "parent_id": parent["snapshot_id"] if parent else None,
            "stage": stage,
            "ts": time.time(),
            "rows": total_rows,
            "rows_added": rows,
            "data_dirs": dirs,
            "files": files,
            "schema": schema,
            "wall_s": round(time.time() - t0, 3),
        }
        seq = len(names)
        tmp = f"{self.path}/_snapshots/.tmp-{snap_id}.json"
        final = f"{self.path}/_snapshots/{seq:06d}-{snap_id}.json"
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
        os.rename(tmp, final)  # atomic commit
        return manifest

    def read(self, snapshot_id: str | None = None) -> DataFrame:
        """Read the current snapshot, or time-travel to a given id."""
        m = self.snapshot(snapshot_id) if snapshot_id else self.current()
        if m is None:
            raise FileNotFoundError(f"no committed snapshot in {self.path}")
        return self._read(m)

    def _read(self, m: dict) -> DataFrame:
        reader = self.spark.read
        if "schema" in m:  # older manifests fall back to inference
            reader = reader.schema(StructType.fromJson(m["schema"]))
        return reader.parquet(*m["data_dirs"])

    def expire(self, keep_last: int = 1) -> int:
        """Iceberg-style expire_snapshots: delete data dirs referenced
        ONLY by manifests older than the last ``keep_last`` snapshots.
        Manifests stay (commit/replay markers and the seq chain remain
        intact); time-travel to an expired snapshot raises on read —
        the documented cost of reclaiming space. Returns the number of
        data dirs removed."""
        import shutil

        ms = self._manifests()
        if len(ms) <= keep_last:
            return 0
        live: set[str] = set()
        for m in ms[-keep_last:]:
            live.update(m["data_dirs"])
        removed = 0
        for m in ms[:-keep_last]:
            for d in m["data_dirs"]:
                if d not in live and os.path.isdir(d):
                    shutil.rmtree(d, ignore_errors=True)
                    removed += 1
        return removed


@dataclass
class Stage:
    name: str
    fn: Callable[[DataFrame], DataFrame]


class Pipeline:
    """Checkpoint/resume pipeline: each stage's output is committed as
    a snapshot keyed by (stage name, input snapshot id). Re-running
    skips stages whose (name, input) already committed — resume after
    a crash restarts at the first uncommitted stage, reading the last
    good snapshot. Each stage that runs appends one lineage row per
    written part file (``partition_id`` = part-file index, ``rows`` from
    its footer); the stage writes are the only Spark jobs."""

    def __init__(self, spark: SparkSession, root: str, run_id: str | None = None):
        self.spark = spark
        self.root = root.rstrip("/")
        self.run_id = run_id or uuid.uuid4().hex[:12]

    def table(self, name: str) -> SnapshotTable:
        return SnapshotTable(self.spark, f"{self.root}/{name}")

    def _find_commit(self, table: SnapshotTable, stage: str,
                     input_snapshot: str | None) -> dict | None:
        for m in table._manifests():
            if m["stage"] == f"{stage}@{input_snapshot}":
                return m
        return None

    def _append_lineage(self, stage: str, input_snapshot: str,
                        m: dict, wall_ms: float) -> None:
        n = len(m["files"])
        t = pa.table([
            list(range(n)),
            [f_["rows"] for f_ in m["files"]],
            [self.run_id] * n,
            [stage] * n,
            [input_snapshot] * n,
            [m["snapshot_id"]] * n,
            [round(wall_ms, 1)] * n,
        ], schema=LINEAGE_SCHEMA)
        d = f"{self.root}/_lineage"
        os.makedirs(d, exist_ok=True)
        name = f"part-{m['snapshot_id']}.parquet"
        pq.write_table(t, f"{d}/.{name}")  # hidden until renamed
        os.rename(f"{d}/.{name}", f"{d}/{name}")

    def run(self, source: DataFrame, stages: list[Stage]) -> DataFrame:
        """Run (or resume) the stage chain starting from ``source``.
        The source is committed as stage '_source' first so resume is
        well-defined even if the source expression is expensive."""
        cur_table = self.table("_source")
        cur_manifest = self._find_commit(cur_table, "_source", None)
        if cur_manifest is None:
            cur_manifest = cur_table.write(source, stage="_source@None")
        df = cur_table._read(cur_manifest)
        input_snap = cur_manifest["snapshot_id"]

        for stage in stages:
            table = self.table(stage.name)
            m = self._find_commit(table, stage.name, input_snap)
            if m is None:
                t0 = time.time()
                m = table.write(stage.fn(df), stage=f"{stage.name}@{input_snap}")
                self._append_lineage(stage.name, input_snap, m,
                                     (time.time() - t0) * 1000.0)
            df = table._read(m)
            input_snap = m["snapshot_id"]
        return df

    def lineage(self) -> DataFrame:
        return self.spark.read.parquet(f"{self.root}/_lineage")

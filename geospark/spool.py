"""Pluggable spool — the engine's materialization primitive.

The iterative plans (cluster contraction, BPE merge rounds), the kNN
radius bound and the minhash per-document relation (shingle set plus
signature, read by both the LSH join and the Jaccard refine) need to
cut lineage and pin an intermediate result.
``localCheckpoint`` is the fast local-mode path, but it stores blocks
on executor-local storage with no lineage: on a real cluster, losing
one executor mid-query kills the job. The spool backend is therefore
selected at runtime by the SQL conf ``spark.geospark.spool``:

- ``local``: ``DataFrame.localCheckpoint(eager=True)`` —
  fastest; correct for local[*] and for clusters that accept
  recompute-from-zero on executor loss.
- ``reliable``: ``DataFrame.checkpoint(eager=True)`` — blocks written
  to the fault-tolerant checkpoint dir (HDFS/S3/DFS on a cluster).
  The dir comes from ``sparkContext.setCheckpointDir`` or, if unset,
  from the conf ``spark.geospark.spool.dir``.
- ``table``: commit through :class:`geospark.runtime.SnapshotTable`
  under ``spark.geospark.spool.dir`` — parquet + manifest, so a
  killed job can be resumed AND the intermediate is queryable for
  debugging (the Iceberg-snapshot contract from the north rule).

When ``spark.geospark.spool`` is UNSET the default is master-aware:
``local[*]`` masters get ``local``; any non-local master (yarn, k8s,
spark://, mesos) gets ``reliable`` if a checkpoint target exists
(``setCheckpointDir`` or ``spark.geospark.spool.dir``), else a loud
RuntimeWarning and ``local`` — so a cluster operator can't silently
run with executor-loss-fragile localCheckpoint blocks just because
they forgot a conf.

All three return a DataFrame with the same rows/schema; callers treat
the result as a sealed relation (no upstream recompute).
"""

from __future__ import annotations

import uuid
import warnings

from pyspark.sql import DataFrame

SPOOL_CONF = "spark.geospark.spool"
SPOOL_DIR_CONF = "spark.geospark.spool.dir"


def choose_backend(explicit: str | None, master: str,
                   has_checkpoint_target: bool) -> tuple[str, str | None]:
    """Pure backend-selection policy (unit-testable without a cluster).

    Returns ``(backend, warning_or_None)``. An explicit conf always
    wins; otherwise local masters spool locally, and non-local masters
    get ``reliable`` when a checkpoint target exists — else ``local``
    WITH a warning, because localCheckpoint blocks are lost (and the
    whole job with them) when any executor holding them dies."""
    if explicit is not None:
        return explicit, None
    if master.startswith("local"):
        return "local", None
    if has_checkpoint_target:
        return "reliable", None
    return "local", (
        f"geospark.spool: non-local master {master!r} with no "
        f"{SPOOL_CONF} conf and no checkpoint dir — falling back to "
        "localCheckpoint, which does NOT survive executor loss. Set "
        f"sparkContext.setCheckpointDir(...) or {SPOOL_DIR_CONF} to "
        f"get the 'reliable' default, or set {SPOOL_CONF} explicitly."
    )


def spool(df: DataFrame, name: str = "spool") -> DataFrame:
    """Materialize ``df`` through the configured spool backend."""
    spark = df.sparkSession
    sc = spark.sparkContext
    backend, warn = choose_backend(
        spark.conf.get(SPOOL_CONF, None),
        sc.master or "",
        sc.getCheckpointDir() is not None
        or spark.conf.get(SPOOL_DIR_CONF, None) is not None,
    )
    if warn:
        warnings.warn(warn, RuntimeWarning, stacklevel=2)
    if backend == "local":
        return df.localCheckpoint(eager=True)
    if backend == "reliable":
        sc = spark.sparkContext
        if sc.getCheckpointDir() is None:
            d = spark.conf.get(SPOOL_DIR_CONF, None)
            if d is None:
                raise ValueError(
                    "spark.geospark.spool=reliable needs either "
                    "sparkContext.setCheckpointDir(...) or the conf "
                    f"{SPOOL_DIR_CONF}"
                )
            sc.setCheckpointDir(d)
        return df.checkpoint(eager=True)
    if backend == "table":
        from geospark.runtime import SnapshotTable

        root = spark.conf.get(SPOOL_DIR_CONF, None)
        if root is None:
            raise ValueError(
                f"spark.geospark.spool=table needs the conf {SPOOL_DIR_CONF}"
            )
        st = SnapshotTable(spark, f"{root}/{name}-{uuid.uuid4().hex[:8]}")
        m = st.write(df, stage=name)
        return st.read(m["snapshot_id"])
    raise ValueError(f"unknown spool backend {backend!r} in {SPOOL_CONF}")

"""Same-host benchmark for geospark.

    python3 perfbench/run.py --workload flagship_pages --seed 1 --seconds 5 --trace 0

One run measures one workload as a closed loop with one client on a
``local[<cores>]`` session sized from this host. Set-up (session start,
seeded input generation, one warm iteration) is timed as ``setup_s``;
then the workload's operator calls repeat for ``--seconds``, every
output checked against an answer computed outside the measured path.

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json.
``--trace 1`` turns on Spark's event log, runs the untraced loop for
half of ``--seconds`` and traced iterations (job-group tags, cumulative
plan prefixes) for the other half, and reports the per-layer metrics,
including the traced-minus-untraced iteration wall.

Metric lines go to stderr, one JSON record per run is appended to
``perfbench/runs.jsonl``, and the last line on stdout is the result:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
import uuid
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
BENCH = ROOT / "perfbench"
SYNTH_REPEATS = 3


def host() -> tuple[int, int]:
    """(cores this process may use, physical memory in bytes)."""
    return (len(os.sched_getaffinity(0)),
            os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES"))


def start_session(cores: int, mem: int, work: Path, trace: bool):
    """local[cores], shuffle partitions = cores, driver heap an eighth
    of physical memory (1-4 GiB); every scratch path inside ``work``.
    The heap is committed and touched at JVM start: otherwise G1 grows
    it by a different amount on every run and peak RSS follows.
    The JIT stops at its first tier (C1): with the optimising tier the
    JVM still gets faster ten iterations in, so a run's figures would
    depend on how far that warm-up got, not on the code. The code cache
    is large and never flushed: Spark generates a class per plan, the
    default cache fills within two iterations, and its sweeper then
    evicts and recompiles on every iteration after."""
    from geospark.session import get_spark

    heap_mb = min(max(mem // 8 // 2**20, 1024), 4096)
    conf = {
        "spark.driver.memory": f"{heap_mb}m",
        "spark.driver.extraJavaOptions": (f"-Xms{heap_mb}m -XX:+AlwaysPreTouch"
                                          " -XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=512m"
                                          " -XX:-UseCodeCacheFlushing"),
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        (work / "eventlog").mkdir()
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (work / "eventlog").as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("perfbench", master=f"local[{cores}]",
                      shuffle_partitions=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def row_count(out) -> int:
    return len(out[0]) if isinstance(out, tuple) else len(out)


class Loop:
    """Closed-loop iterations of a workload's ops for a fixed time. Each
    call's wall and CPU seconds are kept per op."""

    WALL, CPU = 0, 1

    def __init__(self):
        # one dict per iteration: op name -> (wall_s, cpu_s)
        self.iterations: list[dict[str, tuple[float, float]]] = []
        self.attempted = 0
        self.failed = 0
        self.rows_out = 0

    @property
    def walls(self) -> list[float]:
        return [sum(w for w, _ in calls.values()) for calls in self.iterations]

    def iterate(self, ops) -> None:
        from perfbench.procs import tree_cpu_s

        rows, calls = 0, {}
        for op in ops:
            c0 = tree_cpu_s()
            t0 = time.perf_counter()
            try:
                out = op.run()
                calls[op.name] = (time.perf_counter() - t0, tree_cpu_s() - c0)
                ok = op.check(out)
                rows += row_count(out)
            except Exception:  # a failed call is counted, the loop goes on
                calls.setdefault(op.name, (time.perf_counter() - t0, tree_cpu_s() - c0))
                traceback.print_exc()
                ok = False
            self.attempted += 1
            self.failed += not ok
        self.iterations.append(calls)
        self.rows_out = rows

    def run(self, ops, seconds: float) -> None:
        end = time.perf_counter() + seconds
        while True:
            self.iterate(ops)
            if time.perf_counter() >= end:
                return

    def all_lat(self) -> list[float]:
        return [w for calls in self.iterations for w, _ in calls.values()]

    def medians(self, k: int) -> list[float]:
        """Each op's median over its calls of wall (``WALL``) or CPU
        (``CPU``) seconds."""
        return [statistics.median(calls[name][k] for calls in self.iterations)
                for name in self.iterations[0]]

    def total(self, k: int) -> float:
        """An iteration as the sum of its ops' medians: a burst of host
        load that slows one call moves only that call's median."""
        return sum(self.medians(k))

    def op_geomean(self, k: int) -> float:
        """Geometric mean over the ops of each op's median: every op
        weighs the same whatever its cost."""
        return statistics.geometric_mean(self.medians(k))


def tail(samples: list[float]) -> tuple[float, float, int] | None:
    """Highest percentile with at least ten samples beyond it:
    (value, percentile, sample count), or None below 11 samples."""
    n = len(samples)
    if n < 11:
        return None
    return sorted(samples)[n - 11], 100.0 * (n - 10) / n, n


def spark_layers(wl, tr, groups) -> dict[str, float]:
    """spark.* per traced iteration, folded from the event log over the
    job groups of ``wl.spark_ops``."""
    from perfbench.eventlog import Group

    n_iter = len({it for _, it, _, _ in tr.spans})
    out = dict.fromkeys(("spark.jobs", "spark.gc_s", "spark.spill_bytes",
                         "spark.executor_cpu_s", "spark.shuffle_write_bytes",
                         "spark.shuffle_write_s", "spark.python_worker_s",
                         "spark.driver_s", "joins.knn.jobs"), 0.0)
    skew_shares = []
    for name, it, s, e in tr.spans:
        g = groups.get(f"{name}#{it}", Group())
        if name == "joins.knn":
            out["joins.knn.jobs"] += g.jobs / n_iter
        if name == "skew":
            skew_shares.append(g.max_task_share())
        if name not in wl.spark_ops:
            continue
        out["spark.jobs"] += g.jobs / n_iter
        out["spark.gc_s"] += g.gc_s / n_iter
        out["spark.spill_bytes"] += g.spill_bytes / n_iter
        out["spark.executor_cpu_s"] += g.executor_cpu_s / n_iter
        out["spark.shuffle_write_bytes"] += g.shuffle_write_bytes / n_iter
        out["spark.shuffle_write_s"] += g.shuffle_write_s / n_iter
        out["spark.python_worker_s"] += g.python_worker_s / n_iter
        out["spark.driver_s"] += ((e - s) - g.job_s()) / n_iter
    if skew_shares:
        out["skew.max_task_share"] = statistics.median(skew_shares)
    return out


def git_sha() -> str | None:
    """HEAD of the checkout, or None when the checkout is not itself a
    git work tree (a repository around it does not count)."""
    try:
        r = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "--show-toplevel", "HEAD"],
                           capture_output=True, text=True, timeout=30)
    except (OSError, subprocess.TimeoutExpired):
        return None
    out = r.stdout.split()
    if r.returncode or len(out) != 2 or Path(out[0]).resolve() != ROOT:
        return None
    return out[1]


def source_sha() -> str:
    h = hashlib.sha256()
    for p in sorted((ROOT / "geospark").rglob("*.py")):
        h.update(p.relative_to(ROOT).as_posix().encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def parse_args(argv: list[str], workloads: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv: list[str]) -> int:
    spec_path = ROOT / "BENCHMARK.json"
    if not (ROOT / "geospark" / "__init__.py").is_file() or not spec_path.is_file():
        print(f"perfbench: {ROOT} holds no geospark package or no BENCHMARK.json",
              file=sys.stderr)
        return 2
    spec = json.loads(spec_path.read_text())
    args = parse_args(argv, [w["name"] for w in spec["workloads"]])
    trace = bool(args.trace)

    run_id = uuid.uuid4().hex[:12]
    work = BENCH / ".work" / run_id
    (work / "tmp").mkdir(parents=True)
    # Spark, its JVMs and its Python workers write scratch files only
    # inside the checkout, and the workers import this checkout's code
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"
    sys.path.insert(0, str(ROOT))

    from perfbench import eventlog
    from perfbench.procs import PeakRss, stop_spark
    from perfbench.workloads import WORKLOADS, Ctx, Tracer, Workload

    cores, mem = host()
    loop = Loop()
    traced_walls: list[float] = []
    traced_attempted = traced_failed = 0
    layers: dict[str, float] = {}
    try:
        with PeakRss() as rss:
            t0 = time.perf_counter()
            spark = start_session(cores, mem, work, trace)
            start_s = time.perf_counter() - t0
            try:
                wl = Workload(Ctx(spark, str(work), args.seed, cores), WORKLOADS[args.workload])
                # the JVM starts and the JIT warms once per process; the
                # inputs are generated SYNTH_REPEATS times (each pass
                # rewrites the same files) and the median pass counts
                synth = []
                for _ in range(SYNTH_REPEATS):
                    t0 = time.perf_counter()
                    wl.generate()
                    synth.append(time.perf_counter() - t0)
                synth_s = statistics.median(synth)
                t0 = time.perf_counter()
                wl.expect()
                oracle_s = time.perf_counter() - t0
                warm = Loop()
                warm.iterate(wl.ops())
                warm_s = warm.walls[0]

                # a traced run splits --seconds between the two loops
                loop.run(wl.ops(), args.seconds / (2 if trace else 1))
                if trace:
                    tr = Tracer(spark.sparkContext)
                    end = time.perf_counter() + args.seconds / 2
                    while True:
                        attempted, failed = wl.traced_iteration(tr)
                        traced_attempted += attempted
                        traced_failed += failed
                        traced_walls.append(sum(e - s for _, it, s, e in tr.spans
                                                if it == tr.iteration))
                        tr.iteration += 1
                        if time.perf_counter() >= end:
                            break
                    layers = wl.layers(tr)
            finally:
                stop_spark(spark)
        if trace:
            (log,) = (work / "eventlog").iterdir()
            layers.update(spark_layers(wl, tr, eventlog.fold(str(log))))
    except Exception:
        traceback.print_exc()
        shutil.rmtree(work, ignore_errors=True)
        return 1

    attempted = warm.attempted + loop.attempted + traced_attempted
    failed = warm.failed + loop.failed + traced_failed
    wall_s = loop.total(Loop.WALL)
    e2e = {
        "setup_s": start_s + synth_s + warm_s,
        "cpu_s": loop.total(Loop.CPU),
        "op_cpu_geomean_s": loop.op_geomean(Loop.CPU),
        "peak_rss_mb": rss.peak_mb,
        # wall clock: printed and recorded on every run, reported as
        # per-layer metrics of the traced run
        "wall_s": wall_s,
        "op_geomean_s": loop.op_geomean(Loop.WALL),
        "rows_per_s": wl.rows / wall_s,
    }
    if trace:
        traced = statistics.median(traced_walls)
        layers.update({
            "session.start_s": start_s,
            "pages.synth_s": synth_s,
            "trace.overhead_s": traced - wall_s,
            "trace.overhead_frac": traced / wall_s - 1.0,
        })
    op_tail = tail(loop.all_lat())
    chosen = spec["per_layer"] if trace else spec["end_to_end"]
    values = {**e2e, **layers}
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in chosen}

    for m in spec["end_to_end"] + spec["per_layer"]:
        if trace or m["name"] in e2e:
            v = values.get(m["name"])
            print(f"{m['name']:40s} {'-' if v is None else f'{v:.6g}':>14s} {m['unit']}",
                  file=sys.stderr)
    print(f"{'op_tail_s':40s} "
          + (f"{op_tail[0]:>14.6g} s  (p{op_tail[1]:.0f} of {op_tail[2]} calls)"
             if op_tail else f"{'-':>14s} s  ({len(loop.all_lat())} calls, < 11)"),
          file=sys.stderr)
    print(f"{'failed_frac':40s} {failed / attempted:>14.6g} ({failed}/{attempted})",
          file=sys.stderr)

    record = {
        "run_id": run_id, "time": time.time(), "git_sha": git_sha(),
        "source_sha": source_sha(), "host": {"cpus": cores, "mem_bytes": mem},
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "rows_out": loop.rows_out,
        "attempted": attempted, "failed": failed, "failed_frac": failed / attempted,
        "metrics": {k: {"value": v, "unit": next((m["unit"] for m in
                                                  spec["end_to_end"] + spec["per_layer"]
                                                  if m["name"] == k), "")}
                    for k, v in values.items()},
        "op_tail_s": op_tail and {"value": op_tail[0], "percentile": op_tail[1],
                                  "samples": op_tail[2]},
        "iterations": [{"calls_s": {k: w for k, (w, _) in calls.items()},
                        "calls_cpu_s": {k: c for k, (_, c) in calls.items()}}
                       for calls in loop.iterations],
        "traced_iteration_wall_s": traced_walls,
        "setup_parts_s": {"session": start_s, "synth": synth_s, "warm": warm_s,
                          "synth_passes": synth},
        "oracle_s": oracle_s, **wl.record(),
    }
    with open(BENCH / "runs.jsonl", "a") as fh:
        fh.write(json.dumps(record) + "\n")
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

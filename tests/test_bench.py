"""bench.py's operator-scale suites through the shared timing loop at a
tiny scale: every op in the suite table yields exactly one JSONL record
with the required fields, and none raises. Keeps the harness in step
with the operators it calls."""

from __future__ import annotations

import json
from concurrent.futures import ThreadPoolExecutor

import pytest

import bench

SUITES = [s for s in bench.SUITES if s not in ("registry", "pipeline")]
# semdedup_1m asks kmeans for 2000 centroids, so the embeddings suite
# needs 2000 vectors
SCALE = {"embeddings": 0.0004}
REQUIRED = {"run_id", "git_sha", "host_cpus", "host_mem_gb", "suite", "op",
            "input_rows", "rows_out", "wall_s", "codegen_compiles",
            "codegen_compile_s"}


@pytest.fixture(scope="module")
def records(spark, tmp_path_factory):
    """Every suite's records. The suites run one thread each: at this
    scale an op's wall is per-job set-up, which overlaps across threads
    (about 1.6x faster than one suite after another on 4 CPUs)."""
    out = tmp_path_factory.mktemp("bench")

    def run(suite):
        sink = out / f"{suite}.jsonl"
        bench.run_suite(spark, suite, SCALE.get(suite, 0.0001), sink=sink)
        return [json.loads(line) for line in sink.read_text().splitlines()]

    with ThreadPoolExecutor(len(SUITES)) as ex:
        futures = {s: ex.submit(run, s) for s in SUITES}
    return {s: f.result() for s, f in futures.items()}


@pytest.mark.parametrize("suite", SUITES)
def test_suite_emits_one_record_per_op(records, suite):
    recs = records[suite]
    assert [r["op"] for r in recs] == [op for op, _ in bench.SUITES[suite][1]]
    for r in recs:
        assert REQUIRED <= r.keys(), r
        assert "error" not in r, r["error"]
        assert r["suite"] == suite and r["wall_s"] is not None


def test_training_kill_resume_matches_uninterrupted(records):
    full, kr = records["training"]
    assert kr["op"] == "training_kill_resume"
    assert kr["matches_uninterrupted"] is True
    assert kr["final_hash"] == full["final_hash"]

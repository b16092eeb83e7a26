"""bench.py harness smoke: the driver's per-round benchmark entry point
must never crash (round 4 published no number because it did — the NTZ
regression). Runs the REAL harness end-to-end at the tiny SF in a
subprocess (bench builds its own session config) and validates the JSON
contract."""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_bench_harness_runs_and_emits_contract_json():
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_WARM_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_CPUS="4",
    )
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        capture_output=True,
        text=True,
        timeout=560,
        env=env,
        cwd=REPO,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    line = proc.stdout.strip().splitlines()[-1]
    out = json.loads(line)
    assert out["metric"] == "headline_queries_total"
    assert out["unit"] == "sec" and out["value"] > 0
    assert out["sf"] == 0.001
    from bench import HEADLINE

    assert set(out["queries"]) == set(HEADLINE)
    assert all(v >= 0 for v in out["queries"].values())
    # the warm pass reuses every generated class the cold pass compiled
    assert set(out["codegen_compiles"]) == {"cold", "warm"}
    assert out["codegen_compiles"]["warm"] == 0

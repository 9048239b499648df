"""image_tile_zonal and image_tile_zonal_frac must not depend on the thread
count: each local[n] level gets a fresh Spark session in a child process
(a running session cannot change its parallelism), and every level must
return exactly the DuckDB oracle's rows."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import duckdb
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
QUERIES = ("image_tile_zonal", "image_tile_zonal_frac")
LEVELS = (2, 4, 32)

CHILD = """
import json, sys
from geoglue_spark.queries import queries
from geoglue_spark.session import get_spark

out = {}
for cores in map(int, sys.argv[1].split(",")):
    spark = get_spark(f"exact-means-{cores}", cores=cores, shuffle_partitions=cores)
    out[cores] = {
        q: sorted(map(list, queries()[q](spark, "").collect())) for q in sys.argv[2:]
    }
    spark.stop()
print("ROWS " + json.dumps(out))
"""


@pytest.mark.slow
def test_image_tile_means_identical_across_parallelism():
    from geoglue_spark.queries import oracle_sql

    env = {**os.environ, "SPARK_GRAFT_DRIVER_MEM": "2g"}
    proc = subprocess.run(
        [sys.executable, "-c", CHILD, ",".join(map(str, LEVELS)), *QUERIES],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = [l for l in proc.stdout.splitlines() if l.startswith("ROWS ")][-1]
    got = json.loads(line[len("ROWS "):])
    con = duckdb.connect()
    for q in QUERIES:
        want = sorted(map(list, con.execute(oracle_sql()[q]).fetchall()))
        assert len(want) == 100
        for cores in LEVELS:
            rows = got[str(cores)][q]
            diff = [(a, b) for a, b in zip(rows, want) if a != b]
            assert rows == want, f"{q} at local[{cores}]: {len(diff)} rows differ, e.g. {diff[:3]}"
    # the group whose exact pixel mean, 1999277/16000 = 124.9548125, is a
    # 6-place rounding tie: half up, whatever the summation order
    adm34 = [r for r in got["2"]["image_tile_zonal"] if r[0] == "ADM2-34"]
    assert adm34 == [["ADM2-34", 4, 124.954813]]

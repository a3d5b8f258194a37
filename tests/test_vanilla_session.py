"""Driver-session-proofing regression (round-1 lesson).

The driver runs every registered query on a VANILLA
``SparkSession.builder.getOrCreate()`` — none of ``session.get_spark()``'s
configs exist there. Round 1 lost 5 queries to configs that were only set
in the builder (``spark.sql.legacy.parquet.nanosAsLong`` for the
nanos-timestamp events.parquet; ``spark.sql.python.filterPushdown.enabled``
for the custom DataSource). Queries must set whatever they need
idempotently at runtime.

A truly vanilla session can't be built inside the test JVM (the shared
SparkContext carries the builder confs), so this shells out to
``tools/oracle_check.py --vanilla`` — the same harness the round gate
mimics — over the queries that failed in CORRECTNESS_r01 plus one from
each config family.
"""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

REPO = str(Path(__file__).resolve().parent.parent)

# Every round-1 driver error, plus q_math_funcs (hash-mismatch fix).
R01_RED_QUERIES = [
    "q_json_extract",
    "q_from_json_struct",
    "q_variant_json",
    "q_event_funnel",
    "q_custom_source",
    "q_map_funcs",
    "q_math_funcs",
]


def test_r01_red_queries_pass_on_vanilla_session():
    proc = subprocess.run(
        [
            sys.executable,
            "tools/oracle_check.py",
            "--vanilla",
            "/root/testdata/sf0.001",
            *R01_RED_QUERIES,
        ],
        capture_output=True,
        text=True,
        cwd=REPO,
        timeout=600,
    )
    assert proc.returncode == 0, f"stdout:\n{proc.stdout}\nstderr:\n{proc.stderr[-2000:]}"
    assert "0 failures" in proc.stdout

"""Environment-coupling guard: the driver runs catalog entries on a
VANILLA SparkSession (no ``session.py`` confs).  Round 13's only red
row (``format_sql_ref_read``) was exactly this class — the entry
worked under every builder gate because ``session.py`` and the test
fixtures set ``spark.sql.python.filterPushdown.enabled``, and died on
the driver with ``[DATA_SOURCE_PUSHDOWN_DISABLED]``.

This test spawns a SEPARATE Python process (so the shared test JVM's
confs can't leak in), builds a bare ``SparkSession.builder.master(...)
.getOrCreate()``, and runs every catalog entry that reads through the
Python-DataSource temp-view front door.  ``register_table_format``
must make its own consumers safe (it now sets the pushdown conf
itself — ``sources/format_batch.py``).

The package reads a fixed set of ``SPARK_GRAFT_*`` settings; a guard
below keeps a new environment switch from slipping in unnoticed."""

from __future__ import annotations

import os
import pathlib
import re
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = r"""
import os, sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.appName("vanilla-guard")
    .master("local[4]")
    .config("spark.driver.memory", "4g")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
from table_streaming_source_spark.plans.catalog import QUERIES

sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
for name in ({names!r}).split(","):
    pdf = QUERIES[name](spark, sf).toPandas()
    assert len(pdf) > 0, f"{{name}}: empty result"
    print(f"VANILLA-OK {{name}} {{len(pdf)}}")
spark.stop()
"""


@pytest.mark.slow
def test_datasource_temp_view_entries_on_bare_session():
    """Both temp-view consumers of register_table_format run on a bare
    session — no conf from session.py or conftest available."""
    names = "format_sql_read,format_sql_ref_read"
    env = {k: v for k, v in os.environ.items() if not k.startswith("PYSPARK")}
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT.format(repo=REPO, names=names)],
        capture_output=True,
        text=True,
        timeout=600,
        env=env,
        cwd=REPO,
    )
    assert proc.returncode == 0, (
        f"bare-session run failed\nstdout:\n{proc.stdout[-3000:]}\n"
        f"stderr:\n{proc.stderr[-3000:]}"
    )
    for n in names.split(","):
        assert f"VANILLA-OK {n}" in proc.stdout


def test_package_reads_only_the_known_env_settings():
    """Every ``SPARK_GRAFT_*`` name the package mentions is one of the
    four deployment settings; a pin or code path has no env switch."""
    pkg = pathlib.Path(REPO) / "table_streaming_source_spark"
    names = {
        m
        for f in pkg.rglob("*.py")
        for m in re.findall(r"SPARK_GRAFT_[A-Z_]+", f.read_text())
    }
    assert names == {
        "SPARK_GRAFT_CPUS",
        "SPARK_GRAFT_SF_DIR",
        "SPARK_GRAFT_AQE_PARALLELISM_FIRST",
        "SPARK_GRAFT_AQE_ADVISORY_SIZE",
    }

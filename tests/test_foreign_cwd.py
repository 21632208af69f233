"""A harness that imports this repo via sys.path from a FOREIGN cwd (no
PYTHONPATH, not the repo root) must still be able to run the streaming
queries: Python workers don't inherit the driver's sys.path entries, and the
streaming source runner's files dir is a special-cased subdir — both are
closed by ``datax_spark.session.ensure_workers_can_import`` (addFile tree
+ streaming_job symlink; called from get_spark, the changelog source's
register, LakeTable init, and the ``queries()`` wrapper). This is exactly
the shape of an external correctness harness, so pin it cross-process.
"""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCRIPT = """
import sys
sys.path.insert(0, {repo!r})   # driver-side only, like an external harness
import __spark_entry__ as e
# deliberately NOT datax_spark.session.get_spark: the harness owns the session
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[2]").appName("foreign-cwd")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.ui.enabled", "false")
         .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
qs = e.queries()
n = qs["cdc_changelog_stream"](spark, {sf!r}).count()
assert n > 0, n
# a pure mapInPandas kernel path (no LakeTable touch): covered by the
# queries() chokepoint, not the LakeTable/register seams
m = qs["media_features"](spark, {sf!r}).count()
assert m > 0, m
print("FOREIGN_CWD_OK", n, m)
spark.stop()
"""


def test_streaming_query_from_foreign_cwd(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    script = tmp_path / "probe.py"
    script.write_text(SCRIPT.format(repo=REPO, sf="/root/testdata/sf0.001"))
    out = subprocess.run(
        [sys.executable, str(script)],
        cwd=str(tmp_path), env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert "FOREIGN_CWD_OK" in out.stdout, out.stdout[-2000:] + out.stderr[-2000:]


def test_ensure_workers_can_import_tolerates_missing_spark_context():
    from datax_spark.session import ensure_workers_can_import

    class ConnectLike:  # Spark Connect sessions expose no sparkContext
        @property
        def sparkContext(self):
            raise RuntimeError("sparkContext is not supported in Spark Connect")

    ensure_workers_can_import(ConnectLike())  # best-effort: must not raise


def test_scoped_conf_unsets_a_key_the_session_never_set(spark):
    sys.path.insert(0, REPO)
    from __spark_entry__ import _scoped_conf

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    assert key not in spark.conf.getAll  # defaulted, never set
    default = spark.conf.get(key)
    with _scoped_conf(spark, spark__sql__execution__arrow__maxRecordsPerBatch="7"):
        assert spark.conf.get(key) == "7"
    assert key not in spark.conf.getAll
    assert spark.conf.get(key) == default

    explicit = "spark.sql.shuffle.partitions"
    before = spark.conf.get(explicit)
    assert explicit in spark.conf.getAll
    with _scoped_conf(spark, spark__sql__shuffle__partitions="3"):
        assert spark.conf.get(explicit) == "3"
    assert spark.conf.getAll.get(explicit) == before


def test_scoped_conf_restore_ignores_effective_defaults():
    """A conf whose ``get(key, None)`` answers with the effective default
    (as some Spark clients do) must still leave the scope unset."""
    sys.path.insert(0, REPO)
    from __spark_entry__ import _scoped_conf

    class Conf:
        def __init__(self):
            self.explicit = {}

        @property
        def getAll(self):
            return dict(self.explicit)

        def get(self, key, default=None):
            return self.explicit.get(key, "200")

        def set(self, key, value):
            self.explicit[key] = value

        def unset(self, key):
            self.explicit.pop(key, None)

    class Session:
        conf = Conf()

    s = Session()
    with _scoped_conf(s, spark__sql__shuffle__partitions="8"):
        assert s.conf.getAll == {"spark.sql.shuffle.partitions": "8"}
    assert s.conf.getAll == {}

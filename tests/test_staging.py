"""sources.staging: one key, one stage root, and entries that survive
neither a fixture rewrite nor a SparkContext restart."""

from __future__ import annotations

import glob
import os
import shutil
import subprocess
import sys
import tempfile
import textwrap
from urllib.parse import urlparse

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from web_analytics_visits_re_processing_spark.sources import staging
from web_analytics_visits_re_processing_spark.sources.tables import load_table

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_RESTART_SCRIPT = textwrap.dedent(
    """
    import sys
    from web_analytics_visits_re_processing_spark.plans import QUERIES
    from web_analytics_visits_re_processing_spark.session import get_spark

    NAMES = (
        "ewma_daily_revenue",
        "croston_intermittent_demand",
        "dsir_importance_scores",
        "rfm_segments",
    )

    def run_all(label):
        spark = get_spark(app_name="staging-restart", master="local[2]",
                          shuffle_partitions=4)
        failed = []
        for name in NAMES:
            try:
                QUERIES[name](spark, sys.argv[1]).collect()
            except Exception as exc:
                failed.append(name)
                print(f"FAIL {label} {name}: {type(exc).__name__}")
        return spark, failed

    spark, first = run_all("first")
    spark.stop()
    spark, second = run_all("second")
    spark.stop()
    print("FAILED", ",".join(first + second))
    sys.exit(1 if first + second else 0)
    """
)


def test_queries_survive_session_restart():
    """Each staged or persisted intermediate must be rebuilt, not
    served or unpersisted, after ``spark.stop()`` + ``get_spark()`` in
    the same process. Runs in a child process so the restart does not
    stop the suite's shared session."""
    env = dict(os.environ, PYTHONPATH=REPO)
    proc = subprocess.run(
        [sys.executable, "-c", _RESTART_SCRIPT, SF_DIR],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    fails = [ln for ln in proc.stdout.splitlines() if ln.startswith("FAIL")]
    assert proc.returncode == 0, (fails, proc.stderr[-2000:])


def _entry_dir(df) -> str:
    """The staged entry's directory: ``<root>/<n>`` above the leaf."""
    path = urlparse(df.inputFiles()[0]).path
    return os.path.dirname(os.path.dirname(path))


def test_fixture_rewrite_rebuilds_staged_and_memo(spark, tmp_path):
    """A fixture rewritten mid-session changes the key: the staged
    leaf and the memo value are rebuilt from the new files, and the
    superseded leaf's directory is deleted."""
    d = str(tmp_path / "sf")
    os.makedirs(d)
    for t in ("events", "lineitem"):
        shutil.copy(os.path.join(SF_DIR, f"{t}.parquet"), d)
        os.chmod(os.path.join(d, f"{t}.parquet"), 0o644)
    calls = {"staged": 0, "memo": 0}

    def build():
        calls["staged"] += 1
        return load_table(spark, d, "events").groupBy("event_type").count()

    def count():
        calls["memo"] += 1
        return load_table(spark, d, "lineitem").count()

    def fill():
        leaf = staging.staged(spark, d, "test_event_types", build)
        n = staging.memo(spark, d, "test_lineitem_n", count)
        return leaf, n

    leaf, n = fill()
    before = sorted(map(tuple, leaf.collect()))
    old_dir = _entry_dir(leaf)
    assert fill()[1] == n and calls == {"staged": 1, "memo": 1}

    for t in ("events", "lineitem"):
        p = os.path.join(d, f"{t}.parquet")
        tbl = pq.read_table(p)
        pq.write_table(tbl.slice(0, tbl.num_rows // 2), p)

    leaf2, n2 = fill()
    assert calls == {"staged": 2, "memo": 2}
    assert n2 == load_table(spark, d, "lineitem").count() < n
    assert sorted(map(tuple, leaf2.collect())) != before
    assert not os.path.exists(old_dir)
    assert os.path.isdir(_entry_dir(leaf2))


def test_one_stage_root_per_process(spark, monkeypatch, tmp_path):
    """Staging two leaves creates exactly one ``wavrp_stage_*`` root."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(staging, "_ROOT", None)
    for name in ("test_root_a", "test_root_b"):
        staging.staged(
            spark, SF_DIR, name, lambda: spark.range(3).select(F.col("id"))
        ).collect()
    roots = glob.glob(os.path.join(str(tmp_path), "wavrp_stage_*"))
    assert len(roots) == 1, roots
    assert len(os.listdir(roots[0])) == 2

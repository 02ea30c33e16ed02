"""Session confs that reach Spark's Python processes.

``get_session`` names the engine's daemon module (``daemon.py``: no
per-task zip re-read) and puts the engine on the workers' path; a
daemon module that does not resolve keeps Spark's own daemon.  The
subprocess tests start from a directory outside the checkout with no
``PYTHONPATH``, so the engine reaches Spark's Python processes only
through the session's confs.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import time

from geohub_data_pipeline_spark import session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(script: str, cwd) -> subprocess.CompletedProcess:
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_CPUS"] = "2"
    return subprocess.run(
        [sys.executable, "-c", textwrap.dedent(script), ROOT],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=600)


def test_python_tasks_run_under_the_daemon_shim(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == session.DAEMON_MODULE
    assert conf.get("spark.executorEnv.PYTHONPATH") == ROOT
    # the daemon runs as ``python -m``, so the shim's __module__ reads
    # '__main__'; Spark's own daemon leaves zipimport's method in place
    mods = spark.sparkContext.parallelize(range(4), 4).map(
        lambda _: __import__("zipimport").zipimporter
        .invalidate_caches.__module__).collect()
    assert "zipimport" not in mods


def test_unresolvable_daemon_module_keeps_spark_default(tmp_path):
    out = _run("""
        import logging, sys, zipimport
        sys.path.insert(0, sys.argv[1])
        logging.basicConfig(level=logging.INFO, stream=sys.stdout)
        from geohub_data_pipeline_spark import session
        session.DAEMON_MODULE = "geohub_data_pipeline_spark.no_such_daemon"
        spark = session.get_session("fallback", master="local[1]")
        sc = spark.sparkContext
        print("daemon conf:", sc.getConf().get("spark.python.daemon.module"))
        print("task:", sc.parallelize([0], 1).map(
            lambda _: zipimport.zipimporter.invalidate_caches.__module__
        ).collect())
        spark.stop()
    """, cwd=tmp_path)
    assert out.returncode == 0, out.stderr[-3000:]
    assert "cannot resolve geohub_data_pipeline_spark.no_such_daemon; " \
        "Python workers keep Spark's default daemon" in out.stdout
    assert "daemon conf: None" in out.stdout
    assert "task: ['zipimport']" in out.stdout


def test_package_zip_removed_at_exit(tmp_path):
    out = _run("""
        import os, sys
        sys.path.insert(0, sys.argv[1])
        from geohub_data_pipeline_spark import session
        path = session._package_zip()
        assert os.path.getsize(path) > 0
        print(path)
    """, cwd=tmp_path)
    assert out.returncode == 0, out.stderr[-3000:]
    path = out.stdout.strip().splitlines()[-1]
    assert path.endswith(".zip") and not os.path.exists(path)


def test_ingest_without_pythonpath(tmp_path):
    """The streaming queue source runs in Spark's data-source runner,
    which never receives ``addPyFile``: before the worker path conf it
    failed with ``ModuleNotFoundError`` from any other directory."""
    t = time.perf_counter()
    out = _run("""
        import json, os, sys
        sys.path.insert(0, sys.argv[1])
        from geohub_data_pipeline_spark.operators import geometry as G
        from geohub_data_pipeline_spark.session import get_session
        from geohub_data_pipeline_spark.sources import geopackage as GP
        from geohub_data_pipeline_spark.streaming.service import (
            IngestService,
        )
        raw = os.path.abspath("userdata/u1/raw")
        os.makedirs(raw)
        GP.write_gpkg(f"{raw}/one.gpkg", {
            "points": [(1, G.wkb_point(12.5, 41.9)),
                       (2, G.wkb_point(-3.7, 40.4))]}, srid=4326)
        os.makedirs("msgs")
        with open("msgs/m1.json", "w") as f:
            f.write(json.dumps({
                "msg_id": 1,
                "body": f"file://{raw}/one.gpkg;t;join_vector_tiles=false",
                "enqueued_ts": "2024-01-01T00:00:00"}) + "\\n")
        spark = get_session("no-pythonpath", master="local[2]")
        svc = IngestService(spark=spark, messages_dir="msgs",
                            ledger_dir="ledger", checkpoint_dir="ckpt",
                            output_dir="out")
        svc.run_available_now()
        for r in svc.ledger().collect():
            print("ledger:", r.kind, r.stage, r.content)
        spark.stop()
    """, cwd=tmp_path)
    wall = time.perf_counter() - t
    assert out.returncode == 0, out.stderr[-3000:]
    assert "ledger: progress processed" in out.stdout, out.stdout
    assert "ledger: error" not in out.stdout
    arts = [ln.split()[-1] for ln in out.stdout.splitlines()
            if ln.startswith("ledger: artifact")]
    assert any(a.endswith(".pmtiles") for a in arts)
    assert all(os.path.exists(os.path.join(tmp_path, a)) for a in arts)
    print(f"ingest without PYTHONPATH: {wall:.1f} s")

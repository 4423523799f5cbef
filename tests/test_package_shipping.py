"""``util.ensure_package_on_executors`` under concurrent callers: the
statement kinds load from a thread pool, and each kind's first
``mapInPandas`` ships the package."""

from __future__ import annotations

import glob
import os
import threading
import zipfile

from zacks_estimates_financial_statements_spark import util


def test_concurrent_callers_ship_one_complete_zip(spark, tmp_path,
                                                  monkeypatch):
    sc = spark.sparkContext
    monkeypatch.setattr(sc, util._SHIPPED_ATTR, False)
    # a fresh temp dir, so the zip is written under contention
    monkeypatch.setattr(util.tempfile, "gettempdir", lambda: str(tmp_path))
    shipped = []
    calls_lock = threading.Lock()

    def add_py_file(path):
        with calls_lock:
            shipped.append(path)

    monkeypatch.setattr(sc, "addPyFile", add_py_file)

    barrier = threading.Barrier(4)
    errors = []

    def call():
        try:
            barrier.wait()
            util.ensure_package_on_executors(spark)
        except BaseException as e:  # surfaced by the assertion below
            errors.append(e)

    threads = [threading.Thread(target=call) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()

    assert errors == []
    assert len(shipped) == 1
    with zipfile.ZipFile(shipped[0]) as zf:
        assert zf.testzip() is None
        names = zf.namelist()
    pkg = os.path.basename(os.path.dirname(util.__file__))
    assert f"{pkg}/util.py" in names
    assert f"{pkg}/pipelines/statement_pipeline.py" in names
    # no temp file left beside the shipped zip
    assert glob.glob(str(tmp_path / "*.tmp")) == []

"""Session-factory contracts: the codegen cache holds a repeated
execution's generated classes, a second ``get_spark`` call leaves the
process environment alone, and the worker daemon imports on
interpreters without ``zipimporter.invalidate_caches``."""

from __future__ import annotations

import os
import subprocess
import sys

from flink_note_spark.queries import QUERIES
from flink_note_spark.session import get_spark

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: the 17 event-time and batch CEP/MATCH_RECOGNIZE rows that the
#: ``events_batch`` benchmark workload repeats
EVENTS_ROWS = (
    "q22 q23 q26 q27 q45 q68 q88 q93 q100 q103 q108 q110 q114 q123 q135 "
    "q144 q146"
).split()


def _compiles(spark) -> int:
    cm = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(cm.METRIC_COMPILATION_TIME().getCount())


def test_codegen_cache_holds_repeated_executions(spark, sf_dir):
    """A second pass over the same rows reuses every generated class.

    With Spark's default cache of 100 entries the ~280 classes of one
    pass evict each other, and every repeated execution recompiles them.
    """
    names = [n for n in QUERIES if n.split("_", 1)[0] in EVENTS_ROWS]
    assert len(names) == len(EVENTS_ROWS)

    def one_pass() -> dict[str, int]:
        per_row = {}
        for name in names:
            before = _compiles(spark)
            QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            per_row[name] = _compiles(spark) - before
        return per_row

    one_pass()
    recompiled = {k: v for k, v in one_pass().items() if v}
    assert not recompiled, f"second pass recompiled generated classes: {recompiled}"


def test_get_spark_leaves_pythonpath_alone_when_running(spark, monkeypatch):
    marker = os.path.join(os.sep, "nonexistent-pythonpath-marker")
    monkeypatch.setenv("PYTHONPATH", marker)
    assert get_spark() is spark
    assert os.environ["PYTHONPATH"] == marker


def test_fastdaemon_imports_without_zipimporter_invalidate_caches():
    """Before Python 3.10 ``zipimporter`` has no ``invalidate_caches``:
    the daemon must fall through to stock behaviour, not fail at import."""
    code = (
        "import zipimport\n"
        "del zipimport.zipimporter.invalidate_caches\n"
        "import flink_note_spark.fastdaemon\n"
        "assert not hasattr(zipimport.zipimporter, 'invalidate_caches')\n"
        "print('ok')\n"
    )
    env = dict(os.environ, PYTHONPATH=REPO_ROOT)
    out = subprocess.run(
        [sys.executable, "-c", code], env=env, cwd=REPO_ROOT,
        capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "ok"

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from webscrap_datapipeline_spark.session import get_spark  # noqa: E402

TESTDATA_ROOT = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")

SF_SMALL = os.path.join(TESTDATA_ROOT, "sf0.001")
SF_MEDIUM = os.path.join(TESTDATA_ROOT, "sf0.01")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="wsdp-tests", master="local[4]", shuffle_partitions=8)
    yield spark
    spark.stop()


def codegen_compiles(spark) -> int:
    """Classes Janino has compiled in this JVM so far (Spark's
    ``CodegenMetrics``; in local mode the executors run in this JVM
    too)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def crash_at_every_step(monkeypatch, modules, index_dir, operation, after_crash, settled):
    """Crash ``operation``, which replaces ``index_dir`` through
    ``<index_dir>.staging`` and ``fsutil.fs_swap``, at each of its
    mutating ``fsutil`` calls in turn (``fs_rename``, ``fs_delete``,
    ``fs_write_text``, ``write_batch_partition``; patched in ``fsutil``
    and in each of ``modules`` that imported them by name).

    A clean run first records the calls and finds ``commit``, the
    1-based position of the rename of the staging directory onto
    ``index_dir``; ``settled()`` then checks the result. Then, for
    every k, ``index_dir`` is restored to how it stood before the clean
    run, with no ``.old`` or ``.staging`` sibling; ``operation`` raises
    at its k-th call; ``after_crash(k, commit)`` checks what the crash
    left and recovers from it; ``operation`` runs cleanly once more and
    must end at ``settled()`` with no sibling left. Returns the clean
    run's calls as ``(name, args[1:])`` pairs."""
    import shutil

    from webscrap_datapipeline_spark import fsutil

    calls, crash_at = [], {"k": None}

    def patched(name, real):
        def call(*args):
            calls.append((name, args[1:]))
            if len(calls) == crash_at["k"]:
                raise RuntimeError(f"simulated crash at {name}")
            return real(*args)

        return call

    for name in ("fs_rename", "fs_delete", "fs_write_text", "write_batch_partition"):
        real = getattr(fsutil, name)
        for mod in (fsutil, *modules):
            if hasattr(mod, name):
                monkeypatch.setattr(mod, name, patched(name, real))

    pristine = index_dir + ".pristine"
    shutil.copytree(index_dir, pristine)
    operation()
    clean = list(calls)
    commit = clean.index(("fs_rename", (index_dir + ".staging", index_dir))) + 1
    settled()

    for k in range(1, len(clean) + 1):
        for d in (index_dir, index_dir + ".old", index_dir + ".staging"):
            shutil.rmtree(d, ignore_errors=True)
        shutil.copytree(pristine, index_dir)
        calls.clear()
        crash_at["k"] = k
        with pytest.raises(RuntimeError, match="simulated crash"):
            operation()
        crash_at["k"] = None
        after_crash(k, commit)
        operation()
        settled()
        assert not os.path.exists(index_dir + ".old"), k
        assert not os.path.exists(index_dir + ".staging"), k
    return clean


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMALL

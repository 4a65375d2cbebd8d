"""The engine's Python worker daemon (`worker_daemon`): Spark's own
archives are read once per daemon, everything else still invalidates,
and the daemon starts wherever the driver runs."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import uuid

import pytest

from tests.conftest import REPO


def test_spark_archives_are_not_reread_in_tasks(spark):
    """Inside a task, every zip importer over Spark's own archives keeps
    its directory listing (the same `_files` object) across
    importlib.invalidate_caches()."""
    sc = spark.sparkContext
    assert sc.getConf().get("spark.python.daemon.module") == (
        "ocean_data_pipeline_spark.worker_daemon"
    )

    def invalidate(_):
        import importlib
        import zipimport

        def listings():
            return {
                path: f._files
                for path, f in sys.path_importer_cache.items()
                if isinstance(f, zipimport.zipimporter)
                and (
                    os.path.basename(f.archive) == "pyspark.zip"
                    or os.path.basename(f.archive).startswith("py4j")
                    or f.archive.endswith(".jar")
                )
            }

        before = listings()
        importlib.invalidate_caches()
        after = listings()
        yield sorted((path, after[path] is before[path]) for path in before)

    [kept] = sc.parallelize([0], 1).mapPartitions(invalidate).collect()
    assert kept, "no zip importer over Spark's archives in the worker"
    assert all(same for _, same in kept), kept


def test_add_py_file_after_workers_ran(spark, tmp_path):
    """Files added with addPyFile still become importable: the SparkFiles
    directory is not frozen, even after a task imported from it."""
    import importlib

    sc = spark.sparkContext
    first, second = (f"worker_daemon_probe_{uuid.uuid4().hex}" for _ in range(2))
    for name, value in ((first, 1), (second, 2)):
        (tmp_path / f"{name}.py").write_text(f"VALUE = {value}\n")

    def value_of(name):
        return sc.parallelize([0], 1).map(lambda _: importlib.import_module(name).VALUE).collect()

    sc.addPyFile(str(tmp_path / f"{first}.py"))
    assert value_of(first) == [1]
    sc.addPyFile(str(tmp_path / f"{second}.py"))
    assert value_of(second) == [2]


@pytest.mark.parametrize("configured", [False, True], ids=["plain", "submit-args"])
def test_daemon_starts_from_any_working_directory(tmp_path, configured):
    """A fresh get_spark() in a process whose working directory is
    outside the repository still runs a Python task: the workers find
    the daemon module on their own. Plain: no PYTHONPATH at all. With
    submit args: PYSPARK_SUBMIT_ARGS sets another
    spark.executorEnv.PYTHONPATH, which the engine's value replaces,
    while a module on the PYTHONPATH environment variable stays
    importable in the task."""
    probe = f"worker_daemon_env_probe_{uuid.uuid4().hex}"
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from ocean_data_pipeline_spark.session import get_spark

        def double(batches):
            import pyarrow.compute as pc
            if {configured!r}:
                import {probe}
            for b in batches:
                yield b.set_column(0, "id", pc.multiply(b.column(0), 2))

        spark = get_spark("worker-daemon-test", master="local[1]")
        print(sorted(r.id for r in spark.range(3).mapInArrow(double, "id long").collect()))
        spark.stop()
    """)
    env = {k: v for k, v in os.environ.items() if k not in ("PYTHONPATH", "PYSPARK_SUBMIT_ARGS")}
    env.update(SPARK_GRAFT_CPUS="1", SPARK_GRAFT_DRIVER_MEM="512m")
    run_dir = tmp_path / "run"
    run_dir.mkdir()
    if configured:
        lib = tmp_path / "lib"
        lib.mkdir()
        (lib / f"{probe}.py").write_text("")
        env["PYTHONPATH"] = str(lib)
        env["PYSPARK_SUBMIT_ARGS"] = (
            f"--conf spark.executorEnv.PYTHONPATH={tmp_path / 'elsewhere'} pyspark-shell"
        )
    done = subprocess.run(
        [sys.executable, "-c", script],
        cwd=run_dir, env=env, capture_output=True, text=True, timeout=180,
    )
    assert done.returncode == 0, done.stderr[-2000:]
    assert done.stdout.strip().splitlines()[-1] == "[0, 2, 4]"

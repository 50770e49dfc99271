"""Every module of the package and every job script imports cleanly.

Guards module retirements: a module-level import of a deleted module
fails here even when no other test touches the importing file (the job
scripts, for one, are otherwise only run under spark-submit).  Importing
starts no Spark session and no Spark job."""

import glob
import importlib
import importlib.util
import os
import pkgutil

import meme_search_engine_spark

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_every_module_and_job_imports():
    modules = [
        m.name
        for m in pkgutil.walk_packages(
            meme_search_engine_spark.__path__, "meme_search_engine_spark."
        )
    ]
    assert "meme_search_engine_spark.query.serve" in modules
    for name in modules:
        importlib.import_module(name)

    jobs = sorted(glob.glob(os.path.join(REPO, "jobs", "*.py")))
    assert {os.path.basename(p) for p in jobs} >= {
        "build_index_job.py",
        "pipeline_job.py",
        "query_job.py",
    }
    for path in jobs:
        stem = os.path.splitext(os.path.basename(path))[0]
        spec = importlib.util.spec_from_file_location(f"_job_{stem}", path)
        spec.loader.exec_module(importlib.util.module_from_spec(spec))

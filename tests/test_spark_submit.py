"""Packaging: the engine must run under ``spark-submit --py-files`` (the
north rule's deploy mode) — a real subprocess launch, zip-shipped package,
no repo on the job's PYTHONPATH, exercising a geocode→cell→agg pipeline
whose kernels import geografir_spark on executors."""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

JOB = """
import json, sys
from pyspark.sql import SparkSession

spark = (SparkSession.builder.master("local[2]")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.ui.enabled", "false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")

from geografir_spark.geo import cells, geocode
from geografir_spark.sources.pages import load_pages

p = load_pages(spark, "/root/testdata/sf0.001")
p = geocode.with_geocode(p, "text", "page_id")
p = cells.with_cell(p, "lon", "lat", 6)
n = p.groupBy("cell").count().count()
print(json.dumps({"distinct_cells": n}))
spark.stop()
"""


def _spark_submit() -> str:
    cand = shutil.which("spark-submit")
    if cand:
        return cand
    import pyspark

    return os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")


def test_spark_submit_py_files(tmp_path):
    from geografir_spark.shipping import package_zip

    zip_path = package_zip()
    job = tmp_path / "job.py"
    job.write_text(JOB)
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)  # the zip must be the only way to import
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    r = subprocess.run(
        [_spark_submit(), "--py-files", zip_path, str(job)],
        capture_output=True, text=True, timeout=300, cwd=str(tmp_path), env=env,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    lines = [l for l in r.stdout.splitlines() if l.startswith("{")]
    assert lines, r.stdout[-2000:]
    assert json.loads(lines[-1])["distinct_cells"] > 0


IMPORT_FROM_ZIP = """
import json, sys
sys.path.insert(0, sys.argv[1])
import geografir_spark
from geografir_spark.queries import QUERIES
print(json.dumps({"pkg": geografir_spark.__file__, "names": list(QUERIES)}))
"""


def test_zip_import_keeps_definition_order(tmp_path):
    """Importing the registry from the shipped zip is warning-free and
    yields the same order as the checkout: the ``@register`` order."""
    from geografir_spark import queries
    from geografir_spark.shipping import package_zip

    zip_path = package_zip()
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)
    r = subprocess.run(
        [sys.executable, "-W", "error::RuntimeWarning", "-c", IMPORT_FROM_ZIP,
         zip_path],
        capture_output=True, text=True, timeout=120, cwd=str(tmp_path), env=env,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    out = json.loads(r.stdout.splitlines()[-1])
    assert out["pkg"].startswith(zip_path), out["pkg"]
    with open(queries.__file__, encoding="utf-8") as f:
        defined = re.findall(r'^@register\(\s*"([^"]+)"', f.read(), re.M)
    assert len(defined) == len(queries.QUERIES)
    assert out["names"] == defined

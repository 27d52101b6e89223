"""The session factory's static confs, checked in a JVM of their own:
a static conf only takes effect when the factory starts the JVM."""

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Run from a cwd that holds a decoy `web_scraper_spark/`: the driver
# imports the real package (REPO first on sys.path); the worker must too.
_SCRIPT = """
import json, sys
sys.path.insert(0, {repo!r})
from web_scraper_spark.session import get_spark

spark = get_spark(cores=2)
spark.sparkContext.setLogLevel("ERROR")
jvm = spark.sparkContext._jvm


def compiles():
    metrics = jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def worker_file(_):
    import web_scraper_spark
    yield web_scraper_spark.__file__


def codegen_pass():
    for i in range({shapes}):
        spark.range(4).selectExpr(f"id * {{i}} + {{i}} AS v").collect()


worker = spark.sparkContext.parallelize([0], 1).mapPartitions(worker_file).collect()[0]
n0 = compiles()
codegen_pass()
n1 = compiles()
codegen_pass()
n2 = compiles()
print(json.dumps({{"worker": worker, "first": n1 - n0, "second": n2 - n1}}))
spark.stop()
"""


def test_get_spark_worker_imports_and_codegen_cache(tmp_path):
    """Two static confs of get_spark, one JVM start:

    - a worker launched from a cwd holding another `web_scraper_spark`
      imports the real package;
    - the generated-class cache holds more than one pass over 160
      distinct codegen shapes, so a second pass compiles (almost)
      nothing. At Spark's default of 100 entries it recompiles them
      all."""
    decoy = tmp_path / "web_scraper_spark"
    decoy.mkdir()
    (decoy / "__init__.py").write_text("")
    # a PYTHONSAFEPATH inherited from this process would hide a worker
    # that puts the cwd first
    env = {k: v for k, v in os.environ.items() if k != "PYTHONSAFEPATH"}
    env["SPARK_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", _SCRIPT.format(repo=REPO, shapes=160)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert res["worker"] == os.path.join(REPO, "web_scraper_spark", "__init__.py")
    assert res["first"] > 150, res
    assert res["second"] <= 5, res

"""``session.get_spark`` builds the session every entry point uses."""

from __future__ import annotations

import os
import pathlib
import re
import subprocess
import sys
import time

from tigate_spark.catalog import get_catalog
from tigate_spark.session import CODEGEN_CACHE_MAX_ENTRIES, codegen_compiles

ROOT = pathlib.Path(__file__).resolve().parents[1]

#: a driver script that, like ``tools/*.py``, finds the package only by
#: inserting the checkout into its own ``sys.path``
_SCRIPT = f"""
import sys
sys.path.insert(0, {str(ROOT)!r})
from tigate_spark.session import get_spark

def probe(rows):
    import tigate_spark
    yield tigate_spark.__name__

spark = get_spark("worker-path", cpus=1)
print(spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect())
spark.stop()
"""


def test_python_workers_import_the_package(tmp_path):
    """The executor side of a Python sink or UDF imports the package
    when the driver runs outside the checkout with PYTHONPATH unset."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    t0 = time.time()
    out = subprocess.run([sys.executable, "-c", _SCRIPT], cwd=tmp_path,
                         env=env, capture_output=True, text=True,
                         timeout=300)
    print(f"subprocess wall time {time.time() - t0:.1f}s")
    assert out.returncode == 0, out.stderr[-2000:]
    assert "['tigate_spark']" in out.stdout


def _final_plan(spark) -> str:
    """The newest SQL execution's final physical plan: operator tree
    only, without node numbers and runtime statistics."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    desc = execs.apply(execs.size() - 1).physicalPlanDescription()
    tree = desc.split("\n\n")[0]
    return re.sub(r" \(\d+\)|, Statistics\(.*\)", "", tree)


def test_second_execution_compiles_no_new_classes(spark, sf_dir):
    """A second execution of the headline queries reuses every generated
    class the first one compiled: the codegen cache holds their working
    set, so a timed pass measures the plan, not Janino.

    AQE picks ``dedup_ngram_jaccard``'s broadcast side by which of its
    join inputs finishes first, so its final plan, and with it the code
    it compiles, can differ between two executions; an entry is held to
    zero compiles only when its final plan repeated."""
    assert (spark.conf.get("spark.sql.codegen.cache.maxEntries")
            == str(CODEGEN_CACHE_MAX_ENTRIES))
    headline = {n: s for n, s in get_catalog().items() if s.bench}
    assert len(headline) == 13
    dfs = {n: headline[n].builder(spark, sf_dir) for n in sorted(headline)}
    passes = []
    for _ in range(2):
        run = {}
        for name, df in dfs.items():
            c0 = codegen_compiles(spark)
            df.write.format("noop").mode("overwrite").save()
            run[name] = (codegen_compiles(spark) - c0, _final_plan(spark))
        passes.append(run)
    first, second = passes
    replanned = {n for n in dfs if first[n][1] != second[n][1]}
    print(f"compiles per pass: {sum(c for c, _ in first.values())}, "
          f"{sum(c for c, _ in second.values())}; replanned: {replanned}")
    assert codegen_compiles(spark) > 0  # the counter is live
    assert replanned <= {"dedup_ngram_jaccard"}
    assert {n: c for n, (c, _) in second.items()
            if n not in replanned and c} == {}

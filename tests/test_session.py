"""``session.get_spark`` builds the session every entry point uses."""

from __future__ import annotations

import os
import pathlib
import subprocess
import sys
import time

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

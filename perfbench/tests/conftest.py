import os
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))
# Spark's Python workers must import the package too.
os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")]))


@pytest.fixture(scope="session")
def spark():
    from graphdbetl_spark.session import get_spark

    s = get_spark("perfbench-tests", cpus=2)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def catalog(tmp_path_factory):
    from perfbench import gen

    out = str(tmp_path_factory.mktemp("catalog"))
    gen.write_catalog(out, seed=7, scale=0.001)
    return out

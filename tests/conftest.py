import os
import sys
from contextlib import contextmanager

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from maskmypy_spark.session import get_spark

    s = get_spark(app="maskmypy-spark-tests", cores=os.environ.get("SPARK_TEST_CPUS", 8))
    yield s


@pytest.fixture
def knn_cs():
    """``with knn_cs(cs):`` sets the cell size of every kNN call made in the
    block (``knn_join``, ``nearest_neighbor`` and the operators on them),
    the way tests vary it: ``knn._size_others`` still runs its one extent
    job, and its count still decides the broadcast; only the cs it returns
    is replaced. ``cs=None`` keeps the engine's estimate. The engine sizes
    its own cells, so this is a test seam, not an option."""
    from maskmypy_spark.operators import knn

    @contextmanager
    def pin(cs):
        real = knn._size_others

        def sized(*args, **kwargs):
            est, bcast, ext = real(*args, **kwargs)
            return (est if cs is None else cs), bcast, ext

        with pytest.MonkeyPatch.context() as m:
            m.setattr(knn, "_size_others", sized)
            yield

    return pin

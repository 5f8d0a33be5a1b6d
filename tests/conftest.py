import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def pytest_configure(config):
    # a driver thread wrapped without its session loses the caller's
    # job tags (so interruptTag cannot reach its jobs): fail the test
    config.addinivalue_line(
        "filterwarnings",
        r"error:Spark session is not provided\. Tags will not be "
        r"inherited\.:UserWarning",
    )
    # getItem(Column) is deprecated and slated for removal: index maps
    # with ``col[key]``
    config.addinivalue_line(
        "filterwarnings",
        r"error:A column as 'key' in getItem is deprecated:FutureWarning",
    )
    # a negative int64 hash cast to uint64 must reinterpret its bits
    # (``np.int64(h).view(np.uint64)``): NumPy will reject the cast
    config.addinivalue_line(
        "filterwarnings",
        r"error:NumPy will stop allowing conversion of out-of-bound Python "
        r"integers:DeprecationWarning",
    )


@pytest.fixture(scope="session")
def spark():
    from osmnightwatch_spark.session import get_spark

    s = get_spark("tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def pre_checkpoint():
    """``pre_checkpoint(op, *args, **kw)`` runs an operator with the
    classic ``localCheckpoint`` swapped for an identity recorder and
    returns the plan the operator last checkpointed — its result, as
    a lazy plan. On Spark 4 classic sessions the method lives on
    ``pyspark.sql.classic.dataframe.DataFrame``; patching
    ``pyspark.sql.DataFrame`` has no effect."""
    from pyspark.sql.classic.dataframe import DataFrame

    def run(op, *args, **kwargs):
        seen = []

        def record(self, eager=True, storageLevel=None):
            seen.append(self)
            return self

        with pytest.MonkeyPatch.context() as m:
            m.setattr(DataFrame, "localCheckpoint", record)
            op(*args, **kwargs)
        return seen[-1]

    return run

import pytest


@pytest.fixture(scope="session")
def spark():
    from s2geography_spark.session import get_spark
    s = get_spark("tests", cpus=4, shuffle_partitions=8)
    yield s


@pytest.fixture(params=["broadcast", "distributed"])
def plan(request, monkeypatch):
    """The plan a distance join runs on: the in-process broadcast dim (the
    default for a small dim), or the same kernel per cell, forced by
    lowering the dim guard to 0 rows."""
    if request.param == "distributed":
        from s2geography_spark.operators import spatial_join as sj
        monkeypatch.setattr(sj, "MAX_BROADCAST_DIM_ROWS", 0)
    return request.param

import sys

import pytest

sys.path.insert(0, "/root/repo")

from geopy_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("pytest", cores=8, shuffle_partitions=16)
    yield s


@pytest.fixture(scope="session")
def multipolygon_pdf():
    """One two-part MultiPolygon in the regions-table shape: two rows
    sharing poly_id 900, far apart, the second part holed. A join that
    grouped the PIP by poly_id instead of by geometry would test one
    part's points against the other part's ring and lose hits."""
    import pandas as pd

    def part(lat0, lon0, holes):
        ring = [[lat0, lon0], [lat0, lon0 + 15.000011],
                [lat0 + 15.000013, lon0 + 15.000011], [lat0 + 15.000013, lon0]]
        return {"poly_id": 900, "name": "region900", "ring": ring,
                "holes": holes, "lat_min": lat0, "lat_max": lat0 + 15.000013,
                "lon_min": lon0, "lon_max": lon0 + 15.000011}

    hole = [[-33.000017, 102.000019], [-33.000017, 104.000023],
            [-31.000029, 104.000023], [-31.000029, 102.000019]]
    return pd.DataFrame([part(20.000007, 40.000003, []),
                         part(-35.000007, 100.000003, [hole])])

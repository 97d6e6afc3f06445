from __future__ import annotations

import datetime as dt
from zoneinfo import ZoneInfo

import pytest

from etl_energy_tracker_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


def madrid_quarters_utc(d: dt.date) -> list[dt.datetime]:
    """tz-database ground truth for the time kernel: every UTC
    quarter-hour whose Europe/Madrid local date is ``d``, in order
    (92/96/100 of them), as naive UTC datetimes."""
    mad, utc = ZoneInfo("Europe/Madrid"), ZoneInfo("UTC")
    t = dt.datetime(d.year, d.month, d.day, tzinfo=mad).astimezone(utc)
    out = []
    while t.astimezone(mad).date() == d:
        out.append(t.replace(tzinfo=None))
        t += dt.timedelta(minutes=15)
    return out


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", shuffle_partitions=8)
    yield s

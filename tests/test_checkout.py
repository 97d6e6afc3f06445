"""A pytest run tests the checkout it is launched from: the package and
the tools/ helpers must import from under the run's root directory."""

from __future__ import annotations

from pathlib import Path

import check_correctness

import etl_energy_tracker_spark


def test_imports_come_from_this_checkout(request):
    root = Path(request.config.rootpath).resolve()
    for mod in (etl_energy_tracker_spark, check_correctness):
        assert Path(mod.__file__).resolve().is_relative_to(root), mod.__file__

"""Tests and tools import the package of the checkout that holds them."""

from __future__ import annotations

import os
import sys


def test_check_oracle_root_is_this_checkout():
    """tools/check_oracle.py puts its own checkout first on sys.path, so
    a copy or clone checks its own package, not a fixed path's."""
    import map_reduce_sf_crime_spark
    from tools import check_oracle

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    assert check_oracle.ROOT == here
    assert here in sys.path
    pkg = os.path.dirname(os.path.abspath(map_reduce_sf_crime_spark.__file__))
    assert os.path.dirname(pkg) == here

"""Bench-tier membership. EXTENDED is derived from the registry
(every entry not in CORE), so coverage and disjointness hold by
construction; CORE is the one literal list, the stable longitudinal
set, and must name registered entries exactly once."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from advisorydatapipeline_spark.registry import QUERIES  # noqa: E402


def test_core_unique_and_registered():
    assert len(bench.CORE) == len(set(bench.CORE)), "CORE has dups"
    missing = [n for n in bench.CORE if n not in QUERIES]
    assert not missing, f"CORE names not in the registry: {missing}"

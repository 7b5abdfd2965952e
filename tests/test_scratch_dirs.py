"""Registry entries and operators keep their scratch files under one
per-process root (``sources.io.scratch_dir``) that is removed at
interpreter exit."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]


def test_scratch_dir_is_per_tag_and_stable():
    from advisorydatapipeline_spark.sources.io import scratch_dir

    a = scratch_dir("probe_a")
    assert scratch_dir("probe_a") == a
    assert os.path.isdir(a)
    assert os.path.dirname(scratch_dir("probe_b")) == os.path.dirname(a)


def test_no_scratch_left_after_process_exit(tmp_path, sf_dir):
    """A process that ran a scratch-writing entry leaves no ``adp_*``
    entry in its temp dir once it exits."""
    code = (
        "from advisorydatapipeline_spark.registry import QUERIES\n"
        "from advisorydatapipeline_spark.session import get_spark\n"
        "spark = get_spark('scratch-exit', shuffle_partitions=4)\n"
        f"df = QUERIES['advisory_datasource_scan'](spark, {sf_dir!r})\n"
        "assert df.count() > 0\n"
    )
    env = dict(os.environ, TMPDIR=str(tmp_path))
    subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, env=env, check=True,
        timeout=600,
    )
    left = sorted(p.name for p in tmp_path.iterdir() if p.name.startswith("adp_"))
    assert left == []

"""BENCH.md rendering from canned replicate runs (no Spark)."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


def _run(total, wall, in_job, driver, jobs):
    return {
        "value": total,
        "queries": {"graph_build": wall, "q1_pagerank_conv": total - wall},
        "layers": {
            "graph_build": {"wall_s": wall, "in_job_s": in_job, "driver_s": driver, "jobs": jobs},
            "q1_pagerank_conv": {
                "wall_s": total - wall, "in_job_s": 1.0, "driver_s": total - wall - 1.0, "jobs": 9,
            },
        },
        "sf": 0.1,
        "cpus": 4,
    }


def test_render_reports_median_range_and_layer_split():
    runs = [_run(10.0, 2.0, 1.5, 0.5, 3), _run(12.0, 3.0, 2.5, 0.5, 4), _run(11.0, 2.5, 1.0, 1.5, 4)]
    md = bench.render(runs, "2026-01-02", "abc1234")
    assert "sf0.1, local[4], 3 replicates, 2026-01-02, commit abc1234." in md
    rows = [line for line in md.splitlines() if line.startswith("| ")]
    assert rows[0] == "| query | wall (median) | [min, max] | in jobs | driver | jobs |"
    assert rows[1] == "| graph_build | 2.50 | [2.00, 3.00] | 1.50 | 0.50 | 4 |"
    assert rows[2] == "| q1_pagerank_conv | 8.50 | [8.00, 9.00] | 1.00 | 7.50 | 9 |"
    assert rows[3] == "| total | 11.00 | [10.00, 12.00] | | | |"
    # an even number of replicates can give a half job as the median
    md = bench.render(runs[:2], "2026-01-02", "abc1234")
    assert "| graph_build | 2.50 | [2.00, 3.00] | 2.00 | 0.50 | 3.5 |" in md

"""The headline bench's load-aware rerun reports the pass with the
cleaner bracket controls, not the lower total."""

from __future__ import annotations

import bench  # noqa: E402  (repo root is on sys.path)


def test_picks_pass_with_cleaner_brackets():
    # pass 2 ran on a calmer host: its worse control is nearer 0.23 s
    pick, reason = bench.select_headline_pass((0.25, 0.90), (0.31, 0.28), 0.23)
    assert pick == 2
    assert "0.310" in reason and "0.900" in reason


def test_worse_control_decides_not_the_better_one():
    # pass 1 has the single best control, but its end bracket is the
    # most contaminated reading of all
    pick, _ = bench.select_headline_pass((0.23, 0.80), (0.40, 0.40), 0.23)
    assert pick == 2


def test_keeps_first_pass_when_it_is_cleaner_or_tied():
    assert bench.select_headline_pass((0.30, 0.26), (0.70, 0.24), 0.23)[0] == 1
    assert bench.select_headline_pass((0.50, 0.30), (0.30, 0.50), 0.23)[0] == 1


def test_distance_is_absolute():
    # a control well below baseline (a faster host) is not "cleaner"
    # than one that reads the baseline itself
    assert bench.select_headline_pass((0.05, 0.06), (0.24, 0.22), 0.23)[0] == 2

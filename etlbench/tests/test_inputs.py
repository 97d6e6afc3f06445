"""Staged inputs are a pure function of the seed."""

import os

import pytest

import inputs


def staged_files(root: str) -> dict[str, bytes]:
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            path = os.path.join(dirpath, f)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = fh.read()
    return out


@pytest.mark.parametrize("workload", sorted(inputs.STAGERS))
def test_same_seed_same_bytes_other_seed_other_bytes(workload, tmp_path):
    stage = inputs.STAGERS[workload]
    stage(11, str(tmp_path / "a"))
    stage(11, str(tmp_path / "b"))
    stage(12, str(tmp_path / "c"))
    a, b, c = (staged_files(str(tmp_path / x)) for x in "abc")
    assert a and a == b
    assert a.keys() == c.keys()
    # every generated input depends on the seed; the etl_daily plan is
    # only the fixed delivery schedule
    same = [name for name in a if a[name] == c[name]]
    assert same == (["plan.json"] if workload == "etl_daily" else [])


def test_dst_day_and_redelivery_open_the_replay():
    # set-up delivers the DST day; the timed phase then opens April and
    # re-delivers the DST day with revised values
    assert inputs.local_hours(inputs.DST_DAY) == 23
    assert inputs.DELIVERIES == ((inputs.DST_DAY, False), ("2024-04-01", False),
                                     (inputs.REDELIVERED_DAY, True))
    assert [d for d, r in inputs.DELIVERIES if r] == [inputs.REDELIVERED_DAY]


def test_omie_dst_day_has_23_hours_and_european_decimals():
    files = inputs.omie_files(3, inputs.DST_DAY, units=2, revised=False)
    assert sorted(files) == ["pdbc_20240331.csv", "pibci_20240331.1.csv", "pibci_20240331.2.csv"]
    rows = [ln.split(";") for ln in files["pdbc_20240331.csv"].splitlines()[1:]]
    assert {int(r[1]) for r in rows} == set(range(1, 24))
    assert all("," in r[3] and r[3].count(",") == 1 for r in rows)


def test_redelivery_revises_some_values_and_repeats_the_rest():
    a = inputs.i90_rows(5, inputs.REDELIVERED_DAY, 10, revised=False)
    b = inputs.i90_rows(5, inputs.REDELIVERED_DAY, 10, revised=True)
    assert len(a) == len(b)
    changed = sum(x != y for x, y in zip(a, b))
    assert 0.1 * len(a) < changed < 0.3 * len(a)

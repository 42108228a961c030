"""write_curve must never destroy sibling evidence in SCALE_CURVE.json.

Round 12 lost the round's de-confounding measurements (fresh_runs,
split_jvm, partition_knee) to a stale writer that rebuilt the artifact
dict from scratch.  These tests pin the contract: a write round-trips
every foreign top-level key, and the guard refuses (raises) rather than
silently dropping keys.

No SparkSession needed — write_curve is pure JSON plumbing.
"""

import importlib.util
import json
import os

import pytest

_SPEC = importlib.util.spec_from_file_location(
    "scale_curve",
    os.path.join(os.path.dirname(__file__), "..", "scripts", "scale_curve.py"),
)
scale_curve = importlib.util.module_from_spec(_SPEC)
_SPEC.loader.exec_module(scale_curve)


RESULT = {"qX": {"t_1x_sec": 1.0, "t_100x_sec": 10.0, "ratio": 10.0}}


def test_roundtrip_preserves_foreign_keys(tmp_path):
    path = str(tmp_path / "SCALE_CURVE.json")
    seed = {
        "base": "/root/testdata/sf0.01",
        "runs": {"10": {"qA": {"t_1x_sec": 1.0, "t_10x_sec": 4.0, "ratio": 4.0}}},
        "exponents": {},
        "fresh_runs": {"100": {"qB": {"t_1x_sec": 2.0, "t_100x_sec": 9.0, "ratio": 4.5}}},
        "split_jvm": {"evidence": "local-cluster rerun"},
        "partition_knee": {"jaccard": [1, 2, 3]},
        "some_future_key": {"anything": True},
    }
    with open(path, "w") as f:
        json.dump(seed, f)
    out = scale_curve.write_curve(path, RESULT, factor=100, fresh=False)
    with open(path) as f:
        on_disk = json.load(f)
    assert out == on_disk
    for k in ("fresh_runs", "split_jvm", "partition_knee", "some_future_key"):
        assert on_disk[k] == seed[k], f"foreign key {k} was clobbered"
    # new results merged in, old factor kept
    assert on_disk["runs"]["100"]["qX"]["ratio"] == 10.0
    assert on_disk["runs"]["10"]["qA"]["ratio"] == 4.0
    # fresh exponents recomputed because fresh_runs exists
    assert "fresh_exponents" in on_disk


def test_fresh_mode_writes_fresh_runs_only(tmp_path):
    path = str(tmp_path / "SCALE_CURVE.json")
    out = scale_curve.write_curve(path, RESULT, factor=300, fresh=True)
    assert out["fresh_runs"]["300"]["qX"]["ratio"] == 10.0
    assert "qX" not in out["runs"].get("300", {})


def test_guard_raises_on_key_loss():
    # a regressed merge that rebuilt the dict from scratch (the r12
    # failure) would present out without the foreign keys — the guard
    # must refuse, naming the lost keys
    with pytest.raises(AssertionError, match="precious"):
        scale_curve._assert_no_key_loss(
            {"base", "runs", "precious"}, {"base": "b", "runs": {}}
        )
    # and pass when nothing is lost (extra new keys are fine)
    scale_curve._assert_no_key_loss(
        {"base", "runs"}, {"base": "b", "runs": {}, "exponents": {}}
    )

"""Input-sized AQE wide start (yamon_spark.session).

The r13 fresh-JVM probe (`git show 8b1a8f1:scripts/minhash_probe.py`)
measured the fixed 512-wide start costing the minhash shuffle chain
1.43-1.98x at sf0.1 (17 MB input), while the r12 partition-knee
measurement shows the same width HALVING the posting-list kernel at a
~700 MB corpus. The rule that holds across scales is
bytes-per-initial-partition; these tests pin the sizing function, its
clamps and get_spark's use of it (no SparkSession needed).
"""

import os

from yamon_spark.session import (
    _INPUT_BYTES_PER_INITIAL_PARTITION,
    _MAX_INITIAL_PARTITIONS,
    _sized_initial_partitions,
)


def _mkdata(tmp_path, n_bytes: int) -> str:
    d = tmp_path / "data"
    d.mkdir()
    # sparse file: the sizing only reads st_size, never the content
    # (a literal bytes object at the clamp test's 23 GB would OOM)
    path = d / "part.parquet"
    path.touch()
    os.truncate(path, n_bytes)
    return str(d)


def test_small_input_floors_at_shuffle_partitions(tmp_path):
    # sf0.1 is ~17 MB -> ~13 partitions raw, floored to the session width
    d = _mkdata(tmp_path, 17_500_000)
    assert _sized_initial_partitions(d, floor=32) == 32


def test_knee_scale_recovers_the_measured_good_width(tmp_path):
    # ~700 MB (the r12 300x slice where 512-wide was measured optimal)
    # must land in the same regime the knee probe validated
    d = _mkdata(tmp_path, 700_000_000)
    width = _sized_initial_partitions(d, floor=32)
    assert 400 <= width <= 640


def test_huge_input_clamps_at_max(tmp_path):
    d = _mkdata(tmp_path, 200 * _INPUT_BYTES_PER_INITIAL_PARTITION * _MAX_INITIAL_PARTITIONS // 100)
    assert _sized_initial_partitions(d, floor=32) == _MAX_INITIAL_PARTITIONS


def test_walk_is_recursive(tmp_path):
    d = tmp_path / "data"
    (d / "documents.parquet").mkdir(parents=True)
    (d / "documents.parquet" / "part-0.parquet").write_bytes(b"\0" * _INPUT_BYTES_PER_INITIAL_PARTITION * 50)
    assert _sized_initial_partitions(str(d), floor=8) == 51


def test_get_spark_resolves_master_and_wide_start(tmp_path, monkeypatch):
    # get_spark's session settings without starting a JVM: getOrCreate is
    # the only JVM-touching call, so a stub records the builder's options
    import yamon_spark.session as sess

    confs = []

    def fake_get_or_create(self):
        confs.append(dict(self._options))

    monkeypatch.setattr(sess.SparkSession.builder.__class__, "getOrCreate", fake_get_or_create)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "6")
    d = _mkdata(tmp_path, _INPUT_BYTES_PER_INITIAL_PARTITION * 50)
    sess.get_spark("sizing-test", data_dir=d)
    sess.get_spark("sizing-test")
    sized, fixed = confs
    for c in (sized, fixed):
        assert c["spark.master"] == "local[6]"
        assert c["spark.sql.shuffle.partitions"] == "6"
    width = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    assert sized[width] == "51"
    assert fixed[width] == "512"

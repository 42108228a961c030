"""The bench contract line end-to-end: run bench.main() against a
2-query stub registry at sf0.001 and assert the driver-facing artifact
shape — ONE parseable JSON stdout line with total/per-query timings,
the per-pass sweep_attempts totals (added r12 so a contended round is
distinguishable from a regression), and the ingest attempts record;
bench_out.json additionally carries the full per-pass maps and each
query's layers (build_s, exec_s, jobs) for the kept pass. Guards the
emit path (short-name bijectivity, folding, sweep_passes stripping)
that a full 213-query run only exercises after ~15 minutes."""

from __future__ import annotations

import io
import json
import os
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_bench_main_emits_contract_line(spark, monkeypatch, tmp_path):
    import bench
    from yamon_spark.queries import all_queries

    full = all_queries()
    stub = {k: full[k] for k in ("q01_filter_project", "dedup_exact")}
    monkeypatch.setattr(bench, "all_queries", lambda: stub)
    monkeypatch.setattr(bench, "get_spark", lambda *a, **k: spark)
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    # the fresh-JVM anchor spawns 15 real subprocesses (~20 s each);
    # stub it here — its emit path has its own test below
    fresh_stub = {"dedup_minhash_lsh": 1.23, "q20_hash_agg": 0.45}
    monkeypatch.setattr(bench, "fresh_headline_walls", lambda sf: dict(fresh_stub))
    # keep the ingest leg tiny: 50 lines x 100 metrics parse in ~2 s
    orig_ingest = bench.ingest_bench
    monkeypatch.setattr(
        bench, "ingest_bench", lambda sp, n_lines=50, per_line=100: orig_ingest(sp, 50, 100)
    )

    # bench.main() rewrites the repo-root bench_out.json; preserve the
    # real sweep's artifact across the test
    art_path = os.path.join(REPO, "bench_out.json")
    saved = open(art_path).read() if os.path.exists(art_path) else None

    try:
        out = io.StringIO()
        with redirect_stdout(out):
            bench.main()
        line = json.loads(out.getvalue().strip().splitlines()[-1])

        assert line["metric"] == "total_wall" and line["unit"] == "sec"
        assert line["value"] >= 0
        assert set(line["queries"]) == {"01", "ddx"}  # short names, bijective
        # full per-pass maps and per-query layers stay in bench_out.json
        assert "sweep_passes" not in line and "layers" not in line
        atts = line["sweep_attempts"]
        assert len(atts) == 2 and all(a >= 0 for a in atts)
        assert line["ingest"]["rows_per_sec"] > 0
        assert len(line["ingest"]["attempts"]) >= 3
        # fresh-JVM anchor rides the line short-named, never folded
        assert line["fresh_headline"] == {"mh": 1.23, "20": 0.45}
        # CPUS-contract legibility (r14): effective master/cores/wide
        # start plus the core-count witness ride the line
        env = line["env"]
        assert env["master"].startswith("local")
        assert env["cpus"] == int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
        assert env["cpu_probe"]["wall"] > 0

        with open(art_path) as f:
            full_art = json.load(f)
        for p in ("pass1", "pass2"):
            assert set(full_art["sweep_passes"][p]) == set(stub)
        # min-of-passes is what the headline timings fold to
        for name in stub:
            passes = [full_art["sweep_passes"][p][name] for p in ("pass1", "pass2")]
            assert full_art["queries"][name] <= min(x for x in passes if x >= 0) + 1e-9
            # the kept pass's layers: build + exec is its wall, within
            # rounding (wall at 2 dp, layers at 3 dp)
            layers = full_art["layers"][name]
            assert abs(layers["build_s"] + layers["exec_s"] - full_art["queries"][name]) <= 0.006 + 1e-9
            assert layers["jobs"] >= 1
        assert full_art["tracer_cost_s"] >= 0
    finally:
        if saved is not None:
            with open(art_path, "w") as f:
                f.write(saved)
        elif os.path.exists(art_path):
            # on a clean checkout, don't leave the 2-query stub artifact
            # behind masquerading as a real sweep
            os.remove(art_path)


def test_fresh_headline_basket_is_registered():
    """Every pinned anchor query must exist in the registry (a renamed
    query would otherwise silently record -1.0 forever), and each must
    have a distinct short name so the contract line stays bijective."""
    import bench
    from yamon_spark.queries import all_queries

    qs = all_queries()
    missing = [n for n in bench.FRESH_HEADLINE if n not in qs]
    assert not missing, f"FRESH_HEADLINE names not in registry: {missing}"
    shorts = [bench._short_name(n) for n in bench.FRESH_HEADLINE]
    assert len(set(shorts)) == len(shorts)


def test_short_names_are_pinned():
    """The stdout line's short names are the driver's keys across rounds:
    a digest over every registered (name, short name) pair pins them, so
    an edit to the whole-name table or the prefix rules cannot silently
    rename a query on the contract line."""
    import hashlib

    import bench
    from yamon_spark.queries import all_queries

    pairs = sorted((n, bench._short_name(n)) for n in all_queries())
    digest = hashlib.sha256("".join(f"{n}\t{s}\n" for n, s in pairs).encode()).hexdigest()
    assert digest == "3c38470420558e3b4c7ae617230aaeb2a6f3fd46f1c6d44ab944436e5bac6e36"


def test_fresh_one_subprocess_contract():
    """One real fresh-JVM child at sf0.001: prints a RESULT line with two
    positive walls (the parent-side parser depends on this exact shape)
    and the faster run's layers."""
    import subprocess
    import sys as _sys

    proc = subprocess.run(
        [_sys.executable, os.path.join(REPO, "bench.py"), "--fresh-one", "q20_hash_agg"],
        capture_output=True,
        text=True,
        timeout=240,
        env=dict(os.environ, SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001"),
    )
    lines = [l for l in proc.stdout.splitlines() if l.startswith("RESULT ")]
    assert lines, f"no RESULT line:\n{proc.stdout[-500:]}\n{proc.stderr[-500:]}"
    result = json.loads(lines[-1][len("RESULT "):])
    walls = result["walls"]
    assert len(walls) == 2 and all(w > 0 for w in walls)
    assert abs(result["build_s"] + result["exec_s"] - min(walls)) <= 0.006 + 1e-9
    assert result["jobs"] >= 1

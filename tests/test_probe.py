"""``tools/probe.py``: the family table, the CLI, and one family run end
to end with its counter profile and a merged partial run."""

from __future__ import annotations

import dataclasses
import functools
import importlib.util
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PROBE = os.path.join(ROOT, "tools", "probe.py")


@functools.cache
def _probe():
    # one module per process: it holds the process's one tracer, which
    # bench.py (importing it as ``probe``) shares
    if "probe" in sys.modules:
        return sys.modules["probe"]
    spec = importlib.util.spec_from_file_location("probe", PROBE)
    mod = sys.modules["probe"] = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_families_have_unique_names_and_frozen_artifacts():
    fams = _probe().FAMILIES
    assert len(fams) >= 20
    for name, fam in fams.items():
        assert fam.name == name
        assert os.path.isfile(os.path.join(ROOT, fam.artifact)), fam.artifact
        tags = [t for t, _ in fam.scales]
        assert tags and len(tags) == len(set(tags)), name
        assert fam.claim and callable(fam.run)


def test_list_runs_without_starting_spark():
    code = ("import importlib.util as u, sys\n"
            f"s = u.spec_from_file_location('probe', {PROBE!r})\n"
            "m = sys.modules['probe'] = u.module_from_spec(s)\n"
            "s.loader.exec_module(m)\n"
            "m.main(['--list'])\n"
            "from pyspark import SparkContext\n"
            "sys.exit(SparkContext._active_spark_context is not None)\n")
    out = subprocess.run([sys.executable, "-c", code], capture_output=True,
                         text=True, timeout=120)
    assert out.returncode == 0, out.stderr
    for fam in _probe().FAMILIES.values():
        assert fam.name in out.stdout and fam.artifact in out.stdout


def test_diff_family_row_profile_and_merged_partial_run(spark, tmp_path):
    probe = _probe()
    fam = probe.FAMILIES["diff"]
    out = str(tmp_path / "BENCH_diff.json")
    row = probe.run_family(spark, fam, ["10"], out)["scales"]["10"]
    with open(os.path.join(ROOT, fam.artifact)) as f:
        frozen = json.load(f)["scales"]["10"]
    assert row["n_changed"] == frozen["n_changed"] == 1000
    assert set(frozen) <= set(row)
    prof = row["profile"]
    assert prof["jobs"] >= 1 and prof["tasks"] >= 1 and prof["wall_s"] > 0

    # a second run at another scale merges by tag, and alpha follows
    # the merged order
    two = dataclasses.replace(fam, scales=(("2", 2),) + fam.scales)
    probe.run_family(spark, two, ["2"], out)
    with open(out) as f:
        doc = json.load(f)
    assert list(doc["scales"]) == ["2", "10"]
    assert doc["scales"]["10"]["n_changed"] == 1000
    assert doc["scales"]["2"]["commits"] == 2
    assert "alpha_vs_prev" not in doc["scales"]["2"]
    assert set(doc["scales"]["10"]["alpha_vs_prev"]) <= set(fam.alpha)
    assert doc["batch_rows"] == 200 and doc["family"] == "diff"

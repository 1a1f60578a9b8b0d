"""bench.py's surviving surface, checked without starting Spark: the
crawl configs of both modes, the spark-submit shape of a scaling leg,
and that the bench depends on nothing under tools/."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

import bench
from torscrapper_spark.plans.crawl import CrawlConfig


@pytest.mark.parametrize("mode, salt", [("scaling", 8), ("default", 0)])
def test_crawl_cfg_builds_for_each_mode(monkeypatch, mode, salt):
    for name in ("TS_SCALE_WAVES", "TS_BENCH_WAVES"):
        monkeypatch.delenv(name, raising=False)
    cfg = bench.crawl_cfg_for(mode, 16)
    assert isinstance(cfg, CrawlConfig)
    assert cfg.pagestore_buckets == 16
    assert cfg.salt_buckets == salt
    assert cfg.max_waves == 4


@pytest.mark.parametrize("mode", ["scaling", "default"])
def test_crawl_cfg_filter_never_reaches_the_guard(monkeypatch, mode):
    """The mode's largest seen set — every page of its largest graph
    plus as many dangling link targets (fixtures draws them from
    ``pages_per_domain`` more paths per domain) — stays under the
    filter's 0.6 guard load, so no bench crawl pays the saturation
    check or a rebuild."""
    for name in ("TS_SCALE_DOMAINS", "TS_SCALE_PPD", "TS_BENCH_DOMAINS",
                 "TS_BENCH_PPD"):
        monkeypatch.delenv(name, raising=False)
    g = (bench.scaling_graph_cfg() if mode == "scaling"
         else bench.default_graph_cfg(1.0))
    cfg = bench.crawl_cfg_for(mode, 0)
    keys = 2 * g.n_domains * g.pages_per_domain
    assert keys < 0.6 * cfg.bloom_shards * cfg.cuckoo_buckets * 4


def test_submit_leg_cmd_ships_package_and_stages_script(tmp_path):
    stage = tmp_path / "stage"
    stage.mkdir()
    out = str(tmp_path / "leg.json")
    zip_path = str(tmp_path / "pkg.zip")
    cmd = bench.submit_leg_cmd(4, out, zip_path, str(stage))

    assert os.path.basename(cmd[0]) == "spark-submit"
    assert cmd[1:5] == ["--master", "local[4]", "--driver-memory", "8g"]
    i = cmd.index("--py-files")
    assert i == 5
    assert cmd[i + 1] == zip_path
    script = cmd[i + 2]
    assert cmd[i + 3:] == ["--one", "4", out]
    # the heap is capped, not committed up front: no -Xms, no pretouch
    assert not any("Xms" in a or "PreTouch" in a for a in cmd)
    assert os.path.dirname(script) == str(stage)
    repo = os.path.realpath(bench.REPO)
    assert os.path.commonpath([os.path.realpath(script), repo]) != repo
    with open(script, "rb") as a, open(os.path.join(bench.REPO, "bench.py"), "rb") as b:
        assert a.read() == b.read()


def test_bench_imports_nothing_from_tools():
    code = (
        "import sys; import bench; "
        "print([m for m in sys.modules if m == 'tools' or m.startswith('tools.')])"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=bench.REPO,
        capture_output=True, text=True, check=True,
    ).stdout.strip()
    assert out == "[]"

"""The bench artifact's contracts — pure-Python, no Spark: the stdout line
fits the driver's tail capture, the head list is the registry minus the
``"unbenched"`` tag, every skipped head has a documented tier, and
QUERIES.md's machine-owned table is fresh."""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench


def test_pack_stdout_queries_respects_driver_tail_budget():
    """The driver captures only the last 2000 chars of stdout; the packed
    line must always fit, keep the slowest queries, and self-describe any
    omission (BENCH_r05/r08 were lost to silent oversizing)."""
    base = {
        "metric": "headline_queries_total_runtime",
        "value": 123.456,
        "unit": "sec",
        "sf": 0.1,
        "stall_suspect": False,
        "median_rep_spread": 1.2,
        "loadavg": [3.1, 2.9, 2.5],
        "n_reruns": 4,
    }
    # 200 queries with realistic long names — far beyond any budget
    timings = {f"some_realistically_long_query_name_{i:03d}": i / 10 for i in range(200)}
    doc = bench._pack_stdout_queries(timings, base)
    line = json.dumps(doc)
    assert len(line) <= bench.STDOUT_LINE_BUDGET
    assert doc["n_queries"] == 200
    assert doc["queries_omitted"] == 200 - len(doc["queries"])
    assert 0 < len(doc["queries"]) < 200
    # slowest-first retention: every kept time >= every dropped time
    kept = set(doc["queries"])
    dropped_max = max(v for k, v in timings.items() if k not in kept)
    assert min(doc["queries"].values()) >= dropped_max
    # round-trips through the driver's parse
    assert json.loads(line)["value"] == 123.456
    # small map: everything fits, nothing omitted
    small = {"a": 1.0, "b": 2.0}
    doc2 = bench._pack_stdout_queries(small, base)
    assert doc2["queries"] == small and doc2["queries_omitted"] == 0


def test_every_registered_query_is_benched_or_tiered():
    """Bench coverage contract: the sweep is every registered query without
    the ``"unbenched"`` tag, and every tagged query is named in QUERIES.md
    "## Bench tiers" with its reason — silent bench omission is a failure."""
    from gmall_flink_parent_spark import plans

    specs = plans.all_queries()
    headline = bench.headline()
    assert len(headline) == len(set(headline)), "duplicate headline entry"
    here = os.path.dirname(os.path.abspath(bench.__file__))
    with open(os.path.join(here, "QUERIES.md")) as fh:
        doc = fh.read()
    assert "## Bench tiers" in doc
    tiers = doc.split("## Bench tiers", 1)[1]
    untiered = sorted(
        n
        for n, s in specs.items()
        if bench.UNBENCHED_TAG in s.tags and f"`{n}`" not in tiers
    )
    assert not untiered, f"unbenched queries without a bench tier: {untiered}"


def test_queries_md_table_is_fresh():
    """QUERIES.md's per-query table and prose counts are machine-owned
    (``scripts/gen_queries_md.py``); round 13 found the committed table
    drifting from the registry mid-round. Regeneration must be a no-op
    on the committed file — if this fails, run
    ``python scripts/gen_queries_md.py`` and commit the result."""
    import importlib.util

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "gen_queries_md", os.path.join(here, "scripts", "gen_queries_md.py")
    )
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    with open(os.path.join(here, "QUERIES.md"), encoding="utf-8") as fh:
        committed = fh.read()
    assert gen.render() == committed, (
        "QUERIES.md is stale — run python scripts/gen_queries_md.py"
    )


def test_sf1_inflation_rejects_copies_beyond_embedding_width(monkeypatch, tmp_path):
    """Copy ``i`` shifts the embedding dimensions by ``i``; at
    ``i >= EMBED_DIMS`` the shift is the identity and the copy would
    repeat shard 0. ``generate`` must refuse before writing anything."""
    import scripts.sf1_scale_run as sr

    monkeypatch.setattr(sr, "COPIES", sr.EMBED_DIMS + 1)
    monkeypatch.setattr(sr, "SF1_DIR", str(tmp_path / "sf1"))
    with pytest.raises(ValueError, match="embedding width"):
        sr.generate(None)
    assert not (tmp_path / "sf1").exists()

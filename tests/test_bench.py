"""The bench artifact's self-adjudication machinery — pure-Python, no
Spark: prior-round lookup from committed BENCH_r{N}.json files and the
outlier-suspect selection that drives post-sweep re-measurement. The
measurement loop itself is exercised by the driver every round; these
tests pin the adjudication DECISIONS (what gets re-run, against which
baseline) so a phantom outlier cannot silently reach `queries` and a
missing/malformed artifact cannot crash the sweep."""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench


def test_prior_round_times_reads_latest_parseable_committed_bench():
    """The adjudication baseline is the latest committed driver artifact
    whose stdout line PARSED — an unparseable one (BENCH_r08 shipped with
    ``"parsed": null`` after its line outgrew the driver's 2000-char tail
    capture) is skipped, not crashed on. Gaps in a budget-packed driver
    line are filled from the committed BENCH_DETAIL.json full map."""
    prior = bench._prior_round_times()
    assert prior, "expected a committed prior BENCH artifact"
    here = os.path.dirname(os.path.abspath(bench.__file__))
    # the latest PARSEABLE round's queries must all be present verbatim
    latest_q: dict = {}
    import re

    # Same filename contract as bench._prior_round_times: sidecar artifacts
    # like BENCH_r14_c8.json (the driver's low-core scaling run) are not
    # round artifacts and must be ignored, not crashed on.
    for n in sorted(
        (
            int(m.group(1))
            for fn in os.listdir(here)
            if (m := re.fullmatch(r"BENCH_r(\d+)\.json", fn))
        ),
        reverse=True,
    ):
        with open(os.path.join(here, f"BENCH_r{n:02d}.json")) as fh:
            doc = json.load(fh)
        latest_q = doc.get("queries") or (doc.get("parsed") or {}).get("queries") or {}
        if latest_q:
            break
    assert latest_q, "expected at least one parseable committed artifact"
    for k, v in latest_q.items():
        assert prior[k] == float(v)
    # every headline query that existed last round has a baseline
    assert sum(1 for n in bench.HEADLINE if n in prior) >= 40


def test_prior_round_times_skips_unparseable_and_fills_from_detail(tmp_path):
    """Regression for the exact round-8 failure shape: the newest driver
    artifact is ``"parsed": null`` → fall back to the previous round; keys
    that round's (budget-packed) line omitted come from BENCH_DETAIL.json
    — but ONLY when the detail file's ``round`` stamp matches the round
    whose queries won. A detail file from the newer (unparseable) sweep
    must not mix its timings into the older round's baseline."""
    (tmp_path / "BENCH_r09.json").write_text(
        json.dumps({"n": 9, "rc": 0, "tail": "…mid-line fragment…", "parsed": None})
    )
    (tmp_path / "BENCH_r08.json").write_text(
        json.dumps({"n": 8, "parsed": {"queries": {"a": 1.5, "b": 2.0}}})
    )
    (tmp_path / "BENCH_r07.json").write_text(
        json.dumps({"n": 7, "parsed": {"queries": {"a": 9.9, "stale": 1.0}}})
    )
    # detail stamped round 9 — a DIFFERENT sweep than the selected r08:
    # its gap-fill timings must be refused
    (tmp_path / "BENCH_DETAIL.json").write_text(
        json.dumps({"round": 9, "queries": {"a": 1.4, "c_only_in_detail": 0.3}})
    )
    got = bench._prior_round_times(str(tmp_path))
    assert got == {"a": 1.5, "b": 2.0}
    # detail stamped with the SELECTED round (same sweep) → fills the gap
    (tmp_path / "BENCH_DETAIL.json").write_text(
        json.dumps({"round": 8, "queries": {"a": 1.4, "c_only_in_detail": 0.3}})
    )
    got = bench._prior_round_times(str(tmp_path))
    assert got == {"a": 1.5, "b": 2.0, "c_only_in_detail": 0.3}
    # legacy detail without a round stamp: written by the NEWEST round's
    # sweep, so it matches only that round — refused here (r08 selected)
    (tmp_path / "BENCH_DETAIL.json").write_text(
        json.dumps({"queries": {"a": 1.4, "d_legacy": 0.2}})
    )
    assert bench._prior_round_times(str(tmp_path)) == {"a": 1.5, "b": 2.0}
    # …and accepted when the newest round is itself the parseable winner
    (tmp_path / "BENCH_r09.json").write_text(
        json.dumps({"n": 9, "parsed": {"queries": {"a": 1.1}}})
    )
    assert bench._prior_round_times(str(tmp_path)) == {"a": 1.1, "d_legacy": 0.2}
    # truly empty dir → empty baseline, no crash
    empty = tmp_path / "empty"
    empty.mkdir()
    assert bench._prior_round_times(str(empty)) == {}
    # corrupt JSON artifact → skipped, not raised
    bad = tmp_path / "bad"
    bad.mkdir()
    (bad / "BENCH_r01.json").write_text("{not json")
    assert bench._prior_round_times(str(bad)) == {}


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
    """Bench coverage contract: every registered query either runs in the
    per-round sweep (bench.HEADLINE) or carries an explicit tier in
    QUERIES.md "## Bench tiers" — silent bench omission is a failure."""
    from gmall_flink_parent_spark import plans

    reg = set(plans.all_queries())
    headline = set(bench.HEADLINE)
    assert headline <= reg, f"benched-but-unregistered: {headline - reg}"
    assert len(bench.HEADLINE) == len(headline), "duplicate HEADLINE entry"
    here = os.path.dirname(os.path.abspath(bench.__file__))
    with open(os.path.join(here, "QUERIES.md")) as fh:
        doc = fh.read()
    assert "## Bench tiers" in doc
    tiers = doc.split("## Bench tiers", 1)[1]
    untiered = sorted(n for n in reg - headline if f"`{n}`" not in tiers)
    assert not untiered, f"registered queries neither benched nor tiered: {untiered}"


def test_outlier_suspects_selection():
    prior = {"a": 1.0, "b": 2.0, "c": 0.5, "z": 1.0}
    timings = {
        "a": 1.2,  # fine
        "b": 5.01,  # 2.5x exceeded
        "c": 10.0,  # 20x — worst, must rank first
        "new_query": 99.0,  # no baseline → never a suspect
    }
    assert bench._outlier_suspects(timings, prior) == ["c", "b"]
    # boundary: exactly 2.5x is NOT a suspect (strict >)
    assert bench._outlier_suspects({"a": 2.5}, {"a": 1.0}) == []
    # cap: worst RERUN_CAP ratios only
    many_t = {f"q{i}": float(10 + i) for i in range(20)}
    many_p = {f"q{i}": 1.0 for i in range(20)}
    got = bench._outlier_suspects(many_t, many_p)
    assert len(got) == bench.RERUN_CAP
    assert got[0] == "q19"  # worst ratio first
    # zero/absent priors never divide
    assert bench._outlier_suspects({"a": 9.0}, {"a": 0.0}) == []
    assert bench._outlier_suspects({"a": 9.0}, {}) == []


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


def test_prior_round_times_fills_from_immutable_per_round_detail(tmp_path):
    """Round-13 review finding: the widest raw mover escaped the
    in-artifact A/B because the working-tree BENCH_DETAIL.json had
    already been re-stamped by the CURRENT round's sweep, shrinking the
    baseline to the budget-packed stdout subset. The immutable
    per-round BENCH_DETAIL_r{N}.json (full map, written once at round
    close) must now be the gap-fill source of record: every head in
    the prior round's full detail map gets a prior, regardless of what
    the working-tree detail file says."""
    # prior round's driver artifact: budget-packed subset only
    (tmp_path / "BENCH_r12.json").write_text(
        json.dumps({"n": 12, "parsed": {"queries": {"slow_a": 5.0, "slow_b": 4.0}}})
    )
    # prior round's immutable full map
    full = {"slow_a": 5.1, "slow_b": 4.1, "fast_c": 0.3, "fast_d": 0.7}
    (tmp_path / "BENCH_DETAIL_r12.json").write_text(
        json.dumps({"round": 12, "queries": full})
    )
    # working-tree detail already re-stamped by the CURRENT round's sweep
    # (the round-13 poison shape) — must NOT shrink or pollute the baseline
    (tmp_path / "BENCH_DETAIL.json").write_text(
        json.dumps({"round": 13, "queries": {"slow_a": 99.0, "poison": 1.0}})
    )
    got = bench._prior_round_times(str(tmp_path))
    # stdout subset wins verbatim where present; per-round map fills ALL gaps
    assert got == {"slow_a": 5.0, "slow_b": 4.0, "fast_c": 0.3, "fast_d": 0.7}
    for head in full:
        assert head in got, f"{head} has no prior — A/B would skip it"
    # corrupt per-round file → legacy working-tree fallback still applies
    (tmp_path / "BENCH_DETAIL_r12.json").write_text("{not json")
    (tmp_path / "BENCH_DETAIL.json").write_text(
        json.dumps({"round": 12, "queries": {"fast_c": 0.2}})
    )
    got = bench._prior_round_times(str(tmp_path))
    assert got == {"slow_a": 5.0, "slow_b": 4.0, "fast_c": 0.2}


def test_prior_round_ref_skips_self_comparison(tmp_path):
    """Round-13 advisor finding: if the current round's closing stamp
    has already committed its own BENCH_r{N}.json when bench runs, the
    newest artifact's landing commit contains the current code and the
    A/B would compare the tree to itself (ratio ~1, masking real
    regressions). prior_round_ref must skip any candidate whose code
    matches the working tree and fall back to the round before — and
    report an explicit reason instead of None-silence when nothing
    resolves."""
    import importlib.util
    import subprocess

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "bench_ab", os.path.join(here, "scripts", "bench_ab.py")
    )
    bench_ab = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench_ab)

    repo = tmp_path / "repo"
    repo.mkdir()

    def git(*args):
        subprocess.run(
            ["git", "-C", str(repo), *args], check=True, capture_output=True
        )

    git("init", "-q")
    git("config", "user.email", "t@t")
    git("config", "user.name", "t")
    pkg = repo / "gmall_flink_parent_spark"
    pkg.mkdir()
    (pkg / "mod.py").write_text("V = 1\n")
    (repo / "BENCH_r01.json").write_text("{}")
    git("add", "-A")
    git("commit", "-q", "-m", "round 1 stamp")
    # round 2: code changes, then the r2 stamp lands WITH the new code
    (pkg / "mod.py").write_text("V = 2\n")
    (repo / "BENCH_r02.json").write_text("{}")
    git("add", "-A")
    git("commit", "-q", "-m", "round 2 stamp")
    # working tree == r2 stamp code → r2 is a self-comparison, r1 wins
    sha, note = bench_ab.prior_round_ref(str(repo))
    assert sha is not None and "BENCH_r01.json" in note
    head1 = subprocess.run(
        ["git", "-C", str(repo), "log", "--format=%H", "--", "BENCH_r01.json"],
        capture_output=True, text=True, check=True,
    ).stdout.strip()
    assert sha == head1
    # new working-tree code → the newest stamp is a genuine prior again
    (pkg / "mod.py").write_text("V = 3\n")
    sha2, note2 = bench_ab.prior_round_ref(str(repo))
    assert "BENCH_r02.json" in note2
    # no distinct prior anywhere → explicit reason, not silent None-None
    git("checkout", "-q", "--", ".")
    (repo / "BENCH_r01.json").unlink()
    # r2's code == working tree and r1's artifact is gone
    sha3, note3 = bench_ab.prior_round_ref(str(repo))
    assert sha3 is None and "no distinct prior tree" in note3


def test_rotated_out_annotation_separates_policy_from_drops(tmp_path):
    """VERDICT r14 #6: every rotation round the driver reports the rotated
    window heads as "dropped"; the bench line must name them as policy.
    A head missing from the registry entirely is a REAL drop and must NOT
    be listed (masking it would hide breakage)."""
    prev_window = {
        "stays_in": {"hash_match": True},
        "rotated_behind": {"hash_match": True},
        "really_gone": {"hash_match": True},
    }
    (tmp_path / "CORRECTNESS_r14.json").write_text(json.dumps(prev_window))
    # an older, different window must be ignored (latest round wins)
    (tmp_path / "CORRECTNESS_r13.json").write_text(json.dumps({"ancient": {}}))
    window = {"stays_in", "newly_promoted"}
    registered = {"stays_in", "newly_promoted", "rotated_behind"}
    assert bench._rotated_out(str(tmp_path), window, registered) == [
        "rotated_behind"
    ]
    # no correctness artifact at all: empty, never a crash
    assert bench._rotated_out(str(tmp_path / "nowhere"), window, registered) == []


def test_prior_stdout_queries_is_the_driver_visible_subset(tmp_path):
    """`packed_out` must be computed against the stdout subset the driver
    actually saw (NOT the detail-filled full map): a head in the prior
    stdout line but missing from this one is exactly what trips the
    driver's dropped_from_bench differ."""
    (tmp_path / "BENCH_r09.json").write_text(
        json.dumps({"parsed": {"queries": {"q_slow": 3.0, "q_fast": 1.0}}})
    )
    (tmp_path / "BENCH_DETAIL_r09.json").write_text(
        json.dumps({"round": 9, "queries": {"q_slow": 3.0, "q_fast": 1.0, "q_tiny": 0.1}})
    )
    rnum, stdout_q = bench._prior_stdout_queries(str(tmp_path))
    assert rnum == 9 and set(stdout_q) == {"q_slow", "q_fast"}
    # while _prior_round_times still gap-fills from the detail artifact
    full = bench._prior_round_times(str(tmp_path))
    assert set(full) == {"q_slow", "q_fast", "q_tiny"}


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

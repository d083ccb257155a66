"""The driver captures only the last ~2000 chars of bench.py stdout and
parses the LAST line as the round artifact.  These tests pin that line:
under bench.LINE_BUDGET with every query and scaling field present, bulky
per-leg detail in the side file, a metric/value/unit triple that agrees,
and the scaling figures and round flags computed from the legs.
"""

import io
import json
import sys

import bench
import __spark_entry__ as entrymod

_STAGES = ("exact_groups", "sketches", "candidates", "verified", "clusters")


def _leg(wall, stage_ms=None, recall=1.0, precision=1.0):
    return {"cores": 0, "n_clips": 16000, "wall_sec": wall, "jit_ms": 2345,
            "stage_ms": stage_ms or {s: 12345 for s in _STAGES},
            "recall": recall, "precision": precision}


def _worst_case_result():
    # every registered query (plus headroom for future additions), a
    # scaling summary over many rounds, and a scaling error
    queries = {name: 123.456 for name in entrymod.queries()}
    for i in range(8):  # headroom: 8 more queries than exist today
        queries[f"future_query_with_a_long_name_{i}"] = 123.456
    result = {"metric": bench.METRIC, "value": None, "unit": "clips/sec",
              "sf": 0.1, "queries": queries, "scaling_error": "x" * 300}
    legs = {1: [_leg(140.61)] * 9, 4: [_leg(43.38)] * 9}
    result.update(bench._scaling_summary(legs, 1, 4))
    return bench._headline(result)


def test_final_line_fits_driver_tail_capture(monkeypatch, tmp_path):
    monkeypatch.setattr(bench, "REPO", str(tmp_path))
    buf = io.StringIO()
    monkeypatch.setattr(sys, "stdout", buf)
    bench.emit(_worst_case_result(), phase="final")
    lines = [ln for ln in buf.getvalue().splitlines() if ln.strip()]
    assert len(lines) == 1
    line = lines[0]
    assert len(line) < bench.LINE_BUDGET, (
        f"final artifact line is {len(line)} chars; driver tail capture is ~2000"
    )
    parsed = json.loads(line)
    assert parsed["scaling_efficiency"] == round((140.61 / 43.38) / 4, 3)
    assert parsed["recall"] == 1.0 and parsed["precision"] == 1.0
    assert len(parsed["queries"]) == len(entrymod.queries()) + 8
    assert parsed["metric"] == bench.METRIC and parsed["unit"] == "clips/sec"
    # bulky keys are NOT on the line, but all of them are in the side file
    side = json.load(open(tmp_path / "_bench_side.json"))
    for k in bench._SIDE_KEYS:
        assert k not in parsed
        assert k in side


def test_emit_without_scaling_fields(monkeypatch, tmp_path):
    # queries-phase partials (no scaling keys yet) must also stay compact
    monkeypatch.setattr(bench, "REPO", str(tmp_path))
    buf = io.StringIO()
    monkeypatch.setattr(sys, "stdout", buf)
    r = {"metric": "m", "value": 1.0, "unit": "sec",
         "queries": {name: 12.345 for name in entrymod.queries()},
         "sf": 0.01, "total_query_sec": 9.9}
    bench.emit(r, phase="queries_32")
    line = buf.getvalue().strip()
    assert len(line) < bench.LINE_BUDGET
    json.loads(line)


def test_fallback_contract_triple_is_consistent():
    """When no scaling round completed, the line must NOT carry the
    clips/sec metric name with a seconds value: the whole
    metric/value/unit triple is relabelled to the query total."""
    result = {"metric": bench.METRIC, "value": None, "unit": "clips/sec",
              "sf": 0.1, "queries": {"a": 1.25, "b": 2.5, "c": -1.0}}
    parsed = bench._headline(result)
    assert parsed["metric"] == "total_query_sec"
    assert parsed["unit"] == "sec"
    assert parsed["value"] == parsed["total_query_sec"] == 3.75
    # a completed scaling round keeps the clips/sec headline
    kept = bench._headline(dict(result, value=368.86))
    assert (kept["metric"], kept["value"], kept["unit"]) == (bench.METRIC, 368.86, "clips/sec")


def test_round_contention_labels():
    """Stage walls that scale anti-linearly (slower at 4 cores) or
    super-linearly (more than 1.1 x the core ratio) label a round."""
    clean = bench._round_contention(
        {"sketches": 60000, "verified": 3000},
        {"sketches": 17000, "verified": 2900},
    )
    assert clean == []
    bad = bench._round_contention(
        {"sketches": 95000, "verified": 3600},
        {"sketches": 30000, "verified": 5200},   # verified ANTI-scales
    )
    assert bad == ["anti-scale:verified"]
    # sub-2s stages are too short to discriminate: no anti-scale label
    short = bench._round_contention({"clusters": 1500}, {"clusters": 2500})
    assert short == []
    # SUPER-linear stage scaling means the 1-core leg was inflated
    # (sketches at 4.78x over a 4x core ratio)
    sup = bench._round_contention({"sketches": 97000}, {"sketches": 20300}, core_ratio=4.0)
    assert any(r.startswith("super-scale:sketches") for r in sup)
    # ... but ratios within 10% of the core ratio are legitimate
    ok = bench._round_contention({"sketches": 80000}, {"sketches": 20000}, core_ratio=4.0)
    assert ok == []


def test_scaling_summary_min_estimator():
    """Efficiency pairs the fastest leg of each core count, even from
    different rounds; quality is the worst cores_hi leg's; a round with an
    anti-scaled stage is flagged but still counted."""
    legs = {
        1: [_leg(90.0, {"sketches": 60000}), _leg(140.0, {"sketches": 95000, "verified": 3600})],
        4: [_leg(30.0, {"sketches": 17000}, recall=0.998),
            _leg(27.0, {"sketches": 30000, "verified": 5200}, precision=0.999)],
    }
    s = bench._scaling_summary(legs, 1, 4)
    assert s["scaling_efficiency"] == round((90.0 / 27.0) / 4, 3)
    assert s["value"] == round(16000 / 27.0, 2)
    assert s["clips_per_sec_n"] == round(16000 / 90.0, 2)
    assert (s["recall"], s["precision"]) == (0.998, 0.999)
    assert s["rounds"] == 2 and s["flagged_rounds"] == 1
    assert s["round_flags"] == [[], ["anti-scale:verified"]]
    assert s["wall_sec_n"] == [90.0, 140.0] and s["wall_sec_4n"] == [30.0, 27.0]
    assert s["jit_ms_n"] == s["jit_ms_4n"] == [2345, 2345]

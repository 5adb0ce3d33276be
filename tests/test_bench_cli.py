"""bench.py compares a run only with records taken at its core count."""

import bench


def test_deltas_only_against_same_core_count(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "8")
    deltas = bench._deltas_vs_prev({"q01_pricing_summary": 0.242})
    # BENCH_r15_c8.json is the newest record taken at 8 cores
    assert deltas == {"prev_round": 15, "q01_pricing_summary": 0.0}
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert bench._deltas_vs_prev({"q01_pricing_summary": 0.242}) == {
        "skipped": "no BENCH_r*.json recorded at cpus=3"}

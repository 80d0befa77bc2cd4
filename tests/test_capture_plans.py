"""tools/capture_plans.py picks the latest BENCH_HISTORY run by number,
not by string order, and skips the scale records."""

from __future__ import annotations

from tools.capture_plans import latest_history


def test_latest_round_then_most_cores(tmp_path):
    for name in ("r08.json", "r11.json", "r11_c32.json", "r11_c8.json", "scale_r12_c4.json"):
        (tmp_path / name).write_text("{}")
    assert latest_history(str(tmp_path)) == "r11_c32.json"
    (tmp_path / "r12_c8.json").write_text("{}")
    assert latest_history(str(tmp_path)) == "r12_c8.json"

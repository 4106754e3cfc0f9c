"""The A/B runner's summary (no Spark): medians, the base IQR, wins out of
the pairs with ties counting for neither side, and failed runs."""

from __future__ import annotations

import importlib.util
import json
from pathlib import Path

_SPEC = importlib.util.spec_from_file_location(
    "ab_bench", Path(__file__).resolve().parent / "tools" / "ab_bench.py")
ab_bench = importlib.util.module_from_spec(_SPEC)
_SPEC.loader.exec_module(ab_bench)

END_TO_END = [{"name": "docs_per_s", "better": "higher", "bound": 0.25},
              {"name": "setup_s", "better": "lower", "bound": 0.25}]


def _line(docs, setup, failed=0, attempted=4):
    return json.loads(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {"docs_per_s": {"value": docs, "unit": "1/s"},
                    "setup_s": {"value": setup, "unit": "s"}}}))


def test_summary_medians_iqr_wins_and_failures():
    pairs = [
        (_line(100, 20), _line(110, 19)),   # change wins both
        (_line(120, 22), _line(120, 22)),   # tie: neither side
        (_line(140, 24), _line(130, 25, failed=1)),  # base wins both
        (_line(160, 26), _line(170, 21)),   # change wins both
        (_line(180, 28), None),             # change crashed: pair dropped
    ]
    docs, docs_gain, setup, setup_gain, base, change = ab_bench.summarize(
        pairs, END_TO_END)
    # base docs over the 4 complete pairs: 100 120 140 160 → median 130,
    # inclusive quartiles 115 / 145 → IQR 30
    assert docs == ("docs_per_s: base q1 115 median 130 q3 145  "
                    "change q1 117.5 median 125 q3 140  "
                    "base IQR 30  change wins 2/4")
    # 9/10 of the 5 pairs run is 5 wins (the crashed pair counts for none)
    assert docs_gain == ("docs_per_s: gain no (wins 2 of 5 pairs run, "
                         "need 5; median better by -5, need more than 30)")
    # lower is better: 19 < 20 and 21 < 26 win, 22 = 22 ties, 25 > 24 loses
    assert setup.endswith("change wins 2/4")
    assert setup.startswith("setup_s: base q1 21.5 median 23 q3 24.5  "
                            "change q1 20.5 median 21.5")
    assert setup_gain.startswith("setup_s: gain no (wins 2 of 5")
    assert base == "base: 0 crashed invocations, 0 of 20 timed runs failed"
    assert change == ("change: 1 crashed invocations, 1 of 16 timed runs "
                      "failed")


def test_gain_rule_needs_nine_tenths_of_the_pairs_and_the_base_iqr():
    # change wins 9 of 10 pairs by 40; base 100..190 has IQR 45
    pairs = [(_line(100 + 10 * i, 20), _line(140 + 10 * i, 20))
             for i in range(9)] + [(_line(190, 20), _line(180, 20))]
    lines = ab_bench.summarize(pairs, END_TO_END[:1])
    assert lines[1] == ("docs_per_s: gain no (wins 9 of 10 pairs run, "
                        "need 9; median better by 35, need more than 45)")
    # the same wins by 60 clear the IQR
    pairs = [(b, _line(_value(b) + 60, 20)) for b, _ in pairs[:9]] + [
        pairs[9]]
    assert ab_bench.summarize(pairs, END_TO_END[:1])[1].startswith(
        "docs_per_s: gain yes (wins 9 of 10")


def _value(line):
    return line["metrics"]["docs_per_s"]["value"]


def test_summary_without_complete_pairs():
    lines = ab_bench.summarize([(None, _line(1, 1))], END_TO_END)
    assert lines[0] == "docs_per_s: no pair with both values"
    assert lines[2] == "base: 1 crashed invocations, 0 of 0 timed runs failed"

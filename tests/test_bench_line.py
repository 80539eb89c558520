"""The driver-contract stdout line: fits the 2000-char tail buffer and
truncates deterministically (round-15 measurement-reporting fix)."""
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from bench import (HEADLINE, LINE_BUDGET, LINE_SACRIFICE_ORDER,
                   format_stdout_line)


def _fake_times(sec: float) -> dict[str, float]:
    return {q: sec for q in HEADLINE}


def test_full_headline_line_fits_budget_and_parses():
    per = _fake_times(1.234)
    line = format_stdout_line(per, round(sum(per.values()), 3), 0.1)
    assert len(line) <= LINE_BUDGET
    obj = json.loads(line)
    assert obj["metric"] == "headline_queries_total"
    assert obj["unit"] == "sec"
    assert obj["sf"] == 0.1
    # every reported key is a headline query at 2 dp
    assert set(obj["queries"]) <= set(HEADLINE)
    assert all(v == round(v, 2) for v in obj["queries"].values())


def test_truncation_follows_fixed_sacrifice_order():
    per = _fake_times(1.234)
    obj = json.loads(format_stdout_line(per, 93.8, 0.1))
    popped = {q for q in HEADLINE if q not in obj["queries"]}
    # pops must come off the FRONT of the fixed sacrifice list — the
    # r14 round-over-round set churn this fix removes
    assert popped == set(LINE_SACRIFICE_ORDER[:len(popped)])
    assert obj.get("queries_truncated") is True
    # set must be insensitive to which queries happen to time fastest
    per2 = dict(per)
    for q in HEADLINE[:10]:
        per2[q] = 0.01
    obj2 = json.loads(format_stdout_line(per2, 81.6, 0.1))
    popped2 = {q for q in HEADLINE if q not in obj2["queries"]}
    assert popped2 == popped


def test_truncation_survives_pathological_times():
    # huge values (wide floats) exhaust the sacrifice list; the
    # fallback pops cheapest-first and the line still fits and parses
    per = _fake_times(12345.678)
    line = format_stdout_line(per, 938271.5, 0.1, loadavg_warning=9.87)
    assert len(line) <= LINE_BUDGET
    obj = json.loads(line)
    assert obj["loadavg_warning"] == 9.87
    assert obj["queries_truncated"] is True
    assert len(obj["queries"]) > 0


def test_subset_line_not_truncated():
    per = {"stock_trix": 1.051, "graph_k_core": 0.74}
    obj = json.loads(format_stdout_line(per, 1.791, 0.01))
    assert obj["queries"] == {"stock_trix": 1.05, "graph_k_core": 0.74}
    assert "queries_truncated" not in obj


def test_sacrifice_order_names_only_headline_queries():
    # a renamed or dropped headline query must leave the sacrifice list
    # too, or the fixed pop order silently skips it
    assert set(LINE_SACRIFICE_ORDER) <= set(HEADLINE)

"""The end-to-end estimators weigh templates, not requests."""

import pytest

from perfbench.workloads import cycle_rate, template_ms


def _s(cls, tpl, ms, ok=True):
    return {"cls": cls, "tpl": tpl, "ms": ms, "ok": ok}


def test_template_ms_counts_each_template_once():
    # template 0 ran three times, template 1 once: the mean of the two
    # medians, not of the four samples
    samples = [_s("select", 0, 10), _s("select", 0, 12),
               _s("select", 0, 500), _s("select", 1, 100),
               _s("meta", 2, 1)]
    assert template_ms(samples, "select", cap=1e6) == (12 + 100) / 2
    assert template_ms(samples, "export", cap=1e6) == 0.0


def test_failed_request_counts_as_the_whole_phase():
    samples = [_s("meta", 0, 5), _s("meta", 1, 5, ok=False)]
    assert template_ms(samples, "meta", cap=1000.0) == (5 + 1000) / 2


def test_cycle_rate_counts_each_template_once():
    # template 0 (10 ms) and template 1 (90 ms): two requests per
    # 100 ms, however often template 0 was repeated for its median
    once = [_s("meta", 0, 10), _s("select", 1, 90)]
    repeated = once + [_s("meta", 0, 10)] * 6
    assert cycle_rate(once, cap=1e6) == pytest.approx(2 / 0.1)
    assert cycle_rate(repeated, cap=1e6) == pytest.approx(2 / 0.1)

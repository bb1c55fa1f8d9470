import json
import os
from types import SimpleNamespace

import pytest

from perfbench.run import ROOT, Op, Run, end_to_end, report

SPECS = [{"name": "b", "unit": "s"}, {"name": "a", "unit": "count"}]


def test_report_keeps_the_order_and_units_of_the_specs():
    out = report({"a": 3, "b": 1.5}, SPECS)
    assert list(out) == ["b", "a"]
    assert out["a"] == {"value": 3, "unit": "count"}


@pytest.mark.parametrize("values", [{"b": 1.0}, {"a": 1, "b": 1.0, "c": 2.0}])
def test_report_refuses_a_metric_missing_on_either_side(values):
    with pytest.raises(KeyError):
        report(values, SPECS)


def test_end_to_end_gives_every_metric_benchmark_json_lists():
    ops = [Op(i, f"op{i}", False, dur=d, cpu_s=2 * d, ok=True) for i, d in enumerate([1.0, 3.0])]
    run = Run(SimpleNamespace(docs=100), None, setup_s=9.0, timed=ops)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        out = report(end_to_end(run), json.load(f)["end_to_end"])
    assert out["docs_per_s"]["value"] == 50.0
    assert out["op_p50_s"]["value"] == 2.0
    assert out["cpu_ms_per_doc"]["value"] == 40.0
    assert out["setup_s"] == {"value": 9.0, "unit": "s"}

"""BENCHMARK.json is spec.py's rendering, and every name a run emits is in it."""

import json
import os
import re

from perfbench import eventlog, run, spec

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
LOG = os.path.join(os.path.dirname(__file__), "data", "small_eventlog.jsonl")
NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_is_rendered_from_spec():
    assert _bench() == json.loads(spec.render())


def test_names_units_and_bounds_are_well_formed():
    b = _bench()
    names = [m["name"] for k in ("workloads", "end_to_end", "per_layer") for m in b[k]]
    assert len(names) == len(set(names))
    for n in names:
        assert spec.NAME_RE.fullmatch(n), n
    for m in b["end_to_end"] + b["per_layer"]:
        assert re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", m["unit"]), m
        assert m["better"] in ("higher", "lower")
    assert all(0 < m["bound"] <= 0.25 for m in b["end_to_end"])
    assert {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25} in b["end_to_end"]
    assert 2 <= len(b["workloads"]) <= 8 and len(b["per_layer"]) <= 128
    assert all(len(w["why"]) <= 200 for w in b["workloads"])


class _Workload:
    def layer_counts(self, log, tracer):
        return {}


def test_emitted_metric_names_are_defined():
    b = _bench()
    e2e = run._end_to_end(100, [(1.0, 2.0), (1.2, 2.2)], 5.0, 300.0)
    assert set(e2e) == {m["name"] for m in b["end_to_end"]}
    layers = run._per_layer(eventlog.parse(LOG), eventlog.Tracer(), _Workload(), {}, 2.0)
    assert set(layers) == {m["name"] for m in b["per_layer"]}
    assert all(NAME.fullmatch(n) for n in list(e2e) + list(layers))


def test_workload_counts_are_defined():
    """Every layer count the workloads assign is a declared per-layer metric."""
    with open(os.path.join(os.path.dirname(run.__file__), "workloads.py")) as f:
        src = f.read()
    assigned = set(re.findall(r'"((?:%s)\.[a-z_]+)"' % "|".join(spec.LAYERS), src))
    assert assigned and assigned <= set(spec.EXTRA), assigned - set(spec.EXTRA)

import json
import os

import catalog

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_benchmark_json_matches_the_catalog():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        assert json.load(f) == catalog.benchmark_json()


def test_every_per_layer_metric_names_what_it_moves():
    for name, (_unit, _better, moves, on) in catalog.PER_LAYER.items():
        assert moves and set(moves) <= set(catalog.END_TO_END), name
        assert on and set(on) <= set(catalog.WORKLOADS), name

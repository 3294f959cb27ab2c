"""Per-layer metrics of the traced run, as BENCHMARK.json's `per_layer`
lists them. Every workload prints every metric; a metric that belongs to
another workload reads 0 (see the README's table for which workload each
layer metric is measured on)."""
import json
import os

_BENCH = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "BENCHMARK.json")
UNITS = {m["name"]: m["unit"] for m in json.load(open(_BENCH))["per_layer"]}


def collect(h):
    got = dict(h["layers"])
    got["jvm.gc_ms_per_op"] = h["gc_ms"] / len(h["latency_ms"])
    unknown = set(got) - set(UNITS)
    assert not unknown, f"unlisted layer metrics {sorted(unknown)}"
    return {k: float(got.get(k, 0.0)) for k in UNITS}

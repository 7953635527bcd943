"""BENCHMARK.json agrees with what the harness prints."""

import json
import os

from perfbench import harness

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_benchmark_json_names_the_printed_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == harness.END_TO_END
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == harness.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == ["codec_ingest", "analytics_churn"]
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


def test_tail_is_the_highest_percentile_with_ten_samples_beyond_it():
    assert harness.percentile_tail([float(i) for i in range(1, 101)]) == (90.0, 90.0, 100)
    assert harness.percentile_tail([float(i) for i in range(1, 31)]) == (20.0, 66.7, 30)
    # too few samples for any tail: the median, stated as p50
    assert harness.percentile_tail([3.0, 1.0, 2.0]) == (2.0, 50.0, 3)

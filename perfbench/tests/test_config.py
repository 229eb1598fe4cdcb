import json
import os

from perfbench import run

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_benchmark_json_matches_run_tables():
    """BENCHMARK.json is generated by ``run.py --write-config``; a metric or
    workload renamed in the code without regenerating it fails here."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        assert json.load(fh) == run.benchmark_config()


def test_config_within_contract_limits():
    cfg = run.benchmark_config()
    assert 2 <= len(cfg["workloads"]) <= 8
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"] for w in cfg["workloads"])
    names = [m["name"] for m in cfg["end_to_end"] + cfg["per_layer"]] + [w["name"] for w in cfg["workloads"]]
    assert len(names) == len(set(names))
    assert all(0 < m["bound"] <= 0.25 for m in cfg["end_to_end"])
    assert {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25} in cfg["end_to_end"]

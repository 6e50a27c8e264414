"""The benchmark's workloads, its metrics and its data.

Each workload is a frozen list of registered query keys.  A key missing
from the registry is an error.  The lists are small subsets of the
families they stand for, sized so that one run fits the benchmark's
time budget on a 4-vCPU host; README.md says why each exists and why
the batch SQL workload was dropped.

Metric units, directions and bounds, and each workload's reason, are
read from ``BENCHMARK.json`` at the repo root: it is their only copy.
"""

from __future__ import annotations

import hashlib
import importlib
import json
import os
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
SPEC_FILE = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
DATA = os.path.join(HERE, "data", "sf0.1")


@dataclass(frozen=True)
class Workload:
    name: str
    keys: tuple[str, ...]
    nominal_pass_s: float  # one timed pass on a 4-vCPU host
    warm_passes: int  # untimed; the first also checks the oracles


WORKLOADS = {
    wl.name: wl
    for wl in (
        Workload(
            "stream_state",
            ("q_streaming_asof", "q_streaming_cep", "q_streaming_ppjoin"),
            13.0,
            1,
        ),
        Workload(
            "iterative",
            ("q_bfs_hops", "q_dedup_clusters"),
            6.5,
            2,
        ),
    )
}


def spec() -> dict:
    """BENCHMARK.json, with its metric lists keyed by name."""
    with open(SPEC_FILE) as fh:
        raw = json.load(fh)
    raw["end_to_end"] = {m["name"]: m for m in raw["end_to_end"]}
    raw["per_layer"] = {m["name"]: m for m in raw["per_layer"]}
    raw["workloads"] = {w["name"]: w for w in raw["workloads"]}
    return raw


def load_specs(keys) -> dict:
    """The registry's specs for ``keys``.  Imports the operator modules
    directly: ``registry.all_specs()`` also orders keys by git history,
    which is slow and irrelevant here."""
    from flink_streaming_example_spark.plans import registry

    for mod in registry._OPERATOR_MODULES:
        importlib.import_module(mod)
    missing = [k for k in keys if k not in registry._REGISTRY]
    if missing:
        raise KeyError(f"keys missing from the registry: {missing}")
    return {k: registry._REGISTRY[k] for k in keys}


def check_data(data_dir: str) -> None:
    """Raise unless every table matches SHA256SUMS (the seed-42 sf0.1
    fixture)."""
    sums = os.path.join(os.path.dirname(data_dir), "SHA256SUMS")
    with open(sums) as fh:
        for line in fh:
            digest, name = line.split()
            with open(os.path.join(data_dir, name), "rb") as f:
                if hashlib.sha256(f.read()).hexdigest() != digest:
                    raise ValueError(f"{name} does not match {sums}")

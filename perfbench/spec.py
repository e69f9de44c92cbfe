"""Names and units of everything the benchmark reports. ``BENCHMARK.json``
at the repository root is the one list of workloads and metrics; ``load``
reads it."""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

BENCHMARK_JSON = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "BENCHMARK.json",
)

SHAPES = ("fk_rollup", "distinct", "topk", "point_lookup", "fact_agg",
          "sql_rollup")


@dataclass(frozen=True)
class Spec:
    workloads: tuple[str, ...]
    end_to_end: dict[str, str]  # metric name -> unit
    per_layer: dict[str, str]


def load(path: str = BENCHMARK_JSON) -> Spec:
    with open(path) as fh:
        bench = json.load(fh)
    return Spec(
        workloads=tuple(w["name"] for w in bench["workloads"]),
        end_to_end={m["name"]: m["unit"] for m in bench["end_to_end"]},
        per_layer={m["name"]: m["unit"] for m in bench["per_layer"]},
    )

"""Metric names and units declared in ``BENCHMARK.json``."""

from __future__ import annotations

import json
import os

from common import ROOT

SPEC_PATH = os.path.join(ROOT, "BENCHMARK.json")


def load() -> dict:
    with open(SPEC_PATH) as f:
        return json.load(f)


def metric_names(section: str) -> set:
    return {m["name"] for m in load()[section]}


def metric_units(section: str) -> dict:
    return {m["name"]: m["unit"] for m in load()[section]}

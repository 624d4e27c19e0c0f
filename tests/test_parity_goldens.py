"""Replays the twenty reference-parity legs (tools/parity.py) against
their frozen goldens under tests/goldens/parity/.

At commit 27cbc1d every leg agreed with the reference NobleCoder binary
key for key and count for count (``JAVA_PARITY.json``), and the engine
halves at that commit produce exactly these goldens. A leg that drifts
here has drifted from the reference. Re-record with
``python tools/parity.py`` only for a declared change of engine output,
explained in CHANGES.md."""

from __future__ import annotations

import os
import sys

import pytest

TOOLS = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools")
sys.path.insert(0, TOOLS)
try:
    import parity
finally:
    sys.path.remove(TOOLS)

SHOW = 8


@pytest.fixture(scope="module")
def leg_outputs(spark, tmp_path_factory):
    return parity.legs(spark, str(tmp_path_factory.mktemp("parity")))


@pytest.mark.parametrize("leg", parity.LEGS)
def test_leg_matches_golden(leg_outputs, leg):
    got = parity.canonical(leg_outputs[leg])
    want = parity.load_golden(leg)
    if got == want:
        return
    engine_only = sorted(set(got) - set(want))
    golden_only = sorted(set(want) - set(got))
    pytest.fail(
        f"{leg}: {len(engine_only)} engine-only and {len(golden_only)} "
        f"golden-only [key, count] lines\n"
        f"  engine-only: {engine_only[:SHOW]}\n"
        f"  golden-only: {golden_only[:SHOW]}")

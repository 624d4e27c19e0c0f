"""DuckDB oracle check for the entry queries over the triple operators
the pipeline's triples and co-occurrence stages are built from: the isa
closure (driver-side BFS), co-occurrence, and incremental
co-occurrence maintenance and snapshot diff; plus the mention rows
themselves, root-finding and by-ancestor mention rollups over that
closure, and the terminology-template items. Runs the local stand-in
for the correctness gate (tools/validate_entry.py: row count, column
names and exact values) at sf0.001."""

import os
import subprocess
import sys

import pytest
from test_entry_gate import REPO, SF_DIR

QUERIES = ["kg_isa_closure", "kg_cooccurrence", "kg_incremental_cooc",
           "kg_incremental_diff", "kg_mentions", "kg_root_findings",
           "kg_mentions_by_ancestor", "kg_template_items"]


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="testdata absent")
def test_triple_operator_queries_stay_oracle_green():
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "validate_entry.py"),
         SF_DIR, *QUERIES],
        cwd=REPO, capture_output=True, text=True, timeout=1200)
    assert proc.returncode == 0, (
        f"triple-operator oracle gate failed:\n{proc.stdout[-4000:]}\n"
        f"{proc.stderr[-2000:]}")
    for q in QUERIES:
        assert q in proc.stdout, f"{q} did not run"

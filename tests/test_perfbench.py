"""The benchmark's tiny kg_pages run must keep working: it imports the
pipeline's extractor and worker entry points directly, so a refactor that
breaks them fails here rather than only in a benchmark run."""

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_perfbench_kg_pages_tiny(tmp_path):
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "perfbench", "run.py"),
         "--workload", "kg_pages", "--seed", "5", "--seconds", "1",
         "--trace", "0", "--tiny"],
        cwd=tmp_path, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] is True, result

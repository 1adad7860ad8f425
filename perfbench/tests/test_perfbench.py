"""Self-tests of the benchmark: generator determinism, the metric names
against BENCHMARK.json, and a tiny-scale run of every workload.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen_corpus  # noqa: E402
import gen_structures  # noqa: E402
import run  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def _same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        _same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs
    )


def test_structure_generator_is_deterministic(tmp_path):
    exp = [gen_structures.generate(str(tmp_path / d), s, 4, 20, 80)
           for d, s in (("a", 7), ("b", 7), ("c", 8))]
    assert exp[0] == exp[1]
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    assert not _same_tree(str(tmp_path / "a"), str(tmp_path / "c"))
    assert exp[0]["atoms"] > exp[0]["residue_rows"] > 0


def test_corpus_generator_is_deterministic(tmp_path):
    sizes = [gen_corpus.generate(str(tmp_path / d), s, 300, 100)
             for d, s in (("a", 7), ("b", 7), ("c", 8))]
    assert sizes[0] == sizes[1]
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    assert not _same_tree(str(tmp_path / "a"), str(tmp_path / "c"))
    assert 0 < sizes[0]["doc_near_dups"] < 300 * 0.25


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == [
        (k, unit) for k, (unit, _, _) in run.LAYERS.items()
    ]


# shrink the inputs, then run the workload through the real entry point
_TINY = """
import sys
sys.path.insert(0, {bench!r})
import workloads
workloads.PIPELINE_ENTRIES = workloads.REQUEST_ENTRIES = 3
workloads.RESIDUES = (20, 60)
workloads.REQUEST_SHAPE = dict(min_res=30, max_res=30, n_chains=1)
workloads.CORPUS_DOCS, workloads.CORPUS_VECS, workloads.CHECK_DOCS = 300, 200, 40
import run
sys.exit(run.main(sys.argv[1:]))
"""


@pytest.mark.parametrize("workload", list(WORKLOADS))
@pytest.mark.parametrize("trace", [0, 1])
def test_workload_smoke(workload, trace):
    proc = subprocess.run(
        [sys.executable, "-c", _TINY.format(bench=BENCH), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=600,
    )
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert proc.returncode == 0, result
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 2
    names = [k for k, _ in run.END_TO_END] if not trace else list(run.LAYERS)
    assert list(result["metrics"]) == names
    if not trace:
        assert all(m["value"] > 0 for m in result["metrics"].values())

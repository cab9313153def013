"""``tools/ab.py`` report on canned ``perfbench/run.py`` result lines (no Spark)."""

from __future__ import annotations

import importlib.util
import json
from pathlib import Path

_spec = importlib.util.spec_from_file_location(
    "ab", Path(__file__).resolve().parent.parent / "tools" / "ab.py"
)
ab = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(ab)

END_TO_END = [
    {"name": "docs_per_s", "better": "higher"},
    {"name": "batch_p50_s", "better": "lower"},
    {"name": "recall_at_10", "better": "higher"},
]


def _run(side, seed, docs, p50, failed=0, exit_code=0, steal=1.25):
    stdout = "\n".join([
        "some log line",
        json.dumps({"workload": "embed_ingest", "host": {"steal_pct": steal}}),
        json.dumps({
            "correct": failed == 0, "attempted": 2, "failed": failed,
            "metrics": {
                "docs_per_s": {"value": docs, "unit": "docs/s"},
                "batch_p50_s": {"value": p50, "unit": "s"},
                "recall_at_10": {"value": 1.0, "unit": "ratio"},
            },
        }),
    ])
    detail, result = ab.parse_output(stdout)
    return {"side": side, "seed": seed, "exit": exit_code,
            "detail": detail, "result": result}


def test_parse_seeds():
    assert ab.parse_seeds("1-4") == [1, 2, 3, 4]
    assert ab.parse_seeds("1-2,7,9-10") == [1, 2, 7, 9, 10]


def test_summary_wins_ties_and_failed_run():
    runs = [
        # seed 1: change better on both (higher docs, lower p50)
        _run("parent", 1, 100.0, 10.0), _run("change", 1, 120.0, 9.0),
        # seed 2: change worse on docs, tie on p50
        _run("change", 2, 90.0, 10.0), _run("parent", 2, 110.0, 10.0),
        # seed 3: tie on docs; the change's run has a failed op
        _run("parent", 3, 105.0, 11.0),
        _run("change", 3, 105.0, 8.0, failed=1, exit_code=1),
    ]
    lines = ab.summarize(runs, END_TO_END)
    docs, p50, recall = lines[:3]
    assert docs.startswith("docs_per_s (higher is better)")
    assert "parent median 105 [102.5, 107.5]" in docs
    assert "parent IQR 5," in docs
    assert docs.endswith("change wins 1/3")
    assert p50.endswith("change wins 2/3")  # lower is better; the tie is no win
    assert recall.endswith("change wins 0/3")  # all ties
    per_run = lines[3:]
    assert per_run[0] == "seed 1 parent: exit 0, failed 0, steal_pct 1.2"
    assert per_run[-1] == "seed 3 change: exit 1, failed 1, steal_pct 1.2  FAILED"
    assert sum(line.endswith("FAILED") for line in per_run) == 1
    assert [ab.run_failed(r) for r in runs] == [False] * 5 + [True]


def test_run_without_result_line_is_failed():
    run = {"side": "change", "seed": 1, "exit": 1, "detail": None, "result": None}
    assert ab.run_failed(run)
    lines = ab.summarize([run, _run("parent", 1, 100.0, 10.0)], END_TO_END)
    assert lines[0] == "docs_per_s: n/a"
    assert lines[3] == "seed 1 change: exit 1, failed n/a, steal_pct n/a  FAILED"

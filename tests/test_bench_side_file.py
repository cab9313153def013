"""``bench.py`` side-file naming on a temp directory (no Spark)."""

from __future__ import annotations

import importlib.util
from pathlib import Path

_spec = importlib.util.spec_from_file_location(
    "bench", Path(__file__).resolve().parent.parent / "bench.py"
)
bench = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(bench)


def test_next_round_never_names_an_existing_side_file(tmp_path):
    assert bench._next_round(str(tmp_path)) == 1
    for fn in ("BENCH_r10.json", "BENCH_r11.json", "BENCH_LOCAL_r11.json",
               "BENCH_LOCAL_r12.json", "BENCH_r11_c8.json", "notes.json"):
        (tmp_path / fn).write_text("{}")
    n = bench._next_round(str(tmp_path))
    assert n == 13
    assert not (tmp_path / f"BENCH_LOCAL_r{n:02d}.json").exists()
    (tmp_path / f"BENCH_LOCAL_r{n:02d}.json").write_text("{}")
    assert bench._next_round(str(tmp_path)) == 14

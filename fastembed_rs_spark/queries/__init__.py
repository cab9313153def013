"""Query catalog: every operator from SURVEY.md §2 wired to the driver test
tables, each paired with its DuckDB oracle SQL.

Contract (driver): each Spark callable takes (spark, sf_dir) and returns a
DataFrame whose row set, column names and types exactly match the oracle SQL
run by DuckDB over the same parquet files. Floats are computed in DOUBLE and
rounded (6 decimals for unit-scale scores, 2 for money) **before ranking**,
so rankings and hashes are reproducible across engines; ties break on ids.

Model-backed (pandas-UDF) queries have no oracle — the driver records a
rows-only check for them; their numerical semantics are covered by the unit
tests instead (tests/test_embed_runtime.py).
"""

from __future__ import annotations

import os

# Family modules in registration order: importing each one runs its @q
# decorators against the shared QUERIES registry in _core, so this import
# sequence is the catalog order (ties in the rotation sort keep it). Other
# names are imported from the module that defines them.
from fastembed_rs_spark.queries import similarity  # noqa: F401
from fastembed_rs_spark.queries import relational  # noqa: F401
from fastembed_rs_spark.queries import model_stubs  # noqa: F401
from fastembed_rs_spark.queries import timeseries_sketches  # noqa: F401
from fastembed_rs_spark.queries import relational_events  # noqa: F401
from fastembed_rs_spark.queries import curation  # noqa: F401
from fastembed_rs_spark.queries import lm_tokenizer  # noqa: F401
from fastembed_rs_spark.queries import graph_mining  # noqa: F401
from fastembed_rs_spark.queries import monitoring  # noqa: F401
from fastembed_rs_spark.queries import tpch_synth  # noqa: F401
from fastembed_rs_spark.queries._core import QUERIES, TABLES, QuerySpec, t  # noqa: F401


def _last_driver_round() -> dict[str, int]:
    """name -> rotation key from committed CORRECTNESS_r{N}.json artifacts.

    Normally the highest round number with a row for the query; but a query
    whose LATEST row is red — a failed rows/schema/hash match or a harness
    error other than the by-design ``no_oracle`` — keys as ``-1`` so it
    sorts directly after never-checked queries and re-enters the driver's
    ~50-row window the round after its fix lands (sequence_packing /
    order_items_array in r4 would otherwise have waited a full rotation)."""
    import json
    import re as _re

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    last: dict[str, int] = {}
    latest_row: dict[str, tuple[int, dict]] = {}
    try:
        entries = os.listdir(root)
    except OSError:
        return last
    for fn in entries:
        m = _re.fullmatch(r"CORRECTNESS_r(\d+)\.json", fn)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(os.path.join(root, fn)) as f:
                data = json.load(f)
        except (OSError, ValueError):
            continue
        for name, row in data.items():
            last[name] = max(last.get(name, -2), rnd)
            if name not in latest_row or rnd > latest_row[name][0]:
                latest_row[name] = (rnd, row if isinstance(row, dict) else {})
    for name, (_, row) in latest_row.items():
        err = row.get("err")
        red = (err is not None and err != "no_oracle") or any(
            row.get(k) is False
            for k in ("rows_match", "schema_match", "hash_match")
        )
        if red:
            last[name] = -1
    return last


#: Queries whose Spark code or oracle SQL changed since the last committed
#: CORRECTNESS round — sorted ahead of even never-seen queries so the
#: driver's ~50-row window re-verifies them THIS round. Refresh per round.
_CHANGED_THIS_ROUND: tuple[str, ...] = (
    # r11: LM n-gram family fused to one corpus scan / marginals derived
    # from the checkpointed type table
    "backoff_trigram_score",
    "bigram_surprisal",
    # r11: connected_components driver-tier gate + jump fold touch every
    # CC-family consumer; the gram-id assignment moved inside the dedup
    # checkpoint touches the prefix-jaccard family
    "neardup_components",
    "semantic_dedup",
    "corpus_curation",
    "dedup_keep_best",
    "duplicate_cluster_profile",
    "leakage_safe_split",
    "soft_dedup_weights",
    "cross_source_contamination",
    "split_leakage_report",
    "jaccard_prefix_neardup",
    "jaccard_adaptive_neardup",
    "ngram_jaccard_neardup",
    "containment_neardup",
    # r11: store build/read overlap (prewarm, reps-write ∥ counts) and the
    # retrain tmp-write overlap — re-verify the audits that drive them
    "curation_store_audit",
    "index_retrain_compact_audit",
    # cosine_top_k / ivf_top_k score on the NumPy cosine kernel and pick
    # IVF probes on the driver
    "cosine_topk",
    "mrl_truncate_topk",
    "jl_project_topk",
    "mmr_diversify",
    "ann_recall_eval",
    "ann_probe_sweep",
    "ann_ivf_topk",
    "ann_ivf_trained",
)


def all_queries() -> dict[str, QuerySpec]:
    """Full catalog, ordered for driver-verification rotation: queries
    changed this round first (``_CHANGED_THIS_ROUND``), then queries NEVER
    seen in a committed CORRECTNESS_r*.json, then ascending by the round
    that last checked them (ties keep registration order) — the driver's
    ~50-row window always covers changed + least-recently-verified
    queries, with no other manual list upkeep. With no readable driver
    artifacts every unchanged query ties, so the rest keep registration
    order."""
    last = _last_driver_round()
    names = list(QUERIES)
    for n in _CHANGED_THIS_ROUND:
        last[n] = -3
    order = sorted(range(len(names)), key=lambda i: (last.get(names[i], -2), i))
    return {names[i]: QUERIES[names[i]] for i in order}

"""Streaming similarity top-k: maintain each query's best-k corpus matches
over an unbounded vector stream.

The streaming form of ``operators.topk.cosine_top_k`` (reference
``top_k``, src/similarity.rs:31-40): corpus vectors arrive as a stream,
queries are a small static set broadcast into the scoring stage, and an
``applyInPandasWithState`` operator keyed by ``query_id`` keeps the
running top-k heap — one state row per query, O(k) entries each.

Scale shape: scoring is stateless row×query fan-out (corpus never
shuffled, queries broadcast); a stateless per-batch top-k pre-prune
(``_make_prune``) bounds the stateful stage's shuffle input to
O(k·queries) per batch partition instead of O(batch·queries); state is k
ids+scores per query — thousands of queries fit in one state-store
partition. Emission is the full refreshed top-k per query per
micro-batch that changed it (pair with output mode ``update``).

Scores are rounded before ranking (ties → id asc) — the same
reproducibility discipline as the batch operator, so a one-batch stream
equals the batch top-k exactly (pinned by test).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from fastembed_rs_spark.functions.vector import cosine_similarity_fixed

_OUTPUT_SCHEMA = StructType([
    StructField("query_id", LongType()),
    StructField("vec_id", LongType()),
    StructField("score", DoubleType()),
    StructField("rank", LongType()),
])

_STATE_SCHEMA = StructType([
    StructField("ids", ArrayType(LongType())),
    StructField("scores", ArrayType(DoubleType())),
])


def _make_prune(k: int):
    """Stateless per-Arrow-batch top-k pre-prune (the streaming analogue of
    the partial ``WindowGroupLimit`` Spark plans under ``_ranked_topk``'s
    window in batch mode): any row in a query's global top-k is in that
    query's top-k of its own batch, so keeping k rows per (query, batch) is
    lossless while shrinking the stateful stage's shuffle input from
    O(batch·queries) to O(k·queries) per batch partition. Windows aren't
    allowed on streaming frames — this is the mapInPandas equivalent."""

    def fn(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            pdf = pdf.sort_values(
                ["query_id", "score", "vec_id"], ascending=[True, False, True]
            )
            yield pdf.groupby("query_id", sort=False).head(k)

    return fn


def _make_update(k: int):
    def update(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        query_id = int(key[0])
        if state.exists:
            ids, scores = state.get
            entries = {int(i): float(s) for i, s in zip(ids, scores)}
        else:
            entries = {}
        changed = False
        for pdf in pdfs:
            for vec_id, score in zip(pdf["vec_id"], pdf["score"]):
                vec_id, score = int(vec_id), float(score)
                # keep the best score per id (re-delivery safe), then top-k
                if vec_id not in entries or score > entries[vec_id]:
                    entries[vec_id] = score
                    changed = True
        top = sorted(entries.items(), key=lambda t: (-t[1], t[0]))[:k]
        entries = dict(top)
        state.update((
            [i for i, _ in top], [s for _, s in top],
        ))
        if changed:
            yield pd.DataFrame({
                "query_id": query_id,
                "vec_id": [i for i, _ in top],
                "score": [s for _, s in top],
                "rank": list(range(1, len(top) + 1)),
            })

    return update


def topk_stream(
    corpus_stream: DataFrame,
    queries: DataFrame,
    k: int,
    dim: int,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Running cosine top-k of each (static, broadcast) query against a
    streaming corpus. Returns (query_id, vec_id, score, rank); each
    micro-batch emits the refreshed top-k of every query it improved.
    """
    scored = corpus_stream.crossJoin(F.broadcast(queries)).select(
        F.col(query_id).alias("query_id"),
        F.col(id_col).alias("vec_id"),
        F.round(
            cosine_similarity_fixed(query_vec, vec_col, dim), round_to
        ).alias("score"),
    )
    scored = scored.mapInPandas(_make_prune(k), schema=scored.schema)
    return scored.groupBy("query_id").applyInPandasWithState(
        _make_update(k),
        outputStructType=_OUTPUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

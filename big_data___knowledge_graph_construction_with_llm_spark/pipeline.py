"""The triplet-extraction pipeline: the engine's version of the
reference's LLM stage.

Reference: JSON records → per-partition asyncio LLM calls → tolerant JSON
parse → typed triplets (``Art-Knowledge-Graph-AWS/LLM/main-llm-triplets-extraction.py:15-31,65``;
``Art-Knowledge-Graph-AWS/LLM/pipeline.py:35-103``). The extractor is
PLUGGABLE here: tests inject the deterministic ``mock_extractor``; a real
deployment injects an async-HTTP extractor with the reference's
retry/backoff shape (``Art-Knowledge-Graph-Local/LLM/pipeline.py:36-68``)
— retries must be idempotent because Spark may re-run tasks.

Downstream of extraction everything is deterministic and relational:
validity filter + type defaults (``Art-Knowledge-Graph-Local/main.py:61-71``),
canonical-relation broadcast join, dedup, graph construction.
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from big_data___knowledge_graph_construction_with_llm_spark.schemas import DEFAULT_ENTITY_TYPE

Extractor = Callable[[str], list[dict]]

TRIPLET_COLS = ["subject", "subject_type", "relation", "object", "object_type"]
TRIPLET_DDL = ", ".join(f"{c} string" for c in TRIPLET_COLS)


def mock_extractor(record_json: str) -> list[dict]:
    """Deterministic stand-in for the LLM: one triplet per non-empty field
    ``(record_id) --has_<field>--> value``. Pure function ⇒ hermetic tests."""
    try:
        rec = json.loads(record_json)
    except (TypeError, ValueError):
        return []
    if not isinstance(rec, dict):
        return []
    rid = str(rec.get("id", rec.get("doc_id", "record")))
    out = []
    for k in sorted(rec):
        v = rec[k]
        if k in ("id", "doc_id") or v in (None, ""):
            continue
        out.append(
            {
                "subject": rid,
                "subject_type": "Record",
                "relation": f"has_{k}",
                "object": str(v),
                "object_type": None,
            }
        )
    return out


def _extract(
    records: DataFrame,
    fanout_partitions: int | None,
    batch_rows: Callable[[list[str]], list[dict]],
) -> DataFrame:
    """The one extraction body: rows are serialized to JSON JVM-side
    (``to_json(struct(*))``), optionally repartitioned (partition count
    = external-call fan-out, SURVEY.md §4), then an Arrow-batched
    ``mapInPandas`` turns each batch's record JSONs into triplet dicts
    with ``batch_rows``."""
    payload = records.select(F.to_json(F.struct(*records.columns)).alias("js"))
    if fanout_partitions:
        payload = payload.repartition(fanout_partitions)

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = batch_rows([str(t) for t in pdf["js"]])
            yield pd.DataFrame(
                [{c: r.get(c) for c in TRIPLET_COLS} for r in rows],
                columns=TRIPLET_COLS,
                dtype="object",
            )

    return payload.mapInPandas(_run, schema=TRIPLET_DDL)


def extract_triplets(
    records: DataFrame,
    extractor: Extractor = mock_extractor,
    fanout_partitions: int | None = None,
) -> DataFrame:
    """records (any schema) → typed triplets via the pluggable extractor,
    called once per record inside the Arrow-batched ``mapInPandas``."""
    return _extract(
        records,
        fanout_partitions,
        lambda texts: [t for js in texts for t in extractor(js)],
    )


def extract_triplets_async(
    records: DataFrame,
    async_call,
    batch_size: int = 5,
    fanout_partitions: int | None = None,
    **retry_kwargs,
) -> DataFrame:
    """The reference's real extraction stage shape: per-partition asyncio
    fan-out with retry/backoff (``…AWS/LLM/main-llm-triplets-extraction.py:15-31``,
    ``…Local/LLM/pipeline.py:36-68``) as an Arrow-batched ``mapInPandas``.

    ``async_call(record_json) -> awaitable[str]`` is the pluggable LLM
    call (an aiohttp/SDK coroutine in production; a deterministic fake in
    tests — no HTTP client ships in this container). Each Arrow batch
    starts one event loop, issues ``batch_size`` concurrent calls at a
    time, wraps every call in ``call_with_retry``, and tolerant-parses
    each reply with ``scrape_json_objects``. Unparseable replies
    contribute no rows (the validity filter downstream is the contract).

    Idempotent under Spark task re-runs: calls are pure per record.
    Partition count = external-call fan-out, as in ``extract_triplets``.
    """
    from big_data___knowledge_graph_construction_with_llm_spark.llm_client import (
        gather_in_batches,
        scrape_json_objects,
    )

    def batch_rows(texts: list[str]) -> list[dict]:
        import asyncio

        replies = asyncio.run(
            gather_in_batches(texts, async_call, batch_size, **retry_kwargs)
        )
        return [obj for reply in replies for obj in scrape_json_objects(reply)]

    return _extract(records, fanout_partitions, batch_rows)


def validate_triplets(raw: DataFrame) -> DataFrame:
    """Required-key filter + entity-type defaults
    (``Art-Knowledge-Graph-Local/main.py:61-71``)."""
    return raw.filter(
        F.col("subject").isNotNull()
        & F.col("relation").isNotNull()
        & F.col("object").isNotNull()
    ).select(
        "subject",
        F.coalesce("subject_type", F.lit(DEFAULT_ENTITY_TYPE)).alias("subject_type"),
        "relation",
        "object",
        F.coalesce("object_type", F.lit(DEFAULT_ENTITY_TYPE)).alias("object_type"),
    )

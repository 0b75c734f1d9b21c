"""A deterministic stand-in for the extraction LLM.

The reply is a pure function of the record: the triplets it carries,
whether it is malformed, and whether the record's first call is
answered with a 429 all follow from ``gen.unit_hash`` of the record's
content. Replies wrap their JSON in prose, as chat models do. Every
call sleeps ``params.LLM_DELAY_S``. Counters are Spark accumulators,
so calls made inside Python workers add up on the driver."""

from __future__ import annotations

import asyncio
import json

from perfbench import gen
from perfbench import params as P

DEFAULT_TYPE = "Entity"


class RateLimited(Exception):
    """Shaped like a provider SDK's 429 error."""

    status_code = 429


def record_key(rec: dict) -> str:
    if "predicate" in rec:
        return "|".join(str(rec.get(k)) for k in ("subject", "predicate", "object"))
    return f"{rec.get('id')}|{rec.get('title')}"


def _pick(options: tuple[str, ...], key: str, salt: str) -> str:
    return options[int(gen.unit_hash(key, salt) * len(options))]


def fault(rec: dict) -> str:
    """``"rate_limit"``, ``"malformed"``, ``"invalid"`` or ``"ok"``."""
    u = gen.unit_hash(record_key(rec), "fault")
    for name, share in (
        ("rate_limit", P.LLM_RATE_LIMIT_SHARE),
        ("malformed", P.LLM_MALFORMED_SHARE),
        ("invalid", P.LLM_INVALID_SHARE),
    ):
        if u < share:
            return name
        u -= share
    return "ok"


def intended_triplets(rec: dict) -> list[dict]:
    """The triplets a correct reply for ``rec`` carries (before any
    malformation); one may lack its object when the fault is
    ``invalid``."""
    key = record_key(rec)
    if "predicate" in rec:
        rel = {"creator": "made_by", "depicts": "depicts_subject"}.get(rec["predicate"], rec["predicate"])
        t = {"subject": rec["subject"], "subject_type": "Artwork", "relation": rel, "object": rec["object"]}
        if rec["predicate"] == "creator":
            t["object_type"] = "Person"
        out = [t]
    else:
        title = str(rec.get("title"))
        out = [
            {"subject": title, "subject_type": "Artwork",
             "relation": _pick(gen.CREATED_VARIANTS, key, "c"),
             "object": str(rec.get("artist")), "object_type": "Person"},
            {"subject": title, "subject_type": "Artwork",
             "relation": _pick(gen.DATED_VARIANTS, key, "d"),
             "object": str(rec.get("year")), "object_type": "Year"},
            {"subject": title, "subject_type": "Artwork",
             "relation": _pick(gen.HOUSED_VARIANTS, key, "h"),
             "object": str(rec.get("museum")), "object_type": "Museum"},
            {"subject": title,
             "relation": _pick(gen.DEPICTS_VARIANTS, key, "s"),
             "object": str(rec.get("subject")), "object_type": "Concept"},
        ]
    if fault(rec) == "invalid":
        out[-1] = {**out[-1], "object": None}
    return out


def reply_text(rec: dict) -> str:
    """The chat reply for ``rec`` (prose around JSON, or malformed)."""
    trips = intended_triplets(rec)
    if fault(rec) == "malformed":
        return "Sure! Here is the data: {subject: " + trips[0]["subject"] + ", relation"
    body = "\n".join(json.dumps(t) for t in trips)
    return f"Here are the extracted triplets:\n```json\n{body}\n```\nLet me know if you need more."


def reply_triplets(rec: dict) -> list[dict]:
    """What a reply for ``rec`` yields after tolerant parsing."""
    return [] if fault(rec) == "malformed" else intended_triplets(rec)


class FakeLLM:
    """``async_call`` for ``pipeline.extract_triplets_async``.

    ``counters`` maps names (``calls``, ``retries``, ``wait_s``,
    ``inflight_sum``, ``yielding``) to Spark accumulators. A record
    whose fault is ``rate_limit`` gets a 429 carrying
    ``params.LLM_SERVER_WAIT`` on its first call in a task and a real
    reply on the retry."""

    def __init__(self, counters: dict):
        self.counters = counters
        self._inflight = 0
        self._limited: set[str] = set()

    def __getstate__(self):
        return {"counters": self.counters}

    def __setstate__(self, state):
        self.__init__(state["counters"])

    async def __call__(self, record_json: str) -> str:
        rec = json.loads(record_json)
        key = record_key(rec)
        c = self.counters
        c["calls"].add(1)
        self._inflight += 1
        c["inflight_sum"].add(self._inflight)
        try:
            await asyncio.sleep(P.LLM_DELAY_S)
        finally:
            self._inflight -= 1
        if fault(rec) == "rate_limit" and key not in self._limited:
            self._limited.add(key)
            c["retries"].add(1)
            c["wait_s"].add(wait_s(P.LLM_SERVER_WAIT))
            raise RateLimited(
                f"Rate limit reached. Please try again in {P.LLM_SERVER_WAIT}."
            )
        if reply_triplets(rec):
            c["yielding"].add(1)
        return reply_text(rec)


def wait_s(message: str) -> float:
    """The server-directed wait in ``message``, scaled down."""
    from big_data___knowledge_graph_construction_with_llm_spark.llm_client import (
        parse_server_wait,
    )

    w = parse_server_wait(message)
    return None if w is None else w * P.LLM_WAIT_SCALE


def retry_kwargs() -> dict:
    """``extract_triplets_async`` retry settings: the engine's own
    rate-limit loop, with the server wait parsed and scaled down."""
    return {"max_retries": 3, "initial_delay": 0.001, "wait_parser": wait_s}


def make_counters(sc) -> dict:
    return {
        "calls": sc.accumulator(0),
        "retries": sc.accumulator(0),
        "wait_s": sc.accumulator(0.0),
        "inflight_sum": sc.accumulator(0),
        "yielding": sc.accumulator(0),
    }

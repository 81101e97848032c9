"""Seeded, single-threaded input generators for the workloads.

Every generator is a pure function of its seed and size arguments: the
same seed gives byte-identical inputs. Nothing here imports Spark; the
engine only ever sees the files these functions write.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from financial_market_data_analysis_spark.functions.schemas import ASK_LEVELS, BID_LEVELS

# ---------------------------------------------------------------------------
# live tail (corpus_dedup's traced run): two REST polls of two feeds

LIVE_FEEDS = ("deep", "volume")  # the book and the bars the indicators read
POLL_SECONDS = 300  # the reference polls every feed every 300 s
LIVE_START = dt.datetime(2024, 3, 4)  # a Monday, UTC
DUP_SHARE = 0.005  # a deep poll re-delivers the previous bar
NULL_SHARE = 0.01  # each numeric field is null with this probability

_RAW_SCHEMA = pa.schema([("value", pa.string()), ("polled_at_us", pa.int64())])


def _fmt(ts: dt.datetime) -> str:
    return ts.strftime("%Y-%m-%d %H:%M:%S")


def _num(rng: random.Random, v):
    return None if rng.random() < NULL_SHARE else v


def _feed_doc(rng: random.Random, feed: str, ts: dt.datetime, px: float) -> dict:
    """One JSON document in the feed's registry schema (functions/schemas.py)."""
    doc: dict = {"ts": _fmt(ts)}
    if feed == "deep":
        for i in range(BID_LEVELS):
            doc[f"bids_{i}"] = {
                f"bid_{i}": _num(rng, round(px - (i + 1) * 0.01, 2)),
                f"bid_{i}_size": _num(rng, rng.randint(0, 500)),
            }
        for i in range(ASK_LEVELS):
            doc[f"asks_{i}"] = {
                f"ask_{i}": _num(rng, round(px + (i + 1) * 0.01, 2)),
                f"ask_{i}_size": _num(rng, rng.randint(0, 500)),
            }
    else:  # volume
        o = px + rng.gauss(0, 0.2)
        c = px + rng.gauss(0, 0.2)
        doc.update(
            open=_num(rng, round(o, 2)),
            high=_num(rng, round(max(o, c) + abs(rng.gauss(0, 0.1)), 2)),
            low=_num(rng, round(min(o, c) - abs(rng.gauss(0, 0.1)), 2)),
            close=_num(rng, round(c, 2)),
            volume=_num(rng, rng.randint(100, 100_000)),
        )
    return doc


def live_bar(seed: int, k: int) -> dict:
    """Slot ``k`` of the live feed: one JSON document per feed, plus
    (with probability DUP_SHARE) a re-delivery of slot k-1's deep bar.
    The volume bar lands 0-119 s after the deep bar: always inside its
    3-minute band and its 5-minute bucket."""
    rng = random.Random(seed * 1_000_003 + k)
    slot = LIVE_START + dt.timedelta(seconds=POLL_SECONDS * k)
    deep_ts = slot + dt.timedelta(seconds=rng.randint(0, 60))
    # a slow random walk; slot k's price is a function of (seed, k) only
    px = 100.0 + 5.0 * np.sin((seed % 97) + k / 50.0) + rng.gauss(0, 0.3)
    docs = {"deep": [json.dumps(_feed_doc(rng, "deep", deep_ts, px))]}
    docs["volume"] = [json.dumps(_feed_doc(
        rng, "volume", deep_ts + dt.timedelta(seconds=rng.randint(0, 119)), px))]
    if k >= 1 and rng.random() < DUP_SHARE:
        docs["deep"].append(live_bar(seed, k - 1)["deep"][0])
    return docs


def live_polls(seed: int, n_bars: int, n_second: int) -> list[dict]:
    """Two polls of ``{feed: [json docs]}``: the first carries a backlog
    of bars 0 .. n_bars-n_second-1, the second the last ``n_second``
    bars plus a re-delivery of the first poll's last deep bar, which
    the dedup state kept from the first micro-batch must drop."""
    first, second = ({f: [] for f in LIVE_FEEDS} for _ in range(2))
    for k in range(n_bars):
        for f, docs in live_bar(seed, k).items():
            (first if k < n_bars - n_second else second)[f] += docs
    second["deep"].append(first["deep"][-1])
    return [first, second]


def stage_poll(poll: dict, dirs: dict, k: int) -> int:
    """Land one poll as one parquet drop per feed, in the
    ``(value, polled_at_us)`` layout ``sources.rest.poll_to_staging``
    writes, with mtimes strictly increasing in poll order. Returns the
    bytes staged."""
    n = 0
    for feed, docs in poll.items():
        path = os.path.join(dirs[feed], f"poll-{k:06d}.parquet")
        tbl = pa.table(
            {"value": docs, "polled_at_us": [k * POLL_SECONDS * 1_000_000] * len(docs)},
            schema=_RAW_SCHEMA,
        )
        pq.write_table(tbl, path)
        mt = 1_700_000_000 + k
        os.utime(path, (mt, mt))
        n += os.path.getsize(path)
    return n


# ---------------------------------------------------------------------------
# warehouse_rebuild: a multi-symbol, multi-year ``events`` history

EVENT_TYPES = ("purchase", "click", "view", "signup", "error")
HISTORY_START = dt.datetime(2022, 1, 1)
N_USERS = 400  # full_row's symbol = user_id % 4


def events_history(seed: int, n_events: int, years: float) -> pa.Table:
    """``n_events`` rows in the ``events`` table layout spread
    uniformly over ``years``; every event type gets an equal share."""
    rng = np.random.default_rng(seed)
    span_us = int(years * 365 * 86_400 * 1_000_000)
    t0 = int(HISTORY_START.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
    ts = np.sort(rng.integers(0, span_us, n_events)) + t0
    etype = rng.integers(0, len(EVENT_TYPES), n_events)
    user = rng.integers(0, N_USERS, n_events)
    value = np.round(rng.uniform(0.5, 50.0, n_events), 2)
    k = rng.integers(0, 100, n_events)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(user.astype(np.int64)),
            "event_type": pa.array(np.array(EVENT_TYPES)[etype]),
            "value": pa.array(value),
            "props": pa.array([f'{{"k": {x}}}' for x in k.tolist()]),
        }
    )


# ---------------------------------------------------------------------------
# corpus_dedup: a corpus with planted near-duplicate clusters

VOCAB = [f"w{i}" for i in range(2000)]
CLUSTER_SIZES = (2, 3, 5)  # near-dup cluster size mix (1 original + copies)
EDIT_SHARE = 0.02  # tokens replaced in each near-duplicate copy


def corpus(seed: int, n_docs: int, near_dup_share: float) -> pa.Table:
    """``n_docs`` documents in the ``documents`` table layout.
    ``near_dup_share`` of them are edited copies of an earlier
    document, grouped in clusters whose sizes cycle through
    ``CLUSTER_SIZES``; the rest are independent random texts."""
    rng = random.Random(seed)
    texts: list[str] = []
    n_dup_target = int(n_docs * near_dup_share)
    n_dup = 0
    ci = 0
    while len(texts) < n_docs:
        toks = [rng.choice(VOCAB) for _ in range(rng.randint(40, 120))]
        texts.append(" ".join(toks))
        if n_dup < n_dup_target:
            size = CLUSTER_SIZES[ci % len(CLUSTER_SIZES)]
            ci += 1
            for _ in range(size - 1):
                if len(texts) >= n_docs:
                    break
                copy = [rng.choice(VOCAB) if rng.random() < EDIT_SHARE else t for t in toks]
                texts.append(" ".join(copy))
                n_dup += 1
    # clusters are not contiguous in doc_id; the permutation depends on
    # the size only, so which doc ids form a cluster (and which of them
    # docs_augmented copies) is the same for every seed
    order = list(range(n_docs))
    random.Random(n_docs).shuffle(order)
    texts = [texts[i] for i in order]
    return pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(["en"] * n_docs),
            "source": pa.array([f"src{i % 7}" for i in range(n_docs)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )

"""Seeded inputs for the ``mr_*`` workloads and their plain-Python answers.

This module imports neither Spark nor the engine: the inputs are made and
the expected results computed before the program under test is loaded, so
neither counts towards set-up time and a check never trusts the engine to
grade itself.
"""

from __future__ import annotations

import os
from collections import Counter
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PURCHASE = "purchase"
KINDS = ("view", "click", PURCHASE)


def _zipf_ranks(rng: np.random.Generator, n_items: int, exponent: float, size: int):
    """Ranks in [0, n_items) with P(r) proportional to 1 / (r + 1) ** exponent;
    exponent 0 gives the uniform draw."""
    weights = 1.0 / np.arange(1, n_items + 1, dtype=np.float64) ** exponent
    return rng.choice(n_items, size=size, p=weights / weights.sum())


def generate_inputs(params: dict, seed: int, out_dir: str) -> dict[str, str]:
    """Write ``docs.parquet`` and ``events.parquet`` for one workload and
    return their paths. The same ``params`` and ``seed`` give identical
    tables."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    n_docs, per_doc = params["docs"], params["words_per_doc"]
    ranks = _zipf_ranks(rng, params["vocabulary"], params["word_zipf"], n_docs * per_doc)
    words = np.char.add("w", ranks.astype(str)).reshape(n_docs, per_doc)
    docs = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": [" ".join(row) for row in words.tolist()],
    })

    n_events = params["events"]
    events = pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "user_id": _zipf_ranks(rng, params["users"], params["user_zipf"], n_events).astype(np.int64),
        "kind": np.array(KINDS)[rng.integers(0, len(KINDS), n_events)],
        "amount": rng.integers(1, 1000, n_events, dtype=np.int64),
    })

    # Several row groups, so the scan has more than one split per file.
    paths = {"docs": os.path.join(out_dir, "docs.parquet"),
             "events": os.path.join(out_dir, "events.parquet")}
    pq.write_table(docs, paths["docs"], row_group_size=max(1, n_docs // 8))
    pq.write_table(events, paths["events"], row_group_size=max(1, n_events // 8))
    return paths


def footer_rows(path: str) -> int:
    """Record count from the parquet footer: fixed at set-up, independent of
    whatever the engine's plan later does with the rows."""
    return pq.ParquetFile(path).metadata.num_rows


@dataclass
class References:
    word_counts: Counter
    user_totals: dict[int, int]
    purchases: list[tuple[int, int, int]]


def compute_references(paths: dict[str, str]) -> References:
    docs = pq.read_table(paths["docs"]).to_pydict()
    events = pq.read_table(paths["events"]).to_pydict()
    return references_from_rows(docs["text"], list(zip(
        events["event_id"], events["user_id"], events["kind"], events["amount"])))


def references_from_rows(texts: list[str], events: list[tuple]) -> References:
    """Word counts, per-user amount sums, and the purchase rows sorted by
    event id."""
    words = Counter(w for text in texts for w in text.split())
    totals: dict[int, int] = {}
    purchases = []
    for event_id, user_id, kind, amount in events:
        totals[user_id] = totals.get(user_id, 0) + amount
        if kind == PURCHASE:
            purchases.append((event_id, user_id, amount))
    return References(words, totals, sorted(purchases))

"""Seeded generator of the docs_analytics inputs: `documents` and `events`
tables in the column layout of the repository's sf test tables, so the
engine's queries and their DuckDB oracle SQL run on them unchanged.

Text is drawn from a small fixed vocabulary; about one document in twenty is
a near-copy of an earlier one carrying the rare word "dup", so the dedup,
search and wildcard queries all return rows.
"""
import datetime
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a the agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark stream "
         "table value vector window").split()
LANGS = ["en"] * 3 + ["de", "es", "fr", "zh"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]


def documents(rng, n):
    texts = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            words = texts[rng.randrange(i)].split()
            words[rng.randrange(len(words))] = "dup"
            text = " ".join(words)
        else:
            text = " ".join(rng.choice(WORDS) for _ in range(rng.randint(8, 100)))
        texts.append(text)
    return pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": [rng.choice(LANGS) for _ in range(n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def events(rng, n, users):
    t0 = datetime.datetime(2024, 1, 1)
    span_us = 30 * 86400 * 10**6
    offsets = sorted(rng.randrange(span_us) for _ in range(n))
    return pa.table({
        "event_id": pa.array(range(n), pa.int64()),
        "ts": pa.array([t0 + datetime.timedelta(microseconds=o) for o in offsets],
                       pa.timestamp("us")),
        "user_id": pa.array([rng.randrange(users) for _ in range(n)], pa.int64()),
        "event_type": [rng.choice(EVENT_TYPES) for _ in range(n)],
        "value": [round(rng.expovariate(1 / 50.0), 2) for _ in range(n)],
        "props": [f'{{"k": {rng.randrange(100)}}}' for _ in range(n)],
    })


def generate(out_dir, seed, n_docs, n_events, users):
    """Writes documents.parquet and events.parquet under `out_dir`."""
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(documents(rng, n_docs), os.path.join(out_dir, "documents.parquet"))
    pq.write_table(events(rng, n_events, users), os.path.join(out_dir, "events.parquet"))

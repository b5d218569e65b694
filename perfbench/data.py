"""Seeded inputs for the benchmark workloads.

The parquet tables have the schemas and value shapes of the engine's
testdata tables (FIXTURES.md §A) at 500 documents, 500 embeddings and
1,000 events; the study corpus has the nested shape the REST source
serves (FIXTURES.md §B1).  Every value is a pure function of the seed.
"""

from __future__ import annotations

import os
import random
from typing import Any

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_DOCS = 500
N_VECS = 500
N_EVENTS = 1000
N_USERS = 15
DIM = 64

_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
_LANGS = ["en", "en", "de", "es", "fr", "zh"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def documents(seed: int) -> pa.Table:
    """Word-soup documents; one in twenty is an earlier text plus ' dup'."""
    rng = random.Random(seed)
    texts: list[str] = []
    for i in range(N_DOCS):
        if i and rng.random() < 0.05:
            texts.append(texts[rng.randrange(i)] + " dup")
        else:
            texts.append(" ".join(rng.choice(_VOCAB) for _ in range(rng.randint(10, 99))))
    return pa.table(
        {
            "doc_id": pa.array(range(N_DOCS), pa.int64()),
            "text": texts,
            "lang": [rng.choice(_LANGS) for _ in range(N_DOCS)],
            "source": [f"src{i % 20}" for i in range(N_DOCS)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings(seed: int) -> pa.Table:
    """Unit vectors around ten weak cluster centres; label = centre."""
    rng = np.random.default_rng(seed)
    centres = rng.normal(size=(10, DIM))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    labels = rng.integers(0, 10, N_VECS)
    vecs = 0.15 * centres[labels] + rng.normal(scale=1 / np.sqrt(DIM), size=(N_VECS, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(range(N_VECS), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def events(seed: int) -> pa.Table:
    """Time-ordered January 2024 events with JSON props."""
    rng = np.random.default_rng(seed)
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(rng.integers(0, 30 * 86_400 * 10**6, N_EVENTS))
    types = rng.integers(0, len(_EVENT_TYPES), N_EVENTS)
    return pa.table(
        {
            "event_id": pa.array(range(N_EVENTS), pa.int64()),
            "ts": pa.array(start + offsets.astype("timedelta64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS), pa.int64()),
            "event_type": [_EVENT_TYPES[t] for t in types],
            "value": np.round(rng.exponential(50.0, N_EVENTS), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
        }
    )


TABLES = {"documents": documents, "embeddings": embeddings, "events": events}


def write_tables(seed: int, out_dir: str) -> None:
    """Write every table as ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, make in TABLES.items():
        pq.write_table(make(seed), os.path.join(out_dir, f"{name}.parquet"))


_CRITERIA = [
    "Inclusion: adults.",
    "Inclusion: participants must be pregnant at enrollment.",
    "Exclusion: negative pregnancy test required.",
    "Inclusion: postpartum within 6 weeks.",
    "Inclusion: pregnant or postpartum participants.",
    "Inclusion: trying to get pregnant for 12 months.",
    "Exclusion: prior pregnancy complications.",
]
_STATUSES = ["RECRUITING", "COMPLETED", "TERMINATED", None]
_DATES = ["2013-05-01", "2013-05", "2013", None]


def make_study(seed: int, i: int) -> dict[str, Any]:
    """Study ``i`` of the seeded corpus; its criteria text is unique."""
    rng = random.Random(seed * 1_000_003 + i)
    status: dict[str, Any] = {}
    if (s := rng.choice(_STATUSES)) is not None:
        status["overallStatus"] = s
    if (d := rng.choice(_DATES)) is not None:
        status["startDateStruct"] = {"date": d}
    protocol: dict[str, Any] = {
        "identificationModule": {
            "nctId": f"NCT{seed % 100:02d}{i:06d}",
            "briefTitle": f"Study {i} brief",
            **({"officialTitle": f"Study {i} official"} if rng.random() < 0.7 else {}),
        },
        "statusModule": status,
        "designModule": {"studyType": rng.choice(["INTERVENTIONAL", "OBSERVATIONAL"])},
        "eligibilityModule": {
            "sex": rng.choice(["FEMALE", "ALL", "MALE"]),
            "eligibilityCriteria": f"{rng.choice(_CRITERIA)} Cohort {seed}-{i}.",
        },
    }
    if rng.random() < 0.8:
        protocol["descriptionModule"] = {"briefSummary": f"Summary of study {i}."}
    return {"protocolSection": protocol}

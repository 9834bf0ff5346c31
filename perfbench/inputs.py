"""Seeded input generators for the benchmark.

The program under test only ever sees what these functions write. The
document, embedding and event tables are shaped like the engine's graded
testdata (a 30-word vocabulary with ~5% planted near-duplicates, unit
64-d embeddings around 10 label centres, 150 users' events over one
month) but are generated here, so a run needs nothing outside its
checkout. They use the fixed ``TABLE_SEED``; the run seed drives only
the QA corpus, the question mix and the LLM transient-failure set.
"""

from __future__ import annotations

import hashlib
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
EMBED_DIM = 64


def documents(n: int, seed: int = TABLE_SEED) -> list[tuple[int, str, str, str, int]]:
    """``documents`` rows: (doc_id, text, lang, source, n_chars)."""
    rng = random.Random(seed)
    rows = []
    for doc_id in range(n):
        if doc_id > 10 and rng.random() < 0.05:
            base = rows[rng.randrange(doc_id)][1]
            text = base + " dup" * rng.randint(1, 2)
        else:
            text = " ".join(rng.choice(VOCAB) for _ in range(rng.randint(10, 100)))
        lang = rng.choice(("en", "en", "en", "de", "es", "fr", "zh"))
        rows.append((doc_id, text, lang, f"src{rng.randrange(20)}", len(text)))
    return rows


def write_documents(sf_dir: str, rows: list[tuple]) -> None:
    cols = list(zip(*rows))
    table = pa.table(
        {
            "doc_id": pa.array(cols[0], pa.int64()),
            "text": pa.array(cols[1], pa.string()),
            "lang": pa.array(cols[2], pa.string()),
            "source": pa.array(cols[3], pa.string()),
            "n_chars": pa.array(cols[4], pa.int64()),
        }
    )
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(table, os.path.join(sf_dir, "documents.parquet"))


def write_embeddings(sf_dir: str, n: int, seed: int = TABLE_SEED) -> None:
    rng = np.random.default_rng(seed)
    centres = rng.normal(size=(10, EMBED_DIM)) * 0.14
    labels = rng.integers(0, 10, size=n)
    vecs = centres[labels] + rng.normal(size=(n, EMBED_DIM)) / np.sqrt(EMBED_DIM)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    table = pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    pq.write_table(table, os.path.join(sf_dir, "embeddings.parquet"))


def write_events(sf_dir: str, n: int, seed: int = TABLE_SEED) -> None:
    rng = np.random.default_rng(seed)
    start_us = 1_704_067_200_000_000  # 2024-01-01T00:00:00 UTC
    month_us = 30 * 86_400 * 1_000_000
    ts = np.sort(start_us + rng.integers(1_000_000, month_us, size=n))
    table = pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 150, size=n), pa.int64()),
            "event_type": pa.array(rng.choice(EVENT_TYPES, size=n), pa.string()),
            "value": pa.array(np.round(rng.uniform(0.01, 400.0, size=n), 2), pa.float64()),
            "props": pa.array(
                [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, size=n)],
                pa.string(),
            ),
        }
    )
    pq.write_table(table, os.path.join(sf_dir, "events.parquet"))


def qa_records(n: int, seed: int) -> list[dict]:
    """The sink's record format (question, answer, source_file,
    window_index, subchunk_index); every question is distinct."""
    rng = random.Random(seed)
    out = []
    for i in range(n):
        words = " ".join(rng.choice(VOCAB) for _ in range(rng.randint(3, 8)))
        out.append(
            {
                "question": f"q{i}: what does {words} do?",
                "answer": f"a{i}: {rng.choice(VOCAB)} {rng.choice(VOCAB)}",
                "source_file": f"doc_{i // 4:06d}.pdf",
                "window_index": 1 + (i // 2) % 2,
                "subchunk_index": 1 + i % 2,
            }
        )
    return out


def write_jsonl(path: str, records: list[dict]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        for r in records:
            f.write(json.dumps(r) + "\n")


def question_mix(records: list[dict], n: int, seed: int) -> list[tuple[str, int | None]]:
    """``n`` requests: (question, index of the corpus record that must
    answer it, or None when the question is novel and must be
    rejected). Half are drawn from the corpus, half are novel."""
    rng = random.Random(seed ^ 0x9E3779B9)
    out: list[tuple[str, int | None]] = []
    for i in range(n):
        if rng.random() < 0.5:
            j = rng.randrange(len(records))
            out.append((records[j]["question"], j))
        else:
            out.append((f"novel {seed}-{i}: {rng.choice(VOCAB)} {rng.random()}?", None))
    return out


def fails_first_attempt(seed: int, prompt: str, per_mille: int = 10) -> bool:
    """The seeded ~1% of prompts whose first LLM request fails."""
    h = hashlib.md5(f"{seed}:{prompt}".encode()).digest()
    return int.from_bytes(h[:4], "little") % 1000 < per_mille

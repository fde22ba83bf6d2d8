"""Seeded input generators. The query tables are the engine's own testdata
(``testdata/sf0.01``, read as committed); every other input the benchmark
feeds the program is made here from the workload seed, and the same seed
gives a byte-identical corpus and stream.

- ``climbs_corpus``: nested climbs documents as JSON lines for the export
  pipeline, with null coordinates, missing ``pathTokens`` and a
  heavy-tailed description length.
- ``stream_batch``: one micro-batch of the key/value ingest stream.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


_COUNTRIES = ["USA", "Canada", "Mexico", "France", "Spain", "Italy", "Greece", "Thailand"]
_SAFETY = ["PG13", "R", "X", "UNSPECIFIED"]
_YDS = [f"5.{n}" for n in range(6, 15)]


def climbs_corpus(path: str, seed: int, n_docs: int) -> int:
    """Write ``n_docs`` nested climbs documents as JSON lines; return the
    file's size in bytes. About 10% lack coordinates, 5% lack
    ``pathTokens`` and path depth varies from 1 to 6 tokens, so the
    reshape's 1-based access runs past the end; description length is
    Pareto-distributed (most short, a few thousands of characters)."""
    rng = np.random.default_rng([seed, 2])
    words = np.array(_VOCAB)
    desc_len = np.minimum((rng.pareto(1.3, n_docs) * 8).astype(int), 600)
    with open(path, "w") as f:
        for i in range(n_docs):
            doc: dict = {
                "uuid": f"{int(rng.integers(0, 1 << 62)):016x}-{i:08d}",
                "name": None if rng.random() < 0.03 else f"Route {i}",
                "fa": None if rng.random() < 0.4 else f"FA {int(rng.integers(1950, 2024))}",
                "length": None if rng.random() < 0.2 else int(rng.integers(3, 400)),
                "boltsCount": None if rng.random() < 0.3 else int(rng.integers(0, 40)),
                "safety": _SAFETY[int(rng.integers(0, 4))],
                "grades": {
                    "yds": None if rng.random() < 0.3 else _YDS[int(rng.integers(0, len(_YDS)))],
                    "vscale": None if rng.random() < 0.7 else f"V{int(rng.integers(0, 12))}",
                    "french": None if rng.random() < 0.5 else f"{int(rng.integers(4, 9))}a",
                },
                "type": {
                    k: bool(rng.random() < p)
                    for k, p in (("sport", 0.5), ("trad", 0.4), ("bouldering", 0.2), ("alpine", 0.05), ("tr", 0.1))
                },
                "content": {"description": " ".join(rng.choice(words, desc_len[i]))},
            }
            if rng.random() >= 0.1:
                doc["metadata"] = {
                    "lat": round(float(rng.uniform(-60, 70)), 6),
                    "lng": round(float(rng.uniform(-180, 180)), 6),
                }
            if rng.random() >= 0.05:
                depth = int(rng.integers(1, 7))
                doc["pathTokens"] = [_COUNTRIES[int(rng.integers(0, len(_COUNTRIES)))]] + [
                    f"t{d}-{int(rng.integers(0, 50))}" for d in range(1, depth)
                ]
            f.write(json.dumps(doc, separators=(",", ":")))
            f.write("\n")
    return os.path.getsize(path)


STREAM_KEYS = 200_000


def stream_batch(path: str, seed: int, batch_id: int, rows: int) -> int:
    """Write micro-batch ``batch_id`` of the ingest stream (``user_id``
    long keys, Zipf-skewed over ``STREAM_KEYS``; ``cents`` long values,
    log-normal) as one parquet file; return its size in bytes."""
    rng = np.random.default_rng([seed, 3, batch_id])
    keys = (rng.zipf(1.3, rows) % STREAM_KEYS).astype(np.int64)
    cents = np.maximum(1, rng.lognormal(7.0, 1.5, rows)).astype(np.int64)
    _write(pa.table({"user_id": keys, "cents": cents}), path)
    return os.path.getsize(path)

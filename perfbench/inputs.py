"""Seeded inputs: the synthetic SRTM world and the contract tables.

Everything here is a pure function of the workload seed.  The program
under test sees only what these functions write: a parquet images table
for the hillshade workloads, and ``events``/``documents``/``embeddings``
parquet tables (the schema the contract queries read) for the joins.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from demeton_spark.synth import WorldSpec, expected_tile_heights, images_df
from demeton_spark.tiles import DEM_HEIGHT_NONE


def world_spec(seed: int, tiles_per_side: int, tile_size: int,
               block_size: int) -> WorldSpec:
    """A square world at ``WorldSpec``'s default origin.

    The generator records the seed but derives every height from cell
    coordinates, so all seeds give the same images table; the seed picks
    what the workloads vary (the resume column, the checked tiles).
    Moving the origin would also move how Spark hashes tiles to shade
    partitions, and so how many tiles the slowest task gets.
    """
    return WorldSpec(n_tiles_x=tiles_per_side, n_tiles_y=tiles_per_side,
                     tile_size=tile_size, block_size=block_size, seed=seed)


def write_images(spark, spec: WorldSpec, path: str) -> None:
    images_df(spark, spec).write.mode("overwrite").parquet(path)


def world_tiles(spec: WorldSpec) -> list[tuple[int, int]]:
    return [(spec.lon0 + i, spec.lat0 + j)
            for j in range(spec.n_tiles_y) for i in range(spec.n_tiles_x)]


def expected_padded(spec: WorldSpec, tx: int, ty: int) -> np.ndarray:
    """The (ts+2)² halo-padded heights of one tile, built single-process
    from the generator's own oracle; cells past the world edge are
    missing, as the engine pads them."""
    ts = spec.tile_size
    big = np.full((3 * ts, 3 * ts), DEM_HEIGHT_NONE, dtype=np.int16)
    for dy in (-1, 0, 1):
        for dx in (-1, 0, 1):
            nx, ny = tx + dx, ty + dy
            if (spec.lon0 <= nx < spec.lon0 + spec.n_tiles_x
                    and spec.lat0 <= ny < spec.lat0 + spec.n_tiles_y):
                big[(dy + 1) * ts:(dy + 2) * ts, (dx + 1) * ts:(dx + 2) * ts] = (
                    expected_tile_heights(spec, nx, ny))
    return big[ts - 1:2 * ts + 1, ts - 1:2 * ts + 1]


def useful_block_count(spec: WorldSpec, incomplete: set[tuple[int, int]]) -> int:
    """Blocks a resume needs: those of incomplete tiles plus the ring of
    blocks around them that donates halo strips."""
    side = spec.blocks_per_tile_side
    gx = spec.n_tiles_x * side
    gy = spec.n_tiles_y * side
    need = np.zeros((gy, gx), dtype=bool)
    for tx, ty in incomplete:
        i, j = tx - spec.lon0, ty - spec.lat0
        need[j * side:(j + 1) * side, i * side:(i + 1) * side] = True
    padded = np.pad(need, 1)
    ring = np.zeros_like(need)
    for dy in range(3):
        for dx in range(3):
            ring |= padded[dy:dy + gy, dx:dx + gx]
    return int(ring.sum())


# --- contract tables ---------------------------------------------------------

WORDS = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EVENT_TYPES = ["click", "purchase", "error", "signup", "view"]


def write_contract_tables(seed: int, out_dir: str, n_events: int,
                          n_docs: int, n_vecs: int) -> None:
    """Write the three tables the contract joins read, as parquet files
    named as the contract queries read them (``<dir>/<table>.parquet``)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    ts0 = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(rng.integers(0, 30 * 86_400_000_000, n_events))
    events = pd.DataFrame({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": ts0 + offsets.astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(15, n_events // 70), n_events),
        "event_type": rng.choice(EVENT_TYPES, n_events),
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })

    texts = []
    for i in range(n_docs):
        if i >= 10 and i % 10 == 0:  # a near-duplicate of an earlier doc
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(0, 3))):
                words[int(rng.integers(0, len(words)))] = str(rng.choice(WORDS))
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(8, 90)))))
    documents = pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    centers = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, n_vecs).astype(np.int32)
    vecs = centers[labels] + rng.normal(scale=0.8, size=(n_vecs, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              type=pa.list_(pa.float32())),
        "label": pa.array(labels),
    })

    pq.write_table(pa.Table.from_pandas(events, preserve_index=False),
                   os.path.join(out_dir, "events.parquet"))
    pq.write_table(pa.Table.from_pandas(documents, preserve_index=False),
                   os.path.join(out_dir, "documents.parquet"))
    pq.write_table(embeddings, os.path.join(out_dir, "embeddings.parquet"))

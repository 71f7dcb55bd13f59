"""Platform-ceiling probe for the shade hot path, WITHOUT Spark.

Runs the exact per-tile kernel the hillshade pipeline executes on every
task — ``engine.shade_padded_block`` (band-looped float32 Horn +
elecolor|+igor shaders) followed by ``codec.encode_rgba_png`` at the
bench sink level — across N independent OS processes, on the same
deterministic 1800² synthetic tile.  This isolates the numpy/zlib
compute from Spark's scheduling, Arrow transfer and shuffle, so the
core-scaling bench (bench.py --scaling) can be read against a measured
per-process ceiling instead of an assumed one: if local[32]/local[8]
efficiency in the Spark job is below the kernel's own 8→32 ratio, the
gap is harness overhead; if it matches, it is the platform memory wall.

Writes BENCH/KERNEL_CONCURRENCY.json and prints one JSON line.

Methodology notes:
  - trials are INTERLEAVED across process counts (1,8,32 then again,
    ...) so hypervisor-steal drift hits every level equally;
  - per-level value = median across rounds of the mean per-process
    tile time;
  - the steal fraction is probed before and after.
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TILE = 1800
MPX_PER_TILE = TILE * TILE / 1e6


def _work(args: tuple[int, int]) -> tuple[float, float, float]:
    n_tiles, band = args
    import numpy as np

    from demeton_spark import codec, engine, pipeline
    from demeton_spark.synth import WorldSpec, expected_world_heights

    engine.SHADE_BAND_ROWS = band
    spec = WorldSpec(lon0=0, lat0=40, n_tiles_x=1, n_tiles_y=1,
                     tile_size=TILE, block_size=300)
    world = expected_world_heights(spec)
    padded = np.full((TILE + 2, TILE + 2), -32768, dtype=np.int16)
    padded[1:-1, 1:-1] = world
    steps = pipeline.parse_script("elecolor|+igor")
    engine.shade_padded_block(padded, 0, 40, TILE, steps)  # warm caches
    t_shade = t_png = 0.0
    t0 = time.time()
    for _ in range(n_tiles):
        a = time.time()
        rgba, _ = engine.shade_padded_block(padded, 0, 40, TILE, steps)
        b = time.time()
        codec.encode_rgba_png(rgba, codec.RGBA_PNG_LEVEL_FAST)
        t_shade += b - a
        t_png += time.time() - b
    n = float(n_tiles)
    return ((time.time() - t0) / n, t_shade / n, t_png / n)


def main() -> None:
    from bench import probe_steal
    from demeton_spark import engine

    band = engine.SHADE_BAND_ROWS
    levels = (1, 8, 32)
    rounds = 3
    tiles_per_proc = 4
    steal_before = probe_steal()
    ctx = mp.get_context("spawn")
    per_level: dict[int, list[dict]] = {n: [] for n in levels}
    for _ in range(rounds):
        for n in levels:
            with ctx.Pool(n) as pool:
                res = pool.map(_work, [(tiles_per_proc, band)] * n)
            tot = sum(r[0] for r in res) / n
            per_level[n].append({
                "per_tile_sec": tot,
                "shade_sec": sum(r[1] for r in res) / n,
                "png_sec": sum(r[2] for r in res) / n,
                "agg_mpx_per_sec": n * MPX_PER_TILE / tot,
            })
    steal_after = probe_steal()

    def med(n: int, key: str) -> float:
        return round(statistics.median(r[key] for r in per_level[n]), 4)

    out = {
        "metric": "shade-kernel concurrency ceiling (no Spark)",
        "band_rows": band,
        "tile_px": TILE,
        "rounds": rounds,
        "steal_probe": {"before": steal_before, "after": steal_after},
        "levels": {
            str(n): {
                "per_tile_sec": med(n, "per_tile_sec"),
                "shade_sec": med(n, "shade_sec"),
                "png_sec": med(n, "png_sec"),
                "agg_mpx_per_sec": med(n, "agg_mpx_per_sec"),
                "all_rounds_mpx": [
                    round(r["agg_mpx_per_sec"], 1) for r in per_level[n]
                ],
            }
            for n in levels
        },
    }
    # 1→8 is an 8× width step, so divide the speedup by 8 (not the
    # N→4N convention's 4 — that mislabeled 0.837 as 1.674 in r4)
    e18 = out["levels"]["8"]["agg_mpx_per_sec"] / (
        8.0 * out["levels"]["1"]["agg_mpx_per_sec"])
    e832 = out["levels"]["32"]["agg_mpx_per_sec"] / (
        4.0 * out["levels"]["8"]["agg_mpx_per_sec"])
    out["kernel_efficiency_1_to_8"] = round(e18, 3)
    out["kernel_efficiency_8_to_32"] = round(e832, 3)
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "KERNEL_CONCURRENCY.json"), "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))


if __name__ == "__main__":
    main()

"""Multi-level pyramid build vs a whole-world numpy oracle (checkpointed
per level) and the spark-submit job entry smoke test."""

import json
import subprocess
import sys

import numpy as np

from demeton_spark import pyramid
from demeton_spark.kernels import downsample_average_2x2
from demeton_spark.tiles import DEM_HEIGHT_NONE


def _tiles_df(spark, world, ts, lvl0_origin=(0, 0)):
    ny, nx = world.shape[0] // ts, world.shape[1] // ts
    rows = []
    for by in range(ny):
        for bx in range(nx):
            block = world[by * ts : (by + 1) * ts, bx * ts : (bx + 1) * ts]
            rows.append(
                (
                    lvl0_origin[0] + bx,
                    lvl0_origin[1] + by,
                    bytearray(np.ascontiguousarray(block).tobytes()),
                )
            )
    return spark.createDataFrame(rows, "tile_x int, tile_y int, heights binary")


def test_full_pyramid_matches_world_oracle(spark, tmp_path):
    ts = 16
    rng = np.random.default_rng(3)
    world = rng.integers(-100, 3000, (4 * ts, 4 * ts)).astype(np.int16)
    world[5:9, 5:9] = DEM_HEIGHT_NONE  # holes must stay missing-aware

    levels = pyramid.build_full_pyramid(
        _tiles_df(spark, world, ts), ts, max_level=2,
        checkpoint_dir=str(tmp_path / "pyr"),
    )

    expected = world
    for level in (1, 2):
        expected = downsample_average_2x2(expected)
        got = {
            (r["tile_x"], r["tile_y"]): np.frombuffer(
                r["heights"], dtype="<i2"
            ).reshape(ts, ts)
            for r in levels[level].collect()
        }
        n = 4 >> level
        assert set(got) == {(x, y) for x in range(n) for y in range(n)}
        for (tx, ty), tile in got.items():
            want = expected[ty * ts : (ty + 1) * ts, tx * ts : (tx + 1) * ts]
            assert np.array_equal(tile, want), (level, tx, ty)
        # checkpoint really landed on disk (resumable per level)
        assert (tmp_path / "pyr" / f"level={level}" / "_SUCCESS").exists()


def _run_hillshade_job(tmp_path, *extra: str) -> dict:
    out = str(tmp_path / "job_out")
    proc = subprocess.run(
        [
            sys.executable, "jobs/hillshade_job.py",
            "--synthetic", "sf0.001", "--output", out,
            "--master", "local[4]", *extra,
        ],
        capture_output=True, text=True, timeout=300, cwd="/root/repo",
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    summary = json.loads(proc.stdout.strip().splitlines()[-1])
    assert summary["tiles"] == 4
    assert summary["total_px"] == 4 * 600 * 600
    assert summary["blocks_consumed"] == 4 * 36
    return summary


def test_hillshade_job_cli(tmp_path):
    _run_hillshade_job(tmp_path)


def test_hillshade_job_cli_clip_and_prefilter(tmp_path):
    # the triangle's bbox covers all 4 tiles; pixels outside it clip away
    summary = _run_hillshade_job(
        tmp_path, "--clip-polygon", "0.1,40.1;1.9,40.3;0.5,41.9",
        "--prefilter", "blur",
    )
    assert summary["shaded_px"] < summary["total_px"]

#!/usr/bin/env python
"""Benchmark: end-to-end hillshade throughput + headline contract queries.

    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=4 python bench.py

prints ONE JSON line:
    {"metric": ..., "value": <total sec>, "unit": "sec",
     "queries": {...slowest per-query sec...}, "sf": 0.1, ...}
and writes every per-query timing to ``BENCH/QUERIES_rNN.json``.

The hillshade leg runs the job's own path (``jobs.hillshade_job.run``:
the job's PNG level, a fresh parquet sink per trial, the resume-manifest
read and the job's summary aggregate), so its number is what the job
ships.  The input is the deterministic synthetic image table
(demeton_spark.synth), generated once per SF into data/synth/ and
reused; generation time is excluded from the measured pipeline time.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from demeton_spark.synth import WorldSpec  # noqa: E402

#: synthetic world per SF: ~12.96 unique Mpx per 0.001 SF (one 3600² tile
#: equivalent), cut into 1800² tiles for better task granularity.
WORLD_BY_SF = {
    0.001: WorldSpec(lon0=0, lat0=40, n_tiles_x=2, n_tiles_y=2,
                     tile_size=1800, block_size=300),
    0.01: WorldSpec(lon0=0, lat0=40, n_tiles_x=8, n_tiles_y=5,
                    tile_size=1800, block_size=300),
    0.1: WorldSpec(lon0=0, lat0=40, n_tiles_x=20, n_tiles_y=20,
                   tile_size=1800, block_size=300),
    1.0: WorldSpec(lon0=0, lat0=40, n_tiles_x=63, n_tiles_y=63,
                   tile_size=1800, block_size=300),
}

#: timed runs per measurement; the headline is their median
TRIALS = 3

HEADLINE_QUERIES = [
    "tile_assign_events",
    "geocell_assign",
    "geocell_rollup",
    "geo_knn_cells",
    "geo_points_in_polygons",
    "geo_zonal_stats",
    "geo_point_elevation",
    "geo_polygon_overlaps",
    "tile_metadata_join",
    "bbox_cover",
    "polygon_clip",
    "pyramid_parents",
    "tile_mbr",
    "value_histogram",
    "pricing_summary",
    "top_revenue_orders",
    "region_rollup",
    "events_top_event",
    "events_sessionize",
    "events_windowed_counts",
    "events_session_windows",
    "user_value_stats",
    "doc_exact_dedup",
    "doc_minhash",
    "doc_near_dup_pairs",
    "doc_near_dup_recall",
    "doc_dedup_clusters",
    "doc_dedup_keep_best",
    "doc_token_stats",
    "doc_lang_quality",
    "doc_repetition",
    "doc_simhash",
    "doc_simhash_near_dup",
    "doc_simhash_recall",
    "image_phash_dedup",
    "image_phash_near_dup",
    "pair_dedup_clusters",
    "image_dhash",
    "audio_features",
    "doc_fingerprint",
    "doc_ngram_near_dup",
    "doc_decontaminate",
    "doc_filter_pipeline",
    "doc_stratified_sample",
    "events_value_quantiles",
    "knn_bruteforce",
    "knn_ivf_bucketed",
    "knn_ivf_recall",
    "kmeans_centroids",
    "knn_ivf_kmeans",
    "emb_near_dup_pairs",
    "emb_dedup_clusters",
    "emb_near_dup_recall",
    "embedding_label_stats",
]


def probe_steal(seconds: float = 2.0) -> float:
    """Hypervisor-steal fraction over a short /proc/stat window.

    The sandbox shows 10-25% steal drifting on a minutes scale, which
    swings wall-clock timings 2-5x (VERDICT r3 adjudicated driver 24.5
    vs isolated 45.4 Mpx/s on identical plans).  Recording the probe in
    the artifact lets a reader distinguish a plan regression from a
    contended measurement window."""

    def snap():
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
        steal = vals[7] if len(vals) > 7 else 0
        return steal, sum(vals)

    try:
        s0, t0 = snap()
        time.sleep(seconds)
        s1, t1 = snap()
        return round((s1 - s0) / max(1, t1 - t0), 4)
    except OSError:
        return -1.0


def sf_of_dir(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return 0.1


def ensure_synth_table(spark, spec: WorldSpec, sf: float,
                       min_files: int = 64) -> str:
    """Generate (once) and return the parquet path of the images table.

    Written as ≥``min_files`` files: parquet scan splits can't be finer
    than a row group, so a 6-file table caps the pre-shuffle stage
    (read → block decode → strip emit → shuffle write) at 6-way
    parallelism no matter the core count — 26 of 32 threads sat idle
    through that stage in every pre-r4 scaling window.  A real 100-TB
    table has thousands of splits; the bench input should too."""
    import glob

    from demeton_spark.synth import images_df

    path = os.path.join(REPO, "data", "synth", f"sf{sf}")
    marker = os.path.join(path, "_SUCCESS")
    n_files = len(glob.glob(os.path.join(path, "part-*")))
    if not os.path.exists(marker) or n_files < min_files:
        images_df(spark, spec, num_partitions=min_files).write.mode(
            "overwrite").parquet(path)
    return path


def run_hillshade_bench(spark, spec: WorldSpec, images_path: str) -> dict:
    """Time ``TRIALS`` runs of the job's path, each into a fresh sink
    that is removed after the trial.  ``shade_partitions`` is the tile
    count, what ``--shade-partitions`` would pass for this world."""
    from jobs.hillshade_job import run

    images = spark.read.parquet(images_path)
    times = []
    for _ in range(TRIALS):  # the sandbox has heavy CPU-steal variance
        sink_root = tempfile.mkdtemp(prefix="bench_sink_")
        try:
            t0 = time.time()
            summary = run(spark, images, spec.tile_size,
                          os.path.join(sink_root, "tiles"),
                          shade_partitions=spec.n_tiles_x * spec.n_tiles_y)
            times.append(time.time() - t0)
        finally:
            shutil.rmtree(sink_root, ignore_errors=True)
    # MEDIAN headline (a typical window, not the luckiest draw); the
    # best trial stays in the artifact as supplementary evidence
    elapsed = statistics.median(times)
    mpx = summary["total_px"] / 1e6
    return {
        "sec": round(elapsed, 3),
        "sec_best": round(min(times), 3),
        "n_trials": TRIALS,
        "tiles": summary["tiles"],
        "megapixels": round(mpx, 2),
        "shaded_px": summary["shaded_px"],
        "mpx_per_sec": round(mpx / elapsed, 2),
    }


def run_streaming_hillshade_bench(spark) -> float:
    """Time the streaming hillshade twin (state-store halo exchange) on
    the sf0.01 world, micro-batched ~4 ways via maxFilesPerTrigger, so
    state-store overhead is a measured number next to the batch path.
    availableNow drains the whole table; result cardinality is asserted
    so a silent early stop can't pass.

    State partitions are sized to the key cardinality (40 destination
    tiles -> 8 partitions), not the session's shuffle partitions: the
    stateful operator pays a per-partition state-store commit (delta
    file + fsync) EVERY micro-batch, measured at 13-17.5 s/batch summed
    across 64 mostly-empty state partitions vs ~0.3 s at 8.  A
    production deployment sizes this once at stream creation (the count
    is frozen into the checkpoint) to O(active keys / cores), exactly as
    here."""
    import glob

    from demeton_spark import streaming

    spec = WORLD_BY_SF[0.01]
    images_path = ensure_synth_table(spark, spec, 0.01)
    nfiles = len(glob.glob(os.path.join(images_path, "part-*")))
    per_trigger = max(1, nfiles // 4)
    bounds = (spec.lon0, spec.lat0,
              spec.lon0 + spec.n_tiles_x - 1, spec.lat0 + spec.n_tiles_y - 1)
    ckpt = tempfile.mkdtemp(prefix="bench_stream_ckpt_")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        t0 = time.time()
        stream_in = streaming.read_images_stream(
            spark, images_path, max_files_per_trigger=per_trigger
        )
        out = streaming.run_to_memory(
            streaming.streaming_hillshade(stream_in, spec.tile_size, bounds),
            "bench_stream_shaded",
            ckpt,
        )
        n = out.count()
        sec = time.time() - t0
        expect = spec.n_tiles_x * spec.n_tiles_y
        if n != expect:
            raise AssertionError(
                f"streaming hillshade emitted {n} tiles, expected {expect}"
            )
        return round(sec, 3)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        shutil.rmtree(ckpt, ignore_errors=True)


def bench_once(cpus: int, sf_dir: str, sf: float) -> tuple[dict, dict]:
    """One session: the hillshade trials, the streaming leg, then every
    headline query (median of ``TRIALS``).  Returns (hillshade, sec by
    name)."""
    import gc

    from demeton_spark.queries import QUERIES
    from demeton_spark.session import build_session
    from jobs.hillshade_job import SESSION_CONF

    spec = WORLD_BY_SF.get(sf, WORLD_BY_SF[0.1])
    spark = build_session(app_name=f"bench-local{cpus}",
                          master=f"local[{cpus}]", extra_conf=SESSION_CONF)
    try:
        images_path = ensure_synth_table(spark, spec, sf)
        hs = run_hillshade_bench(spark, spec, images_path)
        queries: dict[str, float] = {"hillshade": hs["sec"]}
        # single run (not median): a state-store-overhead indicator, at
        # sf0.01 regardless of the bench SF (streaming state is
        # exercised, not data scale)
        queries["streaming_hillshade"] = run_streaming_hillshade_bench(spark)
        for name in HEADLINE_QUERIES:
            fn = QUERIES[name]
            trials_q = []
            for _ in range(TRIALS):
                t0 = time.time()
                fn(spark, sf_dir).count()
                trials_q.append(time.time() - t0)
            queries[name] = round(statistics.median(trials_q), 3)
            # queries materialize intermediates (signature barriers,
            # localCheckpoints); drop them between queries so 50+
            # queries x 3 trials don't accumulate block-manager
            # pressure.  localCheckpoint RDD blocks are only freed when
            # the Python-side DataFrame is garbage-collected
            # (ContextCleaner), so collect explicitly — without it late
            # queries in the sweep run against a full block manager and
            # slow an order of magnitude.
            spark.catalog.clearCache()
            gc.collect()
        return hs, queries
    finally:
        spark.stop()


def headline_json(hs: dict, queries: dict, sf: float, cpus: int,
                  steal: dict, queries_artifact: str) -> str:
    """The ONE printed line.  The driver records a 2,000-char TAIL of
    stdout, so the line inlines only the 7 slowest entries and drops to
    2 when it would pass 1,500 chars; full per-query timings live in
    ``queries_artifact``."""
    slow = dict(sorted(queries.items(), key=lambda kv: -kv[1])[:7])
    headline = {
        "metric": (
            f"end-to-end hillshade ({hs['megapixels']} Mpx @ "
            f"{hs['mpx_per_sec']} Mpx/s) + {len(queries) - 1} headline "
            f"queries, local[{cpus}]"
        ),
        "value": round(sum(queries.values()), 3),
        "unit": "sec",
        "sf": sf,
        "queries": slow,
        "n_queries": len(queries),
        "hillshade_megapixels": hs["megapixels"],
        "hillshade_mpx_per_sec": hs["mpx_per_sec"],
        "hillshade_sec_best": hs["sec_best"],
        "cpus": cpus,
        "n": TRIALS,
        "stat": "median",
        "steal_probe": steal,
        "artifacts": {"queries": queries_artifact},
    }
    line = json.dumps(headline)
    if len(line) > 1500:  # keep the whole line inside the driver's tail
        headline["queries"] = dict(list(slow.items())[:2])
        line = json.dumps(headline)
    return line


def _write_queries_artifact(queries: dict, hs: dict, sf: float,
                            cpus: int) -> str:
    """Write the full per-query timing dict to BENCH/QUERIES_r{N}.json.

    N = 1 + the highest round whose driver artifact (BENCH_r{N}.json)
    already exists in the repo root — i.e. the round currently being
    measured.  Falls back to QUERIES_latest.json if none match."""
    import glob
    import re

    rounds = [int(m.group(1)) for p in glob.glob(
        os.path.join(REPO, "BENCH_r*.json"))
        if (m := re.search(r"BENCH_r(\d+)\.json$", p))]
    name = (f"QUERIES_r{max(rounds) + 1:02d}.json" if rounds
            else "QUERIES_latest.json")
    rel = os.path.join("BENCH", name)
    path = os.path.join(REPO, rel)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump({"sf": sf, "cpus": cpus, "n": TRIALS, "stat": "median",
                   "hillshade": hs, "queries": queries}, f, indent=1)
    return rel


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = sf_of_dir(sf_dir)

    steal_before = probe_steal()
    hs, queries = bench_once(cpus, sf_dir, sf)
    steal = {"before": steal_before, "after": probe_steal()}
    artifact = _write_queries_artifact(queries, hs, sf, cpus)
    print(headline_json(hs, queries, sf, cpus, steal, artifact))

if __name__ == "__main__":
    main()

"""The hillshade workloads and the contract-query probe.

A workload sets up its seeded inputs, then repeats one operation in a
closed loop, checks every result and, when traced, breaks the time down
by layer.  The contract queries run once per traced run, as a probe of
the query layer."""

from __future__ import annotations

import os
import shutil
import statistics
import time
import uuid
from contextlib import contextmanager
from datetime import datetime

import duckdb
import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import __spark_entry__
from demeton_spark import codec, engine, kernels, pipeline
from demeton_spark.tiles import cells_per_degree, tile_name
from tools.oracle_check import compare

import inputs
from probes import SparkRest, Tracer, stage_totals, task_skew

SCRIPT = pipeline.DEFAULT_SCRIPT  # the job's default shading script

PER_TILE = ["codec.decode", "kernels.grid", "kernels.horn",
            "kernels.slope_aspect", "pipeline.shade", "codec.encode"]


def data_files(path: str) -> list[str]:
    """Data files Spark wrote under ``path`` (no checksums or markers)."""
    if not os.path.isdir(path):
        return []
    return [os.path.join(path, f) for f in os.listdir(path)
            if not f.startswith((".", "_"))]


def data_bytes(path: str) -> int:
    """Bytes of the data files under ``path``, at any depth."""
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path)
               for f in files if not f.startswith((".", "_")))


class Workload:
    """A closed-loop workload.  Subclasses define ``setup``, ``prepare``,
    ``op`` (the timed part), ``check`` and ``layers`` (traced runs)."""

    def __init__(self, spark, work: str, seed: int, sizes: dict,
                 tracer: Tracer):
        self.spark, self.work, self.seed, self.sizes = spark, work, seed, sizes
        self.tracer = tracer
        self.rest: SparkRest | None = None

    def fresh_dir(self, stem: str) -> str:
        return os.path.join(self.work, f"{stem}-{uuid.uuid4().hex[:8]}")

    def group(self, name: str) -> str:
        """Tag the following Spark jobs so the REST tables can find them."""
        gid = f"{name}-{uuid.uuid4().hex[:8]}"
        self.spark.sparkContext.setJobGroup(gid, name)
        return gid


# --- hillshade ---------------------------------------------------------------

class Hillshade(Workload):
    """``run_hillshade`` into an empty parquet sink with the job's
    defaults, then the job's summary aggregate."""

    base_names: set[str] = set()  # data files in the sink before a run
    base_bytes = 0

    def setup(self) -> dict:
        s = self.sizes
        self.spec = inputs.world_spec(self.seed, s["tiles_per_side"],
                                      s["tile_size"], s["block_size"])
        self.tiles = inputs.world_tiles(self.spec)
        gen = []
        for _ in range(3):
            self.images = self.fresh_dir("images")
            t0 = time.perf_counter()
            inputs.write_images(self.spark, self.spec, self.images)
            gen.append(time.perf_counter() - t0)
        rng = np.random.default_rng(self.seed)
        self.missing_col = self.spec.lon0 + 1 + int(
            rng.integers(0, self.spec.n_tiles_x - 2))
        self.sample = [self.tiles[int(i)] for i in
                       rng.permutation(len(self.tiles))]
        t0 = time.perf_counter()
        self.warm_up()
        return {"input_s": statistics.median(gen),
                "warmup_s": time.perf_counter() - t0}

    def warm_up(self) -> None:
        """The first runs in a fresh JVM are slower; keep them untimed."""
        for _ in range(self.sizes["warmup_ops"]):
            sink = self.prepare()
            self.check(sink, self.op(sink))
            self.cleanup(sink)

    @property
    def expected_new(self) -> list[tuple[int, int]]:
        return self.tiles

    def prepare(self) -> str:
        return self.fresh_dir("sink")

    def op(self, sink: str):
        tr = self.tracer
        self.groups = [self.group("hillshade")]
        with tr.span("engine.run_hillshade"):
            shaded = engine.run_hillshade(
                self.spark, self.spark.read.parquet(self.images),
                self.spec.tile_size, script=SCRIPT, output_dir=sink,
                resume=True,
            )
        with tr.span("job.summary"):
            return shaded.agg(
                F.count("*").alias("tiles"),
                F.sum("n_blocks").alias("blocks_consumed"),
                F.sum("shaded_px").alias("shaded_px"),
                F.sum("total_px").alias("total_px"),
            ).collect()[0]

    def check(self, sink: str, summary) -> dict:
        """Tile count, one row per tile key, and the decoded pixels of one
        newly written tile against a single-process recompute."""
        ts = self.spec.tile_size
        keys = pq.read_table(sink, columns=["tile_x", "tile_y"]).to_pydict()
        got = list(zip(keys["tile_x"], keys["tile_y"]))
        ok = (summary["tiles"] == len(self.tiles)
              and summary["total_px"] == len(self.tiles) * ts * ts
              and len(got) == len(set(got)) and set(got) == set(self.tiles))
        new = [t for t in self.sample if t in set(self.expected_new)]
        tx, ty = new[0]
        self.sample.append(self.sample.pop(self.sample.index((tx, ty))))
        name = tile_name(0, tx, ty)
        png = pq.read_table(sink, columns=["png"],
                            filters=[("tile_name", "=", name)])["png"]
        want, _ = engine.shade_padded_block(
            inputs.expected_padded(self.spec, tx, ty), tx, ty, ts,
            pipeline.parse_script(SCRIPT))
        ok = ok and len(png) == 1 and np.array_equal(
            codec.decode_rgba_png(png[0].as_py()), want)
        return {"failed": int(not ok),
                "mpx": len(self.expected_new) * ts * ts / 1e6}

    def cleanup(self, sink: str) -> None:
        shutil.rmtree(sink, ignore_errors=True)

    def written_bytes(self, sink: str) -> int:
        """Bytes this run added to the sink."""
        return data_bytes(sink) - self.base_bytes

    def n_ops(self) -> int:
        return 1

    def describe(self) -> dict:
        sp = self.spec
        return {"lon0": sp.lon0, "lat0": sp.lat0, "tiles": sp.n_tiles,
                "tile_size": sp.tile_size, "block_size": sp.block_size,
                "blocks": sp.n_rows, "seed": sp.seed,
                "tiles_per_run": len(self.expected_new)}

    # -- traced run only --------------------------------------------------
    def layers(self, op_stages: list[dict], _summary, sink: str) -> dict:
        tr, spark, ts = self.tracer, self.spark, self.spec.tile_size
        m: dict[str, float] = {}
        write = [s for s in op_stages if s.get("outputRecords", 0) > 0]
        shade = max(write, key=lambda s: s["executorRunTime"])
        skew = task_skew(self.rest.tasks(shade))
        m["shade.stage_s"] = _stage_wall(shade)
        m["shade.tiles_per_task_max"] = skew["records_per_task_max"]
        m["shade.task_s_max_over_median"] = skew["task_s_max_over_median"]

        assigned = engine.parse_caption(spark.read.parquet(self.images))
        with tr.span("engine.map"):
            t0 = time.perf_counter()
            engine.hillshade_parts(assigned, ts).write.format("noop") \
                .mode("overwrite").save()
            m["engine.map_s"] = time.perf_counter() - t0
        m["engine.map.rows_out"] = float(engine.hillshade_parts(assigned, ts).count())
        m["engine.strip_rows"] = float(engine.emit_block_strips(assigned, ts).count())

        probe = self.prepare()
        with tr.span("engine.manifest_read"):
            t0 = time.perf_counter()
            done = engine._read_manifest(spark, probe)
            skipped = len(done.collect()) if done is not None else 0
            m["engine.manifest_read_s"] = time.perf_counter() - t0
        self.cleanup(probe)
        m["engine.resume.tiles_skipped"] = float(skipped)
        useful = inputs.useful_block_count(self.spec, set(self.expected_new))
        m["engine.resume.scan_useful_ratio"] = useful / self.spec.n_rows

        new_files = [f for f in data_files(sink)
                     if os.path.basename(f) not in self.base_names]
        m["sink.files"] = float(len(new_files))
        copy = self.fresh_dir("sink-replay")
        with tr.span("sink.write"):
            t0 = time.perf_counter()
            spark.read.parquet(*new_files).write.parquet(copy)
            m["sink.write_s"] = time.perf_counter() - t0
        shutil.rmtree(copy, ignore_errors=True)
        m.update(self.replay())
        return m

    def replay(self) -> dict:
        """Replay sampled tiles single-process through the public kernels,
        with a span around each call.  The band loop mirrors
        ``engine.shade_padded_block`` (no clip, no water), so its spans
        can be set against one untraced call of it."""
        spec, ts = self.spec, self.spec.tile_size
        steps = pipeline.parse_script(SCRIPT)
        cpd = cells_per_degree(ts, 0)
        band = engine.SHADE_BAND_ROWS
        per: dict[str, list[float]] = {k: [] for k in PER_TILE}
        spb, loop, kb = [], [], []
        for tx, ty in self.sample[:self.sizes["replay_tiles"]]:
            side = spec.blocks_per_tile_side
            name = tile_name(0, tx, ty)
            caps = [f"tile {name} block ({bx},{by})"
                    for by in range(side) for bx in range(side)]
            blocks = pq.read_table(self.images, columns=["fmt", "bytes", "w"],
                                   filters=[("caption", "in", caps)]).to_pylist()
            padded = inputs.expected_padded(spec, tx, ty)
            for _ in range(self.sizes["replay_reps"]):
                acc = dict.fromkeys(PER_TILE, 0.0)
                with self.timed("codec.decode", acc):
                    for b in blocks:
                        engine._decode_block(b["fmt"], b["bytes"], b["w"])
                t0 = time.perf_counter()
                rgba, _ = engine.shade_padded_block(padded, tx, ty, ts, steps)
                spb.append(time.perf_counter() - t0)
                t0 = time.perf_counter()
                with self.tracer.span("engine.shade_padded_block"):
                    img = np.empty((ts, ts, 4), dtype=np.uint8)
                    for r0 in range(0, ts, band):
                        r1 = min(r0 + band, ts)
                        with self.timed("kernels.grid", acc):
                            f = kernels.heights_to_float(padded[r0:r1 + 2, :],
                                                         dtype=np.float32)
                            lat = (np.arange(r0, r1, dtype=np.float64)
                                   + ty * ts) / cpd
                            gw, gh = kernels.grid_size_meters(cpd, lat)
                        with self.timed("kernels.horn", acc):
                            p, q = kernels.horn_pq(
                                f, gw[:, None].astype(np.float32),
                                gh[:, None].astype(np.float32))
                        with self.timed("kernels.slope_aspect", acc):
                            slope, aspect = kernels.slope_and_aspect(p, q)
                        with self.timed("pipeline.shade", acc):
                            out = pipeline.evaluate_steps(
                                steps, pipeline.ShadeContext(
                                    heights=f[1:-1, 1:-1], slope=slope,
                                    aspect=aspect, heights_are_int16=True))
                        with self.tracer.span("engine.band_copy"):
                            np.count_nonzero(out[..., 3] > 0)
                            img[r0:r1] = out
                    img = img[::-1]
                loop.append(time.perf_counter() - t0)
                with self.timed("codec.encode", acc):
                    png = codec.encode_rgba_png(rgba, codec.RGBA_PNG_LEVEL)
                kb.append(len(png) / 1e3)
                for k, v in acc.items():
                    per[k].append(v)
        med = lambda xs: statistics.median(xs) * 1e3  # noqa: E731
        out = {f"{k}_ms_per_tile": med(v) for k, v in per.items()}
        out["engine.shade_padded_block_ms_per_tile"] = med(spb)
        out["codec.png_kb_per_tile"] = statistics.median(kb)
        out["trace.replay_overhead_ms_per_tile"] = med(loop) - med(spb)
        spans = sum(out[f"{k}_ms_per_tile"] for k in PER_TILE[1:5])
        print(f"replay per tile: kernel spans {spans:.1f} ms, "
              f"shade_padded_block {med(spb):.1f} ms, traced band loop "
              f"{med(loop):.1f} ms (tracing overhead "
              f"{out['trace.replay_overhead_ms_per_tile']:.1f} ms)")
        return out

    @contextmanager
    def timed(self, name: str, acc: dict[str, float]):
        """A span that also adds its duration to ``acc[name]``."""
        with self.tracer.span(name):
            t0 = time.perf_counter()
            yield
            acc[name] += time.perf_counter() - t0


class HillshadeResume(Hillshade):
    """The same call, each run starting from a sink that already holds
    all tiles but one interior column."""

    def warm_up(self) -> None:
        # one full run builds the sink, then one tile column is cut from it
        full = self.fresh_dir("sink-full")
        self.check(full, self.op(full))
        self.base = self.fresh_dir("sink-base")
        os.makedirs(self.base)
        for f in data_files(full):
            t = pq.read_table(f)
            pq.write_table(
                t.filter(np.array(t["tile_x"].to_numpy() != self.missing_col)),
                os.path.join(self.base, os.path.basename(f)))
        shutil.rmtree(full)
        self.base_names = {os.path.basename(f) for f in data_files(self.base)}
        self.base_bytes = data_bytes(self.base)
        super().warm_up()

    @property
    def expected_new(self) -> list[tuple[int, int]]:
        return [t for t in self.tiles if t[0] == self.missing_col]

    def prepare(self) -> str:
        sink = self.fresh_dir("sink")
        shutil.copytree(self.base, sink)
        return sink


def _stage_wall(stage: dict) -> float:
    """Seconds from a stage's submission to its completion."""
    t0, t1 = (datetime.strptime(stage[k], "%Y-%m-%dT%H:%M:%S.%f%Z")
              for k in ("submissionTime", "completionTime"))
    return (t1 - t0).total_seconds()


# --- contract joins ----------------------------------------------------------

class ContractJoins(Workload):
    """Contract queries from ``__spark_entry__.queries()``, each written
    to its own parquet sink so every column is computed and nothing is
    collected to the driver, then checked against its DuckDB twin."""

    def setup(self) -> None:
        s = self.sizes
        entry = __spark_entry__.queries()
        self.fns = {q: entry[q] for q in s["queries"]}
        self.data = self.fresh_dir("tables")
        inputs.write_contract_tables(self.seed, self.data, s["events"],
                                     s["documents"], s["embeddings"])
        self.duck = duckdb.connect()
        for t in ("events", "documents", "embeddings"):
            self.duck.sql(f"create view {t} as select * from "
                          f"read_parquet('{self.data}/{t}.parquet')")
        self.oracles = __spark_entry__.oracle_sql()

    def prepare(self) -> str:
        return self.fresh_dir("out")

    def op(self, out: str) -> dict[str, float]:
        times, self.groups = {}, []
        for q, fn in self.fns.items():
            self.groups.append(self.group(f"queries.{q}"))
            with self.tracer.span(f"queries.{q}"):
                t0 = time.perf_counter()
                fn(self.spark, self.data).write.parquet(os.path.join(out, q))
                times[q] = time.perf_counter() - t0
        return times

    def check(self, out: str, _times) -> dict:
        """Every query's written rows against its DuckDB twin."""
        bad = []
        for q in self.fns:
            got = pq.read_table(os.path.join(out, q)).to_pandas()
            problems = compare(q, got, self.duck.sql(self.oracles[q]).df())
            if problems:
                print(f"mismatch {q}: {'; '.join(problems)}")
                bad.append(q)
        return {"failed": len(bad)}

    def cleanup(self, out: str) -> None:
        shutil.rmtree(out, ignore_errors=True)

    def written_bytes(self, out: str) -> int:
        return data_bytes(out)

    def n_ops(self) -> int:
        return len(self.fns)

    def layers(self, times: dict, out: str) -> dict:
        m = {}
        for gid, q in zip(self.groups, self.fns):
            m[f"queries.{q}.s"] = times[q]
            m[f"queries.{q}.rows"] = float(sum(
                pq.read_metadata(f).num_rows
                for f in data_files(os.path.join(out, q))))
            m[f"queries.{q}.shuffle_mb"] = stage_totals(
                self.rest.group_stages(gid))["shuffle_write_mb"]
        return m

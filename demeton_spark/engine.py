"""The Spark dataflow: image rows → tile assignment → tile assembly with
halo strips → vectorized shading → PNG tile sink.

This is the idiomatic-Spark re-expression of Demeton's ``shade``
lifecycle (/root/reference/Demeton/Commands/ShadeCommand.fs:555-614),
with the reference's sequential per-tile fold replaced by one task per
tile and its implicit 1-px over-fetch replaced by an explicit halo
exchange (SURVEY.md §2.3 J3):

Production path (ONE full-data shuffle — see SCALE.md):

  1. ``parse_caption``      — pure Column expressions recover the
                              block's tile + block coords from the
                              caption (equi-join key construction, J1).
  2. ``emit_block_strips``  — narrow map over the Catalyst-filtered
                              border blocks cuts the k-px halo slabs
                              each neighbor needs (k = 1 + prefilter
                              steps).
  3. ``hillshade_parts``    — union of raw (still-compressed) blocks
                              and strips, keyed by DESTINATION tile.
  4. ``shade_unified``      — one groupBy(tile).applyInPandas task per
                              tile: stitch (J2, deterministic overwrite
                              order §4.3), pad to (ts+2k)² with
                              DEM_HEIGHT_NONE at world edges
                              (extract-fill, Dem/Funcs.fs:395-416),
                              optional blur/sharpen prefilters, Horn
                              p/q, shading-script evaluation,
                              point-in-polygon clip, Y-flip, RGBA PNG
                              encode (Hillshading.fs:81-157 vectorized).
  5. ``run_hillshade``      — end-to-end with optional resumable
                              checkpointing (anti-join against a
                              per-tile manifest — Srtm/Fetch.fs
                              negative-cache semantics), bbox pruning
                              for clip polygons, 1-tile-per-task
                              shuffle granularity, and pixel-count
                              metrics.

This is the only hillshade topology.  ``assemble_tiles`` is the unfused
stitch used by the isolines job, the contract queries and tests.

Scale notes: the single wide operation carries source-compressed
blocks plus ~0.1%-sized strips; assembled tiles never re-shuffle.
Skewed (land-heavy) tiles are bounded by winner-only decode (one decode
per block position however many duplicates arrive) and the
1-tile-per-task granularity.  One tile's group is never split across
tasks: at a 200× single-tile hotspot the fused path still beat a
salted two-stage assembly (SCALE.md).
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import codec, kernels, pipeline
from .synth import WorldSpec
from .tiles import (
    DEM_HEIGHT_NONE,
    cells_per_degree,
    tile_name as _tile_name,
)

# ---------------------------------------------------------------------------
# 1. caption → tile assignment (pure Column expressions, J1)
# ---------------------------------------------------------------------------

_CAPTION_PATTERN = r"tile ([NS]\d{2}[EW]\d{3}) block \((\d+),(\d+)\)"


def invalid_caption_rows(images: DataFrame) -> DataFrame:
    """Rows whose caption carries no parseable geo anchor (quarantine).

    At ingest scale a single bad row must not fail the job; route these
    to a dead-letter sink and count them, don't crash (§2.11 negative-
    cache spirit).
    """
    return images.where(~F.col("caption").rlike(_CAPTION_PATTERN))


def parse_caption(images: DataFrame) -> DataFrame:
    """Recover ``(tile_x, tile_y, bx, by)`` from the caption column.

    Inverse of parseHgtTileName (Dem/Funcs.fs:157-188) as Catalyst
    expressions — stays inside whole-stage codegen, no Python.
    Rows with unparseable captions are dropped here; collect them with
    :func:`invalid_caption_rows` first if you need a quarantine sink.
    """
    images = images.where(F.col("caption").rlike(_CAPTION_PATTERN))
    name = F.regexp_extract("caption", _CAPTION_PATTERN, 1)
    lat_sign = F.when(F.substring(name, 1, 1) == "N", 1).otherwise(-1)
    lon_sign = F.when(F.substring(name, 4, 1) == "E", 1).otherwise(-1)
    return (
        images.withColumn("tile_name", name)
        .withColumn("tile_y", (lat_sign * F.substring(name, 2, 2).cast("int")).cast("int"))
        .withColumn("tile_x", (lon_sign * F.substring(name, 5, 3).cast("int")).cast("int"))
        .withColumn(
            "bx", F.regexp_extract("caption", _CAPTION_PATTERN, 2).cast("int")
        )
        .withColumn(
            "by", F.regexp_extract("caption", _CAPTION_PATTERN, 3).cast("int")
        )
    )


# ---------------------------------------------------------------------------
# 2. tile assembly (J2 mosaic)
# ---------------------------------------------------------------------------

ASSEMBLED_SCHEMA = (
    "tile_x int, tile_y int, heights binary, n_blocks int, missing_px long"
)


def _decode_block(fmt: str, payload: bytes, block_size: int) -> np.ndarray:
    if fmt == "png16":
        return codec.decode_heights_png(bytes(payload))
    if fmt == "hgt":
        return codec.decode_hgt(bytes(payload), block_size)
    raise ValueError(f"unknown block format {fmt!r}")


def assemble_tiles(assigned: DataFrame, tile_size: int) -> DataFrame:
    """Stitch image blocks into one int16 raster per tile.

    Later blocks overwrite earlier ones in deterministic ``(by, bx,
    image_id)`` order — Spark group order is nondeterministic, the sort
    re-establishes the reference's merge semantics (Dem/Funcs.fs:357-388,
    §4.3 "merge overwrite order").
    """

    def stitch(pdf: pd.DataFrame) -> pd.DataFrame:
        tile_x = int(pdf["tile_x"].iloc[0])
        tile_y = int(pdf["tile_y"].iloc[0])
        tile = np.full((tile_size, tile_size), DEM_HEIGHT_NONE, dtype=np.int16)
        pdf = pdf.sort_values(["by", "bx", "image_id"])
        for fmt, payload, w, h, bx, by in zip(
            pdf["fmt"], pdf["bytes"], pdf["w"], pdf["h"], pdf["bx"], pdf["by"]
        ):
            block = _decode_block(fmt, payload, int(w))
            y0, x0 = int(by) * int(h), int(bx) * int(w)
            tile[y0 : y0 + int(h), x0 : x0 + int(w)] = block
        missing = int(np.count_nonzero(tile == DEM_HEIGHT_NONE))
        return pd.DataFrame(
            {
                "tile_x": [tile_x],
                "tile_y": [tile_y],
                "heights": [tile.tobytes()],
                "n_blocks": [len(pdf)],
                "missing_px": [missing],
            }
        )

    return assigned.groupBy("tile_x", "tile_y").applyInPandas(
        stitch, schema=ASSEMBLED_SCHEMA
    )


# ---------------------------------------------------------------------------
# 3. halo strips + fused shade (J3 — the explicit stencil join)
# ---------------------------------------------------------------------------
#
# A stitch stage feeding a shade stage moves every assembled tile
# (uncompressed int16, ~26 MB at 3600²) through a second exchange + two
# extra Arrow crossings.  The fused topology below cuts the halo strips
# from the EDGE BLOCKS before any shuffle (narrow map over ~the border
# fraction of input rows), unions them with the raw block stream, and
# lets ONE groupBy(destination tile) bring together everything a tile
# needs: its own blocks (still source-compressed) plus its neighbors'
# 1-px edge contributions.  Assembly, halo padding, shading and PNG encode
# then run in a single task — one full-data shuffle end-to-end, and
# the bytes that cross it stay compressed.

UNIFIED_PART_SCHEMA = (
    "tile_x int, tile_y int, part string, bx int, by int, image_id string, "
    "w int, h int, fmt string, data binary"
)

#: (edge predicate, dest offset, part name, cut of the decoded block
#: given halo width k): a block on its tile's border contributes the
#: k-px slab the neighbor needs for halo padding (k=1 for plain Horn;
#: k=2 when a prefilter consumes a ring first — Roadmap.md low/high-pass
#: filters).  Part names say where the slab lands in the receiver's
#: padded array.  A whole tile is one block on every edge, which is how
#: :func:`run_tile_shade` cuts its tile-level strips.
_BLOCK_STRIP_SPEC = [
    (lambda bx, by, nx, ny: by == ny - 1, (0, 1), "S",
     lambda b, k: b[-k:, :]),
    (lambda bx, by, nx, ny: by == 0, (0, -1), "N", lambda b, k: b[:k, :]),
    (lambda bx, by, nx, ny: bx == nx - 1, (1, 0), "W",
     lambda b, k: b[:, -k:]),
    (lambda bx, by, nx, ny: bx == 0, (-1, 0), "E", lambda b, k: b[:, :k]),
    (lambda bx, by, nx, ny: bx == nx - 1 and by == ny - 1, (1, 1), "SW",
     lambda b, k: b[-k:, -k:]),
    (lambda bx, by, nx, ny: bx == 0 and by == ny - 1, (-1, 1), "SE",
     lambda b, k: b[-k:, :k]),
    (lambda bx, by, nx, ny: bx == nx - 1 and by == 0, (1, -1), "NW",
     lambda b, k: b[:k, -k:]),
    (lambda bx, by, nx, ny: bx == 0 and by == 0, (-1, -1), "NE",
     lambda b, k: b[:k, :k]),
]


def emit_block_strips(
    assigned: DataFrame, tile_size: int, halo: int = 1
) -> DataFrame:
    """Narrow stage: border blocks → 1-px strip rows keyed by the
    neighbor tile that needs them (fmt='raw', int16 LE cells).

    The Catalyst filter keeps interior blocks out of the Python worker
    entirely; only the border fraction of the input is decoded twice.
    Strip rows keep the sender's ``(by, bx, image_id)`` so the receiver
    can replay the deterministic overwrite order (§4.3).
    """
    edge = assigned.where(
        (F.col("bx") == 0)
        | (F.col("by") == 0)
        | ((F.col("bx") + 1) * F.col("w") >= tile_size)
        | ((F.col("by") + 1) * F.col("h") >= tile_size)
    )

    def cut(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ("tile_x", "tile_y", "part", "bx", "by", "image_id",
                "w", "h", "fmt", "data")
        for pdf in batches:
            out: dict[str, list] = {k: [] for k in cols}
            for tx, ty, iid, fmt, payload, w, h, bx, by in zip(
                pdf["tile_x"], pdf["tile_y"], pdf["image_id"], pdf["fmt"],
                pdf["bytes"], pdf["w"], pdf["h"], pdf["bx"], pdf["by"],
            ):
                w, h, bx, by = int(w), int(h), int(bx), int(by)
                if halo > min(w, h):
                    raise ValueError(
                        f"halo {halo} exceeds block size {w}x{h}"
                    )
                nx, ny = tile_size // w, tile_size // h
                block = None
                for on_edge, (dx, dy), part, strip_cut in _BLOCK_STRIP_SPEC:
                    if not on_edge(bx, by, nx, ny):
                        continue
                    if block is None:
                        block = _decode_block(fmt, payload, w)
                    out["tile_x"].append(int(tx) + dx)
                    out["tile_y"].append(int(ty) + dy)
                    out["part"].append(part)
                    out["bx"].append(bx)
                    out["by"].append(by)
                    out["image_id"].append(iid)
                    out["w"].append(w)
                    out["h"].append(h)
                    out["fmt"].append("raw")
                    out["data"].append(
                        np.ascontiguousarray(strip_cut(block, halo)).tobytes()
                    )
            yield pd.DataFrame(out)

    return edge.mapInPandas(cut, schema=UNIFIED_PART_SCHEMA)


def hillshade_parts(
    assigned: DataFrame, tile_size: int, halo: int = 1
) -> DataFrame:
    """Blocks + their neighbors' strip contributions, keyed by the
    destination tile — the single-shuffle input of :func:`shade_unified`."""
    blocks = assigned.select(
        "tile_x", "tile_y", F.lit("B").alias("part"), "bx", "by",
        "image_id", "w", "h", "fmt", F.col("bytes").alias("data"),
    )
    return blocks.unionByName(emit_block_strips(assigned, tile_size, halo))


#: placement of a received strip slab into the (ts+2k)² padded array
def _place_strip(padded: np.ndarray, part: str, cells: np.ndarray,
                 bx: int, by: int, w: int, h: int, ts: int,
                 k: int = 1) -> None:
    x0, y0 = k + bx * w, k + by * h
    if part == "S":
        padded[0:k, x0 : x0 + w] = cells.reshape(k, w)
    elif part == "N":
        padded[ts + k : ts + 2 * k, x0 : x0 + w] = cells.reshape(k, w)
    elif part == "W":
        padded[y0 : y0 + h, 0:k] = cells.reshape(h, k)
    elif part == "E":
        padded[y0 : y0 + h, ts + k : ts + 2 * k] = cells.reshape(h, k)
    elif part == "SW":
        padded[0:k, 0:k] = cells.reshape(k, k)
    elif part == "SE":
        padded[0:k, ts + k : ts + 2 * k] = cells.reshape(k, k)
    elif part == "NW":
        padded[ts + k : ts + 2 * k, 0:k] = cells.reshape(k, k)
    elif part == "NE":
        padded[ts + k : ts + 2 * k, ts + k : ts + 2 * k] = cells.reshape(k, k)


def apply_prefilters(padded: np.ndarray, steps) -> np.ndarray:
    """Run prefilter steps (kernels.PREFILTERS) over an int16 padded
    block; each consumes one halo ring.  Output rounds back to int16
    (heights stay 1 m-quantized end-to-end, the storage discipline of
    §1.2), missing stays missing."""
    f = kernels.heights_to_float(padded, dtype=np.float32)
    for st in steps:
        fn = kernels.PREFILTERS[st.name]
        params = {k: float(v) for k, v in st.params.items()}
        f = fn(f, **params)
    return kernels.float_to_heights(f)


def _shade_tile_parts(
    parts: pd.DataFrame, tile_x: int, tile_y: int, tile_size: int,
    steps, pre_steps, clip_poly: np.ndarray | None, registry: dict,
) -> tuple[bytes, int, int] | None:
    """One destination tile's parts (the non-key columns of
    :data:`UNIFIED_PART_SCHEMA`) → ``(png, shaded_px, n_blocks)``: stitch
    the blocks, place the neighbor strips into the k-px halo (k = 1 +
    prefilter steps), optional height prefilters, Horn + shaders, PNG
    encode.  None when no block of the tile arrived (strips sent past
    the world edge).  Shared by the batch :func:`shade_unified` and the
    streaming twin."""
    is_block = parts["part"] == "B"
    blocks = parts[is_block]
    if blocks.empty:
        return None
    ts, k = tile_size, 1 + len(pre_steps)
    padded = np.full((ts + 2 * k, ts + 2 * k), DEM_HEIGHT_NONE, dtype=np.int16)
    n_blocks = int(is_block.sum())  # lineage: rows consumed
    # overwrite-order dedup: in (by, bx, image_id) order only the
    # LAST block per position is ever visible, so decode just the
    # winners — duplicate-heavy ("land") tiles cost one decode per
    # position no matter how many copies arrived (the skew defense
    # that makes salting unnecessary, measured at a 200× hotspot in
    # SCALE.md; output byte-identical, tested)
    blocks = blocks.sort_values(["by", "bx", "image_id"]).drop_duplicates(
        ["bx", "by"], keep="last"
    )
    for fmt, payload, w, h, bx, by in zip(
        blocks["fmt"], blocks["data"], blocks["w"], blocks["h"],
        blocks["bx"], blocks["by"],
    ):
        block = _decode_block(fmt, payload, int(w))
        y0, x0 = k + int(by) * int(h), k + int(bx) * int(w)
        padded[y0 : y0 + int(h), x0 : x0 + int(w)] = block
    strips = parts[~is_block]
    if not strips.empty:
        # same overwrite-order winner selection per strip position:
        # duplicate edge blocks resolve identically on both sides
        # of the tile boundary
        strips = strips.sort_values(
            ["by", "bx", "image_id"]
        ).drop_duplicates(["part", "bx", "by"], keep="last")
        for part, payload, w, h, bx, by in zip(
            strips["part"], strips["data"], strips["w"], strips["h"],
            strips["bx"], strips["by"],
        ):
            cells = np.frombuffer(payload, dtype="<i2")
            _place_strip(padded, part, cells, int(bx), int(by),
                         int(w), int(h), ts, k)
    if pre_steps:
        padded = apply_prefilters(padded, pre_steps)
    rgba, shaded = shade_padded_block(
        padded, tile_x, tile_y, ts, steps, clip_poly=clip_poly,
        registry=registry,
    )
    return codec.encode_rgba_png(rgba), shaded, n_blocks


def shade_unified(
    parts: DataFrame, tile_size: int, script: str,
    clip_poly: np.ndarray | None = None,
    prefilter: str | None = None,
) -> DataFrame:
    """One grouped task per tile running :func:`_shade_tile_parts`.
    ``parts`` comes from :func:`hillshade_parts` with halo 1 + the
    number of ``prefilter`` steps; groups with no center blocks (strips
    sent past the world edge) produce nothing.  ``prefilter`` is a step
    script over kernels.PREFILTERS (e.g. ``"blur"`` or
    ``"sharpen(amount=1.5)"``); each step consumes one halo ring."""
    steps = pipeline.parse_script(script)
    registry = dict(pipeline.SHADER_REGISTRY)  # snapshot: custom shaders
    # registered on the driver ride the closure to executor processes
    pre_steps = pipeline.parse_script(prefilter) if prefilter else []

    def assemble_pad_shade(pdf: pd.DataFrame) -> pd.DataFrame:
        tile_x = int(pdf["tile_x"].iloc[0])
        tile_y = int(pdf["tile_y"].iloc[0])
        out = _shade_tile_parts(
            pdf, tile_x, tile_y, tile_size, steps, pre_steps, clip_poly,
            registry,
        )
        if out is None:
            return pd.DataFrame(columns=_SHADED_COLUMNS)
        png, shaded, n_blocks = out
        return _shaded_row(tile_x, tile_y, tile_size, png, shaded, n_blocks)

    return parts.groupBy("tile_x", "tile_y").applyInPandas(
        assemble_pad_shade, schema=SHADED_SCHEMA
    )


# ---------------------------------------------------------------------------
# 4. shading (W1-W3 + §2.8 shaders, vectorized per tile)
# ---------------------------------------------------------------------------

SHADED_SCHEMA = (
    "tile_x int, tile_y int, tile_name string, width int, height int, "
    "png binary, shaded_px long, total_px long, n_blocks int"
)
_SHADED_COLUMNS = [c.split()[0] for c in SHADED_SCHEMA.split(", ")]


def _shaded_row(tile_x: int, tile_y: int, ts: int, png: bytes,
                shaded: int, n_blocks: int) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "tile_x": [tile_x],
            "tile_y": [tile_y],
            "tile_name": [_tile_name(0, tile_x, tile_y)],
            "width": [ts],
            "height": [ts],
            "png": [png],
            "shaded_px": [shaded],
            "total_px": [ts * ts],
            "n_blocks": [n_blocks],
        }
    )


#: row-band height for chunked shading: bounds the per-task float32
#: working set (~band·width·4B per temporary ≈ 0.9MB at 1800 wide) so the
#: kernel stays cache-resident and 32 concurrent Python workers don't
#: fight for memory bandwidth (measured: band=128 doubles 32-way
#: throughput vs band=256, 10× vs whole-tile).
SHADE_BAND_ROWS = 128


def shade_padded_block(
    padded: np.ndarray,
    tile_x: int,
    tile_y: int,
    tile_size: int,
    steps,
    water: np.ndarray | None = None,
    clip_poly: np.ndarray | None = None,
    registry: dict | None = None,
) -> tuple[np.ndarray, int]:
    """Numpy core shared by the Spark path and the single-array oracle.

    ``padded`` is the (ts+2, ts+2) int16 block (row 0 = south).  Returns
    (RGBA image in bitmap orientation — row 0 = north, per the Y-flip at
    Hillshading.fs:150-153 — and the shaded-pixel count).  The tile is
    processed in row bands: identical results, bounded temporaries.
    ``water`` (center-sized bool mask) feeds the water shaders when the
    tile came from an XTH source (TileShadeCommand.fs:428-473).
    """
    h = padded.shape[0] - 2
    w = padded.shape[1] - 2
    cpd = cells_per_degree(tile_size, 0)
    min_cell_y = tile_y * tile_size
    out = np.empty((h, w, 4), dtype=np.uint8)
    shaded = 0
    for r0 in range(0, h, SHADE_BAND_ROWS):
        r1 = min(r0 + SHADE_BAND_ROWS, h)
        # float32 end-to-end in the band kernels: int16 heights are exact
        # in f32, slope/aspect precision stays ~1e-7 relative (sub-LSB
        # after the uint8 quantization), and the halved bandwidth is what
        # keeps 32 concurrent workers off the memory wall
        f = kernels.heights_to_float(padded[r0 : r1 + 2, :], dtype=np.float32)
        rows = np.arange(r0, r1, dtype=np.float64) + min_cell_y
        lat_deg = rows / cpd
        grid_w, grid_h = kernels.grid_size_meters(cpd, lat_deg)
        p, q = kernels.horn_pq(
            f,
            grid_w[:, None].astype(np.float32),
            grid_h[:, None].astype(np.float32),
        )
        slope, aspect = kernels.slope_and_aspect(p, q)
        ctx = pipeline.ShadeContext(
            heights=f[1:-1, 1:-1],
            slope=slope,
            aspect=aspect,
            water=None if water is None else water[r0:r1, :],
            heights_are_int16=True,  # straight from the int16 grid
        )
        rgba = pipeline.evaluate_steps(steps, ctx, registry=registry)
        if clip_poly is not None:
            # point-in-polygon raster clip (north-star: "point-in-polygon
            # tests clip rasters to requested geo bounds"): pixels whose
            # cell lon/lat falls outside the polygon go transparent.
            # Runs per band on the same cell-coordinate convention as the
            # geodesic grid above (cell c ↔ degree c/cpd).
            from .geometry import points_in_polygon

            lon = (np.arange(w, dtype=np.float64) + tile_x * tile_size) / cpd
            nrows = r1 - r0
            px = np.broadcast_to(lon, (nrows, w))
            py = np.broadcast_to(lat_deg[:, None], (nrows, w))
            inside = points_in_polygon(px, py, clip_poly[:, 0], clip_poly[:, 1])
            rgba = rgba.copy()
            rgba[..., 3] = np.where(inside, rgba[..., 3], 0)
        shaded += int(np.count_nonzero(rgba[..., 3] > 0))
        out[r0:r1] = rgba
    return out[::-1, :, :], shaded  # Y-flip to bitmap orientation


# ---------------------------------------------------------------------------
# tile-shade: XTH water-bit tiles → fixed pipeline (reference §3.2)
# ---------------------------------------------------------------------------

#: approximation of TileShadeCommand's hardcoded pipeline
#: (solid ∘ ((lambert ⊕darken slope ⊕darken igor) over water) —
#: /root/reference/Demeton/Commands/TileShadeCommand.fs:333-388)
TILE_SHADE_SCRIPT = (
    "solid(color=#ffffff)|+lambert|+slope(compose=darken)"
    "|+igor(compose=darken)|+water|+wateroutline"
)

#: tile-level halo parts: the center ("C") or one of its 8 edge strips,
#: keyed by the destination tile
HALO_PART_SCHEMA = "tile_x int, tile_y int, part string, data binary"


def run_tile_shade(
    spark: SparkSession,
    xth_tiles: DataFrame,
    tile_size: int,
    script: str = TILE_SHADE_SCRIPT,
) -> DataFrame:
    """XTH-packed tiles (heights + water bit) → shaded PNG tiles.

    Input rows: ``(tile_x, tile_y, xth binary)`` — the packed uint16
    encoding of codec.encode_xth.  The packed values ride the same halo
    strip machinery as plain heights (missing-neighbor fill is 0, which
    decodes to missing-with-no-water); decode happens once per padded
    tile at shade time, and the water mask feeds the water/wateroutline
    shader steps.
    """
    steps = pipeline.parse_script(script)
    registry = dict(pipeline.SHADER_REGISTRY)  # snapshot: custom shaders
    # registered on the driver ride the closure to executor processes

    def emit(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # one traversal emits each tile's center AND its 8 one-px strips
        # (a whole tile is one block on every edge of _BLOCK_STRIP_SPEC)
        ts = tile_size
        for pdf in batches:
            out: dict[str, list] = {"tile_x": [], "tile_y": [], "part": [],
                                    "data": []}
            for tx, ty, buf in zip(pdf["tile_x"], pdf["tile_y"], pdf["xth"]):
                packed = np.frombuffer(buf, dtype="<i2").reshape(ts, ts)
                cuts = [((0, 0), "C", packed)] + [
                    ((dx, dy), part, cut(packed, 1))
                    for _on_edge, (dx, dy), part, cut in _BLOCK_STRIP_SPEC
                ]
                for (dx, dy), part, cells in cuts:
                    out["tile_x"].append(int(tx) + dx)
                    out["tile_y"].append(int(ty) + dy)
                    out["part"].append(part)
                    out["data"].append(np.ascontiguousarray(cells).tobytes())
            yield pd.DataFrame(out)

    parts = xth_tiles.mapInPandas(emit, schema=HALO_PART_SCHEMA)

    def pad_and_shade(pdf: pd.DataFrame) -> pd.DataFrame:
        parts_map = dict(zip(pdf["part"], pdf["data"]))
        if "C" not in parts_map:  # strips sent into empty space
            return pd.DataFrame(columns=_SHADED_COLUMNS)
        ts = tile_size
        tile_x = int(pdf["tile_x"].iloc[0])
        tile_y = int(pdf["tile_y"].iloc[0])
        # missing-neighbor fill 0: offset 0 decodes to missing and
        # carries no water bit
        padded_packed = np.zeros((ts + 2, ts + 2), dtype=np.int16)
        for part, data in parts_map.items():
            cells = np.frombuffer(data, dtype="<i2")
            if part == "C":
                padded_packed[1:-1, 1:-1] = cells.reshape(ts, ts)
            else:
                _place_strip(padded_packed, part, cells, 0, 0, ts, ts, ts)
        packed_u = padded_packed.view(np.uint16)
        water_pad = (packed_u >> 15).astype(bool)
        offs = (packed_u & 0x7FFF).astype(np.int32)
        heights = np.where(
            offs == 0, DEM_HEIGHT_NONE, offs + codec._XTH_MIN_HEIGHT
        ).astype(np.int16)
        rgba, shaded = shade_padded_block(
            heights, tile_x, tile_y, ts, steps, water=water_pad[1:-1, 1:-1],
            registry=registry,
        )
        return _shaded_row(tile_x, tile_y, ts,
                           codec.encode_rgba_png(rgba), shaded, 1)

    return parts.groupBy("tile_x", "tile_y").applyInPandas(
        pad_and_shade, schema=SHADED_SCHEMA
    )


# ---------------------------------------------------------------------------
# 5. end-to-end job with resumable checkpoints + metrics
# ---------------------------------------------------------------------------

def clip_cover(clip_polygon) -> tuple[np.ndarray, tuple[int, int, int, int]]:
    """Validate a sequence of (lon, lat) clip vertices; return them as an
    array plus the inclusive tile cover ``(tx0, ty0, tx1, ty1)`` of the
    polygon's bbox (floor/ceil−1 rule, Dem/Funcs.fs:284-298)."""
    clip_poly = np.asarray(clip_polygon, dtype=np.float64)
    # validate before any work is scheduled: a self-intersecting clip
    # polygon would silently mis-clip under the crossing-number rule
    # (PolygonSelfIntersection.fs sweep semantics)
    from .geometry import polygon_self_intersects

    status = polygon_self_intersects(clip_poly)
    if status != "non_intersecting":
        raise ValueError(f"clip_polygon rejected: {status}")
    return clip_poly, (
        int(math.floor(clip_poly[:, 0].min())),
        int(math.floor(clip_poly[:, 1].min())),
        int(math.ceil(clip_poly[:, 0].max())) - 1,
        int(math.ceil(clip_poly[:, 1].max())) - 1,
    )


def run_hillshade(
    spark: SparkSession,
    images: DataFrame,
    tile_size: int,
    script: str = pipeline.DEFAULT_SCRIPT,
    output_dir: str | None = None,
    resume: bool = True,
    clip_polygon=None,
    shade_partitions: int | None = None,
    prefilter: str | None = None,
) -> DataFrame:
    """images table → shaded PNG tiles.

    With ``output_dir`` the job is resumable: completed tile keys are
    read back from the sink (the checkpoint manifest) and anti-joined
    out of the input — re-running after a failure only shades the
    missing tiles (ImportSrtmTilesCommand.fs:110-124 semantics).
    ``clip_polygon`` — sequence of (lon, lat) vertices: tiles outside
    the polygon's bbox are pruned with a Catalyst predicate before the
    shuffle (:func:`clip_cover`) and pixels outside the polygon render
    transparent (per-band vectorized point-in-polygon clip, SURVEY.md
    §2.3 J9).
    ``prefilter`` — height low/high-pass step script (``"blur"``,
    ``"sharpen(amount=…)"``; Roadmap.md filters) applied before the
    Horn gradient; widens the halo exchange by one ring per step.
    """
    clip_poly = None
    if clip_polygon is not None:
        clip_poly, (tx0, ty0, tx1, ty1) = clip_cover(clip_polygon)
    halo = 1 + (len(pipeline.parse_script(prefilter)) if prefilter else 0)
    parts = hillshade_parts(parse_caption(images), tile_size, halo)
    if clip_poly is not None:
        # prune DESTINATION tiles to the polygon's bbox cover.  The
        # filter sits above the block/strip union: it pushes down to the
        # scan on the block arm (the full-data one), while strips donated
        # by just-outside tiles into kept boundary tiles survive — the
        # clipped result stays pixel-identical to clipping the unpruned
        # output.
        parts = parts.where(
            (F.col("tile_x") >= tx0) & (F.col("tile_x") <= tx1)
            & (F.col("tile_y") >= ty0) & (F.col("tile_y") <= ty1)
        )
    if output_dir is not None and resume:
        done = _read_manifest(spark, output_dir)
        if done is not None:
            # anti-join on the DESTINATION tile key, after strip
            # emission: completed tiles still contribute halo strips
            # to incomplete neighbors (dropping them earlier would
            # corrupt resumed edges)
            parts = parts.join(
                F.broadcast(done), on=["tile_x", "tile_y"], how="left_anti"
            )
    # pre-partition the one full-data exchange on the tile key at
    # finer granularity than spark.sql.shuffle.partitions: the shade
    # stage is CPU-bound per TILE, so ~1 tile/task bounds straggler
    # cost to one tile (measured +15% at sf0.1/local[32]).  The
    # following groupBy reuses this hash partitioning — no second
    # exchange.  Callers with a known tile count should pass it.
    n_parts = shade_partitions or spark.sparkContext.defaultParallelism * 4
    parts = parts.repartition(n_parts, "tile_x", "tile_y")
    shaded = shade_unified(
        parts, tile_size, script, clip_poly=clip_poly, prefilter=prefilter,
    )
    if output_dir is not None:
        shaded.write.mode("append").parquet(output_dir)
        return spark.read.parquet(output_dir)
    return shaded


#: read errors that mean "nothing committed yet": no sink directory, or
#: one holding no parquet (only ``_temporary/`` after a crash before the
#: first commit).  Anything else propagates: treating an unreadable sink
#: as empty would re-shade and append every tile.
_EMPTY_SINK_CONDITIONS = ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA")


def _read_manifest(spark: SparkSession, output_dir: str) -> DataFrame | None:
    try:
        return spark.read.parquet(output_dir).select("tile_x", "tile_y").distinct()
    except AnalysisException as e:
        if e.getCondition() in _EMPTY_SINK_CONDITIONS:
            return None
        raise


# ---------------------------------------------------------------------------
# single-array oracle (for the tiled == untiled parity property)
# ---------------------------------------------------------------------------

def shade_world_oracle(
    world: np.ndarray,
    spec: WorldSpec,
    script: str = pipeline.DEFAULT_SCRIPT,
    clip_poly: np.ndarray | None = None,
    prefilter: str | None = None,
) -> np.ndarray:
    """Shade the whole world as ONE merged array (the reference's
    merged-HeightsArray path) and return the bitmap-oriented RGBA image.
    Used to prove the halo exchange reproduces untiled results.
    ``clip_poly`` applies the same point-in-polygon raster clip as the
    distributed path; ``prefilter`` the same height low/high-pass chain.
    """
    steps = pipeline.parse_script(script)
    registry = dict(pipeline.SHADER_REGISTRY)  # same snapshot semantics
    # as the distributed path (oracle runs driver-side, so this is the
    # current registry either way)
    pre_steps = pipeline.parse_script(prefilter) if prefilter else []
    k = 1 + len(pre_steps)
    ts = spec.tile_size
    cpd = cells_per_degree(ts, 0)
    h, w = world.shape
    padded = np.full((h + 2 * k, w + 2 * k), DEM_HEIGHT_NONE, dtype=np.int16)
    padded[k : h + k, k : w + k] = world
    if pre_steps:
        padded = apply_prefilters(padded, pre_steps)
    f = kernels.heights_to_float(padded, dtype=np.float32)  # match engine dtype
    min_cell_y = spec.lat0 * ts
    lat_deg = (np.arange(h, dtype=np.float64) + min_cell_y) / cpd
    grid_w, grid_h = kernels.grid_size_meters(cpd, lat_deg)
    p, q = kernels.horn_pq(
        f, grid_w[:, None].astype(np.float32), grid_h[:, None].astype(np.float32)
    )
    slope, aspect = kernels.slope_and_aspect(p, q)
    ctx = pipeline.ShadeContext(
        heights=f[1:-1, 1:-1], slope=slope, aspect=aspect
    )
    rgba = pipeline.evaluate_steps(steps, ctx, registry=registry)
    if clip_poly is not None:
        from .geometry import points_in_polygon

        lon = (np.arange(w, dtype=np.float64) + spec.lon0 * ts) / cpd
        px = np.broadcast_to(lon, (h, w))
        py = np.broadcast_to(lat_deg[:, None], (h, w))
        inside = points_in_polygon(px, py, clip_poly[:, 0], clip_poly[:, 1])
        rgba = rgba.copy()
        rgba[..., 3] = np.where(inside, rgba[..., 3], 0)
    return rgba[::-1, :, :]

"""Seeded benchmark inputs and the engine-independent references that
check the program's outputs.

Everything here is plain numpy / pyarrow / DuckDB: no Spark session is
needed to build an input or a reference.  The program receives only the
generated inputs (a raster tile-document table, a zone table, a
documents parquet directory)."""

from __future__ import annotations

import json
import os

import numpy as np

# One 4096 x 4096 float64 raster, 64-cell tiles, generator arith-v1
# (values 0..96 with a fixed pattern of nodata = -1 cells).
G = 4096
TILE = 64
NODATA = -1.0
RASTER_META = {"xmin": 0.0, "ymin": 0.0, "xmax": float(G), "ymax": float(G),
               "dx": 1.0, "dy": 1.0, "nodata": NODATA, "dtype": "float64",
               "band_count": 1, "tile": TILE, "generator": "arith-v1"}
GRID = dict(grid_xmin=0.0, grid_ymax=float(G), dx=1.0, dy=1.0,
            grid_nrows=G, grid_ncols=G, tile=TILE, dtype="float64")

# Relative tolerance of the count/sum reference check: the reference
# coverage (kernel.coverage_for_window) is float32, so per-cell values
# carry ~6e-8 relative rounding; min/max must match exactly.
REL_TOL = 1e-6

DEDUP_DOCS = 300_000
DEDUP_TOKENS = 30
DEDUP_VOCAB = 50021
DEDUP_FILES = 8
# The DuckDB oracle runs on the docs with doc_id < DEDUP_ORACLE_DOCS:
# candidate generation and verification are pairwise, so the oracle's
# pairs equal the engine's pairs with both ends in that subset.
DEDUP_ORACLE_DOCS = 15_000


def raster_docs(spark):
    """The raster's interleaved-document table: one raster doc per tile
    whose media span names the tile (io.tiles_from_docs regenerates the
    payload from it)."""
    from pyspark.sql import functions as F

    ntt = G // TILE
    head = "raster:r0 " + json.dumps(RASTER_META)
    return spark.range(0, ntt * ntt, 1, spark.sparkContext.defaultParallelism).select(
        F.concat(F.lit("r0:t"), F.col("id")).alias("doc_id"),
        F.expr(f"array(named_struct('kind','text','text','{head}','media_ref','','offset',0),"
               f" named_struct('kind','media','text','','media_ref',"
               f" concat('raster://r0/band/0/tile/', id div {ntt}, '/', id % {ntt}),"
               f" 'offset',1))").alias("spans"))


def _polygons(rng, centers, radii, verts):
    """Star polygons: vertex angles jittered inside equal sectors, one
    radius per vertex.  Returns (wkt list, bbox array (n, 4))."""
    n = len(centers)
    ang = (np.arange(verts) + rng.uniform(0.05, 0.95, (n, verts))) * (2 * np.pi / verts)
    xs = np.clip(centers[:, :1] + radii * np.cos(ang), 0, G).round(4)
    ys = np.clip(centers[:, 1:] + radii * np.sin(ang), 0, G).round(4)
    wkts = []
    for x, y in zip(xs.tolist(), ys.tolist()):
        pts = ", ".join(f"{a:.4f} {b:.4f}" for a, b in zip(x + x[:1], y + y[:1]))
        wkts.append(f"POLYGON (({pts}))")
    bbox = np.stack([xs.min(1), ys.min(1), xs.max(1), ys.max(1)], axis=1)
    return wkts, bbox


def many_zones(seed: int, n: int):
    """n irregular 12-vertex polygons, radius 2-14 cells, anywhere on
    the grid (bench.py star_zones shape)."""
    rng = np.random.default_rng([seed, 1])
    centers = rng.uniform(16, G - 16, (n, 2))
    radii = rng.uniform(2.0, 14.0, (n, 12))
    wkts, bbox = _polygons(rng, centers, radii, 12)
    return [f"p{i}" for i in range(n)], wkts, bbox


def window_counts(bbox):
    """(pairs, cells): (zone, tile) pairs and window cells implied by
    the zone bboxes on the 64-cell tiling (cells = bbox snapped
    outward to the grid; tiles partition the grid)."""
    c0 = np.floor(bbox[:, 0]).astype(np.int64)
    c1 = np.ceil(bbox[:, 2]).astype(np.int64)
    r0 = G - np.ceil(bbox[:, 3]).astype(np.int64)
    r1 = G - np.floor(bbox[:, 1]).astype(np.int64)
    cells = int(((c1 - c0) * (r1 - r0)).sum())
    # tile ranges as zone_tile_pairs derives them from the real bbox
    tc = np.floor(bbox[:, 2] / TILE - 1e-12).astype(np.int64) - np.floor(bbox[:, 0] / TILE).astype(np.int64) + 1
    tr = np.floor((G - bbox[:, 1]) / TILE - 1e-12).astype(np.int64) - np.floor((G - bbox[:, 3]) / TILE).astype(np.int64) + 1
    return int((tc * tr).sum()), cells


def zonal_reference(wkt: str) -> dict:
    """count/sum/min/max of one zone, computed in this process from
    kernel.coverage_for_window and io.generate_tile (no Spark)."""
    from exactextract_spark.geom import parse_wkt
    from exactextract_spark.io import generate_tile
    from exactextract_spark.kernel import coverage_for_window

    geom = parse_wkt(wkt)
    xmin, ymin, xmax, ymax = geom.bbox
    c0, c1 = int(np.floor(xmin)), int(np.ceil(xmax))
    r0, r1 = G - int(np.ceil(ymax)), G - int(np.floor(ymin))
    cov = coverage_for_window(geom, float(c0), float(G - r0), 1.0, 1.0,
                              r1 - r0, c1 - c0).astype(np.float64)
    val = generate_tile("arith-v1", r0, c0, r1 - r0, c1 - c0)
    ok = (val != NODATA) & (cov > 0)
    v, c = val[ok], cov[ok]
    return {"count": float(c.sum()), "sum": float((c * v).sum()),
            "min": float(v.min()) if v.size else None,
            "max": float(v.max()) if v.size else None}


def check_zone(row: dict, ref: dict) -> str | None:
    """None when an engine row matches its reference, else a message."""
    for k in ("count", "sum"):
        a, b = row[k], ref[k]
        if a is None or abs(a - b) > REL_TOL * max(1.0, abs(b)):
            return f"{row['zone_id']}.{k}: engine {a!r} reference {b!r}"
    for k in ("min", "max"):
        if row[k] != ref[k]:
            return f"{row['zone_id']}.{k}: engine {row[k]!r} reference {ref[k]!r}"
    return None


def dedup_docs(seed: int):
    """300k synthetic 30-token documents with 2 % planted duplicates
    (doc id = 1 mod 50 repeats its predecessor's tokens), as an Arrow
    table.  Token spelling follows bench.py's recipe: two leading
    letters and the code, so token codes spread like natural words."""
    import pyarrow as pa

    rng = np.random.default_rng([seed, 3])
    codes = rng.integers(0, DEDUP_VOCAB, (DEDUP_DOCS, DEDUP_TOKENS))
    dup = np.arange(1, DEDUP_DOCS, 50)
    codes[dup] = codes[dup - 1]
    vocab = np.array([f"{chr(97 + c % 26)}{chr(97 + (c // 26) % 26)}w{c}"
                      for c in range(DEDUP_VOCAB)], dtype=object)
    text = [" ".join(w) for w in vocab[codes].tolist()]
    return pa.table({"doc_id": pa.array(np.arange(DEDUP_DOCS), pa.int64()),
                     "text": pa.array(text, pa.string()),
                     "lang": pa.array(["en"] * DEDUP_DOCS, pa.string()),
                     "source": pa.array(["synth"] * DEDUP_DOCS, pa.string()),
                     "n_chars": pa.array([len(t) for t in text], pa.int32())})


def write_docs(table, out_dir: str, files: int) -> None:
    """The table as `files` parquet files under out_dir/documents.parquet
    (the layout the pipeline operators read)."""
    import pyarrow.parquet as pq

    path = os.path.join(out_dir, "documents.parquet")
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // files)
    for f in range(files):
        pq.write_table(table.slice(f * step, step), os.path.join(path, f"part-{f:02d}.parquet"))


def dedup_reference(docs_dir: str) -> set:
    """Verified pairs (doc_a, doc_b, jaccard) among the documents under
    docs_dir with doc_id < DEDUP_ORACLE_DOCS, from
    minhash_verified_pairs_oracle() on DuckDB."""
    import duckdb

    from exactextract_spark.pipeline.dedup import minhash_verified_pairs_oracle

    con = duckdb.connect()
    try:
        con.execute("SET enable_progress_bar = false")
        glob = os.path.join(docs_dir, "documents.parquet", "*.parquet")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{glob}')"
                    f" WHERE doc_id < {DEDUP_ORACLE_DOCS}")
        rows = con.execute(minhash_verified_pairs_oracle()).fetchall()
    finally:
        con.close()
    return {(int(a), int(b), round(float(j), 12)) for a, b, j in rows}

"""Deterministic synthetic zonal fixture, shared by the Spark engine and
the DuckDB oracle.

Everything is defined by pure int64 arithmetic so that the Spark path
(docs table → spans → zones+tiles → kernel → agg) and a plain ANSI-SQL
oracle produce BIT-IDENTICAL doubles:

- grid: G×G cells, extent (0,0)-(G,G), dx=dy=1, row 0 at top;
- values: val(r,c) = (r*73 + c*131 + ((r*c)%7)*19) % 97, with cells
  where (r*31 + c*17) % 23 == 0 set to the nodata sentinel -1
  (generator "arith-v1" in io.py);
- weights: wgt(r,c) = (r*13 + c*7) % 11 (generator "weight-v1");
- zones: Z axis-aligned rectangles on quarter-cell boundaries (LCG
  formulas below), so every coverage fraction is k/16 — exactly
  representable in float32 AND float64, making Σc, Σcx, Σcx² exact and
  order-independent.  This is what lets the driver's value-hash compare
  Spark vs DuckDB without a float tolerance.

Scale knobs derive from the testdata scale factor (sf directory name).
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from .grid import RasterGrid
from .session import default_parallelism

__all__ = ["SynthConfig", "build_docs", "zone_sql", "cells_sql", "pairs_sql"]

# zone LCG constants (all results < 2^53, exact in int64 and in DuckDB BIGINT)
_AX, _BX = 1103515245, 12345
_AY, _BY = 214013, 2531011
_AW, _BW = 69069, 7
_AH, _BH = 48271, 11
WQ = 96  # max zone extent in quarter-cells (24 cells)
REG_F = 4  # resolution factor of the coarse weight raster (wc0)


@dataclass(frozen=True)
class SynthConfig:
    G: int          # grid cells per side
    Z: int          # number of zones
    tile: int = 64

    @classmethod
    def from_sf_dir(cls, sf_dir: str) -> "SynthConfig":
        m = re.search(r"sf([\d.]+)", sf_dir)
        sf = float(m.group(1)) if m else 0.01
        G = max(64, int(round(2000 * math.sqrt(sf))))
        Z = max(50, int(round(10000 * sf)))
        return cls(G=G, Z=Z)

    @property
    def grid(self) -> RasterGrid:
        return RasterGrid(0.0, 0.0, float(self.G), float(self.G), 1.0, 1.0)

    def grid_dict(self) -> dict:
        return dict(grid_xmin=0.0, grid_ymax=float(self.G), dx=1.0, dy=1.0,
                    grid_nrows=self.G, grid_ncols=self.G, tile=self.tile)

    # quarter-cell zone coords (exact in SQL and Python)
    def zone_exprs(self, k):
        """Returns SQL strings for zx0, zy0, zx1, zy1 given int column k."""
        zx0 = f"(({_AX}*{k} + {_BX}) % {4 * self.G - WQ}) / 4.0"
        zy0 = f"(({_AY}*{k} + {_BY}) % {4 * self.G - WQ}) / 4.0"
        zw = f"(1 + ({_AW}*{k} + {_BW}) % {WQ})"
        zh = f"(1 + ({_AH}*{k} + {_BH}) % {WQ})"
        zx1 = f"({zx0} + {zw} / 4.0)"
        zy1 = f"({zy0} + {zh} / 4.0)"
        return zx0, zy0, zx1, zy1


def _raster_families(cfg: SynthConfig) -> list[dict]:
    """The raster doc families of the interleaved fixture — shared by
    build_docs (Spark side) and docs_spans_sql (DuckDB side) so the two
    generators cannot drift.  wc0 is the same weight generator at 4x
    coarser resolution, anchored at the grid's top-left — exercises
    transparent common-grid handling (coarse cell (rc, cc) covers fine
    cells r//4==rc, c//4==cc)."""
    gc = (cfg.G + REG_F - 1) // REG_F
    return [
        dict(rid="r0", gen="arith-v1", nodata="-1.0"),
        dict(rid="w0", gen="weight-v1", nodata="null"),
        dict(rid="wc0", gen="weight-v1", nodata="null",
             dx=float(REG_F), cells=gc),
        dict(rid="rs0", gen="arith-v1", nodata="-1.0", dtype="int16",
             extra_meta=',"scale":0.5,"offset":10.0,'
                        '"mask_generator":"mod5-v1"'),
        dict(rid="mb0", gen="arith-v1", nodata="-1.0", bands=2),
        dict(rid="i0", gen="arith-v1", nodata="-1.0", dtype="int32"),
    ]


def _raster_head(cfg: SynthConfig, rid: str, gen: str, nodata: str, *,
                 dx: float = 1.0, cells: int | None = None,
                 dtype: str = "float64", bands: int = 1,
                 extra_meta: str = "") -> str:
    """The metadata head-span literal of a raster doc family (rendered
    once in Python, so both generators emit the identical string)."""
    G = cfg.G
    n = cells if cells is not None else G
    ext = float(n) * dx
    meta = (f'{{"xmin":0.0,"ymin":{G - ext},"xmax":{ext},"ymax":{G}.0,'
            f'"dx":{dx},"dy":{dx},"nodata":{nodata},"dtype":"{dtype}",'
            f'"band_count":{bands},"tile":{cfg.tile},"generator":"{gen}"{extra_meta}}}')
    return f"raster:{rid} {meta}"


def _range(spark: SparkSession, n: int) -> DataFrame:
    """spark.range sized to the row count: the default-parallelism
    split (32 partitions per branch × 7 union branches) schedules
    ~200 near-empty tasks per fixture query — pure scheduler overhead
    at bench scale (guide §2.2/§6: fewer, larger partitions).  Fixture
    rows are compute-heavy (decimal WKT rendering ~30µs + bbox parse
    ~35µs per zone doc), so the split targets ~1k rows per partition:
    parallel from a few thousand rows up, single-task below."""
    parts = max(1, min(default_parallelism(spark), -(-n // 1024)))
    return spark.range(0, n, 1, parts)


def build_docs(spark: SparkSession, cfg: SynthConfig) -> DataFrame:
    """The interleaved-document table (FIXTURES.md §1): zone docs with
    WKT text spans + raster docs with media_ref tile spans.  Built with
    pure JVM expressions from spark.range — no driver-side data."""
    G, tile = cfg.G, cfg.tile

    zx0, zy0, zx1, zy1 = cfg.zone_exprs("id")
    wkt = (f"concat('POLYGON ((', {zx0}, ' ', {zy0}, ', ', {zx1}, ' ', {zy0}, ', ', "
           f"{zx1}, ' ', {zy1}, ', ', {zx0}, ' ', {zy1}, ', ', {zx0}, ' ', {zy0}, '))')")
    zdocs = _range(spark, cfg.Z).select(
        F.concat(F.lit("z"), F.col("id")).alias("doc_id"),
        F.expr(
            "array(named_struct('kind','text','text', concat('zone:z', id), 'media_ref','', 'offset', 0),"
            f"      named_struct('kind','text','text', {wkt}, 'media_ref','', 'offset', 1))"
        ).alias("spans"))

    def raster_docs(rid: str, gen: str, nodata: str, *, dx: float = 1.0,
                    cells: int | None = None, dtype: str = "float64",
                    bands: int = 1, extra_meta: str = ""):
        n = cells if cells is not None else G
        ntt = (n + tile - 1) // tile
        head = _raster_head(cfg, rid, gen, nodata, dx=dx, cells=cells,
                            dtype=dtype, bands=bands, extra_meta=extra_meta)
        b = f"(id % {bands})"
        t_id = f"(id div {bands})"
        return _range(spark, ntt * ntt * bands).select(
            F.concat(F.lit(f"{rid}:t"), F.col("id")).alias("doc_id"),
            F.expr(
                f"array(named_struct('kind','text','text','{head}','media_ref','','offset',0),"
                f"      named_struct('kind','text','text',"
                f"        concat('{{\"tile_row\":', {t_id} div {ntt}, ',\"tile_col\":', {t_id} % {ntt}, '}}'),"
                f"        'media_ref','','offset',1),"
                f"      named_struct('kind','media','text','',"
                f"        'media_ref', concat('raster://{rid}/band/', {b}, '/tile/', "
                f"                            {t_id} div {ntt}, '/', {t_id} % {ntt}),"
                f"        'offset',2))"
            ).alias("spans"))

    out = zdocs
    for fam in _raster_families(cfg):
        out = out.unionByName(raster_docs(**fam))
    return out


# ---------------------------------------------------------------------------
# DuckDB oracle SQL builders (no engine code involved)
# ---------------------------------------------------------------------------

def docs_spans_sql(cfg: SynthConfig) -> str:
    """Independent DuckDB regeneration of the interleaved fixture's
    exploded span rows (doc_id, span_idx, kind, text, media_ref,
    offset) — the oracle for the north-rule per-row span-sequence
    equality check.  Doubles render identically in both engines for the
    quarter-aligned coordinates ('3.0', '0.25', ...), and the metadata
    head literals come from the same Python helper (_raster_head) the
    Spark generator uses."""
    # Spark parses the 4.0 literal in zone_exprs as DECIMAL(2,1), so the
    # engine's coordinate strings render at decimal scale 6
    # ('6.250000'); DECIMAL(38,6) reproduces that rendering in DuckDB
    zx0, zy0, zx1, zy1 = (f"CAST(({e}) AS DECIMAL(38,6))"
                          for e in cfg.zone_exprs("k"))
    wkt = (f"'POLYGON ((' || ({zx0}) || ' ' || ({zy0}) || ', ' || ({zx1})"
           f" || ' ' || ({zy0}) || ', ' || ({zx1}) || ' ' || ({zy1})"
           f" || ', ' || ({zx0}) || ' ' || ({zy1}) || ', ' || ({zx0})"
           f" || ' ' || ({zy0}) || '))'")
    ks = f"(SELECT range AS k FROM range({cfg.Z}))"
    parts = [
        f"""SELECT 'z' || k AS doc_id, CAST(0 AS INT) AS span_idx,
       'text' AS kind, 'zone:z' || k AS text, '' AS media_ref,
       CAST(0 AS INT) AS "offset" FROM {ks}""",
        f"""SELECT 'z' || k, CAST(1 AS INT), 'text', {wkt}, '',
       CAST(1 AS INT) FROM {ks}""",
    ]
    for fam in _raster_families(cfg):
        rid, bands = fam["rid"], fam.get("bands", 1)
        n = fam.get("cells", cfg.G)
        ntt = (n + cfg.tile - 1) // cfg.tile
        head = _raster_head(cfg, **fam).replace("'", "''")
        ids = f"(SELECT range AS id FROM range({ntt * ntt * bands}))"
        t = f"(id // {bands})"
        tile_json = (f"'{{\"tile_row\":' || ({t} // {ntt}) ||"
                     f" ',\"tile_col\":' || ({t} % {ntt}) || '}}'")
        media = (f"'raster://{rid}/band/' || (id % {bands}) || '/tile/' ||"
                 f" ({t} // {ntt}) || '/' || ({t} % {ntt})")
        parts += [
            f"SELECT '{rid}:t' || id, CAST(0 AS INT), 'text', '{head}', '',"
            f" CAST(0 AS INT) FROM {ids}",
            f"SELECT '{rid}:t' || id, CAST(1 AS INT), 'text', {tile_json},"
            f" '', CAST(1 AS INT) FROM {ids}",
            f"SELECT '{rid}:t' || id, CAST(2 AS INT), 'media', '', {media},"
            f" CAST(2 AS INT) FROM {ids}",
        ]
    return "\nUNION ALL\n".join(parts)


def build_line_docs(spark: SparkSession, cfg: SynthConfig) -> DataFrame:
    """Linear-geometry zone docs: horizontal polylines at eighth-cell y
    offsets (never on a cell boundary), quarter-aligned x — exact
    per-cell traversal lengths, SQL-expressible."""
    G = cfg.G
    L = max(20, cfg.Z // 2)
    y = f"(((214013*id + 12347) % {4 * G}) * 2 + 1) / 8.0"
    x0 = f"((1103515245*id + 54321) % {4 * G - WQ}) / 4.0"
    x1 = f"({x0} + (1 + (69069*id + 13) % {WQ}) / 4.0)"
    wkt = f"concat('LINESTRING (', {x0}, ' ', {y}, ', ', {x1}, ' ', {y}, ')')"
    zdocs = _range(spark, L).select(
        F.concat(F.lit("l"), F.col("id")).alias("doc_id"),
        F.expr(
            "array(named_struct('kind','text','text', concat('zone:l', id), 'media_ref','', 'offset', 0),"
            f"      named_struct('kind','text','text', {wkt}, 'media_ref','', 'offset', 1))"
        ).alias("spans"))
    return zdocs


def lines_sql(cfg: SynthConfig) -> str:
    G = cfg.G
    L = max(20, cfg.Z // 2)
    y = f"(((214013*k + 12347) % {4 * G}) * 2 + 1) / 8.0"
    x0 = f"((1103515245*k + 54321) % {4 * G - WQ}) / 4.0"
    x1 = f"({x0} + (1 + (69069*k + 13) % {WQ}) / 4.0)"
    return f"""
lines AS (
  SELECT 'l' || k AS zone_id, {y} AS ly, {x0} AS lx0, {x1} AS lx1
  FROM (SELECT range AS k FROM range({L}))
),
{cells_sql(cfg)},
lpairs AS (
  SELECT l.zone_id, c.val,
         LEAST(l.lx1, c.cx1) - GREATEST(l.lx0, c.cx0) AS cov
  FROM lines l
  JOIN cells c
    ON c.cy0 <= l.ly AND l.ly < c.cy1 AND c.cx1 > l.lx0 AND c.cx0 < l.lx1
)"""


def point_exprs(cfg: SynthConfig, k: str):
    """Deterministic query points at 1/64-cell offsets (never on any
    cell/zone boundary).  Same formula in Spark exprs and SQL."""
    G = cfg.G
    px = (f"(CAST((69069*{k} + 11) % {32 * G} AS DOUBLE) / CAST(32 AS DOUBLE)"
          f" + CAST(1 AS DOUBLE) / CAST(64 AS DOUBLE))")
    py = (f"(CAST((214013*{k} + 17) % {32 * G} AS DOUBLE) / CAST(32 AS DOUBLE)"
          f" + CAST(1 AS DOUBLE) / CAST(64 AS DOUBLE))")
    return px, py


def build_points(spark: SparkSession, cfg: SynthConfig) -> DataFrame:
    px, py = point_exprs(cfg, "id")
    return _range(spark, cfg.Z).selectExpr(
        "id AS point_id", f"{px} AS x", f"{py} AS y")


def points_sql(cfg: SynthConfig) -> str:
    px, py = point_exprs(cfg, "k")
    return f"""
points AS (
  SELECT k AS point_id, {px} AS x, {py} AS y
  FROM (SELECT range AS k FROM range({cfg.Z}))
)"""


def cells_sql(cfg: SynthConfig) -> str:
    G = cfg.G
    return f"""
cells AS (
  SELECT r, c,
         CASE WHEN ((r*31 + c*17) % 23) = 0 THEN NULL
              ELSE CAST((r*73 + c*131 + ((r*c)%7)*19) % 97 AS DOUBLE) END AS val,
         CAST((r*13 + c*7) % 11 AS DOUBLE) AS wgt,
         CAST(c AS DOUBLE) AS cx0, CAST(c+1 AS DOUBLE) AS cx1,
         CAST({G}-r-1 AS DOUBLE) AS cy0, CAST({G}-r AS DOUBLE) AS cy1,
         r*{G}+c AS cell_id
  FROM (SELECT i // {G} AS r, i % {G} AS c
        FROM (SELECT range AS i FROM range({G}*{G})))
)"""


def zone_sql(cfg: SynthConfig) -> str:
    zx0, zy0, zx1, zy1 = cfg.zone_exprs("k")
    return f"""
zones AS (
  SELECT 'z' || k AS zone_id, k,
         {zx0} AS zx0, {zy0} AS zy0, {zx1} AS zx1, {zy1} AS zy1
  FROM (SELECT range AS k FROM range({cfg.Z}))
)"""


def pairs_sql(cfg: SynthConfig) -> str:
    """Zone × cell pairs with exact coverage fraction (closed-form
    rectangle overlap; equals the kernel's float32 result exactly
    because all fractions are multiples of 1/16)."""
    return f"""
{zone_sql(cfg)},
{cells_sql(cfg)},
pairs AS (
  SELECT z.zone_id, z.k, c.val, c.wgt, c.cell_id, c.r, c.c,
         (LEAST(z.zx1, c.cx1) - GREATEST(z.zx0, c.cx0))
       * (LEAST(z.zy1, c.cy1) - GREATEST(z.zy0, c.cy0)) AS cov
  FROM zones z
  JOIN cells c
    ON c.cx1 > z.zx0 AND c.cx0 < z.zx1 AND c.cy1 > z.zy0 AND c.cy0 < z.zy1
)"""

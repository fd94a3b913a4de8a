"""Interleaved-document table I/O.

The engine's primary input (BASELINE.json input_hint) is an
Iceberg/parquet table of interleaved text+media documents:

    docs(doc_id: string,
         spans: array<struct<kind:string, text:string,
                             media_ref:string, offset:int>>)

Two document kinds (FIXTURES.md §1):

- zone docs:   span[0].text = "zone:{zone_id}", span[1].text = WKT,
               further text spans = "k=v" properties.
- raster docs: span[0].text = "raster:{raster_id} {grid-meta JSON}",
               then per-tile a text span (tile JSON) and a media span
               whose media_ref is "raster://{rid}/band/{b}/tile/{tr}/{tc}".

Tile payloads are NOT stored in the table: they are materialized
deterministically from the media_ref (seeded-hash / arithmetic
generators below), so the table stays pure metadata + text.  This file
keeps every transformation in JVM-side DataFrame expressions except the
payload generator itself (Arrow-batched mapInPandas).

Span-sequence equality (kind, text, media_ref, order) is preserved:
``spans_roundtrip`` re-emits the spans of every parsed doc for
verification against the source.

The reference analogs are the pluggable FeatureSource / RasterSource
iterators (/root/reference/src/feature_source.h,
/root/reference/python/src/exactextract/raster.py:25-362).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F, types as T

__all__ = [
    "SPAN_SCHEMA", "DOCS_SCHEMA", "GRID_META_SCHEMA",
    "read_docs", "zones_from_docs", "raster_meta_from_docs", "tiles_from_docs",
    "decode_tile", "decode_value_tile", "decode_defined_tiles",
    "tile_payload_columns", "arrow_batch", "encode_tile", "spans_roundtrip",
]

SPAN_SCHEMA = T.StructType([
    T.StructField("kind", T.StringType()),
    T.StructField("text", T.StringType()),
    T.StructField("media_ref", T.StringType()),
    T.StructField("offset", T.IntegerType()),
])
DOCS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("spans", T.ArrayType(SPAN_SCHEMA)),
])

# grid metadata JSON carried in a raster doc's first span
GRID_META_SCHEMA = T.StructType([
    T.StructField("xmin", T.DoubleType()),
    T.StructField("ymin", T.DoubleType()),
    T.StructField("xmax", T.DoubleType()),
    T.StructField("ymax", T.DoubleType()),
    T.StructField("dx", T.DoubleType()),
    T.StructField("dy", T.DoubleType()),
    T.StructField("nodata", T.DoubleType()),
    T.StructField("dtype", T.StringType()),
    T.StructField("band_count", T.IntegerType()),
    T.StructField("tile", T.IntegerType()),
    T.StructField("generator", T.StringType()),
    # on-read affine transform value = raw*scale + offset (reference
    # python raster.py:102-127 scale_and_offset) and an optional 0/1
    # validity mask band (src/raster.h:108-127)
    T.StructField("scale", T.DoubleType()),
    T.StructField("offset", T.DoubleType()),
    T.StructField("mask_generator", T.StringType()),
])

_MEDIA_REF_RE = r"raster://([^/]+)/band/(\d+)/tile/(\d+)/(\d+)"


def decode_tile(buf: bytes, dtype: str, nrows: int, ncols: int) -> np.ndarray:
    return np.frombuffer(buf, dtype=np.dtype(dtype)).reshape(nrows, ncols)


def decode_value_tile(buf: bytes, dtype: str, nrows: int, ncols: int, *,
                      nodata: float | None = None, scale: float = 1.0,
                      offset: float = 0.0,
                      mask_buf: bytes | None = None) -> np.ndarray:
    """Decode a tile applying the reference's on-read semantics
    (python raster.py:102-127; src/raster.h:108-127): nodata and the
    0/1 mask band are evaluated on the RAW values, then
    value = raw*scale + offset.  When any transform applies the result
    is float64 with undefined cells as NaN (downstream nodata handling
    then reduces to the NaN check); otherwise the raw array is returned
    unchanged (zero-copy)."""
    raw = decode_tile(buf, dtype, nrows, ncols)
    transform = scale != 1.0 or offset != 0.0 or mask_buf is not None
    if not transform:
        return raw
    vals = raw.astype(np.float64) * scale + offset
    undef = np.zeros(raw.shape, dtype=bool)
    if nodata is not None:
        undef |= raw == nodata
    undef |= raw != raw  # NaN in the raw data
    if mask_buf is not None:
        undef |= decode_tile(mask_buf, "uint8", nrows, ncols) == 0
    if undef.any():
        vals[undef] = np.nan
    return vals


_DECODE_COLS = ("nodata", "scale", "offset", "mask_values")


def tile_payload_columns(tiles: DataFrame) -> list[str]:
    """The payload columns of a tile table: ``values``, ``dtype`` and
    whichever of the on-read decode columns (``nodata``, ``scale``,
    ``offset``, ``mask_values``) it carries."""
    return ["values", "dtype", *(c for c in _DECODE_COLS if c in tiles.columns)]


def decode_defined_tiles(batch: pa.RecordBatch, values: str = "values",
                         mask: str = "mask_values") -> list[np.ndarray]:
    """Every tile of an Arrow batch of tile rows (``nrows``, ``ncols``
    and the :func:`tile_payload_columns`) as float64 with each
    undefined cell NaN: the raw nodata sentinel, a raw NaN, or mask 0,
    with scale and offset applied — :func:`decode_value_tile`, whose
    untransformed path is widened and sentinel-masked here.  NULL
    nodata / scale / offset / mask read as none / 1 / 0 / no mask.
    ``values`` and ``mask`` name the payload pair to decode."""
    names, n = batch.schema.names, batch.num_rows

    def num(c, null):
        if c not in names:
            return np.full(n, null)
        return batch.column(c).fill_null(null).to_numpy()

    nd, sc, of = num("nodata", np.nan), num("scale", 1.0), num("offset", 0.0)
    mk = batch.column(mask) if mask in names else None
    buf, dtypes = batch.column(values), batch.column("dtype").to_pylist()
    nr, nc = batch.column("nrows").to_numpy(), batch.column("ncols").to_numpy()
    out = []
    for j in range(n):
        m = mk[j].as_buffer() if mk is not None and mk[j].is_valid else None
        nodata = None if np.isnan(nd[j]) else float(nd[j])
        v = decode_value_tile(buf[j].as_buffer(), dtypes[j], int(nr[j]),
                              int(nc[j]), nodata=nodata, scale=float(sc[j]),
                              offset=float(of[j]), mask_buf=m)
        if sc[j] == 1.0 and of[j] == 0.0 and m is None:
            raw, v = v, v.astype(np.float64)
            if nodata is not None:
                v[raw == nodata] = np.nan
        out.append(v)
    return out


def arrow_batch(schema: T.StructType, cols: dict) -> pa.RecordBatch:
    """One Arrow batch of the Spark ``schema`` from ``cols`` (field name
    → numpy array, Arrow array or sequence), each cast to its field's
    type.  A NaN in a float numpy column is written as NULL, for float
    and integer fields alike: the operators' outputs mark undefined
    values (empty windows, missing corners) as SQL NULL, and Arrow would
    keep the NaN."""
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = to_arrow_schema(schema)
    arrays = []
    for f in schema:
        v = cols[f.name]
        if isinstance(v, pa.Array):
            arrays.append(v.cast(f.type))
            continue
        null = None
        if isinstance(v, np.ndarray) and v.dtype.kind == "f":
            null = np.isnan(v)
            if pa.types.is_integer(f.type):
                v = np.where(null, 0, v).astype(np.int64)
            if not null.any():
                null = None
        arrays.append(pa.array(v, type=f.type, mask=null))
    return pa.RecordBatch.from_arrays(arrays, schema=schema)


def encode_tile(arr: np.ndarray) -> bytes:
    return np.ascontiguousarray(arr).tobytes()


def read_docs(spark, source: str) -> DataFrame:
    """Read the interleaved-document table (doc_id, spans) from either a
    catalog table — e.g. an Iceberg table name like ``lake.db.docs``
    when an Iceberg catalog is configured on the session — or a file
    path (parquet).  Identifiers without a path separator resolve
    through the catalog first; anything else (or a failed lookup) reads
    as parquet.  The schema is validated so a wrong source fails loudly
    rather than downstream."""
    df = None
    if "/" not in source and not source.endswith(".parquet"):
        try:
            df = spark.table(source)
        except Exception:
            df = None
    if df is None:
        df = spark.read.parquet(source)
    missing = {"doc_id", "spans"} - set(df.columns)
    if missing:
        raise ValueError(f"{source!r} is not an interleaved-document table: "
                         f"missing columns {sorted(missing)}")
    return df


def zones_from_docs(docs: DataFrame) -> DataFrame:
    """zone docs -> zones(zone_id, geometry, props).  Pure JVM exprs;
    bbox is attached later by the extract planner (WKT parse)."""
    z = docs.where(F.col("spans")[0]["text"].startswith("zone:"))
    props = F.expr(
        "map_from_entries(transform("
        "  filter(slice(spans, 3, size(spans)), s -> s.kind = 'text' AND instr(s.text, '=') > 0),"
        # split limit 2: a property value may itself contain '='
        # (e.g. 'url=a=b' must yield value 'a=b', not 'a')
        "  s -> struct(split(s.text, '=', 2)[0] AS key, split(s.text, '=', 2)[1] AS value)))"
    )
    return z.select(
        F.substring(F.col("spans")[0]["text"], 6, 2 ** 30).alias("zone_id"),
        F.col("spans")[1]["text"].alias("geometry"),
        props.alias("props"),
    )


def raster_meta_from_docs(docs: DataFrame) -> DataFrame:
    """raster docs -> one row per (raster_id) with parsed grid metadata."""
    r = docs.where(F.col("spans")[0]["text"].startswith("raster:"))
    head = F.col("spans")[0]["text"]
    rid = F.regexp_extract(head, r"^raster:(\S+)", 1)
    meta_json = F.expr("substring(spans[0].text, instr(spans[0].text, '{'))")
    return (r.select(rid.alias("raster_id"),
                     F.from_json(meta_json, GRID_META_SCHEMA).alias("meta"))
             .select("raster_id", "meta.*")
             .dropDuplicates(["raster_id"]))


def tiles_from_docs(docs: DataFrame, raster_id: str, meta_row) -> DataFrame:
    """raster docs -> tile table for one raster, payloads materialized
    by the named deterministic generator.

    Output: (raster_id, band, tile_row, tile_col, row0, col0, nrows,
    ncols, values binary) + grid constants as literal columns.
    The reference analog is RasterSource.read_box windowed reads
    (raster_source.h:21-56) — here a tile is one windowed block."""
    m = meta_row
    tile = int(m["tile"])
    g_nrows = int(round((m["ymax"] - m["ymin"]) / m["dy"]))
    g_ncols = int(round((m["xmax"] - m["xmin"]) / m["dx"]))

    r = docs.where(F.col("spans")[0]["text"].startswith(f"raster:{raster_id} ") |
                   (F.col("spans")[0]["text"] == f"raster:{raster_id}"))
    media = (r.select(F.explode("spans").alias("s"))
              .where((F.col("s.kind") == "media") & (F.col("s.media_ref") != ""))
              .select(F.col("s.media_ref").alias("media_ref")))
    t = media.select(
        F.regexp_extract("media_ref", _MEDIA_REF_RE, 1).alias("rid"),
        F.regexp_extract("media_ref", _MEDIA_REF_RE, 2).cast("int").alias("band"),
        F.regexp_extract("media_ref", _MEDIA_REF_RE, 3).cast("int").alias("tile_row"),
        F.regexp_extract("media_ref", _MEDIA_REF_RE, 4).cast("int").alias("tile_col"),
    ).where(F.col("rid") == raster_id).drop("rid")

    t = (t.withColumn("row0", F.col("tile_row") * tile)
          .withColumn("col0", F.col("tile_col") * tile)
          .withColumn("nrows", F.least(F.lit(tile), F.lit(g_nrows) - F.col("row0")))
          .withColumn("ncols", F.least(F.lit(tile), F.lit(g_ncols) - F.col("col0"))))

    gen = m["generator"] or "hash-v1"
    dtype = m["dtype"] or "float64"
    mask_gen = m.get("mask_generator")

    def _materialize(batches):
        import pandas as pd
        for pdf in batches:
            payloads = []
            masks = []
            for row0, col0, nr, nc, band in zip(pdf["row0"], pdf["col0"],
                                                pdf["nrows"], pdf["ncols"], pdf["band"]):
                arr = generate_tile(gen, int(row0), int(col0), int(nr), int(nc),
                                    band=int(band))
                payloads.append(encode_tile(arr.astype(np.dtype(dtype))))
                if mask_gen:
                    masks.append(encode_tile(
                        generate_mask(mask_gen, int(row0), int(col0), int(nr), int(nc))))
            out = pdf.copy()
            out["values"] = payloads
            if mask_gen:
                out["mask_values"] = masks
            yield out

    fields = t.schema.fields + [T.StructField("values", T.BinaryType())]
    if mask_gen:
        fields.append(T.StructField("mask_values", T.BinaryType()))
    t = t.mapInPandas(_materialize, schema=T.StructType(fields))
    if m.get("scale") is not None or m.get("offset") is not None:
        t = t.withColumn("scale", F.lit(float(m.get("scale") or 1.0))) \
             .withColumn("offset", F.lit(float(m.get("offset") or 0.0)))
    return (t.withColumn("raster_id", F.lit(raster_id))
             .withColumn("grid_xmin", F.lit(float(m["xmin"])))
             .withColumn("grid_ymax", F.lit(float(m["ymax"])))
             .withColumn("dx", F.lit(float(m["dx"])))
             .withColumn("dy", F.lit(float(m["dy"])))
             .withColumn("grid_nrows", F.lit(g_nrows))
             .withColumn("grid_ncols", F.lit(g_ncols))
             .withColumn("dtype", F.lit(dtype))
             .withColumn("nodata", F.lit(None if m["nodata"] is None else float(m["nodata"])).cast("double")))


# ---------------------------------------------------------------------------
# Deterministic tile generators (FIXTURES.md §1: payloads are regenerated
# from the media_ref; no external data).  All integer arithmetic so that
# a SQL oracle can reproduce the same values exactly.
# ---------------------------------------------------------------------------

def generate_tile(gen: str, row0: int, col0: int, nrows: int, ncols: int,
                  band: int = 0) -> np.ndarray:
    r = np.arange(row0, row0 + nrows, dtype=np.int64)[:, None]
    c = np.arange(col0, col0 + ncols, dtype=np.int64)[None, :]
    if gen == "arith-v1":
        v = (r * 73 + c * 131 + ((r * c) % 7) * 19 + band * 29) % 97
        v = v.astype(np.float64)
        v[((r * 31 + c * 17) % 23) == 0] = -1.0  # nodata sentinel
        return v
    if gen == "weight-v1":
        return ((r * 13 + c * 7) % 11).astype(np.float64)
    if gen == "hash-v1":
        # splitmix-style integer hash; matches nothing external, used for
        # scale benches where no oracle is needed
        h = (r * 2654435761 + c * 40503) & 0x7FFFFFFF
        h = (h ^ (h >> 13)) * 1274126177 & 0x7FFFFFFF
        return ((h ^ (h >> 16)) % 10000).astype(np.float64) / 100.0
    raise ValueError(f"unknown tile generator: {gen!r}")


def generate_mask(gen: str, row0: int, col0: int, nrows: int, ncols: int) -> np.ndarray:
    """Deterministic 0/1 validity mask band (uint8)."""
    r = np.arange(row0, row0 + nrows, dtype=np.int64)[:, None]
    c = np.arange(col0, col0 + ncols, dtype=np.int64)[None, :]
    if gen == "mod5-v1":
        return (((r + c) % 5) != 0).astype(np.uint8)
    raise ValueError(f"unknown mask generator: {gen!r}")


def tiles_from_array(spark, arr: np.ndarray, *, xmin: float = 0.0, ymax: float | None = None,
                     dx: float = 1.0, dy: float = 1.0, nodata: float | None = None,
                     tile: int = 64, raster_id: str = "mem", band: int = 0,
                     scale: float | None = None, offset: float | None = None,
                     mask: np.ndarray | None = None) -> DataFrame:
    """Build a tile table from an in-memory numpy raster — the analog of
    the reference's NumPyRasterSource
    (/root/reference/python/src/exactextract/raster.py:135-200).
    Used by tests and small in-memory workflows."""
    from pyspark.sql import Row

    nr, nc = arr.shape
    if ymax is None:
        ymax = float(nr) * dy
    with_transform = scale is not None or offset is not None
    rows = []
    for tr in range((nr + tile - 1) // tile):
        for tc in range((nc + tile - 1) // tile):
            r0, c0 = tr * tile, tc * tile
            block = np.ascontiguousarray(arr[r0:min(r0 + tile, nr), c0:min(c0 + tile, nc)])
            extra = {}
            if with_transform:
                extra = {"scale": float(scale if scale is not None else 1.0),
                         "offset": float(offset if offset is not None else 0.0)}
            if mask is not None:
                mblock = np.ascontiguousarray(
                    mask[r0:min(r0 + tile, nr), c0:min(c0 + tile, nc)].astype(np.uint8))
                extra["mask_values"] = bytearray(encode_tile(mblock))
            rows.append(Row(
                raster_id=raster_id, band=band, tile_row=tr, tile_col=tc,
                row0=r0, col0=c0, nrows=block.shape[0], ncols=block.shape[1],
                values=bytearray(encode_tile(block)),
                grid_xmin=float(xmin), grid_ymax=float(ymax),
                dx=float(dx), dy=float(dy), grid_nrows=nr, grid_ncols=nc,
                dtype=str(arr.dtype), nodata=None if nodata is None else float(nodata),
                **extra))
    fields = [
        T.StructField("raster_id", T.StringType()), T.StructField("band", T.IntegerType()),
        T.StructField("tile_row", T.IntegerType()), T.StructField("tile_col", T.IntegerType()),
        T.StructField("row0", T.IntegerType()), T.StructField("col0", T.IntegerType()),
        T.StructField("nrows", T.IntegerType()), T.StructField("ncols", T.IntegerType()),
        T.StructField("values", T.BinaryType()),
        T.StructField("grid_xmin", T.DoubleType()), T.StructField("grid_ymax", T.DoubleType()),
        T.StructField("dx", T.DoubleType()), T.StructField("dy", T.DoubleType()),
        T.StructField("grid_nrows", T.IntegerType()), T.StructField("grid_ncols", T.IntegerType()),
        T.StructField("dtype", T.StringType()), T.StructField("nodata", T.DoubleType()),
    ]
    if with_transform:
        fields += [T.StructField("scale", T.DoubleType()),
                   T.StructField("offset", T.DoubleType())]
    if mask is not None:
        fields.append(T.StructField("mask_values", T.BinaryType()))
    return spark.createDataFrame(rows, schema=T.StructType(fields))


def spans_roundtrip(docs: DataFrame) -> DataFrame:
    """Re-emit (doc_id, kind, text, media_ref, offset) in span order for
    the span-sequence-equality invariant (BASELINE.json input_hint)."""
    return (docs.select("doc_id", F.posexplode("spans").alias("pos", "s"))
                .select("doc_id", F.col("pos").cast("int").alias("pos"),
                        "s.kind", "s.text", "s.media_ref", "s.offset"))


def _geojson_geom_to_wkt(geom: dict) -> str:
    """GeoJSON geometry dict → WKT (Polygon/MultiPolygon/LineString/
    MultiLineString/GeometryCollection — the geometry types the engine
    kernel accepts; reference vector sources expose the same through
    GDAL/fiona)."""
    t = geom["type"]

    def ring(cs):
        return "(" + ", ".join(f"{float(x):.17g} {float(y):.17g}"
                               for x, y, *_ in cs) + ")"

    if t == "Polygon":
        return "POLYGON (" + ", ".join(ring(r) for r in geom["coordinates"]) + ")"
    if t == "MultiPolygon":
        return "MULTIPOLYGON (" + ", ".join(
            "(" + ", ".join(ring(r) for r in poly) + ")"
            for poly in geom["coordinates"]) + ")"
    if t == "LineString":
        return "LINESTRING " + ring(geom["coordinates"])
    if t == "MultiLineString":
        return "MULTILINESTRING (" + ", ".join(
            ring(p) for p in geom["coordinates"]) + ")"
    if t == "GeometryCollection":
        return "GEOMETRYCOLLECTION (" + ", ".join(
            _geojson_geom_to_wkt(g) for g in geom["geometries"]) + ")"
    raise ValueError(f"unsupported GeoJSON geometry type: {t}")


def zones_from_geojson(spark, source, *, id_property: str | None = None) -> DataFrame:
    """Zones table from GeoJSON — the reference's primary vector input
    shape (python feature.py GeoJSONishFeature; exact_extract accepts
    GeoJSON files/dicts via fiona/GDAL).

    source:
    - a plain Python FeatureCollection dict (driver-side convenience
      for small zone sets), or
    - a path: ``.jsonl``/``.ndjson`` (one Feature per line) parses
      LINE-PARALLEL — the scale path for big zone sets; anything else
      is read whole-file (one task per file) and may be a
      FeatureCollection or a single Feature.

    Geometry arrays have heterogeneous nesting across geometry types
    (Polygon = 3 levels, MultiPolygon = 4), which breaks Spark JSON
    schema inference — so the text is parsed in an Arrow-batched
    kernel instead.  Properties are carried as map<string,string>
    ``props`` like zones_from_docs.
    id_property: feature property to use as zone_id (default: the
    feature's "id" member, else a generated ordinal)."""
    import json as _json

    import pandas as pd
    from pyspark.sql import types as T

    def _feature_row(d: dict, fallback_id):
        props = {k: str(v) for k, v in
                 (d.get("properties") or {}).items() if v is not None}
        zid = props.get(id_property) if id_property is not None else d.get("id")
        if zid is None:
            zid = str(fallback_id)
        return str(zid), _geojson_geom_to_wkt(d["geometry"]), props

    if isinstance(source, dict):
        feats = source["features"] if source.get("type") == "FeatureCollection" \
            else [source]
        rows = [_feature_row(f, i) for i, f in enumerate(feats)]
        return spark.createDataFrame(
            rows, "zone_id string, geometry string, props map<string,string>")

    line_mode = str(source).endswith((".jsonl", ".ndjson"))
    txt = spark.read.text(str(source), wholetext=not line_mode)
    txt = txt.select(F.monotonically_increasing_id().alias("_ord"), "value")

    out_schema = T.StructType([
        T.StructField("zone_id", T.StringType()),
        T.StructField("geometry", T.StringType()),
        T.StructField("props", T.MapType(T.StringType(), T.StringType())),
    ])

    def conv(batches):
        for pdf in batches:
            zids, wkts, props_col = [], [], []
            for ordn, text in zip(pdf["_ord"], pdf["value"]):
                text = text.strip()
                if not text:
                    continue
                try:
                    d = _json.loads(text)
                except _json.JSONDecodeError as e:
                    mode = ("line-parallel (.jsonl/.ndjson: one complete "
                            "JSON document per line)" if line_mode
                            else "whole-file")
                    raise ValueError(
                        f"GeoJSON parse error in {mode} mode at input "
                        f"record {int(ordn)}: {e}. A multi-line "
                        "FeatureCollection must use a .geojson/.json "
                        "extension; a .jsonl/.ndjson file must hold one "
                        f"complete JSON document per line. Offending text "
                        f"starts: {text[:120]!r}") from e
                if d.get("type") == "FeatureCollection":
                    feats = [(f"{ordn}_{i}", f)
                             for i, f in enumerate(d["features"])]
                else:
                    feats = [(str(ordn), d)]
                for fid, f in feats:
                    z, w, pr = _feature_row(f, fid)
                    zids.append(z)
                    wkts.append(w)
                    props_col.append(pr)
            yield pd.DataFrame({"zone_id": zids, "geometry": wkts,
                                "props": props_col})

    return txt.mapInPandas(conv, schema=out_schema)


def _wkt_to_geojson_geom(wkt: str, g) -> dict:
    """WKT → GeoJSON geometry dict (inverse of _geojson_geom_to_wkt;
    covers the engine's geometry surface); ``g`` is the parsed
    Geometry of ``wkt``."""
    tag = wkt.lstrip().split("(", 1)[0].strip().upper()
    rings = [[[float(x), float(y)] for x, y in r] for r in g.rings]
    if g.kind == "linear":
        if tag == "LINESTRING" and len(rings) == 1:
            return {"type": "LineString", "coordinates": rings[0]}
        return {"type": "MultiLineString", "coordinates": rings}
    # areal: group shells (positive signed area after the parser's
    # normalization) with their following holes
    from .geom import ring_signed_area
    import numpy as _np

    polys: list[list] = []
    for r, coords in zip(g.rings, rings):
        if ring_signed_area(_np.asarray(r)) >= 0 or not polys:
            polys.append([coords])
        else:
            polys[-1].append(coords)
    if tag == "POLYGON" and len(polys) == 1:
        return {"type": "Polygon", "coordinates": polys[0]}
    return {"type": "MultiPolygon", "coordinates": polys}


def write_geojson(df: DataFrame, path: str, *, geometry_col: str = "geometry",
                  id_col: str = "zone_id") -> None:
    """Write results as newline-delimited GeoJSON Features (one Feature
    per line, the standard big-data GeoJSON interchange; every line is
    a complete Feature so the output stays splittable).  The reference's
    GeoJSON writer analog (python writer.py JSONWriter).

    All non-geometry columns become Feature properties; rows without a
    geometry column still write (geometry: null), like the reference
    writing every feature."""
    import json as _json
    import math as _math

    import pandas as pd

    cols = df.columns
    has_geom = geometry_col in cols

    def conv_value(v):
        # numpy → JSON-safe: arrays BEFORE scalars (every ndarray also
        # has .item, which raises for size != 1)
        if isinstance(v, np.ndarray):
            return v.tolist()
        if hasattr(v, "item"):
            v = v.item()
        if isinstance(v, float) and _math.isnan(v):
            return None
        return v

    def to_feature(batches):
        from .geom import parse_wkt_batch

        for pdf in batches:
            out = []
            # one batch parse per Arrow batch, not one per row
            za = parse_wkt_batch(pdf[geometry_col].tolist()) if has_geom else None
            for i, rec in enumerate(pdf.to_dict("records")):
                geom = None
                if has_geom and rec.get(geometry_col):
                    wkt = rec.pop(geometry_col)
                    geom = _wkt_to_geojson_geom(wkt, za.geometry(i))
                elif has_geom:
                    rec.pop(geometry_col, None)
                fid = conv_value(rec.get(id_col))
                props = {k: conv_value(v) for k, v in rec.items()}
                out.append(_json.dumps(
                    {"type": "Feature", "id": fid, "geometry": geom,
                     "properties": props}))
            yield pd.DataFrame({"value": out})

    df.mapInPandas(to_feature, schema="value string") \
        .write.mode("overwrite").text(path)

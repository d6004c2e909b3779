"""Span decoder: interleaved documents → typed entity DataFrames.

The reference gets pre-parsed entities from libosmium callbacks
(tabular.py:263,279,308); this engine's scan is a parquet/Iceberg read
of the documents table followed by a *pure-Column* decode projection —
`filter`/`transform`/`map_from_entries` higher-order functions, fully
inside Catalyst/codegen.  The only Python crossing is the vectorized
WKB-point hex decoder (numpy frombuffer over a whole Arrow batch).

``entities_table`` is the one decoder: nodes, ways, way refs and
relation members are ``*_from_entities`` projections of it.

Loss-free contract: ``reencode_spans`` reconstructs the span sequence
from ``entities_table``'s columns; per-row equality with the original
array (kind, text, media_ref, order) is the input_hint invariant,
tested in tests/test_synth_decode.py.
"""

from __future__ import annotations

import binascii

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


#: When True (default), trust that span arrays arrive in offset order —
#: the input_hint guarantees offsets are strictly increasing and
#: parquet/Iceberg preserve array element order, so re-sorting is
#: redundant.  The comparator-lambda sort is interpreted (not codegen)
#: and costs ~25% of total decode time at scale; flip this to False for
#: producers that shuffle spans.  Nothing audits the assumption yet: an
#: out-of-order input decodes without error.
ASSUME_SPANS_SORTED = True


def _spans_sorted():
    """Offset-order restoring sort (identity under ASSUME_SPANS_SORTED)."""
    spans = F.col("spans")
    if ASSUME_SPANS_SORTED:
        return spans
    return F.array_sort(
        spans,
        lambda a, b: F.when(a.offset < b.offset, -1)
        .when(a.offset > b.offset, 1)
        .otherwise(0),
    )


def with_entity_meta(docs: DataFrame) -> DataFrame:
    """Add src ('node'|'way'|'rel'), orig_id (long), tags (map)."""
    spans = _spans_sorted()
    tag_spans = F.filter(spans, lambda s: s.kind == F.lit("tag"))

    def tag_entry(s):
        # split on the FIRST '=' only (values may contain '=').  One
        # instr + two substrs — the split_part form allocated two split
        # arrays per tag, measurable allocation pressure at 10^12 docs.
        pos = F.instr(s.text, "=")
        return F.struct(
            F.when(pos == 0, s.text)
            .otherwise(F.substr(s.text, F.lit(1), pos - 1))
            .alias("key"),
            F.when(pos == 0, F.lit(""))
            .otherwise(F.substr(s.text, pos + 1, F.length(s.text)))
            .alias("value"),
        )

    tags = F.map_from_entries(F.transform(tag_spans, tag_entry))
    return docs.select(
        "*",
        F.split_part("doc_id", F.lit("/"), F.lit(1)).alias("src"),
        F.split_part("doc_id", F.lit("/"), F.lit(2)).cast("long").alias("orig_id"),
        tags.alias("tags"),
    )


_UDF_CACHE = {}


def wkb_point_decode(col):
    """Vectorized WKB POINT (little-endian) hex → struct<lon,lat>.  One
    unhexlify over the concatenated batch, zero per-row Python; a
    pure-Column conv()-based decoder measured 1.4-4× slower at every
    width tried (OPTIMIZATION_r06.md).  (pandas_udf is built lazily:
    pyspark 4 needs an active session to parse the DDL return type.)"""
    if "decode" not in _UDF_CACHE:

        @pandas_udf("struct<lon:double,lat:double>")
        def _decode(hex_s: pd.Series) -> pd.DataFrame:
            n = len(hex_s)
            if n == 0:
                return pd.DataFrame({"lon": [], "lat": []})
            isnull = hex_s.isna().to_numpy()
            filled = hex_s.fillna("0" * 42)
            joined = "".join(filled.tolist())
            raw = np.frombuffer(binascii.unhexlify(joined), dtype=np.uint8).reshape(n, 21)
            lon = raw[:, 5:13].copy().view("<f8").ravel()
            lat = raw[:, 13:21].copy().view("<f8").ravel()
            lon = np.where(isnull, np.nan, lon)
            lat = np.where(isnull, np.nan, lat)
            return pd.DataFrame({"lon": lon, "lat": lat})

        _UDF_CACHE["decode"] = _decode
    return _UDF_CACHE["decode"](col)


def _entity_columns():
    """The decoded entity columns, one filter per span kind.  Shared by
    `entities_table` and `reencode_spans`, so the loss-free check reads
    exactly the columns the export decodes."""
    spans = _spans_sorted()
    media = F.try_element_at(
        F.filter(spans, lambda s: s.kind == F.lit("media")), F.lit(1)
    )
    refs = F.filter(spans, lambda s: s.kind == F.lit("ref"))
    ref_ids = F.transform(
        refs, lambda s: F.split_part(s.media_ref, F.lit("/"), F.lit(2)).cast("long")
    )
    members = F.filter(spans, lambda s: s.kind == F.lit("member"))
    first = F.try_element_at(refs, F.lit(1)).media_ref
    last = F.try_element_at(refs, F.lit(-1)).media_ref
    pt = wkb_point_decode(media.media_ref)
    return [
        "src",
        "orig_id",
        "tags",
        F.when(F.col("src") == "node", pt.lon).alias("lon"),
        F.when(F.col("src") == "node", pt.lat).alias("lat"),
        F.when(F.col("src") == "way", ref_ids).alias("ref_ids"),
        F.when(F.col("src") == "way", F.size(refs)).alias("n_refs"),
        # osmium is_closed() is first==last regardless of length; rings
        # too short to be areas are rejected by the polygon path instead
        F.when(
            F.col("src") == "way", F.coalesce(first == last, F.lit(False))
        ).alias("is_closed"),
        F.when(
            F.col("src") == "rel", F.transform(members, lambda s: s.text)
        ).alias("member_roles"),
        F.when(
            F.col("src") == "rel",
            F.transform(
                members,
                lambda s: F.split_part(s.media_ref, F.lit("/"), F.lit(2)).cast("long"),
            ),
        ).alias("member_way_ids"),
    ]


def entities_table(docs_meta: DataFrame) -> DataFrame:
    """ONE-PASS decode of every entity kind into a narrow frame:

        src, orig_id, tags,
        lon, lat                       (nodes)
        ref_ids, n_refs, is_closed     (ways)
        member_roles, member_way_ids   (relations)

    This is the only span decoder: every consumer reads it through the
    `*_from_entities` projections below.  The wide `spans` payload is
    read ONCE, so persisting this frame turns the assembly pipeline's
    five full-table scans into one; an unpersisted projection keeps
    only the columns it needs (the WKB crossing only under nodes)."""
    return docs_meta.select(*_entity_columns())


def nodes_from_entities(entities: DataFrame) -> DataFrame:
    return entities.where(F.col("src") == "node").select(
        F.col("orig_id").alias("node_id"), "tags", "lon", "lat"
    )


def way_refs_from_entities(entities: DataFrame) -> DataFrame:
    return entities.where(F.col("src") == "way").select(
        F.col("orig_id").alias("way_id"),
        F.posexplode("ref_ids").alias("seq", "node_id"),
    )


def ways_from_entities(entities: DataFrame) -> DataFrame:
    return entities.where(F.col("src") == "way").select(
        F.col("orig_id").alias("way_id"), "tags", "n_refs", "is_closed"
    )


def rel_members_from_entities(entities: DataFrame) -> DataFrame:
    mp = entities.where(
        (F.col("src") == "rel")
        & (F.try_element_at("tags", F.lit("type")) == "multipolygon")
    )
    pairs = F.zip_with(
        "member_roles",
        "member_way_ids",
        lambda r, w: F.struct(r.alias("role"), w.alias("way_id")),
    )
    return mp.select(
        F.col("orig_id").alias("rel_id"),
        "tags",
        F.posexplode(pairs).alias("member_seq", "m"),
    ).select(
        "rel_id", "tags", "member_seq",
        F.col("m.role").alias("role"), F.col("m.way_id").alias("way_id"),
    )


def wkb_point_encode(lon_col, lat_col):
    """Inverse of wkb_point_decode — vectorized lon/lat → WKB hex."""
    if "encode" not in _UDF_CACHE:

        @pandas_udf("string")
        def _encode(lon: pd.Series, lat: pd.Series) -> pd.Series:
            from ..sources.synth import point_wkb_hex

            return pd.Series(
                point_wkb_hex(lon.to_numpy(np.float64), lat.to_numpy(np.float64)),
                dtype="object" if len(lon) == 0 else None,
            )

        _UDF_CACHE["encode"] = _encode
    return _UDF_CACHE["encode"](lon_col, lat_col)


def reencode_spans(docs_meta: DataFrame) -> DataFrame:
    """Rebuild each document's span sequence FROM the decoded entity
    columns (tags map, ref_ids, member roles/way ids, re-encoded WKB
    from the decoded lon/lat) to prove decode is loss-free — the
    input_hint's per-row span-sequence (kind, text, media_ref, order)
    equality invariant.  The columns are `entities_table`'s own, so a
    span the export would drop or garble breaks the equality.

    Relies on Spark maps preserving entry order (they are stored as
    paired arrays), which map_from_entries/map_entries guarantee."""
    empty = F.array().cast("array<struct<kind:string,text:string,media_ref:string>>")

    def span(kind, text, media_ref):
        return F.struct(
            F.lit(kind).alias("kind"), text.alias("text"), media_ref.alias("media_ref")
        )

    tag_spans = F.transform(
        F.map_entries("tags"),
        lambda e: span("tag", F.concat(e.key, F.lit("="), e.value), F.lit("")),
    )
    ref_spans = F.transform(
        "ref_ids",
        lambda nid: span("ref", F.lit(""), F.concat(F.lit("node/"), nid.cast("string"))),
    )
    member_spans = F.zip_with(
        "member_roles",
        "member_way_ids",
        lambda r, w: span("member", r, F.concat(F.lit("way/"), w.cast("string"))),
    )
    media_spans = F.when(
        F.col("src") == "node",
        F.array(span("media", F.lit("point"), wkb_point_encode(F.col("lon"), F.col("lat")))),
    )
    rebuilt = F.concat(
        *[F.coalesce(a, empty) for a in (tag_spans, ref_spans, member_spans, media_spans)]
    )
    original = F.transform(
        _spans_sorted(),
        lambda s: F.struct(
            s.kind.alias("kind"), s.text.alias("text"), s.media_ref.alias("media_ref")
        ),
    )
    return docs_meta.select("doc_id", "spans", *_entity_columns()).select(
        "doc_id", original.alias("original"), rebuilt.alias("rebuilt")
    )

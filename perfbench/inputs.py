"""Seeded benchmark inputs, staged on disk before any timing.

Export input: the documents ``sources.synth.synthesize`` builds
(compact placement) are deterministic and take no seed, so the seed
acts on top of them.  It draws a bijective re-keying of entity ids,
applied to ``doc_id`` and to the ``ref``/``member`` spans'
``media_ref``, and the AOI polygon the export clips to.

Corpus input: a fixed base corpus of word documents (the same for every
seed) plus injected duplicates.  The seed draws which base documents
are copied, whether each copy is exact or has one word replaced, and
the ids of every document.

Staged inputs are cached per (workload, seed, size) under the work
directory.
"""

from __future__ import annotations

import json
import math
import os
import shutil

import numpy as np

ID_SPACE = 1 << 40           # re-keyed ids stay below 2^40
WORDS = 4096                 # corpus vocabulary size
DOC_TOKENS = (20, 80)        # corpus document length range, in words
DUP_FRACTION = 0.1           # injected duplicates per base document
# centre and half-extent of synth's map (-20..40 lon, -10..55 lat)
MAP_CENTRE = (10.0, 22.5)
MAP_HALF = (30.0, 32.5)
HOLE_SIDE = 0.5              # hole side, as a share of its node block's extent


def _affine(rng):
    """Odd multiplier and offset: id -> (a*id + b) mod 2^40 is a bijection."""
    a = int(rng.integers(1 << 20, 1 << 22)) | 1
    b = int(rng.integers(0, ID_SPACE))
    return a, b


def aoi_rings(rng, n_nodes):
    """AOI exterior plus one hole per block of nodes.

    Compact placement puts consecutive node ids into a few small square
    blocks, so a plain polygon either keeps or drops whole blocks.  The
    exterior is an octagon with seeded vertex radii that encloses the
    whole map; each hole is a square of HOLE_SIDE times its block's
    extent, turned by a seeded angle and placed at a seeded spot inside
    the block.  About a quarter of the features fall in the holes on
    every seed, and the features crossing a hole's edge are cut."""
    from osm_export_tool_python_spark.sources import synth

    rings = []
    ring = []
    for k in range(8):
        ang = 2 * math.pi * (k + 0.5) / 8
        r = rng.uniform(1.6, 1.9)
        ring.append((MAP_CENTRE[0] + r * MAP_HALF[0] * math.cos(ang),
                     MAP_CENTRE[1] + r * MAP_HALF[1] * math.sin(ang)))
    rings.append(ring + ring[:1])
    ids = np.arange(n_nodes, dtype=np.uint64)
    lon, lat = synth.node_lonlat(ids, compact=True)
    block = ids >> np.uint64(2 * synth._COMPACT_BLOCK_BITS)
    for b in np.unique(block):
        m = block == b
        x0, x1, y0, y1 = lon[m].min(), lon[m].max(), lat[m].min(), lat[m].max()
        half = HOLE_SIDE / 2
        margin = half * math.sqrt(2)
        cx = x0 + (x1 - x0) * rng.uniform(margin, 1 - margin)
        cy = y0 + (y1 - y0) * rng.uniform(margin, 1 - margin)
        turn = rng.uniform(0, math.pi / 2)
        hole = []
        for k in range(4):
            ang = turn + k * math.pi / 2 + math.pi / 4
            hole.append((cx + (x1 - x0) * margin * math.cos(ang),
                         cy + (y1 - y0) * margin * math.sin(ang)))
        rings.append(hole + hole[:1])
    return rings


def _rekey(ref, keys):
    kind, num = ref.split("/", 1)
    a, b = keys[kind]
    return "%s/%d" % (kind, (a * int(num) + b) % ID_SPACE)


def stage_export(cache_dir, seed, n_docs, n_files):
    """Write the re-keyed documents table as ``n_files`` parquet files
    of consecutive entity ids (the layout ``synth.synthesize`` writes
    from a ``spark.range`` over ``n_files`` partitions); returns
    (path, AOI rings).  Rows come from synth's own row functions, so no
    Spark session is needed."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from osm_export_tool_python_spark.sources import synth

    n_nodes = int(n_docs * 0.8)
    n_ways = int(n_docs * 0.19)
    n_rels = n_docs - n_nodes - n_ways
    rng = np.random.default_rng(seed)
    keys = {k: _affine(rng) for k in ("node", "way", "rel")}
    rings = aoi_rings(rng, n_nodes)
    path = os.path.join(cache_dir, "docs.parquet")
    meta_path = os.path.join(cache_dir, "meta.json")
    if os.path.exists(meta_path):
        return path, rings
    shutil.rmtree(cache_dir, ignore_errors=True)
    os.makedirs(path)
    rows = (
        synth._node_rows(list(range(n_nodes)), compact=True)
        + synth._way_rows(list(range(n_ways)), n_nodes, compact=True)
        + synth._rel_rows(list(range(n_rels)), n_ways)
    )
    for _doc, spans in rows:
        for s in spans:
            if s["kind"] in ("ref", "member"):
                s["media_ref"] = _rekey(s["media_ref"], keys)
    span_type = pa.list_(pa.struct([
        ("kind", pa.string()), ("text", pa.string()),
        ("media_ref", pa.string()), ("offset", pa.int32()),
    ]))
    bounds = np.linspace(0, len(rows), n_files + 1).astype(int)
    for i in range(n_files):
        part = rows[bounds[i]:bounds[i + 1]]
        pq.write_table(
            pa.table({
                "doc_id": pa.array([_rekey(r[0], keys) for r in part], pa.string()),
                "spans": pa.array([r[1] for r in part], span_type),
            }),
            os.path.join(path, "part-%05d.parquet" % i),
        )
    with open(meta_path, "w") as f:
        json.dump(dict(seed=seed, n_docs=n_docs, aoi=rings), f)
    return path, rings


def _base_corpus(n_base):
    """Seed-independent base documents: (texts, token arrays)."""
    rng = np.random.default_rng(20240611)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = sorted({
        "".join(rng.choice(letters, int(rng.integers(3, 10))))
        for _ in range(WORDS * 2)
    })[:WORDS]
    vocab = np.array(vocab)
    lens = rng.integers(DOC_TOKENS[0], DOC_TOKENS[1] + 1, n_base)
    toks = [rng.integers(0, len(vocab), n) for n in lens]
    return vocab, toks


def stage_corpus(cache_dir, seed, n_base):
    """Write the corpus with injected duplicates; returns (path, info)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(cache_dir, "corpus.parquet")
    meta_path = os.path.join(cache_dir, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return path, json.load(f)
    shutil.rmtree(cache_dir, ignore_errors=True)
    os.makedirs(cache_dir)
    vocab, toks = _base_corpus(n_base)
    rng = np.random.default_rng(seed)
    n_dup = int(n_base * DUP_FRACTION)
    src = rng.choice(n_base, n_dup, replace=False)
    exact = rng.random(n_dup) < 0.5
    docs = list(toks)
    for s, is_exact in zip(src, exact):
        t = toks[s].copy()
        if not is_exact:
            t[rng.integers(0, len(t))] = rng.integers(0, len(vocab))
        docs.append(t)
    ids = rng.permutation(len(docs)).astype(np.int64) * 7 + int(rng.integers(0, 1000))
    texts = [" ".join(vocab[t]) for t in docs]
    pq.write_table(
        pa.table({"doc_id": pa.array(ids, pa.int64()), "text": texts}),
        path, row_group_size=1024,
    )
    info = dict(seed=seed, n_base=n_base, n_dup=n_dup,
                exact_copies=int(exact.sum()), bytes=os.path.getsize(path))
    with open(meta_path, "w") as f:
        json.dump(info, f)
    return path, info

"""The benchmark's workloads: one operation each, driven through the
package's public API, with an output check and a traced variant.

``export``           plans.export.export() of the bundled 5-theme mapping
                     to gpkg and z0-8 tiles, clipped to a seeded AOI with holes,
                     checkpoint='auto'.
``corpus_near_dup``  operators.dedup.minhash_dedup over a seeded corpus
                     with injected duplicates, survivors written to
                     parquet.

The traced variant runs the same library entry point with the layer
functions it calls wrapped in spans.  Lazy layers (prefilter, clip,
the assembled union) are materialized inside their own span so their
work is attributed to them; that extra materialization is part of the
reported tracing overhead, and the outputs are checked against the
untraced reference exactly like an untraced operation's.
"""

from __future__ import annotations

import contextlib
import os

import duckdb

from pyspark import StorageLevel

# input sizes at --scale 1
EXPORT_DOCS = 8000
CORPUS_BASE_DOCS = 8000
TILE_ZOOMS = (0, 8)
# lineage.store: 0 persist (no checkpoint store runs), 1 local, 2 parquet
STORE_CODES = {"local": 1, "parquet": 2}


def _dir_bytes(path):
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for fn in files:
            if fn.endswith(".parquet"):
                total += os.path.getsize(os.path.join(dirpath, fn))
    return total


def _parquet_rows(path):
    return duckdb.sql(
        "select count(*) from read_parquet('%s/*.parquet')" % path
    ).fetchone()[0]


@contextlib.contextmanager
def patched(obj, name, fn):
    orig = getattr(obj, name)
    setattr(obj, name, fn)
    try:
        yield orig
    finally:
        setattr(obj, name, orig)


def _materialize(df):
    out = df.persist(StorageLevel.MEMORY_AND_DISK)
    return out, out.count()


class Export:
    name = "export"
    untraced_counts = {}

    def __init__(self, work, seed, scale):
        self.seed = seed
        self.n_docs = max(int(EXPORT_DOCS * scale), 500)
        self.cache = os.path.join(work, "inputs", "export-%d-%d" % (seed, self.n_docs))
        self.path = None
        self.rings = None

    def stage(self, n_files):
        import osm_export_tool_python_spark as pkg

        from . import inputs

        self.path, self.rings = inputs.stage_export(
            self.cache, self.seed, self.n_docs, n_files)
        with open(os.path.join(os.path.dirname(pkg.__file__), "mappings", "default.yml")) as f:
            self.mapping_txt = f.read()

    def op(self, spark, out):
        """One timed operation: the export, manifest write included."""
        import numpy as np

        from osm_export_tool_python_spark.functions.mapping import Mapping
        from osm_export_tool_python_spark.plans.export import export

        return export(
            spark, spark.read.parquet(self.path), Mapping(self.mapping_txt), out,
            aoi_rings=[np.array(r) for r in self.rings], formats=("gpkg", "tiles"),
            tile_zooms=TILE_ZOOMS, checkpoint="auto",
        )

    def summary(self, manifest, out):
        """Output figures of one operation (read after timing)."""
        rows = {k: v for k, v in manifest["metrics"].items() if k.startswith("rows/")}
        datasets = {}
        for e in manifest["entries"]:
            key = "%s/%s" % (e["format"], e["theme"])
            datasets[key] = dict(rows=e["rows"], path=e["path"])
        return dict(
            rows_out=manifest["metrics"]["themed_features"],
            by_theme_geom=rows, datasets=datasets,
            bytes_out=_dir_bytes(out),
        )

    def expected(self, ref):
        return dict(
            rows_out=ref["rows_out"], by_theme_geom=ref["by_theme_geom"],
            datasets={k: v["rows"] for k, v in ref["datasets"].items()},
        )

    def check(self, got, exp):
        """Problems with one operation's output (empty when correct)."""
        bad = []
        if got["rows_out"] != exp["rows_out"]:
            bad.append("themed_features %s != %s" % (got["rows_out"], exp["rows_out"]))
        if got["by_theme_geom"] != exp["by_theme_geom"]:
            bad.append("per-(theme, geom_type) rows differ")
        rows = {k: v["rows"] for k, v in got["datasets"].items()}
        if rows != exp["datasets"]:
            bad.append("dataset rows differ: %s" % rows)
        for key, d in got["datasets"].items():
            n = _parquet_rows(d["path"])
            if n != d["rows"]:
                bad.append("%s holds %d rows, manifest says %d" % (key, n, d["rows"]))
        if "tiles/*" not in rows or rows["tiles/*"] <= 0:
            bad.append("no tile rows")
        return bad

    def traced_op(self, spark, out, tracer):
        """The export with each layer call wrapped in a span."""
        from osm_export_tool_python_spark import lineage
        from osm_export_tool_python_spark.operators import assemble
        from osm_export_tool_python_spark.plans import export as export_mod
        from osm_export_tool_python_spark.plans import manifest as manifest_mod
        from osm_export_tool_python_spark.sources import decode

        from .tracing import StatusReader

        held = []         # frames the tracer persisted; freed after the op
        stats = {}
        orig = dict(
            ckpt=lineage.eager_checkpoint, entities=decode.entities_table,
            assemble=assemble.assemble_features, prefilter=export_mod.prefilter,
            clip=export_mod.clip_features, fanout=export_mod.theme_fanout,
            tabular=export_mod._write_tabular, tiles=export_mod._write_tiles,
            write=manifest_mod.ExportManifest.write,
        )

        def stored_mb():
            ckpt_dir = os.environ.get("SPARK_OSM_CKPT_DIR", "")
            return StatusReader(spark).storage_mb() + _dir_bytes(ckpt_dir) / 1e6

        def t_assemble(meta, persist_intermediate=False, checkpoint=False, mapping=None):
            # decode in its own span: the entity table assemble_features
            # would decode and store is decoded and stored here, in the
            # same store, and handed to it
            mode = checkpoint if isinstance(checkpoint, str) else ("local" if checkpoint else None)
            with tracer.span(spark, "decode") as sp:
                ents = orig["entities"](meta)
                if mode:
                    ents = orig["ckpt"](ents, mode)
                    sp["rows_out"] = ents.count()
                else:
                    ents, sp["rows_out"] = _materialize(ents)
            with tracer.span(spark, "assemble") as sp, \
                    patched(decode, "entities_table", lambda m: ents), \
                    patched(lineage, "eager_checkpoint",
                            lambda df, m: df if df is ents else orig["ckpt"](df, m)):
                feats = orig["assemble"](meta, persist_intermediate=persist_intermediate,
                                         checkpoint=checkpoint, mapping=mapping)
                inter = feats._persisted_intermediates
                feats, sp["rows_out"] = _materialize(feats)
                held.append(feats)
                feats._persisted_intermediates = inter
            return feats

        def t_prefilter(feats, mapping):
            with tracer.span(spark, "themes") as sp:
                out_df = orig["prefilter"](feats, mapping)
                sp["rows_out"] = stats["clip_in"] = out_df.count()
            return out_df

        def t_clip(feats, aoi):
            with tracer.span(spark, "clip") as sp:
                out_df, n = _materialize(orig["clip"](feats, aoi))
                held.append(out_df)
                sp["rows_out"] = n
                sp["kept_ratio"] = n / stats["clip_in"] if stats["clip_in"] else 0.0
            return out_df

        def t_fanout(feats, mapping):
            with tracer.span(spark, "themes"):
                return orig["fanout"](feats, mapping)

        def t_ckpt(df, mode):
            with tracer.span(spark, "lineage") as sp:
                before = stored_mb()
                out_df = orig["ckpt"](df, mode)
                sp["rows_out"] = out_df.count()
                sp["mb"] = stored_mb() - before
                sp["store"] = STORE_CODES[mode]
            return out_df

        def t_sink(layer, fn):
            def run(spark_, themed, *a, **k):
                manifest = next(x for x in a if isinstance(x, manifest_mod.ExportManifest))
                before = len(manifest.entries)
                with tracer.span(spark, layer) as sp:
                    fn(spark_, themed, *a, **k)
                    new = manifest.entries[before:]
                    sp["rows_out"] = sum(e["rows"] for e in new)
                    sp["bytes_out"] = sum(_dir_bytes(e["path"]) for e in new)
            return run

        def t_write(self_):
            with tracer.span(spark, "manifest") as sp:
                payload = orig["write"](self_)
                sp["rows_out"] = len(payload["entries"])
            return payload

        with contextlib.ExitStack() as es:
            for obj, name, fn in (
                (assemble, "assemble_features", t_assemble),
                (lineage, "eager_checkpoint", t_ckpt),
                (export_mod, "prefilter", t_prefilter),
                (export_mod, "clip_features", t_clip),
                (export_mod, "theme_fanout", t_fanout),
                (export_mod, "_write_tabular", t_sink("sinks", orig["tabular"])),
                (export_mod, "_write_tiles", t_sink("tiles", orig["tiles"])),
                (manifest_mod.ExportManifest, "write", t_write),
            ):
                es.enter_context(patched(obj, name, fn))
            try:
                return self.op(spark, out)
            finally:
                for df in held:
                    df.unpersist()


class Corpus:
    name = "corpus_near_dup"
    # counted on the untraced plan, where the reuse-exchange size gate
    # decides; the traced plan reads a stored signature table instead
    untraced_counts = {"dedup.candidates.reused_exchanges": "reused_exchanges"}

    def __init__(self, work, seed, scale):
        self.seed = seed
        self.n_base = max(int(CORPUS_BASE_DOCS * scale), 200)
        self.cache = os.path.join(work, "inputs", "corpus-%d-%d" % (seed, self.n_base))
        self.path = None

    def stage(self, _n_files):
        from . import inputs

        self.path, self.info = inputs.stage_corpus(self.cache, self.seed, self.n_base)

    def op(self, spark, out):
        """One timed operation: minhash_dedup, survivors written to parquet."""
        from osm_export_tool_python_spark.operators.dedup import minhash_dedup

        minhash_dedup(spark.read.parquet(self.path), threshold=0.8).write.parquet(out)
        return None

    def summary(self, _result, out):
        return dict(rows_out=_parquet_rows(out), bytes_out=_dir_bytes(out), path=out)

    def expected(self, ref):
        return dict(rows_out=ref["rows_out"])

    def check(self, got, exp):
        bad = []
        if got["rows_out"] != exp["rows_out"]:
            bad.append("survivors %s != %s" % (got["rows_out"], exp["rows_out"]))
        con = duckdb.connect()
        con.execute("create view inp as select * from read_parquet('%s')" % self.path)
        con.execute("create view surv as select * from read_parquet('%s/*.parquet')" % got["path"])
        # every injected exact copy is gone: no text survives twice
        extra = con.execute("select count(*) - count(distinct text) from surv").fetchone()[0]
        if extra:
            bad.append("%d exact copies survived" % extra)
        # survivors are input rows, unchanged
        stray = con.execute(
            "select count(*) from surv anti join inp using (doc_id, text)"
        ).fetchone()[0]
        if stray:
            bad.append("%d survivors are not input rows" % stray)
        # an exact-copy group keeps one member, so every distinct text
        # the input holds only as exact copies is still present
        lost = con.execute(
            "select count(*) from (select text from inp group by text having count(*) > 1)"
            " anti join surv using (text)"
        ).fetchone()[0]
        if lost:
            bad.append("%d exact-copy groups lost every member" % lost)
        con.close()
        return bad

    def traced_op(self, spark, out, tracer):
        """minhash_dedup with its three stages in spans: signature
        (banded minhash table), candidates (LSH self-join) and verify
        (exact Jaccard, then the anti-join and survivors write)."""
        from osm_export_tool_python_spark.operators import dedup

        held = []
        stats = {}
        orig_banded = dedup.banded_signature_table
        orig_lsh = dedup.lsh_candidate_pairs
        orig_verify = dedup.jaccard_verify

        def t_lsh(df, *a, **k):
            with tracer.span(spark, "dedup.signature") as sp:
                banded, sp["rows_out"] = _materialize(orig_banded(df, *a, **k))
                held.append(banded)
            with tracer.span(spark, "dedup.candidates") as sp, \
                    patched(dedup, "banded_signature_table", lambda *_a, **_k: banded):
                cands, n = _materialize(orig_lsh(df, *a, **k))
                held.append(cands)
                sp["rows_out"] = stats["cands"] = n
            return cands

        def t_verify(pairs, df, *a, **k):
            with tracer.span(spark, "dedup.verify") as sp:
                ver, n = _materialize(orig_verify(pairs, df, *a, **k))
                held.append(ver)
                sp["rows_out"] = n
                sp["useful_ratio"] = n / stats["cands"] if stats["cands"] else 0.0
            return ver

        with patched(dedup, "lsh_candidate_pairs", t_lsh), \
                patched(dedup, "jaccard_verify", t_verify):
            try:
                survivors = dedup.minhash_dedup(spark.read.parquet(self.path), threshold=0.8)
                with tracer.span(spark, "dedup.verify"):
                    survivors.write.parquet(out)
            finally:
                for df in held:
                    df.unpersist()


WORKLOADS = {w.name: w for w in (Export, Corpus)}

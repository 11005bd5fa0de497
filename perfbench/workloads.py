"""The four workloads: inputs, one job, its output check, its traced form.

Each workload is a closed loop with one client: the next job (or request)
starts when the previous one has returned. ``run_job`` is what the
untraced run times; ``check`` compares its output with the independent
recomputation of ``oracles``; ``trace_job`` re-runs the job as a chain of
prefixes, each cut at a layer boundary and materialised with the ``noop``
sink under a job group of its own, so a layer's self time is the
difference between consecutive prefix walls. A step that materialises its
output (a checkpoint) starts a new chain: the prefixes after it read the
materialised table instead of recomputing the layers before it.
"""

from __future__ import annotations

import collections
import csv
import math
import os
import random
import shutil
import time

import inputs
import oracles
from stats import median

#: documents per geo_ingest job
GEO_DOCS = 10_000
#: documents per zonal_batch job
ZONAL_DOCS = 10_000
#: rows of the text_dedup documents table
DEDUP_DOCS = 2_000
#: text_dedup writes its components in this many shards (component mod
#: shards), each salted into buckets of about this many rows
DEDUP_SHARDS = 8
DEDUP_ROWS_PER_SALT = 32
#: distinct requests in the zonal_sync pool (cycled by the closed loop)
SYNC_POOL = 16


def _features_df(spark, rects):
    import json

    return spark.createDataFrame(
        [
            (fi, json.dumps({"type": "Polygon", "coordinates": [
                [[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]]]}))
            for fi, x0, y0, x1, y1 in rects
        ],
        "feature_index int, geojson string",
    )


def _committed_rows(out_dir: str, columns: list[str]) -> list[tuple]:
    """Rows of ``columns``, read straight from the committed parquet files
    (pyarrow, no Spark): every file a commit names, once."""
    import glob
    import json

    import pyarrow.parquet as pq

    rows: list[tuple] = []
    seen = set()
    for commit in sorted(glob.glob(os.path.join(out_dir, "_commits", "commit-*.json"))):
        with open(commit) as f:
            for files in json.load(f)["files"].values():
                for rel in files:
                    if rel not in seen:
                        seen.add(rel)
                        t = pq.read_table(os.path.join(out_dir, rel), columns=columns)
                        rows += zip(*(t.column(c).to_pylist() for c in columns))
    return rows


def _resumable_write(out_dir, df, stage):
    from openeo_geotrellis_extensions_spark.runtime.checkpoint import ResumableWriter

    return ResumableWriter(out_dir, lineage={"stage": stage}).run(df)


def _tree_bytes(path: str) -> tuple[int, int]:
    """(bytes, parquet files) under ``path``."""
    size = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += n.endswith(".parquet")
    return size, files


class Workload:
    name = ""
    #: what one timed operation is called in the report
    op = "job"
    #: package modules the Python workers import during set-up
    modules: tuple[str, ...] = ()

    def __init__(self, seed: int, work_dir: str):
        self.rng = random.Random(seed)
        self.work_dir = work_dir
        self.n_ops = 0
        #: bytes of each checked job's output
        self.out_bytes: list[int] = []

    def prepare(self) -> None:
        """Generate inputs and expected outputs (untimed)."""

    def run_job(self, spark, i: int):
        raise NotImplementedError

    def check(self, spark, out) -> bool:
        raise NotImplementedError

    def trace_job(self, spark, i: int, tr) -> tuple[dict, bool]:
        """Run job ``i`` as a prefix chain under ``tr``: (counts, output ok)."""
        raise NotImplementedError

    def report(self, walls: list[float]) -> dict:
        return {}

    def _fresh_dir(self, tag: str) -> str:
        self.n_ops += 1
        d = os.path.join(self.work_dir, f"{self.name}-{tag}-{self.n_ops}")
        shutil.rmtree(d, ignore_errors=True)
        return d


# ---------------------------------------------------------------------------
# geo_ingest
# ---------------------------------------------------------------------------


class GeoIngest(Workload):
    name = "geo_ingest"
    modules = ("sources.interleaved", "operators.spatial_join", "runtime.checkpoint")

    def prepare(self):
        self.n_docs = GEO_DOCS
        self.rects = inputs.geo_features(self.rng)
        self.expected = oracles.joined_rows(self.n_docs, self.rects)
        # the oracle itself is pinned to the known default-set count
        default = oracles.joined_rows(200_000, inputs.DEFAULT_RECTS)
        if sum(default.values()) != inputs.DEFAULT_JOINED_ROWS_200K:
            raise AssertionError(f"oracle drifted: default set joins {default}")

    # the chain of calls, split at layer boundaries
    def _points(self, spark):
        from pyspark.sql import functions as F

        from openeo_geotrellis_extensions_spark.sources.interleaved import (
            extract_geometries,
            synth_docs,
        )

        docs = synth_docs(spark, self.n_docs)
        return extract_geometries(docs).select(
            "doc_id",
            "span_idx",
            ((F.col("xmin") + F.col("xmax")) / 2).alias("rep_x"),
            ((F.col("ymin") + F.col("ymax")) / 2).alias("rep_y"),
        )

    def _join(self, spark, pts):
        from openeo_geotrellis_extensions_spark.operators.spatial_join import (
            spatial_join_points,
        )

        return spatial_join_points(pts, _features_df(spark, self.rects), res=7)

    @staticmethod
    def _salt(joined):
        from pyspark.sql import functions as F

        from openeo_geotrellis_extensions_spark.operators.spatial_join import (
            cell_for_point_col,
        )
        from openeo_geotrellis_extensions_spark.runtime.skew import with_salt

        cells = joined.withColumn(
            "cell", cell_for_point_col(4, F.col("rep_x"), F.col("rep_y"))
        )
        salted = with_salt(cells, "cell", "doc_id", target_rows_per_salt=5_000)
        return salted.withColumn("bucket", F.concat_ws("_", F.col("cell"), F.col("salt")))

    @staticmethod
    def _write(out_dir, df):
        return _resumable_write(out_dir, df, "geo_ingest")

    def run_job(self, spark, i):
        out_dir = self._fresh_dir("job")
        bucketed = self._salt(self._join(spark, self._points(spark)))
        first = self._write(out_dir, bucketed)
        resume = self._write(out_dir, bucketed)
        return out_dir, first, resume

    def check(self, spark, out):
        out_dir, first, resume = out
        try:
            got = dict(collections.Counter(
                fi for (fi,) in _committed_rows(out_dir, ["feature_index"])
            ))
            self.out_bytes.append(_tree_bytes(out_dir)[0])
        finally:
            shutil.rmtree(out_dir, ignore_errors=True)
        want = {fi: n for fi, n in self.expected.items() if n}
        return (
            first["rows"] == sum(self.expected.values())
            and resume["written"] == 0
            and got == want
        )

    def report(self, walls):
        return {
            "docs_per_s": (self.n_docs / median(walls), "docs/s"),
            "joined_rows": (sum(self.expected.values()), "rows"),
        }

    def trace_job(self, spark, i, tr):
        from pyspark.sql import functions as F

        from openeo_geotrellis_extensions_spark.operators.spatial_join import (
            cell_for_point_col,
            cover_cells_for_features,
        )

        pts = self._points(spark)
        tr.prefix("sources", pts, rows_out=True)
        joined = tr.call("operators.spatial_join", lambda: self._join(spark, pts))
        tr.prefix("operators.spatial_join", joined, rows_out=True)
        bucketed = self._salt(joined)
        tr.prefix("runtime.salt", bucketed)
        out_dir = self._fresh_dir("trace")
        first = tr.step("runtime.checkpoint.write", lambda: self._write(out_dir, bucketed))
        resume = tr.standalone(
            "runtime.checkpoint.resume", lambda: self._write(out_dir, bucketed)
        )
        size, files = _tree_bytes(out_dir)
        shutil.rmtree(out_dir, ignore_errors=True)
        with tr.group("count"):
            cover = cover_cells_for_features(_features_df(spark, self.rects), 7)
            cand = (
                pts.withColumn("cell", cell_for_point_col(7, F.col("rep_x"), F.col("rep_y")))
                .join(F.broadcast(cover), "cell")
                .count()
            )
        counts = {
            "sources.rows_out": tr.rows["sources"],
            "operators.spatial_join.candidates": cand,
            "operators.spatial_join.hit_ratio": tr.rows["operators.spatial_join"] / max(1, cand),
            "runtime.checkpoint.files_out": files,
            "runtime.checkpoint.bytes_per_row": size / max(1, first["rows"]),
        }
        ok = first["rows"] == sum(self.expected.values()) and resume["written"] == 0
        return counts, ok


# ---------------------------------------------------------------------------
# zonal_batch
# ---------------------------------------------------------------------------


def _cube_observe(tr, layer, cube):
    """Materialise a cube prefix, counting tiles and non-empty band pixels."""
    from pyspark.sql import functions as F

    px = cube.meta.tile_shape[0] * cube.meta.tile_shape[1]
    return tr.prefix(
        layer,
        cube.df,
        extra={
            "tiles": F.count(F.lit(1)),
            "pixels": F.sum(F.size(F.filter("bands", lambda b: F.length(b) > 0))) * px,
        },
    )


class ZonalBatch(Workload):
    name = "zonal_batch"
    modules = ("sources.datacube", "operators.apply_process", "operators.zonal")

    def prepare(self):
        self.n_docs = ZONAL_DOCS
        self.rects = inputs.zonal_polygons(self.rng)
        self.expected = oracles.media_zonal(self.n_docs, self.rects)
        # pixels the source emits: 16 x 16 per non-empty band of every tile
        self.pixels = len(oracles.media_tiles(self.n_docs)) * 16 * 16

    def _cube(self, spark):
        from openeo_geotrellis_extensions_spark.sources.datacube import media_cube
        from openeo_geotrellis_extensions_spark.sources.interleaved import synth_docs

        return media_cube(synth_docs(spark, self.n_docs), tile_size=16)

    @staticmethod
    def _apply(cube):
        from openeo_geotrellis_extensions_spark.operators.apply_process import apply_process

        return apply_process(cube, inputs.APPLY_GRAPH)

    def _zonal(self, spark, cube):
        from openeo_geotrellis_extensions_spark.operators.zonal import aggregate_spatial

        return aggregate_spatial(cube, _features_df(spark, self.rects))

    @staticmethod
    def _sink(stats, path):
        from openeo_geotrellis_extensions_spark.sinks.tabular import save_timeseries_csv

        return save_timeseries_csv(stats, path, ["B0", "B1"])

    def run_job(self, spark, i):
        out_dir = self._fresh_dir("job")
        os.makedirs(out_dir)
        stats = self._zonal(spark, self._apply(self._cube(spark)))
        return self._sink(stats, os.path.join(out_dir, "timeseries.csv"))

    def check(self, spark, path):
        try:
            self.out_bytes.append(os.path.getsize(path))
            with open(path, newline="") as f:
                rows = list(csv.DictReader(f))
        finally:
            shutil.rmtree(os.path.dirname(path), ignore_errors=True)
        return _check_means(rows, self.expected)

    def report(self, walls):
        m = median(walls)
        return {
            "docs_per_s": (self.n_docs / m, "docs/s"),
            "megapixels_per_s": (self.pixels / 1e6 / m, "Mpx/s"),
        }

    def trace_job(self, spark, i, tr):
        from pyspark.sql import functions as F

        from openeo_geotrellis_extensions_spark.core.tiles import decode_tiles_batch_float
        from openeo_geotrellis_extensions_spark.functions.process_compiler import (
            compile_process_graph,
        )
        from openeo_geotrellis_extensions_spark.operators.zonal import feature_tile_keys

        cube = self._cube(spark)
        src = _cube_observe(tr, "sources", cube)
        t0 = time.perf_counter()
        compile_process_graph(inputs.APPLY_GRAPH, "uint8")
        tr.value("functions.compile_s", time.perf_counter() - t0)
        applied = tr.call("operators.apply", lambda: self._apply(cube))
        tr.prefix("operators.apply", applied.df)
        stats = tr.call("operators.zonal", lambda: self._zonal(spark, applied))
        tr.prefix("operators.zonal", stats)
        out_dir = self._fresh_dir("trace")
        os.makedirs(out_dir)
        path = tr.step(
            "sinks", lambda: self._sink(stats, os.path.join(out_dir, "timeseries.csv"))
        )
        with open(path, newline="") as f:
            ok = _check_means(list(csv.DictReader(f)), self.expected)
        bytes_out = os.path.getsize(path)
        shutil.rmtree(out_dir, ignore_errors=True)
        with tr.group("count"):
            keys = feature_tile_keys(_features_df(spark, self.rects), cube.meta.layout)
            pairs = cube.df.select("col", "row").join(keys, ["col", "row"]).agg(
                F.count(F.lit(1)).alias("n"), F.avg("contained").alias("share")
            ).first()
            sample = [r["bands"] for r in cube.df.select("bands").limit(4096).collect()]
        raw = sum(len(b) for bl in sample for b in bl)
        walls = []
        for _ in range(5):
            t0 = time.perf_counter()
            decode_tiles_batch_float(sample, cube.meta.cell_type, cube.meta.tile_shape, 2)
            walls.append(time.perf_counter() - t0)
        counts = {
            "sources.rows_out": src["tiles"],
            "sources.tiles_out": src["tiles"],
            "sources.megapixels_out": src["pixels"] / 1e6,
            "core.tiles.decode_mb_per_s": raw / 1e6 / median(walls),
            "operators.zonal.feature_tile_pairs": pairs["n"],
            "operators.zonal.contained_share": float(pairs["share"] or 0.0),
            "sinks.bytes_out": bytes_out,
        }
        return counts, ok


def _check_means(rows, expected) -> bool:
    """CSV rows (date, feature_index, B0, B1) against oracle (count, sum)."""
    want = {}
    for (date, fi, band), (n, s) in expected.items():
        want.setdefault((date, fi), {})[band] = s / n if n else None
    got = {}
    for r in rows:
        got[(r["date"], int(r["feature_index"]))] = {
            b: (float(r[f"B{b}"]) if r[f"B{b}"] not in ("", None) else None)
            for b in (0, 1)
        }
    if got.keys() != want.keys():
        return False
    for k, bands in want.items():
        for b, m in bands.items():
            g = got[k][b]
            if (m is None) != (g is None):
                return False
            if m is not None and not math.isclose(g, m, rel_tol=1e-9):
                return False
    return True


# ---------------------------------------------------------------------------
# zonal_sync
# ---------------------------------------------------------------------------


class ZonalSync(Workload):
    name = "zonal_sync"
    op = "request"
    modules = ("sources.catalog", "operators.zonal")

    def prepare(self):
        self.requests = inputs.sync_requests(self.rng, SYNC_POOL)
        self.expected = [oracles.catalog_zonal(r) for r in self.requests]
        self.jobs_per_request = None

    def _request(self, spark, req):
        from openeo_geotrellis_extensions_spark.core.grid import Extent, LayoutDefinition
        from openeo_geotrellis_extensions_spark.sources.catalog import (
            load_collection,
            synth_catalog,
        )

        x0, y0, x1, y1, nc, nr, tc, tr_ = inputs.CATALOG_LAYOUT
        layout = LayoutDefinition(Extent(x0, y0, x1, y1), nc, nr, tc, tr_)
        return load_collection(
            synth_catalog(spark, inputs.N_PRODUCTS), layout, Extent(*req.bbox),
            req.time_range, n_bands=2,
        )

    def _zonal(self, spark, cube, req):
        from openeo_geotrellis_extensions_spark.operators.zonal import aggregate_spatial

        return aggregate_spatial(cube, _features_df(spark, req.polygons))

    def run_job(self, spark, i):
        k = i % len(self.requests)
        req = self.requests[k]
        return k, self._zonal(spark, self._request(spark, req), req).collect()

    def check(self, spark, out):
        k, rows = out
        return _check_zonal_rows(rows, self.expected[k])

    def report(self, walls):
        from stats import tail_percentile

        ms = [w * 1e3 for w in walls]
        tail = tail_percentile(ms)
        return {
            "request_p50_ms": (median(ms), "ms"),
            "request_tail_ms": (
                (tail[1], "ms", f"p{tail[0]:g}") if tail else
                (None, "ms", f"n/a: {len(ms)} requests, a tail needs at least 11")
            ),
        }

    def trace_job(self, spark, i, tr):
        k = i % len(self.requests)
        req = self.requests[k]
        cube = self._request(spark, req)
        src = _cube_observe(tr, "sources", cube)
        stats = tr.call("operators.zonal", lambda: self._zonal(spark, cube, req))
        rows = tr.step("operators.zonal", lambda: stats.collect(), chained=True)
        counts = {
            "sources.rows_out": src["tiles"],
            "sources.tiles_out": src["tiles"],
            "sources.megapixels_out": src["pixels"] / 1e6,
        }
        return counts, _check_zonal_rows(rows, self.expected[k])


def _check_zonal_rows(rows, expected) -> bool:
    got = {}
    for r in rows:
        key = (r["time"].strftime("%Y-%m-%d"), r["feature_index"], r["band"])
        got[key] = (int(r["count"]), float(r["sum"] or 0.0))
    if got.keys() != expected.keys():
        return False
    return all(
        got[k][0] == n and math.isclose(got[k][1], s, rel_tol=1e-9, abs_tol=1e-9)
        for k, (n, s) in expected.items()
    )


# ---------------------------------------------------------------------------
# text_dedup
# ---------------------------------------------------------------------------


class TextDedup(Workload):
    name = "text_dedup"
    modules = ("pipeline.dedup", "runtime.skew", "runtime.checkpoint")

    def prepare(self):
        import pyarrow as pa
        import pyarrow.parquet as pq

        rows = inputs.corpus(self.rng, DEDUP_DOCS)
        self.expected = oracles.dedup_components(rows)
        cols = list(zip(*rows))
        table = pa.table({
            "doc_id": pa.array(cols[0], pa.int64()),
            "text": list(cols[1]),
            "lang": list(cols[2]),
            "source": list(cols[3]),
            "n_chars": pa.array(cols[4], pa.int64()),
        })
        self.path = os.path.join(self.work_dir, "documents.parquet")
        pq.write_table(table, self.path)

    @staticmethod
    def _pairs(docs):
        from openeo_geotrellis_extensions_spark.pipeline.dedup import minhash_lsh_pairs

        return minhash_lsh_pairs(docs, num_hashes=16, bands=4, verify_threshold=0.5)

    @staticmethod
    def _bucketed(comps):
        from pyspark.sql import functions as F

        from openeo_geotrellis_extensions_spark.runtime.skew import with_salt

        shards = comps.withColumn("shard", F.pmod(F.col("component"), F.lit(DEDUP_SHARDS)))
        salted = with_salt(shards, "shard", "id", target_rows_per_salt=DEDUP_ROWS_PER_SALT)
        return salted.withColumn("bucket", F.concat_ws("_", F.col("shard"), F.col("salt")))

    def run_job(self, spark, i):
        from openeo_geotrellis_extensions_spark.pipeline.dedup import connected_components

        # connected_components returns a checkpointed table: the write and
        # the resume read it, they do not recompute the dedup
        comps = connected_components(self._pairs(spark.read.parquet(self.path)))
        out_dir = self._fresh_dir("job")
        bucketed = self._bucketed(comps)
        first = _resumable_write(out_dir, bucketed, "text_dedup")
        resume = _resumable_write(out_dir, bucketed, "text_dedup")
        return out_dir, first, resume

    def _check_written(self, out_dir, first, resume) -> bool:
        try:
            got = _committed_rows(out_dir, ["id", "component"])
            self.out_bytes.append(_tree_bytes(out_dir)[0])
        finally:
            shutil.rmtree(out_dir, ignore_errors=True)
        return (
            sorted(got) == sorted(self.expected.items())
            and first["rows"] == len(self.expected)
            and resume["written"] == 0
        )

    def check(self, spark, out):
        return self._check_written(*out)

    def report(self, walls):
        return {"docs_per_s": (DEDUP_DOCS / median(walls), "docs/s")}

    def trace_job(self, spark, i, tr):
        from openeo_geotrellis_extensions_spark.pipeline.dedup import (
            connected_components,
            minhash_lsh_pairs,
            minhash_signatures,
        )

        # every prefix is built by a fresh call inside its span, from a
        # fresh read, as the job builds it: none reuses the band table an
        # earlier prefix checkpointed or the plan of an earlier read, and
        # the eager part of each call is timed with its layer
        def docs():
            return spark.read.parquet(self.path)

        tr.prefix("sources", docs, rows_out=True)
        # the signature stage timed on its own. It is not a prefix of the
        # LSH plan (minhash_lsh_pairs checkpoints its band table lazily),
        # so it stays out of the chain: pipeline.lsh.self_s contains it.
        with tr.group("pipeline.minhash"):
            spread = docs().repartition(spark.sparkContext.defaultParallelism)
            minhash_signatures(spread, num_hashes=16).write.format("noop").mode("overwrite").save()
        tr.value("pipeline.minhash.self_s", tr.last[1])
        tr.prefix(
            "pipeline.lsh",
            lambda: minhash_lsh_pairs(docs(), num_hashes=16, bands=4),
            rows_out=True,
        )
        tr.prefix("pipeline.verify", lambda: self._pairs(docs()), rows_out=True)
        comps = tr.step(
            "pipeline.cc",
            lambda: connected_components(self._pairs(docs())),
            materialises=True,
        )
        bucketed = self._bucketed(comps)
        tr.prefix("runtime.salt", bucketed)
        out_dir = self._fresh_dir("trace")
        first = tr.step(
            "runtime.checkpoint.write",
            lambda: _resumable_write(out_dir, bucketed, "text_dedup"),
        )
        resume = tr.standalone(
            "runtime.checkpoint.resume",
            lambda: _resumable_write(out_dir, bucketed, "text_dedup"),
        )
        size, files = _tree_bytes(out_dir)
        ok = self._check_written(out_dir, first, resume)
        counts = {
            "sources.rows_out": tr.rows["sources"],
            "pipeline.lsh.candidates": tr.rows["pipeline.lsh"],
            "pipeline.verify.kept_ratio": tr.rows["pipeline.verify"] / max(1, tr.rows["pipeline.lsh"]),
            "runtime.checkpoint.files_out": files,
            "runtime.checkpoint.bytes_per_row": size / max(1, first["rows"]),
        }
        return counts, ok


WORKLOADS = {w.name: w for w in (GeoIngest, ZonalBatch, ZonalSync, TextDedup)}

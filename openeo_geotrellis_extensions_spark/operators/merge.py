"""merge_cubes — full outer join of two datacubes on the grid key.

Reference: ``outerJoin`` via CoGroupedRDD with partitioner-reuse hacks
(OpenEOProcesses.scala:669-730); band concat ``combine_bands`` (:958-976);
overlap resolver ``resolve_merge_overlap`` (:978-994, op table :103-115);
cell-type union on merge (:888,931,941).

Ours is a plain DataFrame full-outer join on the key columns — Spark picks
SMJ/shuffle-hash and AQE replaces the reference's hand-rolled partitioner
tricks (SURVEY §4). Missing sides become EMPTY band markers (the
EmptyMultibandTile padding of :285-312 temporal-disjoint merges).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from ..core.celltype import cell_type_union, parse_cell_type
from ..core.tiles import (
    decode_tiles_batch_float, empty_bands, encode_tiles_batch, row_chunks,
)
from ..functions.process_compiler import compile_process_graph
from ..sources.datacube import DataCube

#: binary overlap ops supported as shorthand (OpenEOProcesses.scala:103-115)
_BINARY_OPS = {"or", "and", "divide", "max", "min", "multiply", "add",
               "subtract", "xor", "sum", "product"}


def _decode_sides(pdf: pd.DataFrame, ct_a: str, ct_b: str, shape, na: int, nb: int):
    """Both sides of an outer-joined chunk as float stacks; a missing side
    (null band list) is all-NaN whatever its cell type."""
    out = []
    for col, ct, n in (("bands_l", ct_a, na), ("bands_r", ct_b, nb)):
        v = decode_tiles_batch_float(pdf[col].tolist(), ct, shape, n)
        v[pdf[col].isna().to_numpy()] = np.nan
        out.append(v)
    return out


def merge_cubes(a: DataCube, b: DataCube, overlap_resolver: str | dict | None = None) -> DataCube:
    if a.meta.layout != b.meta.layout:
        raise ValueError("merge_cubes requires identical layouts (resample first)")
    if a.meta.temporal != b.meta.temporal:
        raise ValueError("merge_cubes requires matching temporality")

    keys = a.key_cols
    union_ct = cell_type_union(a.meta.cell_type, b.meta.cell_type)
    out_ct_name = union_ct.name
    na, nb = a.meta.n_bands, b.meta.n_bands
    shape = a.meta.tile_shape
    ct_a, ct_b = a.meta.cell_type, b.meta.cell_type

    left = a.df.select(*keys, F.col("bands").alias("bands_l"))
    right = b.df.select(*keys, F.col("bands").alias("bands_r"))
    joined = left.join(right, keys, "full_outer")

    if overlap_resolver is None:
        # band concatenation; missing side padded with EMPTY markers. When the
        # cell types already match the raw buffers pass through untouched.
        if ct_a == ct_b:
            df = joined.select(
                *keys,
                F.concat(
                    F.coalesce("bands_l", empty_bands(na)),
                    F.coalesce("bands_r", empty_bands(nb)),
                ).alias("bands"),
            )
            return DataCube(df, a.meta).with_meta(
                band_names=tuple(a.meta.band_names) + tuple(b.meta.band_names)
            )

        # cell types differ: decode + re-encode to the union type
        def recode(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in it:
                for s in row_chunks(len(pdf), na + nb, shape):
                    chunk = pdf.iloc[s]
                    vl, vr = _decode_sides(chunk, ct_a, ct_b, shape, na, nb)
                    res = chunk.drop(columns=["bands_l", "bands_r"])
                    res["bands"] = encode_tiles_batch(
                        np.concatenate([vl, vr], axis=1), union_ct
                    )
                    yield res

        out_schema = a.df.schema
        df = joined.mapInPandas(recode, schema=out_schema)
        return DataCube(df, a.meta).with_meta(
            cell_type=out_ct_name,
            band_names=tuple(a.meta.band_names) + tuple(b.meta.band_names),
        )

    # overlap resolver: band counts must match; apply pairwise per band
    if na != nb:
        raise ValueError(f"overlap resolver requires equal band counts ({na} vs {nb})")
    if isinstance(overlap_resolver, str):
        if overlap_resolver not in _BINARY_OPS:
            raise ValueError(f"unsupported overlap op {overlap_resolver!r}")
        if overlap_resolver in ("sum", "product", "max", "min", "and", "or", "xor"):
            graph = {
                "r": {
                    "process_id": overlap_resolver,
                    "arguments": {"data": [{"from_parameter": "x"}, {"from_parameter": "y"}]},
                    "result": True,
                }
            }
        else:
            graph = {
                "r": {
                    "process_id": overlap_resolver,
                    "arguments": {"x": {"from_parameter": "x"}, "y": {"from_parameter": "y"}},
                    "result": True,
                }
            }
    else:
        graph = overlap_resolver
    comp = compile_process_graph(graph, union_ct.base)

    def resolve(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            for s in row_chunks(len(pdf), 2 * na, shape):
                chunk = pdf.iloc[s]
                vl, vr = _decode_sides(chunk, ct_a, ct_b, shape, na, nb)
                both = np.asarray(comp.fn({"x": vl, "y": vr}), dtype=np.float64)
                # a side missing from the outer join passes the other through
                no_l = chunk["bands_l"].isna().to_numpy()[:, None, None, None]
                no_r = chunk["bands_r"].isna().to_numpy()[:, None, None, None]
                v = np.where(no_l, vr, np.where(no_r, vl, both))
                res = chunk.drop(columns=["bands_l", "bands_r"])
                res["bands"] = encode_tiles_batch(v, union_ct)
                yield res

    df = joined.mapInPandas(resolve, schema=a.df.schema)
    return DataCube(df, a.meta).with_meta(cell_type=out_ct_name)

"""Output checks against references that do not share the Spark plan.

Each check is one attempted op; a check that does not hold is one failed op.
``corrupt_*`` build a deliberately wrong result from a real one: every run
feeds it through the same checks and requires them to fail, so a check that
can no longer see a wrong answer breaks the run instead of passing it.
"""

from __future__ import annotations

import glob
import hashlib
import os

import numpy as np

TILE_ZOOMS = (7, 15)


# -- geo: NumPy kernels ------------------------------------------------------

def geo_reference(ids: np.ndarray, wards: list[dict]) -> dict:
    """Per-ward inclusive PIP counts (kernels.pip) and the z7..15 tile
    checksum (kernels.mercator + kernels.hilbert) of the points
    ``fixtures.point_udeg_np`` derives from ``ids``."""
    from plateau_gis_converter_spark.kernels import hilbert, pip
    from plateau_gis_converter_spark.kernels.mercator import (
        lnglat_to_web_mercator)
    from plateau_gis_converter_spark.sources import fixtures as fx

    lng, lat = fx.point_udeg_np(ids)
    counts = {}
    for rec in wards:
        ring = np.asarray(rec["rings_udeg"][0], dtype=np.int64)
        c = int(pip.points_in_convex_polygon_int(lng, lat, ring).sum())
        if c:
            counts[rec["ward_code"]] = c
    mx, my = lnglat_to_web_mercator(lng / 1e6, lat / 1e6)
    min_z, max_z = TILE_ZOOMS
    n = 1 << max_z
    xm = np.mod(np.floor(mx * n).astype(np.int64), n)
    ym = np.clip(np.floor(my * n).astype(np.int64), 0, n - 1)
    rows = tid_sum = x_sum = y_sum = 0
    for z in range(min_z, max_z + 1):
        x = xm >> (max_z - z)
        y = ym >> (max_z - z)
        tid_sum += int(hilbert.zxy_to_id(z, x, y).astype(np.int64).sum())
        x_sum += int(x.sum())
        y_sum += int(y.sum())
        rows += len(x)
    return {"ward_counts": counts, "tiles": (rows, tid_sum, x_sum, y_sum)}


def geo_checks(result: dict, ref: dict) -> list[tuple[str, bool]]:
    return [("ward_counts", result["ward_counts"] == ref["ward_counts"]),
            ("tile_checksum", tuple(result["tiles"]) == ref["tiles"])]


def corrupt_geo(result: dict) -> dict:
    counts = dict(result["ward_counts"])
    first = sorted(counts)[0]
    counts[first] += 1
    rows, tid, xs, ys = result["tiles"]
    return {"ward_counts": counts, "tiles": (rows, tid + 1, xs, ys)}


# -- curation: the direct operator path --------------------------------------

PACK_COLS = ["doc_id", "n_tokens", "token_start", "chunk_start", "chunk_end"]


def shard_of(doc_id: int, n_shards: int) -> str:
    """The pipeline's lineage shard, recomputed with hashlib."""
    h = hashlib.md5(str(doc_id).encode()).hexdigest()[:15]
    return f"s{int(h, 16) % n_shards}"


def _read_stage(out_root: str, stage: str):
    import pandas as pd
    import pyarrow.parquet as pq

    files = sorted(glob.glob(os.path.join(out_root, stage, "*.parquet")))
    if not files:
        return pd.DataFrame()
    return pd.concat([pq.read_table(f).to_pandas() for f in files],
                     ignore_index=True)


def curation_observe(out_root: str, committed: dict) -> dict:
    keep = _read_stage(out_root, "keep_list")
    sampled = _read_stage(out_root, "sampled")
    packed = _read_stage(out_root, "packed")
    return {
        "committed": dict(committed),
        "n_labeled": len(keep),
        "kept": set(keep.loc[keep["kept"], "doc_id"]) if len(keep) else set(),
        "sampled": set(sampled["doc_id"]) if len(sampled) else set(),
        "sampled_langs": set(sampled["lang"]) if len(sampled) else set(),
        "packed": (packed.sort_values("doc_id")[PACK_COLS].values.tolist()
                   if len(packed) else []),
    }


def curation_reference(doc_ids, kept: set, sampled_pdf, packed_pdf,
                       n_shards: int) -> dict:
    return {
        "committed": {
            "keep_list": len({shard_of(int(d), n_shards) for d in doc_ids}),
            "sampled": len(set(sampled_pdf["lang"])),
            "packed": len({shard_of(int(d), n_shards)
                           for d in sampled_pdf["doc_id"]}),
        },
        "n_labeled": len(doc_ids),
        "kept": set(kept),
        "sampled": set(sampled_pdf["doc_id"]),
        "sampled_langs": set(sampled_pdf["lang"]),
        "packed": packed_pdf.sort_values("doc_id")[PACK_COLS].values.tolist(),
    }


def curation_checks(obs: dict, ref: dict) -> list[tuple[str, bool]]:
    packed = obs["packed"]
    contiguous = bool(packed) and packed[0][2] == 0 and all(
        b[2] == a[2] + a[1] for a, b in zip(packed, packed[1:]))
    return [
        ("committed", obs["committed"] == ref["committed"]),
        ("keep_list", obs["n_labeled"] == ref["n_labeled"]
         and obs["kept"] == ref["kept"]),
        ("sampled", obs["sampled"] == ref["sampled"]
         and obs["sampled_langs"] == ref["sampled_langs"]),
        ("packed", packed == ref["packed"] and contiguous),
    ]


def corrupt_curation(obs: dict) -> dict:
    bad = dict(obs)
    bad["committed"] = dict(obs["committed"], packed=obs["committed"]
                            ["packed"] + 1)
    bad["kept"] = set(sorted(obs["kept"])[1:])
    bad["sampled"] = set(obs["sampled"]) | {-1}
    packed = [list(r) for r in obs["packed"]]
    packed[-1][2] += 1
    bad["packed"] = packed
    return bad

"""Deterministic synthetic tables (FIXTURES.md): page languages,
footprints, planted embeddings. Seeded NumPy, no wall-clock, no external
data.

``LANGS`` is the language cycle of the flagship's ``build_pages``.
``footprints`` mirror Sentinel granule identity (product name encodes type
+ sensing time + tile id, reference src/YAXTrees.jl:311, name slice 5:12 at
:539-540).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

LANGS = ["en", "fr", "de", "es", "pt"]


def _rect(lon0, lat0, w, h) -> np.ndarray:
    return np.array(
        [[lon0, lat0], [lon0 + w, lat0], [lon0 + w, lat0 + h], [lon0, lat0 + h]],
        dtype=np.float64,
    )


def footprints(n: int = 200, seed: int = 42) -> list[dict]:
    """Granule footprint polygons; returns list of dicts with
    product_id/product_type/sensing window/tile_id/rings."""
    rng = np.random.default_rng(seed)
    types = ["SL_2_LST", "SL_2_FRP", "OL_1_ERR"]
    out = []
    for orbit in range(n):
        tile = orbit % 120
        start = pd.Timestamp("2024-01-01") + pd.Timedelta(minutes=101 * orbit)
        lon0 = float(((orbit * 47) % 340) - 170)
        lat0 = float(((orbit * 29) % 150) - 75)
        w = 4.0 + float(rng.random() * 8.0)
        h = 3.0 + float(rng.random() * 5.0)
        if orbit % 10 == 7:  # concave "coastal" polygon
            rings = [
                np.array(
                    [
                        [lon0, lat0],
                        [lon0 + w, lat0],
                        [lon0 + w, lat0 + 0.3 * h],
                        [lon0 + 0.3 * w, lat0 + 0.3 * h],
                        [lon0 + 0.3 * w, lat0 + 0.7 * h],
                        [lon0 + w, lat0 + 0.7 * h],
                        [lon0 + w, lat0 + h],
                        [lon0, lat0 + h],
                    ]
                )
            ]
        else:
            rings = [_rect(lon0, lat0, w, h)]
        if orbit == 13:  # antimeridian crosser
            rings = [_rect(177.0, -10.0, 6.0, 8.0)]
            rings[0][:, 0] = np.where(rings[0][:, 0] > 180.0, rings[0][:, 0] - 360.0, rings[0][:, 0])
        ptype = types[orbit % 3]
        out.append(
            {
                "product_id": f"S03{ptype.replace('_', '')[:6].upper():6s}_{start:%Y%m%dT%H%M%S}_0179_A{orbit % 1000:03d}_T{tile:03d}".replace(" ", ""),
                "product_type": ptype,
                "sensing_start": start,
                "sensing_stop": start + pd.Timedelta(minutes=3),
                "tile_id": f"T{tile:03d}",
                "rings": [r.tolist() for r in rings],
            }
        )
    return out


def planted_embeddings(
    spark: SparkSession,
    n: int = 2000,
    dim: int = 64,
    n_clusters: int = 20,
    seed: int = 7,
    sigma: float = 0.25,
    partitions: int = 8,
) -> DataFrame:
    """Seeded Gaussian-mixture embeddings with PLANTED cluster structure
    (VERDICT r4 #3): ``n_clusters`` unit-norm centers, each vector =
    ``center[vec_id % n_clusters] + sigma * N(0, I)``. Unlike the
    near-isotropic testdata embeddings (where any bucketing index's recall
    floors at its candidate fraction), true nearest neighbors here share a
    cluster, so recall meaningfully separates ANN index quality.

    Deterministic per ``vec_id`` regardless of partitioning: each row's
    noise comes from an RNG keyed by (seed, vec_id), so the fixture is
    reproducible across partition counts and cluster sizes — the same
    partition-invariance rule as the corpus samplers. Generation is
    distributed (mapInPandas over ``spark.range``); only the k×dim center
    matrix rides the closure."""
    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            labels = (ids % n_clusters).astype(np.int32)
            vecs = []
            for i, lab in zip(ids, labels):
                noise = np.random.default_rng(seed * 1_000_003 + int(i)).normal(size=dim)
                vecs.append((centers[lab] + sigma * noise).astype(np.float32).tolist())
            yield pd.DataFrame({"vec_id": ids, "embedding": vecs, "label": labels})

    return (
        spark.range(n)
        .repartition(partitions)
        .mapInPandas(gen, "vec_id long, embedding array<float>, label int")
    )

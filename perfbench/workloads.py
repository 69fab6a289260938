"""Workload definitions: which registry queries run, at which scale.

Each workload runs its queries in a fixed order as one pass, on inputs
generated at ``measure_sf``. The oracle check runs on a smaller set
generated from the same seed at ``CHECK_SF``, because some DuckDB
oracles (the recursive DBSCAN and shortest-path ones) take tens of
seconds at any scale.
"""

from __future__ import annotations

from dataclasses import dataclass

CHECK_SF = 0.001


@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[str, ...]
    measure_sf: float = 0.1
    # the oracle check of one run covers every `check_slices`-th query
    # (offset by the seed), so consecutive seeds cover the whole list
    check_slices: int = 1
    # queries that write a stored ANN index (every pass starts from an
    # empty index directory); reported apart as index_write_p50_s
    index_writes: tuple[str, ...] = ()


GEO_LABS = Workload(
    name="geo_labs",
    queries=(
        # lab 1: 311 noise complaints, DBSCAN and sessions
        "lab1_noise_pipeline", "dbscan_event_clusters", "high_density_hours",
        "user_sessions", "session_drilldown", "dow_eventtype_pivot",
        "geo_grid_density", "haversine_stats", "hot_cold_grid_cells",
        "kde_grid_density",
        # lab 2: taxi features
        "lab2_taxi_features", "lab2_pipeline", "voronoi_region_speed",
        "raster_sample_stats", "lloyd_kmeans_clusters",
        # lab 3: road network
        "road_density_grid", "isochrone_poi_access", "shortest_path_route_grid",
        "network_summary", "snap_to_road", "polygon_points_join",
        # lab 4: reviews, sentiment and LISA
        "ndjson_scan_docs", "sentiment_docs", "lisa_moran_events",
        "bias_audit_summary", "streaming_hourly_counts",
    ),
    check_slices=8,
)

CORPUS_INDEX = Workload(
    name="corpus_index",
    queries=(
        # writes (ivfpq_index_upsert, which trains a second IVF-PQ index,
        # would add a quarter to every pass)
        "minhash_index_build", "minhash_index_upsert", "ivfpq_index_build",
        # reads
        "exact_dedup_docs", "minhash_near_dup_docs", "near_dup_clusters_docs",
        "training_corpus_pipeline", "split_leakage_audit",
        "near_dup_probe_stored", "ivfpq_probe_stored", "knn_embeddings",
        "ivf_topk_embeddings", "srp_near_dup_pairs", "mrl_truncation_recall",
        # codecs
        "png_roundtrip_stats", "jpeg_roundtrip_stats", "wav_roundtrip_stats",
    ),
    # every pass rebuilds three stored indexes, whose fixed-iteration
    # builds keep a pass near 30 s even at sf0.01
    measure_sf=0.01,
    check_slices=6,
    index_writes=("minhash_index_build", "minhash_index_upsert", "ivfpq_index_build"),
)

WORKLOADS = {w.name: w for w in (GEO_LABS, CORPUS_INDEX)}


def check_slice(workload: Workload, seed: int) -> list[str]:
    """The queries whose oracle this seed's run checks."""
    return list(workload.queries[seed % workload.check_slices :: workload.check_slices])

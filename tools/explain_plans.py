"""Dump physical plans of the key queries to PLANS.md.

The point: show that predicates and projections reach the parquet scan
(PushedFilters / ReadSchema), joins broadcast the dimension side, and
the hot pipeline stays inside WholeStageCodegen.
"""

from __future__ import annotations

import io
import sys

sys.path.insert(0, ".")

import __spark_entry__ as em  # noqa: E402
from geodesk_spark.session import get_spark  # noqa: E402


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def main():
    spark = get_spark("plans")
    sf_dir = "/root/testdata/sf0.01"
    qs = em.queries()
    names = [
        "tile_assign",
        "bbox_query",
        "bbox_antimeridian",
        "pip_join",
        "knn_join",
        "distance_filter",
        "join_customer_orders",
        "goql_select",
        "dedup_minhash_lsh",
        "dedup_embedding_cosine",
        "skew_salted_rollup",
        "heading_rollup",
        "hex_cells",
        "dedup_phash_hamming",
        "relation_geom_collection",
        "crossing_segments_join",
        "tile_clip_segments",
        "interval_join_events",
        "sessionize_events",
        "text_decontaminate",
        "sample_weighted",
        "group_quantiles_events",
        "raster_box_blur",
        "linreg_user_trend",
        "tag_key_stats",
        "rasterize_polygon_spans",
        "raster_vectorize_edges",
        "hotspot_gi_star",
        "dissolve_union_area",
        "idw_interpolate",
        # sssp_bounded is omitted: its driver config is the LAZY
        # materialize=False join tower (right for a dimension-sized
        # graph, ~3000 plan lines of noise here); the scale path is the
        # materialize=True per-round plan, one join + rollup per round.
        "geofence_transitions",
        "colocation_pairs",
        "od_matrix",
        "ann_pq_topk",
        "ann_ivfpq_topk",
        "contour_segments",
        "dbscan_clusters",
        "trajectory_teleports",
        "geojson_points",
        "geo_medoid_cells",
        "tile_diff_snapshots",
        "dedup_substring_spans",
        "dedup_remove_spans",
        "semdedup_prune",
        "text_lm_perplexity",
        "text_dsir_select",
        "text_ccnet_buckets",
        "text_pii_scrub",
        "text_c4_lines",
        "text_gopher_quality",
        "text_dupline_stats",
        "text_bpe_pairs",
        "ann_sq8_topk",
        "hard_negatives",
        "ann_recall_eval",
        "epoch_shard_manifest",
        "overlay_area",
        "areal_interpolate",
        "zone_line_length",
        "trajectory_resample",
        "ann_two_stage",
        "overlay_area_nonconvex",
        "zone_line_nonconvex",
        "areal_interp_nonconvex",
        "overlay_area_bigbig",
        # round 4 additions
        "terrain_hillshade",
        "gwr_local_slope",
        "great_circle_m",
        "within_distance_bigjoin",
        "theil_sen_trend",
        "isochrone_hulls",
        "doremi_domain_weights",
        "s2_polyfill",
        "terrain_viewshed",
        "cost_distance_spread",
        "flow_accumulation_d8",
        # round 5: the remaining first-time Tier A families
        "tile_walk_order",
        "hierarchical_cover",
        # round 4 late additions
        "watershed_basins",
        "ripley_pair_counts",
        "slice_detect_nms",
        "letterbox_boxes",
        "raster_morphology_close",
        "raster_blobs",
        "tile_balance_audit",
        "pca_project_scores",
        "chaikin_smooth",
        "polygon_sample_points",
        "semivariogram",
        "label_spread",
        "funnel_conversion",
        "cohort_retention",
        "dp_tile_counts",
        "fuzzy_vocab_match",
        "leakage_safe_split",
        "crop_boxes_aug",
        "concave_footprint_edges",
        "snapshot_mor_delete",
        "overview_pyramid_manifest",
        "geodesic_destination",
        "markov_stationary",
        "event_transitions",
    ]
    out = io.StringIO()
    out.write("# PLANS — physical plans of headline queries (sf0.01)\n\n")
    out.write(
        "Generated by tools/explain_plans.py.  Things to check: parquet scans "
        "carry PushedFilters + pruned ReadSchema; dimension joins are "
        "BroadcastHashJoin; no Exchange before a pushed-down filter; hot "
        "expressions sit inside WholeStageCodegen spans.\n\n"
        "NB: a RoundRobin Exchange directly above a scan is the "
        "`tables.load_spread` small-file correction — the sf-scale test "
        "files arrive as 1-3 splits, and the repartition fires ONLY when "
        "splits < session cores (a no-op at real scale, where the table "
        "has thousands of splits).\n"
    )
    notes = {
        "overlay_area_bigbig": (
            "NB: the blocking join is a plain EQUI-join on the (gx, gy) "
            "cell key — at sf0.01 the exploded zone side is tiny, so the "
            "planner (correctly) broadcasts it; at parcel-scale stats the "
            "same plan becomes a shuffled hash/sort-merge join with AQE "
            "skew splitting.  The operator encodes the JOIN SHAPE, not "
            "the physical strategy — that is Catalyst's call."
        ),
        "knn_join": (
            "NB: the plan below is the output frame, a LocalRelation of "
            "the rows the rounds collected.  Each expansion round runs "
            "its own plan: the active queries' cell cover, exploded as "
            "columns over a LocalRelation -> broadcast hash join on the "
            "cell id with the cap box in its condition -> codegen'd "
            "Mercator distance -> partial WindowGroupLimit (top-k per "
            "query per task) -> Exchange on _qid -> one Window -> ONE "
            "collect per round; the completion proof runs on the driver "
            "over those k rows per query."
        ),
        "dbscan_clusters": (
            "NB: the `Scan ExistingRDD` is the connected-components "
            "result, detached per round via localCheckpoint (the round "
            "plan references the labels twice, so uncheckpointed lineage "
            "doubles per round).  The visible plan is the eps-join + "
            "core/border assembly: one 3x3 cell-cover explode -> hash "
            "join on (cx, cy) -> exact int64 distance filter -> count "
            "aggregate for the core rule -> label joins; no Python, no "
            "cartesian product, pair fan-out bounded by the cell cover."
        ),
    }
    for name in names:
        df = qs[name](spark, sf_dir)
        note = f"\n{notes[name]}\n" if name in notes else ""
        out.write(f"\n## {name}\n{note}\n```\n{plan_of(df)}\n```\n")
    with open("PLANS.md", "w") as f:
        f.write(out.getvalue())
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()

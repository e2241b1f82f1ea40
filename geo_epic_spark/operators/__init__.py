from geo_epic_spark.operators.dedup import (  # noqa: F401
    cluster_pairs,
    embedding_near_dup_pairs,
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    semantic_dedup,
    simhash_dup_pairs,
)
from geo_epic_spark.operators.text import (  # noqa: F401
    redact_pii,
    repetition_report,
    text_features,
    winnow_fingerprints,
)
from geo_epic_spark.operators.phenology import (  # noqa: F401
    count_seasons,
    fit_asym_gaussian,
    fit_double_logistic,
    fit_harmonic,
    smooth_series,
)
from geo_epic_spark.operators.relational import (  # noqa: F401
    depth_bucket_median,
    dominant_component,
    opc_append,
    soil_projection,
)
from geo_epic_spark.operators.resume import (  # noqa: F401
    pending_partitions,
    run_with_resume,
)
from geo_epic_spark.operators.similarity import (  # noqa: F401
    cosine_topk,
    cosine_topk_arrow,
    ivf_topk,
)
from geo_epic_spark.operators.spatial import (  # noqa: F401
    bbox_join,
    nearest_grid_join,
    pip_join,
    rasterize,
    vectorize,
    zonal_stats,
)
from geo_epic_spark.operators.timeseries import (  # noqa: F401
    build_opc_schedules,
    edit_crop_season,
    envelope_clip,
    heat_units,
    interpolate_daily,
    missing_dates,
    monthly_normals,
    pair_seasons,
    rolling_median,
)
from geo_epic_spark.operators.overlay import (  # noqa: F401
    clip_area_convex,
    overlay_join,
    rect_overlap_expr,
)
from geo_epic_spark.operators.mapalgebra import (  # noqa: F401
    focal_stats,
    regrid_bilinear,
    slope_aspect,
)
from geo_epic_spark.operators.geocluster import (  # noqa: F401
    density_cluster,
    radius_join,
)
from geo_epic_spark.operators.trajectory import trajectory_stats  # noqa: F401
from geo_epic_spark.operators.relational import merge_upsert  # noqa: F401
from geo_epic_spark.operators.spatial import adaptive_cells  # noqa: F401
from geo_epic_spark.operators.dedup import crossmodal_near_dup  # noqa: F401

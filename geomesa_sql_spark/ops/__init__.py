from geomesa_sql_spark.ops.dedup import (  # noqa: F401
    contaminated_ids,
    decontaminate,
    hamming_clusters,
    hamming_near_dup_pairs,
    exact_dedup,
    lsh_near_dup_pairs,
    ngram_jaccard_pairs,
    doc_fingerprints,
    minhash_signatures,
    simhash64,
)
from geomesa_sql_spark.ops.text import (  # noqa: F401
    lang_id,
    quality_score,
    redact_pii,
    token_count,
)
from geomesa_sql_spark.ops.ann import (  # noqa: F401
    cosine_similarity_col,
    cosine_topk,
    lsh_bucket_ann,
    embedding_clusters,
    near_dup_embeddings,
)
from geomesa_sql_spark.ops.split import (  # noqa: F401
    hash_split,
    with_splitmix64,
)
from geomesa_sql_spark.ops.pack import (  # noqa: F401
    pack_sequences,
)
from geomesa_sql_spark.ops.multimodal import (  # noqa: F401
    geotag_images,
    image_exif,
    image_stats,
    near_dup_images,
    phash_images,
    resize_images,
    scrub_exif_images,
    transcode_images,
)
from geomesa_sql_spark.ops.raster import (  # noqa: F401
    raster_band_stats,
    raster_checksum,
    raster_info,
    raster_tiles,
    render_pyramid,
    render_tiles,
)
from geomesa_sql_spark.ops.vector_tiles import (  # noqa: F401
    mvt_features,
    mvt_stats,
    render_mvt,
    render_mvt_wkb,
)

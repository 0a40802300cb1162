from crick_spark.operators.sketch_agg import (  # noqa: F401
    merge_sketches,
    partial_sketches,
    sketch_aggregate,
)
from crick_spark.operators.crick_ops import (  # noqa: F401
    cms_frequencies,
    moments_agg,
    spacesaving_topk,
    tdigest_agg,
    tdigest_cdf,
    tdigest_centroids,
    tdigest_decayed_quantiles,
    tdigest_histogram,
    tdigest_quantiles,
)

from activedata_etl_spark.operators.corpus import (  # noqa: F401
    ngram_topk,
    scrub_common_segments,
)
from activedata_etl_spark.operators.lww import (  # noqa: F401
    lww_reduce,
    lww_reduce_salted,
    lww_reduce_structmax,
)
from activedata_etl_spark.operators.sampling import (  # noqa: F401
    contamination_pairs,
    interleave_sources,
    pack_sequences,
    quota_sample,
    split_assign,
    stratified_sample_k,
)
from activedata_etl_spark.operators.funnels import (  # noqa: F401
    cohort_retention,
    funnel,
    funnel_counts,
)
from activedata_etl_spark.operators.temporal import (  # noqa: F401
    asof_join,
    range_join,
    resample,
    sessionize,
)

from fdf_spark.operators.asof import asof_join  # noqa: F401
from fdf_spark.operators.selection import (  # noqa: F401
    nearest_sample,
    positional_slice,
    value_window,
)
from fdf_spark.operators.windows import baseline_subtract  # noqa: F401
from fdf_spark.operators.graph import connected_components, pagerank  # noqa: F401
from fdf_spark.operators.merge import merge_upsert  # noqa: F401
from fdf_spark.operators.validate import validate  # noqa: F401
from fdf_spark.operators.ivm import agg_view, finish_view, incremental_refresh  # noqa: F401
from fdf_spark.operators.linkage import block_profile, blocked_fuzzy_pairs  # noqa: F401

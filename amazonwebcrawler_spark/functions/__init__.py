"""Pure column-expression kernels (whole-stage-codegen friendly) and
vectorized pandas UDFs. Nothing in here touches driver-side state."""

from amazonwebcrawler_spark.functions.urls import (  # noqa: F401
    canonicalize_url,
    url_host,
)
from amazonwebcrawler_spark.functions.rank import (  # noqa: F401
    rank_encode,
    rank_string_synthesis,
    best_seller_rank_extract,
)

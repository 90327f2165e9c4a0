from idd_hw6_record_linkage_spark.functions.cleaning import (  # noqa: F401
    clean_text_expr,
    clean_text_py,
)
from idd_hw6_record_linkage_spark.functions.normalize import (  # noqa: F401
    block_key_b1,
    block_key_b2,
    model_prefix_expr,
    normalize_brand_expr,
    normalize_string_expr,
    normalize_year_expr,
    url_domain_expr,
    title_tokens_expr,
)

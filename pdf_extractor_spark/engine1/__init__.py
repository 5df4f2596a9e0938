from .pipeline import (  # noqa: F401
    classify_pages,
    explode_pages,
    extract_folha,
    extract_long,
    page_metrics,
    split_long,
)

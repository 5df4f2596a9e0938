from .kernel import E2_LONG_SCHEMA  # noqa: F401
from .pipeline import (  # noqa: F401
    extract_ficha,
    format_decimal_col,
    month_dim,
    series_for_code,
)

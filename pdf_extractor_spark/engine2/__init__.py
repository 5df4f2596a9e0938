from .kernel import E2_LONG_SCHEMA  # noqa: F401
from .pipeline import (  # noqa: F401
    build_series,
    extract_ficha,
    series_table,
)

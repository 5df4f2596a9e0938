from .brnum import (  # noqa: F401
    convert_minutes,
    format_decimal,
    to_decimal_expr,
    to_float_robust_struct,
)
from .refdate import reference_date_cols  # noqa: F401

from .brnum import (  # noqa: F401
    convert_minutes_udf,
    format_decimal_expr,
    format_decimal_udf,
    to_decimal_expr,
    to_float_robust_struct,
)
from .refdate import reference_date_cols  # noqa: F401

from .brnum import (  # noqa: F401
    convert_minutes,
    format_decimal,
    to_decimal_expr,
)

from .brnum import (  # noqa: F401
    convert_minutes,
    format_decimal,
)

"""Brazilian-number scalar functions (reference C1-C6 semantics).

Plain Python over canonical decimal strings, the byte-parity tier
(C5 `format_decimal`, C6 `convert_minutes`), called per value by
Engine 2's series writer (``engine2/pipeline.writer_rows``). Python
``Decimal`` default context + ROUND_HALF_EVEN quantize exactly matches
the reference (``ficha_financeira_processor.py:723-755, 1155-1159``);
Spark's decimal cast rounds HALF_UP, which can diverge on exact .005
boundaries, so C5 has no Catalyst form. C4 (the decimal parse) is the
in-kernel string canonicalization in ``engine2/kernel._row_values``.
"""

from __future__ import annotations

from decimal import Decimal


def format_decimal(v: str) -> str:
    """C5 ``_format_decimal`` (ficha_financeira_processor.py:1155-1159)
    over a canonical decimal string: HALF_EVEN to 2 places, comma
    decimal separator, trailing zeros stripped."""
    q = Decimal(v).quantize(Decimal("0.01"))
    s = f"{q:.2f}".replace(".", ",").rstrip("0").rstrip(",")
    return s or "0"


def convert_minutes(v: str) -> str:
    """C6 minutes→centesimal (ficha_financeira_processor.py:723-755).

    Scale-sensitive: '9.3' reads as 3 minutes, '9.30' as 30 — which is
    why values travel as canonical decimal *strings* (original token
    scale preserved), never as fixed-scale DecimalType.
    """
    value = Decimal(v)
    if value == 0:
        return v
    txt = format(abs(value), "f")
    if "." not in txt:
        return v
    whole, frac = txt.split(".", 1)
    if not frac or len(frac) > 2:
        return v
    mins = int(frac)
    conv = Decimal(int(whole or 0) + mins // 60) + Decimal(mins % 60) / Decimal(60)
    return str(conv if value >= 0 else -conv)

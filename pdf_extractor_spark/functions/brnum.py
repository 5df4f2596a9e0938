"""Brazilian-number scalar functions (reference C1-C6 semantics).

Two tiers:

* **Column expressions** — pure Catalyst (whole-stage codegen, JVM-side):
  the hot path for the Engine-1 line parser which runs over billions of
  exploded lines at full scale. `to_float_robust_struct` reproduces the
  exact branch order of ``pdf_processor_core.py:384-413``.

* **Plain Python over canonical decimal strings** — the byte-parity
  tier (C5 `format_decimal`, C6 `convert_minutes`), called per value by
  Engine 2's grouped series pass (``engine2/pipeline.build_series``).
  Python ``Decimal`` default context + ROUND_HALF_EVEN quantize exactly
  matches the reference (``ficha_financeira_processor.py:723-755,
  1155-1159``); Spark's decimal cast rounds HALF_UP, which can diverge
  on exact .005 boundaries, so C5 has no Catalyst form.
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Expression tier (JVM / codegen)
# ---------------------------------------------------------------------------


def to_decimal_expr(col: Column, precision: int = 38, scale: int = 6) -> Column:
    """C4 `_to_decimal`: '1.234,56' → 1234.56 (invalid → 0)."""
    cleaned = F.regexp_replace(F.regexp_replace(col, r"\.", ""), ",", ".")
    return F.coalesce(
        cleaned.try_cast(f"decimal({precision},{scale})"),
        F.lit(0).cast(f"decimal({precision},{scale})"),
    )


def to_float_robust_struct(tok: Column, token_alphabet: bool = False) -> Column:
    """C2 `convert_to_float_robust` (pdf_processor_core.py:384-413).

    Returns struct(num double, txt string, is_time boolean):
      * HH:MM tokens → txt='HH,MM', is_time=true, num=null (the reference
        returns the *string* '06,34' — a float|str union type);
      * otherwise num = parsed float (exact branch order preserved),
        txt = null;
      * unparseable → all null.

    ``token_alphabet=True`` is the hot-path variant for inputs already
    extracted by the numeric-token regex ``[\\d]+(?:[.,:]\\d+)*`` (no
    whitespace, chars ⊆ [0-9.,:]): every `regexp_replace` collapses to
    a `translate`, cutting per-token cost several-fold. Semantically
    identical ON THAT ALPHABET (pinned by a hypothesis test); pass
    False (default) for arbitrary strings.
    """
    if token_alphabet:
        s = tok
        cleaned = F.translate(s, ":", "")

        def strip_dots(c):
            return F.translate(c, ".", "")

        def comma_to_dot(c):
            return F.translate(c, ",", ".")

        def strip_commas(c):
            return F.translate(c, ",", "")
    else:
        s = F.trim(tok)
        cleaned = F.regexp_replace(s, r"[^\d.,]", "")

        def strip_dots(c):
            return F.regexp_replace(c, r"\.", "")

        def comma_to_dot(c):
            return F.regexp_replace(c, ",", ".")

        def strip_commas(c):
            return F.regexp_replace(c, ",", "")

    is_time = s.rlike(r"^\d{1,2}:\d{2}$")
    n_comma = F.length(cleaned) - F.length(strip_commas(cleaned))
    n_dot = F.length(cleaned) - F.length(strip_dots(cleaned))
    has_comma = cleaned.contains(",")
    has_dot = cleaned.contains(".")

    # branch order matters for parity (e.g. '1.234,56' vs '1234.56')
    num = (
        F.when(cleaned == "", F.lit(None).cast("double"))
        .when(
            has_comma & (n_comma == 1),
            comma_to_dot(strip_dots(cleaned)).try_cast("double"),
        )
        .when(
            has_dot & (n_dot == 1) & has_comma,
            strip_commas(cleaned).try_cast("double"),
        )
        .when(
            has_comma & ~has_dot,
            comma_to_dot(cleaned).try_cast("double"),
        )
        .otherwise(cleaned.try_cast("double"))
    )
    txt_time = (F.translate(s, ":", ",") if token_alphabet
                else F.regexp_replace(s, ":", ","))
    return F.struct(
        F.when(~is_time, num).alias("num"),
        F.when(is_time, txt_time).alias("txt"),
        is_time.alias("is_time"),
    )


# ---------------------------------------------------------------------------
# Byte-parity tier (Python Decimal over canonical decimal strings)
# ---------------------------------------------------------------------------


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

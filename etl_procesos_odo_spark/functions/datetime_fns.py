"""Date/time expression library (SURVEY.md §2.8 F1–F12, F21–F22).

Every function returns a native Column expression — JVM-side, codegen'd,
no Python UDFs in the hot path. The reference applies these semantics
row-at-a-time with ``Series.apply`` (e.g. app_confirmaciones.py:42-59);
here they are whole-stage-codegen expressions that cost nothing extra at
100 TB.

Weekday convention: the engine standardizes on Monday=0..Sunday=6
(``weekday_monday0``), matching pandas ``dt.dayofweek`` that the reference
uses throughout — wrapping Spark's ``dayofweek`` (1=Sunday) exactly once to
avoid the systemic off-by-one called out in SURVEY.md §7.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

# Spanish calendar lookup arrays (F3/F4). Locale-independent on purpose:
# JVM locale data must never leak into results (SURVEY.md §7 watch-outs).
SPANISH_DAYS = ["Lunes", "Martes", "Miércoles", "Jueves", "Viernes", "Sábado", "Domingo"]
SPANISH_MONTHS = [
    "Enero", "Febrero", "Marzo", "Abril", "Mayo", "Junio",
    "Julio", "Agosto", "Septiembre", "Octubre", "Noviembre", "Diciembre",
]
# lowercase month -> number, for parsing "3 de marzo de 2025" (F2)
SPANISH_MONTHS_LOWER = [m.lower() for m in SPANISH_MONTHS]


def ts_parse_multi(col: Column | str, formats: Sequence[str]) -> Column:
    """F1 — multi-format datetime parse: first format that matches wins.

    Reference tries 6 date × 3 time strptime formats in a loop
    (app_confirmaciones.py:42-59); here a ``coalesce`` of
    ``try_to_timestamp`` — one codegen'd expression, null if none match.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.coalesce(*[F.try_to_timestamp(c, F.lit(f)) for f in formats])


def weekday_monday0(col: Column | str) -> Column:
    """F21 — weekday with Monday=0..Sunday=6 (pandas convention).

    Single wrap point for the Spark(1=Sunday) vs pandas(0=Monday) mismatch.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.weekday(c).cast("long")


def spanish_day_name(col: Column | str) -> Column:
    """F4 — day name in Spanish via lookup array (no JVM locale)."""
    c = F.col(col) if isinstance(col, str) else col
    days = F.array(*[F.lit(d) for d in SPANISH_DAYS])
    return F.element_at(days, (weekday_monday0(c) + 1).cast("int"))


def spanish_long_date(col: Column | str) -> Column:
    """F3 — format as 'Lunes, 3 de Marzo de 2025'.

    Reference builds this with a Python dict per row
    (app_confirmaciones.py:104-119); here pure expressions.
    """
    c = F.col(col) if isinstance(col, str) else col
    months = F.array(*[F.lit(m) for m in SPANISH_MONTHS])
    return F.concat(
        spanish_day_name(c),
        F.lit(", "),
        F.dayofmonth(c).cast("string"),
        F.lit(" de "),
        F.element_at(months, F.month(c)),
        F.lit(" de "),
        F.year(c).cast("string"),
    )


def parse_spanish_long_date(col: Column | str) -> Column:
    """F2 — parse 'lunes, 3 de marzo de 2025' → date.

    Reference strips the weekday word and maps month names ES→EN before
    strptime (app_confirmaciones.py:62-99). Here: drop everything before a
    comma, extract day/month-name/year with regex, map the month via a
    chained replace on a literal array position.
    """
    c = F.col(col) if isinstance(col, str) else col
    cleaned = F.lower(F.trim(F.regexp_replace(c, r"^[^,]*,\s*", "")))
    day = F.regexp_extract(cleaned, r"^(\d{1,2})\s+de\s+", 1)
    month_name = F.regexp_extract(cleaned, r"de\s+([a-záéíóúñ]+)\s+de", 1)
    year = F.regexp_extract(cleaned, r"(\d{4})\s*$", 1)
    months = F.array(*[F.lit(m) for m in SPANISH_MONTHS_LOWER])
    month_num = F.array_position(months, month_name)
    return F.when(
        (day != "") & (year != "") & (month_num > 0),
        F.make_date(year.cast("int"), month_num.cast("int"), day.cast("int")),
    )


def excel_serial_to_date(col: Column | str, lotus_correction: bool = False) -> Column:
    """F6 — Excel serial number → date, epoch 1899-12-30.

    The standard epoch 1899-12-30 already absorbs Excel's fake 1900-02-29
    for serials ≥ 61; ``lotus_correction=True`` reproduces the reference's
    explicit ``serial >= 61 → serial - 1`` shift over the same 1899-12-30
    base (indicador-modelo-vs-facturacion.py:92-109, which therefore lands
    one day earlier than standard for serials ≥ 61;
    app_calculador_recursos_modelo_atencion.py:164-168 uses the plain base
    with a ``> 40000`` guard).
    """
    c = F.col(col) if isinstance(col, str) else col
    serial = c.cast("double")
    epoch = F.lit("1899-12-30").cast("date")
    if lotus_correction:
        days = F.when(serial >= 61, serial - 1).otherwise(serial)
        return F.date_add(epoch, F.floor(days).cast("int"))
    return F.date_add(epoch, F.floor(serial).cast("int"))


def day_fraction_to_ampm(col: Column | str) -> Column:
    """F5 — fraction-of-day float (0–1) → 'h:MM AM/PM' 12-hour string.

    Reference: app_confirmaciones.py:121-144 (×24×60 then manual 12-hour
    math). Strings already containing ':' / 'AM' / 'PM' pass through.
    """
    c = F.col(col) if isinstance(col, str) else col
    as_num = c.try_cast("double")
    total_min = F.round(as_num * 24 * 60).cast("long")
    h24 = (total_min / 60).cast("long") % 24
    mm = total_min % 60
    h12 = F.when(h24 % 12 == 0, F.lit(12)).otherwise(h24 % 12)
    ampm = F.when(h24 < 12, F.lit("AM")).otherwise(F.lit("PM"))
    formatted = F.concat(
        h12.cast("string"), F.lit(":"), F.lpad(mm.cast("string"), 2, "0"),
        F.lit(" "), ampm,
    )
    s = c.cast("string")
    passthrough = s.contains(":") | F.upper(s).contains("AM") | F.upper(s).contains("PM")
    return F.when(as_num.isNull() & passthrough, s).when(
        as_num.isNotNull(), formatted
    )


def ceil_to_grid(col: Column | str, minutes: int = 5) -> Column:
    """F8 — round a timestamp *up* to the next ``minutes`` boundary.

    Reference does string surgery per row
    (app_calculador_recursos_modelo_atencion.py:105-122); closed form:
    ``ceil(epoch / step) * step``.
    """
    c = F.col(col) if isinstance(col, str) else col
    step = minutes * 60
    return F.timestamp_seconds(F.ceil(F.unix_timestamp(c) / step).cast("long") * step)


def minus_minutes(col: Column | str, minutes: int) -> Column:
    """F9 — shift a timestamp back N minutes (arrival = start − 30min,
    app_calculador_recursos_modelo_atencion.py:204-217)."""
    c = F.col(col) if isinstance(col, str) else col
    return c - F.expr(f"INTERVAL {minutes} MINUTES")


def same_weekday_days_in_month(col: Column | str) -> Column:
    """F10 — how many times this date's weekday occurs in its month.

    Reference loops the calendar per row
    (app_calculador_recursos_modelo_atencion.py:138-155). Closed form: of
    the month's ``n`` days, day-of-month ``d`` shares its weekday with
    ``floor((n - d) / 7) + floor((d - 1) / 7) + 1`` days.
    """
    c = F.col(col) if isinstance(col, str) else col
    n = F.dayofmonth(F.last_day(c))
    d = F.dayofmonth(c)
    return (F.floor((n - d) / 7) + F.floor((d - 1) / 7) + 1).cast("long")


def hhmmss_to_minutes(col: Column | str) -> Column:
    """F12 — 'hh:mm[:ss]' duration string → minutes (double).

    Reference: split-on-':' arithmetic (app_indicadores_modelo_atencion.py:736-750).
    """
    c = F.col(col) if isinstance(col, str) else col
    parts = F.split(c, ":")
    h = F.element_at(parts, 1).try_cast("double")
    m = F.coalesce(F.element_at(parts, 2).try_cast("double"), F.lit(0.0))
    s = F.when(F.size(parts) >= 3, F.element_at(parts, 3).try_cast("double")).otherwise(F.lit(0.0))
    return h * 60 + m + F.coalesce(s, F.lit(0.0)) / 60


def week_of_month(col: Column | str) -> Column:
    """F21 — week-of-month as ``(day-1)//7 + 1`` (reference
    app_calculo_necesidad_recepción_call_center.py:597-601)."""
    c = F.col(col) if isinstance(col, str) else col
    return (F.floor((F.dayofmonth(c) - 1) / 7) + 1).cast("long")


def period_bucket(col: Column | str, period: str) -> Column:
    """F22 — bucket a date into daily / weekly (Monday-start) / monthly
    period keys (indicador-modelo-vs-facturacion.py:605-635).

    Spark's ``date_trunc('week', ...)`` is Monday-start, matching the
    reference's ``date − dayofweek`` arithmetic exactly.
    """
    c = F.col(col) if isinstance(col, str) else col
    if period == "daily":
        return F.to_date(c)
    if period == "weekly":
        return F.to_date(F.date_trunc("week", c))
    if period == "monthly":
        return F.to_date(F.date_trunc("month", c))
    raise ValueError(f"unknown period: {period!r}")


def ampm_to_decimal_hours(col: Column | str, sentinel: float = 999999.0) -> Column:
    """F11 — ``hora_a_decimal`` (app_confirmaciones.py:226-257) as one
    expression, branch-for-branch:

    1. null/''/'nan' → the 999999 sentinel;
    2. ``float(s)`` passthrough for plain numeric strings;
    3. else strip AM/PM (the reference's four literal replaces), split on
       ':' (minutes default 0, seconds ignored) — 24-hour colon strings
       without a suffix parse too;
    4. PM & hour≠12 → +12; no PM & hour==12 → 0 (the reference's quirk:
       this also zeroes a suffix-less '12:30');
    5. any int() failure → sentinel.
    """
    c = F.col(col) if isinstance(col, str) else col
    s = F.trim(c.cast("string"))
    empty = c.isNull() | (s == "") | (s == "nan")
    num = s.try_cast("double")
    es_pm = F.lower(s).contains("pm")
    clean = F.trim(F.regexp_replace(s, "AM|PM|am|pm", ""))
    parts = F.split(clean, ":")
    has_colon = clean.contains(":")
    h = F.when(has_colon, F.element_at(parts, 1).try_cast("int")).otherwise(
        clean.try_cast("int")
    )
    m = (
        F.when(has_colon & (F.size(parts) >= 2), F.element_at(parts, 2).try_cast("int"))
        .when(has_colon, F.lit(None).cast("int"))
        .otherwise(F.lit(0))
    )
    h24 = (
        F.when(es_pm & (h != 12), h + 12)
        .when(~es_pm & (h == 12), F.lit(0))
        .otherwise(h)
    )
    return (
        F.when(empty, F.lit(sentinel))
        .when(num.isNotNull(), num)
        .when(
            h.isNotNull() & m.isNotNull(),
            h24.cast("double") + m.cast("double") / 60,
        )
        .otherwise(F.lit(sentinel))
    )


def parse_wallclock_flexible(
    col: Column | str,
    formats: Sequence[str] = (
        "HH:mm:ss", "HH:mm", "h:mm a", "yyyy-MM-dd HH:mm:ss", "yyyy-MM-dd HH:mm",
    ),
) -> Column:
    """F7 — flexible wall-clock parse (the 65-line ``convertir_a_hora`` at
    app_calculador_recursos_modelo_atencion.py:31-95), one expression:

    1. numeric > 40000 → Excel serial datetime (epoch 1899-12-30) — the
       reference's exact threshold; numerics in the (1, 40000] gap (and
       negatives) return null, matching its fall-through;
    2. numeric in [0, 1] → fraction-of-day on the epoch date;
    3. else try the strptime formats in order;
    4. regex rescue: first '(\\d{1,2}):(\\d{2})' anywhere in the string.

    Returns a timestamp (date part meaningful only for branch 1).
    """
    c = F.col(col) if isinstance(col, str) else col
    num = c.try_cast("double")
    serial_ts = F.timestamp_seconds(
        F.unix_timestamp(F.lit("1899-12-30 00:00:00").cast("timestamp"))
        + (num * 86400).cast("long")
    )
    frac_ts = F.timestamp_seconds((num * 86400).cast("long"))
    s = F.trim(c.cast("string"))
    by_format = F.coalesce(*[F.try_to_timestamp(s, F.lit(f)) for f in formats])
    rescue_h = F.regexp_extract(s, r"(\d{1,2}):(\d{2})", 1).try_cast("int")
    rescue_m = F.regexp_extract(s, r"(\d{1,2}):(\d{2})", 2).try_cast("int")
    rescue_ts = F.when(
        rescue_h.between(0, 23) & rescue_m.between(0, 59),
        F.timestamp_seconds((rescue_h * 3600 + rescue_m * 60).cast("long")),
    )
    return (
        F.when(num.isNotNull() & (num > 40000), serial_ts)
        .when(num.isNotNull() & (num >= 0) & (num <= 1), frac_ts)
        .when(num.isNull(), F.coalesce(by_format, rescue_ts))
    )

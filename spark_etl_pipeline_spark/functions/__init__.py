"""Scalar-function layer.

Covers the reference's entire scalar surface (SURVEY.md §2.8 X1-X12) with
modern Spark built-ins, plus the exact-arithmetic helpers the oracle-checked
query suite uses for cross-engine determinism.

Everything here is JVM-side (``pyspark.sql.functions``) — no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Exact-arithmetic helpers (cross-engine deterministic aggregation)
# ---------------------------------------------------------------------------


def cents(col: str | Column, scale: int = 100) -> Column:
    """Fixed-point view of a float column: try_cast(round(x*scale)) as
    bigint.

    Integer sums are associative, so aggregates built on this are identical
    across Spark partition orders and across engines (see
    plans/registry.py determinism rules). TRY_CAST, not CAST: a NaN or
    ±Inf cell — the float damage any 100-TB corpus carries, probed by
    ``tools/stage_hostile.py --mode floats`` — becomes NULL and drops
    out of integer aggregates (SUM skips NULL in both engines, the same
    absent-value semantics a NULL cell already gets) instead of killing
    the whole query with an ANSI CAST_OVERFLOW. Identical to CAST on
    every castable value.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * scale).try_cast("long")


# ---------------------------------------------------------------------------
# JSON (reference X1: json_tuple on the `custom` payload)
# ---------------------------------------------------------------------------


def json_str(col: str | Column, key: str) -> Column:
    """Extract one top-level key from a JSON-text column as a string.

    Modern replacement for the reference's ``json_tuple`` usage
    (reference jobs/etl_job.py:175 etc.); returns NULL for missing keys,
    matching json_tuple's behavior (SURVEY.md §4 hazard 5).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.get_json_object(c, f"$.{key}")


def json_array_str(col: str | Column, key: str) -> Column:
    """Extract a JSON key whose value is an array of strings → array<string>.

    The reference extracts array-valued keys with json_tuple (getting the
    raw ``["a","b"]`` literal text) and then string-surgers it apart with
    regexes (reference jobs/etl_job.py:318-332). ``from_json`` with an
    explicit schema is the blessed modern path.
    """
    return F.from_json(json_str(col, key), "array<string>")


# ---------------------------------------------------------------------------
# Timestamps (reference X2-X4)
# ---------------------------------------------------------------------------

ISO_MILLIS = "yyyy-MM-dd'T'HH:mm:ss.SSSXXX"


def repair_secondless_iso(col: str | Column) -> Column:
    """Normalize secondless ISO-8601 strings to millisecond form.

    Same repair as reference jobs/etl_job.py:281 (`...T01:43:09Z` →
    `...T01:43:09.000Z`) so a single parse pattern handles both shapes.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(c, r"(\d+-\d+-\d+T\d+:\d+:\d+)Z", "$1.000Z")


def parse_utc_to_zone(col: str | Column, zone: str = "Asia/Seoul") -> Column:
    """Parse an ISO-millis UTC string and shift to a region zone.

    Replaces the reference's ``unix_timestamp(...).cast('timestamp')`` +
    ``from_utc_timestamp(_, 'KST')`` (jobs/etl_job.py:292-293);
    ``to_timestamp`` avoids the second-truncation of unix_timestamp, and
    'Asia/Seoul' replaces the deprecated three-letter 'KST' id
    (SURVEY.md §4 hazards 1-2).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.from_utc_timestamp(F.to_timestamp(c, ISO_MILLIS), zone)


def date_time_parts(col: str | Column) -> tuple[Column, Column]:
    """(date 'yyyy-MM-dd', time 'HH:mm:ss') string pair from a timestamp.

    Replaces the reference's split-on-space string surgery
    (jobs/etl_job.py:296-307) with real date formatting.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.date_format(c, "yyyy-MM-dd"), F.date_format(c, "HH:mm:ss")


# ---------------------------------------------------------------------------
# Strings / arrays (reference X5-X10)
# ---------------------------------------------------------------------------


def last_url_segment(col: str | Column) -> Column:
    """Last path segment of a URL (reference X5, jobs/etl_job.py:225,235)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.element_at(F.split(c, "/"), -1)


def strip_stray_commas(col: str | Column) -> Column:
    """Reference X6 (jobs/etl_job.py:318-319) — byte-for-byte the
    reference's regex, kept for behavioral parity. **LOSSY**: the
    pattern consumes the non-quote character adjacent to the comma run,
    so it deletes that neighbor too (``'a,b'`` → ``'b'`` — the ``a,``
    match includes the ``a``). Commas *between* quoted array elements
    (``"a","b"``) are quote-adjacent on both sides and survive. New code
    should use :func:`strip_stray_commas_exact` instead.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(c, r"[^\"](\,+)|(\,+)[^\"]", "")


def strip_stray_commas_exact(col: str | Column) -> Column:
    """Lookaround variant of :func:`strip_stray_commas` that removes ONLY
    the comma run (no adjacent-character loss): commas survive iff both
    neighbors are quotes."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(c, r"(?<!\")(,+)|(,+)(?!\")", "")


def json_array_literal_to_array(col: str | Column) -> Column:
    """Reference X7 (jobs/etl_job.py:331-332): `["a","b"]` text → array.

    Kept for behavioral parity with the reference's string surgery; new
    code should prefer :func:`json_array_str`.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.regexp_replace(c, r"(^\[)|(\]$)|(\")", ""), ",")

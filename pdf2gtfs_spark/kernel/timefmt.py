"""Time-string handling.

GTFS times may exceed 24 hours (service-day semantics), so times are
*never* TimestampType: parse to integer seconds-since-service-day-start.

- ``time_format_to_regex``: compile a strftime format (reference default
  "%H.%M", src/pdf2gtfs/config.template.yaml:31) into an anchored regex
  whose groups are the numeric components, mirroring what
  ``datetime.strptime`` accepts (1-2 digits per field, bounds checked).
- ``is_time_str``: the time predicate over one string, bounds checked
  like strptime (reference: datastructures/pdftable/field.py:74-79).
- ``GtfsTime`` helpers: int-second arithmetic replacing the reference's
  ``Time`` dataclass (datastructures/gtfs_output/stop_times.py:24-130).
"""

from __future__ import annotations

import re
from typing import Tuple

_FIELD_SPECS = {
    "H": (r"(\d{1,2})", 0, 23),
    "M": (r"(\d{1,2})", 0, 59),
    "S": (r"(\d{1,2})", 0, 61),  # strptime allows leap seconds
}


def time_format_to_regex(fmt: str) -> Tuple[re.Pattern, list[str]]:
    """Compile an strftime format into (anchored regex, field order)."""
    pattern = ""
    order: list[str] = []
    i = 0
    while i < len(fmt):
        ch = fmt[i]
        if ch == "%" and i + 1 < len(fmt):
            spec = fmt[i + 1]
            if spec == "%":
                pattern += re.escape("%")
            elif spec in _FIELD_SPECS:
                pattern += _FIELD_SPECS[spec][0]
                order.append(spec)
            else:
                raise ValueError(f"Unsupported strftime spec %{spec}")
            i += 2
        else:
            pattern += re.escape(ch)
            i += 1
    return re.compile(r"^" + pattern + r"$"), order


def is_time_str(text: str, regex, order) -> bool:
    """True iff ``text`` fully matches the compiled time format and every
    numeric field is within its strptime bounds."""
    m = regex.match(text)
    if not m:
        return False
    for spec, val in zip(order, m.groups()):
        lo, hi = _FIELD_SPECS[spec][1], _FIELD_SPECS[spec][2]
        if not lo <= int(val) <= hi:
            return False
    return True


def seconds_to_gtfs(seconds: int) -> str:
    """Format int seconds as GTFS HH:MM:SS (hours may exceed 24).

    reference: gtfs_output/stop_times.py:52-54 (Time.to_output).
    """
    h, rem = divmod(int(seconds), 3600)
    m, s = divmod(rem, 60)
    return f"{h:02}:{m:02}:{s:02}"


def gtfs_to_seconds(gtfs: str) -> int:
    """Parse GTFS HH:MM:SS into int seconds; malformed -> 0.

    reference: gtfs_output/stop_times.py:43-50 (Time.from_gtfs).
    """
    try:
        h, m, s = gtfs.split(":")
        return int(h) * 3600 + int(m) * 60 + int(s)
    except ValueError:
        return 0

"""Latest-snapshot resolution (SURVEY.md S9).

The reference picks the newest input by filename date / regex / mtime
(Financial Snapshot Preprocess.ipynb:57-73,263-269; Saoirse
Automation.ipynb:628-645). At scale the equivalent is a date-partitioned
table + partition pruning; for file-drop layouts this driver-side resolver
lists a directory (a metadata op, not a data op).
"""

from __future__ import annotations

import os
import re
from glob import glob


def latest_snapshot(
    pattern: str,
    date_regex: str | None = None,
    date_parse: str | None = None,
) -> str | None:
    """Return the newest path matching ``pattern`` (glob).

    If ``date_regex`` is given, order by the captured group (optionally
    parsed with ``date_parse`` strptime format); otherwise by mtime.
    Returns None when nothing matches (caller applies its fallback default,
    as the reference does)."""
    paths = glob(pattern)
    if not paths:
        return None
    if date_regex:
        import datetime as dt

        def key(p: str):
            m = re.search(date_regex, os.path.basename(p))
            if not m:
                return (0, "")
            if not m.groups():
                raise ValueError(
                    f"date_regex {date_regex!r} needs one capture group for the date token"
                )
            tok = m.group(1)
            if date_parse:
                try:
                    return (1, dt.datetime.strptime(tok, date_parse))
                except ValueError:
                    return (0, "")
            return (1, tok)

        return max(paths, key=key)
    return max(paths, key=os.path.getmtime)


"""Shared helper for the tools that record measurements in SCALING.md
(``sf1_compare.py``): replace one ``## `` section in place."""

from __future__ import annotations

import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCALING = os.path.join(ROOT, "SCALING.md")


def replace_section(title: str, body: str, *, path: str = SCALING) -> None:
    """Replace the ``## <title>`` section of SCALING.md (up to the
    next line-anchored ``## `` heading) with ``body``, or append it if
    absent. ``body`` must start with the heading line itself."""
    with open(path) as fh:
        text = fh.read()
    pat = re.compile(
        r"(?m)^" + re.escape(f"## {title}") + r"\n.*?(?=\n## |\Z)", re.S
    )
    if pat.search(text):
        text = pat.sub(lambda _: body, text)
    else:
        text = text.rstrip("\n") + "\n\n" + body
    with open(path, "w") as fh:
        fh.write(text)


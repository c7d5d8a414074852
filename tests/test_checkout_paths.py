"""No Python file hard-codes this checkout's own location.

Tools and tests resolve the checkout root from ``__file__``, so a
second checkout (for example a copy made for a mutation check) imports,
reads and writes its own files, never the original tree's.
"""

from __future__ import annotations

from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def test_no_py_file_hard_codes_the_checkout_root():
    needles = (f'"{ROOT}', f"'{ROOT}")
    offenders = sorted(
        str(p.relative_to(ROOT))
        for p in ROOT.rglob("*.py")
        if any(n in p.read_text(errors="replace") for n in needles)
    )
    assert offenders == []

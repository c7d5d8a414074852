"""The package reads no environment variable.

Behaviour is chosen by arguments, not by switches in the environment:
no module under ``kinesis_logs_reader_spark/`` reads ``os.environ`` or
``os.getenv``. Scripts and tools outside the package may read what they
like.
"""

from __future__ import annotations

import re
from pathlib import Path

PACKAGE = Path(__file__).resolve().parents[1] / "kinesis_logs_reader_spark"
ENV_READ = re.compile(r"\b(environ|getenv)\b")


def test_package_reads_no_environment_switch():
    scanned = [str(p.relative_to(PACKAGE)) for p in sorted(PACKAGE.rglob("*.py"))]
    reads = [
        (path, line.strip())
        for path in scanned
        for line in (PACKAGE / path).read_text().splitlines()
        if ENV_READ.search(line)
    ]
    assert reads == []
    # the scan really read the package
    assert "reader.py" in scanned

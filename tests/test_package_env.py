"""The package reads no environment variable but its deployment path.

Behaviour is chosen by arguments, not by switches in the environment:
the one variable any module under ``kinesis_logs_reader_spark/`` reads
is ``SPARK_GRAFT_SF_DIR``, the default location of the analytics tables
(``sources/tables.py``). Scripts and tools outside the package may read
what they like.
"""

from __future__ import annotations

import re
from pathlib import Path

PACKAGE = Path(__file__).resolve().parents[1] / "kinesis_logs_reader_spark"
ENV_READ = re.compile(r"\b(environ|getenv)\b")
SF_DIR_READ = ("sources/tables.py", 'os.environ.get("SPARK_GRAFT_SF_DIR"')


def test_package_reads_no_environment_switch():
    reads = [
        (str(p.relative_to(PACKAGE)), line.strip())
        for p in sorted(PACKAGE.rglob("*.py"))
        for line in p.read_text().splitlines()
        if ENV_READ.search(line)
    ]
    path, needle = SF_DIR_READ
    assert [r for r in reads if not (r[0] == path and needle in r[1])] == []
    # the deployment path itself is found, so the scan reads the package
    assert len(reads) == 1

"""Print ``name sha256`` for every registered oracle SQL string.

One line per ``__spark_entry__.oracle_sql()`` entry, sorted by name,
with the SHA-256 of its UTF-8 text. A refactor that must leave every
oracle byte-identical diffs this output before and after the change.

Usage: python scripts/oracle_digest.py > digests.txt
"""

from __future__ import annotations

import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__  # noqa: E402


def main() -> int:
    for name, sql in sorted(__spark_entry__.oracle_sql().items()):
        print(name, hashlib.sha256(sql.encode("utf-8")).hexdigest())
    return 0


if __name__ == "__main__":
    sys.exit(main())

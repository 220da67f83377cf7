#!/usr/bin/env python
"""Print `name sha256(oracle SQL)` for every registered query, sorted by
name, one per line. The oracle SQL is the driver's form (fixture views
inlined, as `__spark_entry__.oracle_sql()` returns it). No Spark session
is started.

A refactor that must leave every oracle byte-identical is checked by
diffing this output between two checkouts. The script puts its own
checkout first on sys.path, so copy it into an older checkout that
predates it and run each copy from its own tree:

    python scripts/oracle_sql_digest.py > /tmp/new.txt
    git archive <parent> --prefix=parent/ | tar -x -C /tmp
    cp scripts/oracle_sql_digest.py /tmp/parent/scripts/
    (cd /tmp/parent && python scripts/oracle_sql_digest.py) > /tmp/old.txt
    diff /tmp/old.txt /tmp/new.txt

Queries registered without an oracle print `-` in place of the digest.
"""

from __future__ import annotations

import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    from collector_spark import registry

    registry.load_all()
    oracles = registry.driver_oracle_sql()
    for name in sorted(registry.REGISTRY):
        sql = oracles.get(name)
        digest = "-" if sql is None else hashlib.sha256(sql.encode()).hexdigest()
        print(name, digest)
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Profile registry keys: each key runs cold, then warm, through
``dbt_json_readr_spark.profile.run``, and one JSON document per
(key, sf_dir) is printed per line, with the rows each run returned.

Usage:

  python tools_profile.py <key>[,<key>...] [sf_dir ...]

A key's first run in the process is cold: it pays the codegen compiles
and the JIT warm-up of its expression shapes.  Each key runs against
each sf_dir in turn, so comparing two scales is two sf_dirs on one
command line; only the first sf_dir's cold run is the key's first.
Without an sf_dir the keys get "", which suits the dbt keys: they read
their bundled fixture.  The action is ``collect()``, the one the job
pins in tests/test_plans.py count.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from dbt_json_readr_spark import profile, registry  # noqa: E402
from dbt_json_readr_spark.session import get_spark  # noqa: E402


def main(argv: list[str]) -> None:
    keys, sf_dirs = argv[0].split(","), argv[1:] or [""]
    spark = get_spark("profile")
    queries = registry.queries()
    for key in keys:
        for sf_dir in sf_dirs:
            doc = {"key": key, "sf_dir": sf_dir}
            for run in ("cold", "warm"):
                p = profile.run(spark, lambda: queries[key](spark, sf_dir).collect(), f"profile_{key}")
                doc[run] = {"rows": len(p.result), **p.to_json()}
            print(json.dumps(doc), flush=True)


if __name__ == "__main__":
    main(sys.argv[1:])

"""Write PLANS.md on demand: formatted physical plans for the headline
queries at sf0.1, with the properties the engine pins (pushdown,
broadcast, codegen) visible for review.  The output is not committed;
the plan claims that matter are pinned by tests/test_plans.py."""
import sys, os
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from dbt_json_readr_spark.session import get_spark
from dbt_json_readr_spark import registry
from dbt_json_readr_spark.plans.explain import formatted_plan
from bench import HEADLINE

s = get_spark("plans"); s.sparkContext.setLogLevel("ERROR")
out = ["# PLANS — physical plans of the headline queries (sf0.1)",
       "",
       "Regenerate with `python tools_gen_plans.py`.  The plan contract is",
       "enforced by `tests/test_plans.py`: pushed filters reach scans, dims",
       "broadcast, no row-at-a-time Python anywhere.",
       ""]
for k in HEADLINE:
    df = registry.queries()[k](s, "/root/testdata/sf0.1")
    out.append(f"## {k}\n\n```\n{formatted_plan(df).strip()}\n```\n")
open("PLANS.md", "w").write("\n".join(out))
print("wrote PLANS.md")

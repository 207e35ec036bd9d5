"""Physical-plan audit: explain every registered query and check plan
properties.

Each query carries its own checks in its ``@_q(..., audit=[...])``
registration (filters pushed to the parquet scan, column pruning,
broadcast joins for dimension-sized sides, WholeStageCodegen coverage,
...); UNIVERSAL applies to every query. A check is (description, regex
that must appear in the plan); a leading ``!`` means the regex must be
absent. Output: a human report + FAIL lines when a property is missing
or a query fails to build.

Run: python tools/audit_plans.py [-v] [sf_dir]   (-v prints a failing plan)
"""

from __future__ import annotations

import io
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, ".")

# Checks every registered plan must pass. A nested-loop join is not one of
# them: ann_topk_bruteforce, tfidf_top_terms and others use it by design.
UNIVERSAL = [
    ("no cartesian product", "!CartesianProduct"),
    ("no Python row UDF", "!BatchEvalPython"),
]


def main() -> int:
    args = sys.argv[1:]
    verbose = "-v" in args
    sf_dirs = [a for a in args if a != "-v"]
    sf_dir = sf_dirs[0] if sf_dirs else "/root/testdata/sf0.01"
    from finetoo_sp_spark import contract
    from finetoo_sp_spark.contract._core import _AUDIT
    from finetoo_sp_spark.session import get_spark

    spark = get_spark(app_name="plan_audit")
    spark.sparkContext.setLogLevel("ERROR")
    # AQE re-plans at runtime and hides codegen annotation in pre-execution
    # explain output; disable it for static plan inspection only.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    failures = 0
    for name, fn in contract.queries().items():
        print(f"\n=== {name} ===")
        buf = io.StringIO()
        try:
            df = fn(spark, sf_dir)
            with redirect_stdout(buf):
                df.explain("formatted")
        except Exception as e:  # noqa: BLE001 — one broken query must not end the audit
            print(f"  FAIL build: {e}")
            failures += 1
            continue
        plan = buf.getvalue()
        for desc, pat in UNIVERSAL + _AUDIT[name]:
            if pat.startswith("!"):  # negative check: pattern must be absent
                ok = re.search(pat[1:], plan) is None
            else:
                ok = re.search(pat, plan) is not None
            print(f"  {'ok  ' if ok else 'FAIL'} {desc}")
            if not ok:
                failures += 1
                if verbose:
                    print(plan)
    print(f"\n{failures} plan-property failures")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())

"""Gate: every catalog query must have a row in PLANS.md.

PLANS.md is regenerated by `python tools/explain_audit.py
/root/testdata/sf0.01 > PLANS.md`. This test makes the audit part of
the merge loop: registering a new query in the catalog without
re-running the audit (and eyeballing its plan shape) fails CI, so no
query can land un-audited — the round-3 gap where four new queries
shipped with no plan review.

It also re-asserts the two hard invariants on the *recorded* audit:
zero row-at-a-time Python-UDF nodes and zero cartesian products
anywhere in the catalog.
"""

import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def _plan_rows():
    rows = {}
    for line in (REPO / "PLANS.md").read_text().splitlines():
        m = re.match(r"\| *([a-z0-9_]+) *\|" + r" *(\d+) *\|" * 8, line)
        if m:
            name = m.group(1)
            vals = [int(m.group(i)) for i in range(2, 10)]
            rows[name] = dict(
                zip(
                    ["bcast", "smj", "bnl", "shuffles", "codegen",
                     "pushed", "pyudf", "cartesian"],
                    vals,
                )
            )
    return rows


def test_every_query_is_plan_audited():
    from syslog_ng_spark.catalog import QUERIES

    audited = _plan_rows()
    missing = sorted(set(QUERIES) - set(audited))
    assert not missing, (
        f"queries registered but not in PLANS.md: {missing} — run "
        "`python tools/explain_audit.py /root/testdata/sf0.01 > PLANS.md` "
        "and review the new rows"
    )


def test_no_python_udfs_or_cartesians_in_audit():
    audited = _plan_rows()
    assert audited, "PLANS.md parsed to zero rows"
    bad_udf = [n for n, r in audited.items() if r["pyudf"]]
    bad_cart = [n for n, r in audited.items() if r["cartesian"]]
    assert not bad_udf, f"row-at-a-time Python UDF in plans: {bad_udf}"
    assert not bad_cart, f"cartesian products in plans: {bad_cart}"


def test_survey_status_block_current():
    """SURVEY.md's §2 status counts are generated, not hand-edited
    (tools/render_survey_status.py, gate.sh step 3). Any catalog /
    bench / test change that shifts the counts fails here until the
    block is regenerated — the r5/r6/r7 stale-claim finding class
    cannot recur."""
    import subprocess
    import sys

    proc = subprocess.run(
        [sys.executable, str(REPO / "tools" / "render_survey_status.py"), "--check"],
        capture_output=True,
        text=True,
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr


def test_regex_repeat_audit_counts_plan_copies(spark):
    """tools/explain_audit.py's repeated-regex warning: the per-column
    regexp_extract form holds its regex once per group, the staged
    single-pass parse holds it once even under a pushed-down filter."""
    import importlib.util

    from pyspark.sql import functions as F

    from syslog_ng_spark.operators.parsers import RFC3164_RE, syslog_parser_3164

    spec = importlib.util.spec_from_file_location(
        "explain_audit", REPO / "tools" / "explain_audit.py"
    )
    audit = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(audit)

    def repeats(df):
        return audit.repeated_regexes(df._jdf.queryExecution().optimizedPlan().toJSON())

    df = spark.createDataFrame([("<14>Mar  1 00:00:00 h1 app[7]: x",)], "raw string")
    per_column = df.select(
        *[F.regexp_extract("raw", RFC3164_RE, i).alias(f"g{i}") for i in (1, 3, 4)]
    )
    assert repeats(per_column) == {RFC3164_RE: 3}
    staged = syslog_parser_3164(df).where((F.col("severity") <= 6) & (F.col("facility") != 9))
    assert repeats(staged) == {}

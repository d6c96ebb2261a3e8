"""The Spark-only plan audits of tools/audit_plans.py (no testdata needed):
the normalize MERGE shape, the ranked BPE encoder's flat plan and the mview
fold round. A plan regression fails here, not only in the manual gate."""

from tools.audit_plans import (
    check_bpe_ranked_plan_flat,
    check_merge_plan,
    check_mview_round_plan,
    merge_plan,
)


def test_spark_only_plan_audits_pass(spark):
    msgs = [
        *check_merge_plan(merge_plan(spark)),
        *check_bpe_ranked_plan_flat(spark),
        *check_mview_round_plan(spark),
    ]
    assert not [m for m in msgs if m.startswith("FAIL")], msgs


def test_merge_plan_audit_fires_on_seeded_break(spark):
    failed = [m for m in check_merge_plan(merge_plan(spark, seed_break=True))
              if m.startswith("FAIL")]
    assert [m.split(" ")[:3] for m in failed] == [
        ["FAIL:", "merge", "exchanges"], ["FAIL:", "no", "ExistingRDD"]
    ], failed

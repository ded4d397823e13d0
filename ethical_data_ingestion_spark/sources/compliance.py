"""Compliance gating as DataFrame validation rules (SURVEY #31, #33).

The reference's gate is imperative: ``check_compliance()`` accumulates an
issues list per source and ``collect_all_data`` skips any source with a
non-empty list (``ethical_crawler.py:304-330, 943-948``). The BASELINE.json
north-star names the Spark shape explicitly: *DataFrame transformations
with validation rules* — rules evaluate as columns, failing rows are
quarantined (counted and audited, not written), passing rows flow on.
Declarative, auditable, and at 100 TB the gate is a filter fused into the
scan, not a driver loop.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


ROBOTS_ISSUE = "robots.txt disallows access"
API_KEY_ISSUE = "requires API key but none provided"
RATE_LIMIT_ISSUE = "invalid rate limit"


@dataclass(frozen=True)
class Rule:
    """One validation rule: name + boolean Column predicate (True = pass).
    The issue string mirrors the reference's messages, e.g. 'robots.txt
    disallows access' / 'requires API key but none provided'
    (``ethical_crawler.py:313-324``)."""

    name: str
    predicate: Column
    issue: str


def standard_rules(
    requires_key_col: str = "requires_api_key",
    has_key_col: str = "api_key_present",
    robots_ok_col: str = "robots_txt_compliant",
    rate_col: str = "rate_limit_per_second",
) -> list[Rule]:
    """The reference's three checks (``ethical_crawler.py:304-330``):
    robots compliance, API-key presence when required, sane rate limit."""
    return [
        Rule(
            "robots",
            F.coalesce(F.col(robots_ok_col), F.lit(True)),  # fail-open like :257-266
            ROBOTS_ISSUE,
        ),
        Rule(
            "api_key",
            ~F.col(requires_key_col) | F.coalesce(F.col(has_key_col), F.lit(False)),
            API_KEY_ISSUE,
        ),
        Rule(
            "rate_limit",
            F.col(rate_col).isNotNull() & (F.col(rate_col) > 0),
            RATE_LIMIT_ISSUE,
        ),
    ]


def with_issues(df: DataFrame, rules: list[Rule]) -> DataFrame:
    """Evaluate all rules at once: ``issues`` = array of failed-rule
    messages (empty = compliant). One projection; every rule is a codegen'd
    boolean expression."""
    issue_cols = [
        F.when(~rule.predicate, F.lit(rule.issue)) for rule in rules
    ]
    return df.withColumn(
        "issues", F.filter(F.array(*issue_cols), lambda x: x.isNotNull())
    )


def audit_rows(issues_by_source: dict[str, list[str]], check_time) -> list[dict]:
    """ComplianceCheck audit records (``ethical_crawler.py:183-194``), one
    per source seen in a batch, from that source's issue union: built on
    the driver, appended by ``catalog.append_audit``, latest state read
    back by ``catalog.latest_audit_state`` (the #24 pattern)."""
    return [
        {
            "id": None,
            "source_name": name,
            "check_time": check_time,
            "robots_txt_compliant": ROBOTS_ISSUE not in issues,
            "rate_limit_compliant": RATE_LIMIT_ISSUE not in issues,
            "terms_compliant": True,
            "api_key_valid": API_KEY_ISSUE not in issues,
            "issues": issues,
            "recommendations": [],
        }
        for name, issues in issues_by_source.items()
    ]

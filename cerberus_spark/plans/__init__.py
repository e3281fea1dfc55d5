"""Physical-plan helpers: skew handling, checkpoint/resume."""

from cerberus_spark.plans.skew import salted_repartition, two_stage_agg
from cerberus_spark.plans.checkpoint import AuditLog

__all__ = ["salted_repartition", "two_stage_agg", "AuditLog"]

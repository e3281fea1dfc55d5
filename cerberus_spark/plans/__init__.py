"""Physical-plan helpers: checkpoint/resume, shuffle barriers."""

from cerberus_spark.plans.checkpoint import AuditLog

__all__ = ["AuditLog"]

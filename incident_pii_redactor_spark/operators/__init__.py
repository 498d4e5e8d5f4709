"""DataFrame-level operators: the fused quality+scrub stage, manifest
resume, and as-of / range joins."""

from incident_pii_redactor_spark.operators.scrub import RESULT_FIELDS, quality_scrub

__all__ = ["RESULT_FIELDS", "quality_scrub"]

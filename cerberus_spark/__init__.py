"""cerberus_spark — a PySpark-native declarative schema + constraint
validation and analytics engine.

Re-expresses the capabilities of the reference event-analytics pipeline
(zrougamed/cerberus, Go+eBPF: kernel filter/project/classify ->
rule-cascade classification -> dimension enrichment -> per-key stateful
aggregation -> first-occurrence dedup -> top-k reports -> batch upsert)
as an idiomatic Spark engine:

- rule dicts (type/allowed/regex/min/max/required/nullable/dependencies)
  compile to Catalyst ``Column`` predicates evaluated in ONE select pass
  (the columnar analog of the reference's per-event rule cascade,
  internal/monitor/monitor.go:197-408);
- distributed-only checks the reference cannot do: exact uniqueness via
  shuffle groupBy, referential integrity via broadcast anti-join,
  per-column stats sketches, KL/PSI drift vs a frozen baseline;
- training-data-pipeline operators: exact/MinHash/SimHash dedup,
  n-gram Jaccard, embedding cosine top-k, language-ID, quality scoring,
  token counting, document fingerprinting;
- scale discipline: broadcast small dims, salted two-stage aggregation
  for skewed keys, AQE on, Arrow-vectorized UDFs only (never per-row
  Python), checkpoint-resumable audit with per-partition lineage.

Everything here derives from public knowledge only: the Apache Spark /
PySpark API and the reference repo's observable behavior.
"""

__version__ = "0.1.0"

from cerberus_spark.normalize import normalize_documents
from cerberus_spark.rules import (
    apply_validator_flags,
    compile_schema,
    CompiledRuleSet,
)
from cerberus_spark.validation import ValidationResult

__all__ = [
    "normalize_documents",
    "apply_validator_flags",
    "compile_schema",
    "CompiledRuleSet",
    "ValidationResult",
    "__version__",
]

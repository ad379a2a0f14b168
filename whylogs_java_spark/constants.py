"""Engine constants mirroring the reference's sketch/bound parameters.

Reference citations (whylogs-java @ /root/reference):
- KLL quantile sketch k=256: core/.../statistics/NumberTracker.java:38
- HLL cardinality lgK=12: core/.../ColumnProfile.java:39
- Frequent-items map size 128: core/.../statistics/datatypes/StringTracker.java:29,
  core/.../utils/sketches/FrequentStringsSketch.java:14,19
- Tracked-string truncation 256 chars: core/.../ColumnProfile.java:40
- Summary quantiles {0,.01,.05,.25,.5,.75,.95,.99,1}: core/.../SummaryConverters.java:110
- Histogram default 30 bins: core/.../SummaryConverters.java:163-165
- Default tokenizer = split on single space: core/.../StringTracker.java:25
- Tag-key prefix: core/.../DatasetProfile.java:43 ("whylogs.tag.")
"""

from __future__ import annotations

KLL_K = 256
HLL_LGK = 12
FREQUENT_ITEMS_K = 128
STRING_LENGTH_MAX = 256
SUMMARY_QUANTILES = [0.0, 0.01, 0.05, 0.25, 0.5, 0.75, 0.95, 0.99, 1.0]
HISTOGRAM_DEFAULT_BINS = 30
TAG_PREFIX = "whylogs.tag."

# Exact decimal type used for cross-engine-deterministic floating sums.
# Double inputs with <= 6 fractional digits convert exactly and identically
# in both Spark and DuckDB, which makes SUM() bit-reproducible regardless of
# partition/merge order (unlike naive double summation).
SUM_DECIMAL = "decimal(38,6)"

# Default rounding applied to derived double metrics so that cross-engine
# last-ulp noise cannot flip a value-hash comparison.
ROUND_DIGITS = 6

# InferredType enum values (mirrors the reference protobuf enum
# InferredType.Type, referenced at core/.../TypedData.java:19).
TYPE_UNKNOWN = "UNKNOWN"
TYPE_NULL = "NULL"
TYPE_FRACTIONAL = "FRACTIONAL"
TYPE_INTEGRAL = "INTEGRAL"
TYPE_BOOLEAN = "BOOLEAN"
TYPE_STRING = "STRING"

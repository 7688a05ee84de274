"""Named engine functions: column factories for model-output cleanup.

Each factory returns a Catalyst column expression (no Python UDF), so
the chains run JVM-side and a DuckDB oracle can value-check them (the
driver contract's ``glm_cleanup`` query does).
"""

from xs_vlm_ocr_spark.functions.cleanup import (
    glm_cleanup_chain,
    parse_response_with_fallbacks,
)

__all__ = [
    "glm_cleanup_chain",
    "parse_response_with_fallbacks",
]

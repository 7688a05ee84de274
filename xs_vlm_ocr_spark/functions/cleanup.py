"""Model-output normalization chains (reference §2.2/§2.9 parity).

All pure column expressions (regexp_replace/trim/coalesce chains) —
JVM-side, codegen'd, oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def glm_cleanup_chain(col: Column) -> Column:
    """The reference GLM post-processing chain (reference
    src/adapters/GLMAdapter.cpp:472-497): strip <|begin_of_box|> /
    <|end_of_box|> markers, a leading ':', wrapping double quotes, a
    trailing comma, and surrounding whitespace — in that order."""
    out = F.regexp_replace(col, r"<\|begin_of_box\|>|<\|end_of_box\|>", "")
    out = F.trim(out)
    out = F.regexp_replace(out, r"^:", "")
    out = F.trim(out)
    # wrapping quotes stripped only when both ends are quoted (anchored
    # regex — a lone leading or trailing quote is left intact)
    out = F.regexp_replace(out, r'^"(.*)"$', r"$1")
    out = F.regexp_replace(out, r",$", "")
    return F.trim(out)


def parse_response_with_fallbacks(resp: Column) -> Column:
    """Schema-tolerant JSON response parse (reference DoubaoAdapter's
    3-way fallback, src/adapters/DoubaoAdapter.cpp:72-123, and the
    error-message surfacing of QwenAdapter.cpp:127-190):
    output.text -> choices[0].message.content -> output_text ->
    'ERROR: ' + error.message."""
    return F.coalesce(
        F.get_json_object(resp, "$.output.text"),
        F.get_json_object(resp, "$.choices[0].message.content"),
        F.get_json_object(resp, "$.output_text"),
        F.concat(F.lit("ERROR: "), F.get_json_object(resp, "$.error.message")),
    )

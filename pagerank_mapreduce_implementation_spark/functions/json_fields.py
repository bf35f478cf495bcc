"""JSON field extraction over string columns (engine extension — the
reference has no JSON anywhere; the events table's ``props`` column is
a JSON object string, the common shape of event payloads at scale).

- ``json_field``: path extraction via ``get_json_object`` (a JVM
  built-in, no UDF) — no schema needed, right for pulling one or two
  fields.

At 100 TB the rule is: extract early, drop the raw JSON string column,
let column pruning carry only the extracted fields through the pipeline.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def json_field(col: Column | str, path: str) -> Column:
    """Extract one field as string (NULL on missing/malformed).
    ``path`` is a JSONPath like ``$.k`` or ``$.a.b``."""
    return F.get_json_object(col, path)

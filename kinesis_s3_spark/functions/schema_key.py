"""Self-describing-JSON schema-key extraction (reference O6).

The reference parses each record as JSON, reads the Iglu ``schema``
URI and groups the batch by ``vendor.name/format-model``
(processing/Common.scala:60-71, RowType.scala:24-32). Unparseable
records degrade to ``unpartitioned``; records that already failed
upstream are ``reading_error``.

Here the same semantics are column expressions (JVM-side, codegen'd —
no Python in the hot path), so they run inside the parquet scan stage
at any scale.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# iglu:vendor/name/format/MODEL-REVISION-ADDITION
# (Iglu URI grammar; only MODEL participates in the partition string,
# mirroring RowType.SelfDescribing at RowType.scala:27-29.)
_IGLU_RE = r"^iglu:([a-zA-Z0-9-_.]+)/([a-zA-Z0-9-_]+)/([a-zA-Z0-9-_]+)/([0-9]+)-[0-9]+-[0-9]+$"

UNPARTITIONED = "unpartitioned"
READING_ERROR = "reading_error"


def schema_key_parts(value: Column) -> dict[str, Column]:
    """Extract vendor/name/format/model columns from a self-describing
    JSON string column; empty strings when absent/malformed."""
    uri = F.get_json_object(value, "$.schema")
    return {
        "vendor": F.regexp_extract(uri, _IGLU_RE, 1),
        "name": F.regexp_extract(uri, _IGLU_RE, 2),
        "format": F.regexp_extract(uri, _IGLU_RE, 3),
        "model": F.regexp_extract(uri, _IGLU_RE, 4),
    }


# One pass over the URI that always matches the whole string and
# rewrites it to the partition string. The first alternative is
# _IGLU_RE with its ``$`` spelled out: Java's ``$`` also matches before
# ONE final line terminator, which the optional group consumes so the
# rewrite drops it. The second alternative swallows any other string,
# leaving only the separators of the replacement, ``./-``. No partition
# string contains ``./-`` (the name segment is never empty and holds no
# dot), so that leftover can only be a whole non-match.
_ROW_TYPE_RE = _IGLU_RE[:-1] + r"(?:\r\n|[\n\r\u0085\u2028\u2029])?\z|^[\s\S]*\z"
_ROW_TYPE_REPLACEMENT = "$1.$2/$3-$4"
_NO_MATCH = "./-"


def row_type_col(value: Column, is_failed: Column | None = None) -> Column:
    """The partition key: ``vendor.name/format-model``, or
    ``unpartitioned`` when the record is not a valid self-describing
    JSON, or ``reading_error`` for already-failed records
    (Common.scala:62-70).

    The loader's hottest expression (every record of every
    micro-batch), so it is one code-generated expression that parses
    the JSON once and runs one regex per row, and references each
    intermediate once (Catalyst does not share a subexpression between
    a condition and its branch)."""
    uri = F.coalesce(F.get_json_object(value, "$.schema"), F.lit(""))
    partition = F.replace(
        F.regexp_replace(uri, _ROW_TYPE_RE, _ROW_TYPE_REPLACEMENT),
        F.lit(_NO_MATCH),
        F.lit(UNPARTITIONED),
    )
    if is_failed is not None:
        partition = F.when(is_failed, F.lit(READING_ERROR)).otherwise(partition)
    return partition

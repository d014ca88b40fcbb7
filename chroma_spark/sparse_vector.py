"""SparseVector value type — parity with ``chromadb/base_types.py:13-117``.

The reference's SparseVector is ``{indices: list[int] (strictly ascending),
values: list[float], labels: Optional[list[str]]}``; its JSON wire format
renames ``labels`` to ``tokens`` (``base_types.py:85-117``). The Spark
representation is a struct column::

    STRUCT<indices: ARRAY<INT>, values: ARRAY<FLOAT>, labels: ARRAY<STRING>>

with ``labels`` nullable (most producers — e.g. hashed BM25 — have no
per-dimension label). Operators that only need ``indices``/``values``
(sparse.py) accept structs with or without the labels field.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

SPARSE_VECTOR_TYPE = T.StructType(
    [
        T.StructField("indices", T.ArrayType(T.IntegerType()), True),
        T.StructField("values", T.ArrayType(T.FloatType()), True),
        T.StructField("labels", T.ArrayType(T.StringType()), True),
    ]
)


class SparseVectorError(ValueError):
    """Malformed sparse vector payload."""


def validate_sparse_vector(sv: dict[str, Any]) -> None:
    """The reference's construction-time checks (``base_types.py:26-60``):
    equal lengths, strictly ascending non-negative indices, numeric values,
    labels (when present) aligned 1:1 with indices."""
    if not isinstance(sv, dict):
        raise SparseVectorError("sparse vector must be a dict")
    indices = sv.get("indices")
    values = sv.get("values")
    if not isinstance(indices, (list, tuple)) or not isinstance(values, (list, tuple)):
        raise SparseVectorError("sparse vector requires 'indices' and 'values' lists")
    if len(indices) != len(values):
        raise SparseVectorError(
            f"indices ({len(indices)}) and values ({len(values)}) lengths differ"
        )
    prev = -1
    for i in indices:
        if not isinstance(i, int) or isinstance(i, bool) or i < 0:
            raise SparseVectorError(f"index {i!r} is not a non-negative int")
        if i <= prev:
            raise SparseVectorError("indices must be strictly ascending")
        prev = i
    for v in values:
        if not isinstance(v, (int, float)) or isinstance(v, bool):
            raise SparseVectorError(f"value {v!r} is not numeric")
    labels = sv.get("labels")
    if labels is not None:
        if not isinstance(labels, (list, tuple)) or len(labels) != len(indices):
            raise SparseVectorError("labels must align 1:1 with indices")
        if any(not isinstance(x, str) for x in labels):
            raise SparseVectorError("labels must be strings")


def sparse_vector_ok(sv: Column) -> Column:
    """The Column twin of :func:`validate_sparse_vector` for bulk writes:
    true when ``sv`` is NULL, or its indices are non-negative and strictly
    ascending with one value (and, when present, one label) each; false
    otherwise, never NULL."""
    idx = sv["indices"]
    ok = (
        (F.size(idx) == F.size(sv["values"]))
        & F.forall(idx, lambda i: i >= 0)
        & (F.array_sort(F.array_distinct(idx)) == idx)
        & (sv["labels"].isNull() | (F.size(sv["labels"]) == F.size(idx)))
    )
    return sv.isNull() | F.coalesce(ok, F.lit(False))


def to_wire(sv: dict[str, Any]) -> dict[str, Any]:
    """Serialize to the reference wire format: ``labels`` -> ``tokens``
    (``base_types.py:90-101``); absent labels are omitted."""
    validate_sparse_vector(sv)
    out = {"indices": list(sv["indices"]), "values": [float(v) for v in sv["values"]]}
    if sv.get("labels") is not None:
        out["tokens"] = list(sv["labels"])
    return out


def from_wire(d: dict[str, Any]) -> dict[str, Any]:
    """Parse the wire format (accepts both ``tokens`` and ``labels`` keys,
    as the reference's lenient reader does)."""
    sv = {
        "indices": list(d.get("indices", ())),
        "values": [float(v) for v in d.get("values", ())],
        "labels": list(d["tokens"]) if d.get("tokens") is not None else (
            list(d["labels"]) if d.get("labels") is not None else None
        ),
    }
    validate_sparse_vector(sv)
    return sv


def sparse_struct(
    indices: Column, values: Column, labels: Column | None = None
) -> Column:
    """Assemble a SparseVector struct column (labels NULL when absent)."""
    return F.struct(
        indices.cast(T.ArrayType(T.IntegerType())).alias("indices"),
        values.cast(T.ArrayType(T.FloatType())).alias("values"),
        (labels if labels is not None else F.lit(None).cast(T.ArrayType(T.StringType()))).alias(
            "labels"
        ),
    )

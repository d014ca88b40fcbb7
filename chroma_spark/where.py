"""Chroma ``Where`` / ``WhereDocument`` grammar -> predicate compilers.

Grammar (reference: ``chromadb/base_types.py:129-158``; ADT
``rust/types/src/metadata.rs:1400-1404``)::

    Where        := {key: value}                      -- shorthand for $eq
                  | {key: {op: value}}                -- op in $eq $ne $gt $gte
                                                      --       $lt $lte $in $nin
                                                      --       $contains $not_contains (array cols)
                  | {"$and": [Where, ...]} | {"$or": [Where, ...]}
    WhereDocument:= {"$contains": str} | {"$not_contains": str}
                  | {"$regex": str}    | {"$not_regex": str}
                  | {"$and": [...]}    | {"$or": [...]}

Oracle semantics (``chromadb/test/property/test_filtering.py:32-109``):

- ``$eq/$gt/$gte/$lt/$lte/$in/$contains``: the key MUST exist (a NULL column
  value means "key absent" -> row does not match).
- ``$ne/$nin/$not_contains``: a MISSING key MATCHES (NULL -> True).
- int/float cross-type equality (``1 == 1.0``) is allowed -> Spark/DuckDB
  numeric coercion handles it. Otherwise values are type-strict: a literal
  of another type (``True`` on an int key, ``1`` on a string key) never
  equals, so positive ops fail and negative ops match (the Spark compiler
  types each leaf against the frame's schema).
- document ``$contains``: substring; empty/missing document -> False.
  ``$not_contains``: missing document -> True. Same polarity for
  ``$regex``/``$not_regex``.

Two twin compilers walk the same dict:

- :func:`where_to_column`  -> ``pyspark.sql.Column`` (the engine path; a
  plain ``df.filter(col)`` that Catalyst pushes down to the parquet scan).
- :func:`where_to_sql`     -> DuckDB SQL string (the oracle path, used by
  ``oracle_sql()`` so engine and oracle can never drift).

NULL discipline: under ``$and``/``$or`` a NULL predicate result behaves like
False for row selection in both Spark and DuckDB (three-valued logic: a row
is kept iff the predicate is TRUE), and the negative operators inject
explicit ``IS NULL OR`` branches, so the two backends agree row-for-row.
"""

from __future__ import annotations

from typing import AbstractSet, Any, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_COMPARE_OPS = {"$eq", "$ne", "$gt", "$gte", "$lt", "$lte"}
_SET_OPS = {"$in", "$nin"}
_ARRAY_OPS = {"$contains", "$not_contains"}
_SQL_CMP = {"$eq": "=", "$ne": "!=", "$gt": ">", "$gte": ">=", "$lt": "<", "$lte": "<="}


class WhereError(ValueError):
    """Raised on a malformed Where / WhereDocument payload."""


def _sql_lit(v: Any) -> str:
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, (int, float)):
        return repr(v)
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    raise WhereError(f"unsupported literal type: {type(v).__name__}")


def _validate_scalar(v: Any) -> None:
    if not isinstance(v, (bool, int, float, str)):
        raise WhereError(f"expected scalar operand, got {type(v).__name__}")


def _validate_op(op: str, val: Any, key: str, array_keys: AbstractSet[str]) -> None:
    """Payload validation independent of any Spark session (the reference
    rejects malformed plans at the frontend before execution —
    ``rust/frontend/src/impls/service_based_frontend.rs:2813-2819``)."""
    if key in array_keys or op in _ARRAY_OPS:
        if op not in _ARRAY_OPS:
            raise WhereError(f"op {op} not valid on array key {key}")
        _validate_scalar(val)
        return
    if op in _SET_OPS:
        if not isinstance(val, list) or not val:
            raise WhereError(f"{op} expects a non-empty list")
        for v in val:
            _validate_scalar(v)
        return
    if op not in _COMPARE_OPS:
        raise WhereError(f"unknown operator {op}")
    _validate_scalar(val)
    if op in ("$gt", "$gte", "$lt", "$lte") and isinstance(val, bool):
        # range ops are numeric/lexicographic; bools are rejected
        raise WhereError(f"{op} requires a numeric or string operand")


# ---------------------------------------------------------------------------
# Spark Column backend
# ---------------------------------------------------------------------------


_NEGATIVE_OPS = frozenset({"$ne", "$nin", "$not_contains"})


def where_to_column(
    where: dict[str, Any],
    schema: T.StructType | None = None,
    array_keys: AbstractSet[str] = frozenset(),
) -> Column:
    """Compile a Where dict into a Spark ``Column`` predicate.

    ``schema`` is the filtered frame's schema. Each leaf compiles against
    its column's type, as the reference's type-strict ``MetadataValue``
    compares (``metadata.rs:659-682``): numeric columns take int/float
    literals (not bool), string columns str, boolean columns bool, array
    columns their element type; ``$in``/``$nin`` keep only the comparable
    literals. A key with no column (never written to the collection) or no
    comparable literal fails every positive op and MATCHES
    ``$ne``/``$nin``/``$not_contains`` (``test_filtering.py:59-66``), so it
    compiles to a constant instead of an AnalysisException or a mid-query
    cast error — exactly :func:`where_matches`. Pass ``None`` (default) to
    skip the typing (the caller guarantees same-typed columns).
    """
    if not isinstance(where, dict) or len(where) == 0:
        raise WhereError("where must be a non-empty dict")
    if len(where) > 1:
        # implicit $and over multiple keys (chroma accepts a multi-key dict)
        return _and_all([where_to_column({k: v}, schema, array_keys) for k, v in where.items()])
    [(key, operand)] = where.items()
    if key in ("$and", "$or"):
        if not isinstance(operand, list) or not operand:
            raise WhereError(f"{key} expects a non-empty list")
        parts = [where_to_column(w, schema, array_keys) for w in operand]
        return _and_all(parts) if key == "$and" else _or_all(parts)
    if not isinstance(operand, dict):
        _validate_scalar(operand)
        operand = {"$eq": operand}
    if len(operand) != 1:
        raise WhereError("operator object must have exactly one op")
    [(op, val)] = operand.items()
    _validate_op(op, val, key, array_keys)
    if schema is not None:
        dtype = schema[key].dataType if key in schema.fieldNames() else T.NullType()
        is_array = isinstance(dtype, T.ArrayType)
        if is_array != (key in array_keys or op in _ARRAY_OPS):
            return F.lit(op in _NEGATIVE_OPS)
        dtype = dtype.elementType if is_array else dtype
        if op in _SET_OPS:
            val = [v for v in val if _comparable(dtype, v)]
            if not val:
                return F.lit(op in _NEGATIVE_OPS)
        elif not _comparable(dtype, val):
            return F.lit(op in _NEGATIVE_OPS)
    c = F.col(key)
    if key in array_keys or op in _ARRAY_OPS:
        if op == "$contains":
            return c.isNotNull() & F.array_contains(c, F.lit(val))
        return c.isNull() | ~F.array_contains(c, F.lit(val))
    if op in _SET_OPS:
        return c.isin(val) if op == "$in" else (c.isNull() | ~c.isin(val))
    if op == "$eq":
        return c.isNotNull() & (c == F.lit(val))
    if op == "$ne":
        return c.isNull() | (c != F.lit(val))
    cmp = {"$gt": c > val, "$gte": c >= val, "$lt": c < val, "$lte": c <= val}
    return c.isNotNull() & cmp[op]


def _comparable(dtype: T.DataType, v: Any) -> bool:
    """Whether literal ``v`` compares with values of ``dtype`` (never for a
    missing column, NullType, or a type no metadata value has)."""
    if isinstance(dtype, T.NumericType):
        return isinstance(v, (int, float)) and not isinstance(v, bool)
    if isinstance(dtype, T.StringType):
        return isinstance(v, str)
    return isinstance(dtype, T.BooleanType) and isinstance(v, bool)


def filter_records(
    records: DataFrame,
    ids: Sequence[str] | None = None,
    where: dict[str, Any] | None = None,
    where_document: dict[str, Any] | None = None,
    doc_candidates: DataFrame | None = None,
    array_keys: AbstractSet[str] = frozenset(),
    id_col: str = "id",
    doc_col: str = "document",
) -> DataFrame:
    """The one filter stage of every read: ``ids``, then ``where``, then
    ``where_document``, which first semi-joins ``doc_candidates`` (an FTS
    SOUND superset of its matches) so the exact predicate verifies only
    candidates."""
    out = records
    if ids is not None:
        out = out.filter(F.col(id_col).isin([str(i) for i in ids]))
    if where is not None:
        out = out.filter(where_to_column(where, records.schema, array_keys))
    if where_document is not None:
        if doc_candidates is not None:
            out = out.join(doc_candidates, id_col, "semi")
        out = out.filter(where_doc_to_column(where_document, doc_col))
    return out


def where_doc_to_column(wd: dict[str, Any], doc_col: str = "document") -> Column:
    """Compile a WhereDocument dict into a Spark Column predicate.

    Missing/NULL documents behave as "" (reference empty-doc semantics:
    ``$contains`` -> False, ``$not_contains`` -> True).
    """
    if not isinstance(wd, dict) or len(wd) != 1:
        raise WhereError("where_document must be a single-key dict")
    [(op, val)] = wd.items()
    if op in ("$and", "$or"):
        if not isinstance(val, list) or not val:
            raise WhereError(f"{op} expects a non-empty list")
        parts = [where_doc_to_column(w, doc_col) for w in val]
        return _and_all(parts) if op == "$and" else _or_all(parts)
    if not isinstance(val, str) or val == "":
        raise WhereError(f"{op} expects a non-empty string")
    if op not in ("$contains", "$not_contains", "$regex", "$not_regex"):
        raise WhereError(f"unknown document operator {op}")
    if op in ("$regex", "$not_regex"):
        validate_regex(val)
    doc = F.coalesce(F.col(doc_col), F.lit(""))
    if op == "$contains":
        return doc.contains(val)
    if op == "$not_contains":
        return ~doc.contains(val)
    if op == "$regex":
        validate_regex(val)
        return _regex_with_prefilter(doc, val)
    if op == "$not_regex":
        validate_regex(val)
        return ~_regex_with_prefilter(doc, val)
    raise WhereError(f"unknown document operator {op}")


def _regex_with_prefilter(doc: Column, pattern: str) -> Column:
    """``rlike`` behind required-literal ``contains`` guards: every match
    must contain the pattern's mandatory literal runs (regex_dialect,
    mirroring literal_expr.rs), so rows failing a cheap substring check
    never reach the regex automaton. Semantically redundant — results are
    identical with or without the guards."""
    from .regex_dialect import prefilter_literals

    cond = None
    for lit in prefilter_literals(pattern):
        c = doc.contains(lit)
        cond = c if cond is None else cond & c
    matched = doc.rlike(pattern)
    return matched if cond is None else cond & matched


def _and_all(parts: list[Column]) -> Column:
    out = parts[0]
    for p in parts[1:]:
        out = out & p
    return out


def _or_all(parts: list[Column]) -> Column:
    out = parts[0]
    for p in parts[1:]:
        out = out | p
    return out


# ---------------------------------------------------------------------------
# DuckDB SQL backend (oracle twin)
# ---------------------------------------------------------------------------


def where_to_sql(
    where: dict[str, Any],
    array_keys: AbstractSet[str] = frozenset(),
    known_keys: AbstractSet[str] | None = None,
) -> str:
    """Compile the same Where dict to a DuckDB boolean SQL expression."""
    if not isinstance(where, dict) or len(where) == 0:
        raise WhereError("where must be a non-empty dict")
    if len(where) > 1:
        return "(" + " AND ".join(where_to_sql({k: v}, array_keys, known_keys) for k, v in where.items()) + ")"
    [(key, operand)] = where.items()
    if key in ("$and", "$or"):
        if not isinstance(operand, list) or not operand:
            raise WhereError(f"{key} expects a non-empty list")
        joiner = " AND " if key == "$and" else " OR "
        return "(" + joiner.join(where_to_sql(w, array_keys, known_keys) for w in operand) + ")"
    if not isinstance(operand, dict):
        operand = {"$eq": operand}
    [(op, val)] = operand.items()
    _validate_op(op, val, key, array_keys)
    if known_keys is not None and key not in known_keys:
        return "TRUE" if op in _NEGATIVE_OPS else "FALSE"
    q = f'"{key}"'
    if key in array_keys or op in _ARRAY_OPS:
        if op == "$contains":
            return f"({q} IS NOT NULL AND list_contains({q}, {_sql_lit(val)}))"
        if op == "$not_contains":
            return f"({q} IS NULL OR NOT list_contains({q}, {_sql_lit(val)}))"
        raise WhereError(f"op {op} not valid on array key {key}")
    if op == "$in":
        return f"({q} IN ({', '.join(_sql_lit(v) for v in val)}))"
    if op == "$nin":
        return f"({q} IS NULL OR {q} NOT IN ({', '.join(_sql_lit(v) for v in val)}))"
    if op == "$eq":
        return f"({q} IS NOT NULL AND {q} = {_sql_lit(val)})"
    if op == "$ne":
        return f"({q} IS NULL OR {q} != {_sql_lit(val)})"
    if op in _SQL_CMP:
        return f"({q} IS NOT NULL AND {q} {_SQL_CMP[op]} {_sql_lit(val)})"
    raise WhereError(f"unknown operator {op}")


def where_doc_to_sql(wd: dict[str, Any], doc_col: str = "document") -> str:
    """Compile the same WhereDocument dict to a DuckDB boolean expression."""
    [(op, val)] = wd.items()
    if op in ("$and", "$or"):
        joiner = " AND " if op == "$and" else " OR "
        return "(" + joiner.join(where_doc_to_sql(w, doc_col) for w in val) + ")"
    doc = f'coalesce("{doc_col}", \'\')'
    if op == "$contains":
        return f"contains({doc}, {_sql_lit(val)})"
    if op == "$not_contains":
        return f"NOT contains({doc}, {_sql_lit(val)})"
    if op == "$regex":
        validate_regex(val)
        return f"regexp_matches({doc}, {_sql_lit(val)})"
    if op == "$not_regex":
        validate_regex(val)
        return f"NOT regexp_matches({doc}, {_sql_lit(val)})"
    raise WhereError(f"unknown document operator {op}")


# ---------------------------------------------------------------------------
# Pure-Python evaluator (the third twin): evaluates a Where dict against one
# record's metadata dict with the exact oracle semantics of
# ``chromadb/test/property/test_filtering.py:32-85``. Used by
# :func:`validate_payloads` (frontend validation with no Spark session) and
# by the hypothesis suites as a model to check the two compilers against.
# ---------------------------------------------------------------------------


def _num_eq(a: Any, b: Any) -> bool:
    """Cross-type int/float equality, but bool is its own type (the
    reference's MetadataValue keeps Bool distinct, ``metadata.rs:659-682``)."""
    if isinstance(a, bool) != isinstance(b, bool):
        return False
    return type(a) is type(b) or (isinstance(a, (int, float)) and isinstance(b, (int, float)))


def where_matches(record: dict[str, Any], where: dict[str, Any],
                  array_keys: AbstractSet[str] = frozenset()) -> bool:
    """Does ``record`` (metadata dict; absent/None values = missing key)
    satisfy ``where``?"""
    if not isinstance(where, dict) or len(where) == 0:
        raise WhereError("where must be a non-empty dict")
    if len(where) > 1:
        return all(where_matches(record, {k: v}, array_keys) for k, v in where.items())
    [(key, operand)] = where.items()
    if key == "$and":
        return all(where_matches(record, w, array_keys) for w in operand)
    if key == "$or":
        return any(where_matches(record, w, array_keys) for w in operand)
    if not isinstance(operand, dict):
        _validate_scalar(operand)
        operand = {"$eq": operand}
    [(op, val)] = operand.items()
    _validate_op(op, val, key, array_keys)
    v = record.get(key)
    missing = v is None
    if key in array_keys or op in _ARRAY_OPS:
        found = isinstance(v, list) and any(_num_eq(x, val) and x == val for x in v)
        return found if op == "$contains" else not found
    if op == "$eq":
        return not missing and _num_eq(v, val) and v == val
    if op == "$ne":
        return missing or not (_num_eq(v, val) and v == val)
    if op == "$in":
        return not missing and any(_num_eq(v, x) and v == x for x in val)
    if op == "$nin":
        return missing or not any(_num_eq(v, x) and v == x for x in val)
    # range ops: key must exist and be type-comparable
    if missing or not _num_eq(v, val):
        return False
    return {"$gt": v > val, "$gte": v >= val, "$lt": v < val, "$lte": v <= val}[op]


def where_doc_matches(document: str | None, wd: dict[str, Any]) -> bool:
    """WhereDocument twin of :func:`where_matches` (empty/missing doc:
    ``$contains`` -> False, ``$not_contains`` -> True)."""
    import re

    [(op, val)] = wd.items()
    if op == "$and":
        return all(where_doc_matches(document, w) for w in val)
    if op == "$or":
        return any(where_doc_matches(document, w) for w in val)
    doc = document or ""
    if op == "$contains":
        return val in doc
    if op == "$not_contains":
        return val not in doc
    if op == "$regex":
        validate_regex(val)
        return re.search(val, doc) is not None
    if op == "$not_regex":
        validate_regex(val)
        return re.search(val, doc) is None
    raise WhereError(f"unknown document operator {op}")


# ---------------------------------------------------------------------------
# Regex dialect validation (reference: rust/types/src/regex/mod.rs:11-33 —
# ChromaRegex rejects byte-oriented patterns and unsupported constructs).
# We additionally stay inside the Java-regex ∩ RE2 common subset so the Spark
# engine (`rlike`, Java regex) and the DuckDB oracle (RE2) agree.
# ---------------------------------------------------------------------------

def validate_regex(pattern: str) -> None:
    """Reject patterns outside the supported dialect by PARSING them
    (regex_dialect.parse — the ChromaRegex/HIR analog,
    ``rust/types/src/regex/mod.rs:53-66``), not token-blacklisting:
    unsupported constructs fail at *validation* time, never mid-query, and
    literal text like ``"(?="`` inside a character class is correctly
    accepted. ``re.compile`` stays as a belt-and-braces syntax check."""
    import re

    from .regex_dialect import RegexDialectError, parse

    try:
        parse(pattern)
    except RegexDialectError as e:
        raise WhereError(str(e)) from e
    import warnings

    try:
        with warnings.catch_warnings():
            # Patterns like [[\]] trip Python's "possible nested set"
            # FutureWarning; the dialect parser above already vets class
            # syntax, so silence the advisory here (it would become an
            # error-by-default in a future Python and break validation
            # of patterns that are in fact valid in all three engines).
            warnings.simplefilter("ignore", FutureWarning)
            re.compile(pattern)
    except re.error as e:
        raise WhereError(f"invalid regex: {e}") from e


def validate_payloads(where: dict | None = None, wd: dict | None = None) -> None:
    """Frontend-style payload validation needing no SparkSession and no
    data: evaluate the pure-Python twins against an empty record. Total
    for well-formed payloads; raises WhereError on malformed ones. The
    reference validates filters BEFORE execution, so even a query against
    an empty collection must reject a bad operator — entry points call
    this ahead of any empty-snapshot early return."""
    if where is not None:
        where_matches({}, where)
    if wd is not None:
        where_doc_matches("", wd)

"""Write-ahead log materialization — the CDC net-effect merge.

Reference semantics:
- WAL record ``(seq_id, operation, id, ...)``
  (``chromadb/migrations/embeddings_queue/00001-embeddings.sqlite.sql:1-10``,
  ``chromadb/db/mixins/embeddings_queue.py:189``; distributed ``rust/wal3/``).
- Net-effect fold per id in seq order
  (``rust/worker/src/execution/operators/materialize_logs.rs:81``, states
  ``rust/types/src/operation.rs:16-35``):

  * ADD     — insert; IGNORED if the record already exists (duplicate add)
  * UPDATE  — merge non-null fields; NO-OP if the record does not exist
  * UPSERT  — insert, or merge non-null fields if it exists
  * DELETE  — remove; a later ADD/UPSERT recreates (OverwriteExisting)

- Every surviving record carries ``offset_id`` — the seq at which its
  current incarnation was inserted. This is the reference's internal offset
  id: un-ranked ``get`` pagination orders by it, NOT by the user string id
  (``rust/worker/src/execution/operators/limit.rs:23-36``). A re-add after
  DELETE gets a fresh offset (OverwriteExisting).

- Predicate deletes (``delete(where=...)``) are stored as ONE log record
  (``op = DELETE_WHERE``, the predicate in ``where_json``) — the reference
  stores the predicate, not the matched-id expansion — and applied between
  ops at their seq position: a record existing at that seq and matching
  every given constraint is deleted.

Spark shape: one window + aggregate fold keyed on id (one hash shuffle, the
reference's ``partition_log.rs``) under whole-stage codegen; no Python. With
pending predicate deletes the log is cut at each one's seq: each segment
folds onto the previous state (carried in as BASE rows with their
``offset_id``), then the rows the predicate matches are dropped, compiled by
the same ``where.py`` compilers every read uses. Predicates are statements,
not data, so this costs one more fold of the state per pending predicate
delete, and compaction resets the count.
"""

from __future__ import annotations

import json

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..where import where_doc_matches, where_doc_to_column, where_to_column

OPS = ("ADD", "UPDATE", "UPSERT", "DELETE")
BASE_OP = "BASE"
WHERE_OP = "DELETE_WHERE"
OFFSET_COL = "offset_id"

# a pending predicate delete: (seq, ids, where, where_document)
WhereOp = tuple[int, set | None, dict | None, dict | None]


def split_where_ops(log: DataFrame | None) -> tuple[DataFrame | None, list[WhereOp]]:
    """Separate DELETE_WHERE predicate records from the id-keyed log.

    The collect is bounded by the number of predicate-delete statements
    issued (predicates, not data)."""
    where_ops: list[WhereOp] = []
    if log is not None and "where_json" in log.columns:
        for r in log.filter(F.col("op") == WHERE_OP).select("seq_id", "where_json").collect():
            p = json.loads(r["where_json"])
            where_ops.append(
                (
                    int(r["seq_id"]),
                    # an EMPTY id list is a real (matches-nothing)
                    # constraint, distinct from "no id constraint"
                    set(p["ids"]) if p.get("ids") is not None else None,
                    p.get("where"),
                    p.get("where_document"),
                )
            )
        log = log.filter(F.col("op") != WHERE_OP).drop("where_json")
    return log, where_ops


def where_op_matches(op: WhereOp, schema: T.StructType, id_col: str = "id") -> Column:
    """Whether a record row of ``schema`` matches where-op ``op`` (every
    given constraint: id membership, ``where``, ``where_document``) — the
    one definition the fold, the read path's touched ids and compaction
    share. Never NULL: a NULL predicate result means no match."""
    _seq, ids, where, where_document = op
    cond = F.lit(True)
    if ids is not None:
        cond = cond & F.col(id_col).isin(sorted(ids))
    if where is not None:
        cond = cond & where_to_column(where, schema)
    if where_document is not None:
        if "document" in schema.fieldNames():
            cond = cond & where_doc_to_column(where_document)
        else:  # no document column: every document is missing
            cond = cond & F.lit(where_doc_matches(None, where_document))
    return F.coalesce(cond, F.lit(False))


def materialize(
    base: DataFrame | None,
    log: DataFrame,
    id_col: str = "id",
    seq_col: str = "seq_id",
    op_col: str = "op",
    where_ops: list[WhereOp] | None = None,
) -> DataFrame:
    """Fold ``log`` (in ``seq_col`` order, per ``id_col``) onto ``base``.

    Returns the new compacted state: one row per surviving id with
    ``offset_id`` plus the record's field columns. ``base`` rows are
    treated as pre-existing state (MaterializedLogOperation::Initial).

    ``where_ops``: DELETE-WHERE records as ``(seq, ids, where,
    where_document)`` — applied between ops at their seq position; a record
    existing at that seq and matching ALL given constraints
    (:func:`where_op_matches`) is deleted.
    """
    field_cols = [c for c in log.columns if c not in (id_col, seq_col, op_col, OFFSET_COL)]
    if base is not None:
        base_aligned = base
        if OFFSET_COL not in base.columns:
            base_aligned = base_aligned.withColumn(OFFSET_COL, F.lit(None).cast("long"))
        for c in [seq_col, op_col]:
            if c not in base.columns:
                base_aligned = base_aligned.withColumn(
                    c, F.lit(-1).cast("long") if c == seq_col else F.lit(BASE_OP)
                )
        missing = [c for c in log.columns if c not in base_aligned.columns]
        for c in missing:
            base_aligned = base_aligned.withColumn(c, F.lit(None).cast(dict(log.dtypes)[c]))
        cols = [id_col, seq_col, op_col, OFFSET_COL, *field_cols]
        log_aligned = log
        if OFFSET_COL not in log.columns:
            log_aligned = log_aligned.withColumn(OFFSET_COL, F.lit(None).cast("long"))
        union = base_aligned.select(*cols).unionByName(log_aligned.select(*cols))
    else:
        union = log
        if OFFSET_COL not in log.columns:
            union = union.withColumn(OFFSET_COL, F.lit(None).cast("long"))
        union = union.select(id_col, seq_col, op_col, OFFSET_COL, *field_cols)

    # cut the log at each where-op's seq; each segment folds onto the state
    # the previous one left, which then loses the rows the where-op matches
    state, lo = None, None
    for op in [*sorted(where_ops or [], key=lambda o: o[0]), None]:
        seg = union
        if lo is not None:
            seg = seg.filter(F.col(seq_col) > lo)
        if op is not None:
            seg = seg.filter(F.col(seq_col) < op[0])
        if state is not None:
            seg = state.select(
                id_col,
                F.lit(-1).cast("long").alias(seq_col),
                F.lit(BASE_OP).alias(op_col),
                OFFSET_COL,
                *field_cols,
            ).unionByName(seg)
        state = _materialize_vectorized(seg, id_col, seq_col, op_col, field_cols)
        if op is not None:
            state = state.filter(~where_op_matches(op, state.schema, id_col))
            lo = op[0]
    return state


def _materialize_vectorized(
    union: DataFrame, id_col: str, seq_col: str, op_col: str, field_cols: list[str]
) -> DataFrame:
    """Net-effect fold as pure column expressions (SURVEY §2.1's mapping).

    The per-id automaton collapses to three facts derivable without
    iteration (one hash shuffle on id, reused by the final aggregate):

    - last DELETE seq ``_del`` (none -> -2; BASE sits at seq -1, below any
      log seq, so -2 orders before everything);
    - incarnation start ``_inc`` = min seq of a BASE/ADD/UPSERT after
      ``_del``. Any setter after a DELETE (or at the start) inserts; later
      setters while the record exists never re-insert, so min() is exact.
      Null ``_inc`` = the id does not survive;
    - a row contributes field values iff it IS the incarnation insert (all
      its fields, nulls included) or is a later UPDATE/UPSERT (non-null
      fields only — that's ``max_by`` over a null-keyed seq). Duplicate
      ADDs while alive contribute nothing, exactly the reference's
      ignored-add (materialize_logs.rs:81).

    offset_id: the incarnation insert's seq — or the carried offset when
    the insert is the BASE row (its own incarnation predates this fold).
    """
    from pyspark.sql import Window

    setters = F.col(op_col).isin(BASE_OP, "ADD", "UPSERT")
    w = Window.partitionBy(id_col)
    df = union.withColumn(
        "_del",
        F.coalesce(
            F.max(F.when(F.col(op_col) == "DELETE", F.col(seq_col))).over(w),
            F.lit(-2).cast("long"),
        ),
    ).withColumn(
        "_inc",
        F.min(F.when(setters & (F.col(seq_col) > F.col("_del")), F.col(seq_col))).over(w),
    )
    is_insert = F.col(seq_col) == F.col("_inc")
    is_merge = F.col(op_col).isin("UPDATE", "UPSERT") & (F.col(seq_col) > F.col("_inc"))
    contributing = df.filter(is_insert | is_merge)

    aggs = [
        F.min_by(
            F.when(F.col(op_col) == BASE_OP, F.col(OFFSET_COL)).otherwise(F.col(seq_col)),
            F.when(F.col(seq_col) == F.col("_inc"), F.col(seq_col)),
        ).alias(OFFSET_COL)
    ]
    for c in field_cols:
        aggs.append(
            F.max_by(
                F.col(c),
                F.when(
                    (F.col(seq_col) == F.col("_inc")) | F.col(c).isNotNull(), F.col(seq_col)
                ),
            ).alias(c)
        )
    return contributing.groupBy(id_col).agg(*aggs)


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
  holding the predicate — the reference stores the predicate, not the
  matched-id expansion — and folded here at the right seq position against
  each record's state via the pure-Python ``where_matches`` twin.

Spark shape: ``repartition(id)`` (the reference's ``partition_log.rs``) then
``applyInPandas`` per id-group — the fold is inherently sequential per id
but embarrassingly parallel across ids, and groups are tiny (a handful of
log entries per record), so this scales linearly with executor count. The
Arrow boundary transfers each group once. Where-op predicates are a
broadcast-sized list (predicates, not data): every id-group folds them in
locally, so a predicate delete of 10^9 rows never touches the driver.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

OPS = ("ADD", "UPDATE", "UPSERT", "DELETE")
BASE_OP = "BASE"
OFFSET_COL = "offset_id"


def _py(v):
    """numpy value -> Python value (where_matches needs real bool/int)."""
    if hasattr(v, "tolist") and getattr(v, "ndim", 0):
        return v.tolist()  # array-valued field (embedding, metadata array)
    return v.item() if hasattr(v, "item") else v


def materialize(
    base: DataFrame | None,
    log: DataFrame,
    id_col: str = "id",
    seq_col: str = "seq_id",
    op_col: str = "op",
    where_ops: list[tuple[int, list | None, dict | None, dict | None]] | None = None,
    impl: str = "auto",
) -> DataFrame:
    """Fold ``log`` (in ``seq_col`` order, per ``id_col``) onto ``base``.

    Returns the new compacted state: one row per surviving id with
    ``offset_id`` plus the record's field columns. ``base`` rows are
    treated as pre-existing state (MaterializedLogOperation::Initial).

    ``where_ops``: DELETE-WHERE records as ``(seq, ids, where,
    where_document)`` — applied between ops at their seq position; a record
    existing at that seq and matching ALL given constraints (id membership
    and/or predicates) is deleted.

    ``impl``: ``"auto"`` folds with pure window/aggregate expressions
    (whole-stage codegen, no Python) when no predicate deletes are pending
    and falls back to the per-group pandas fold otherwise; ``"vectorized"``
    / ``"python"`` force a path (property tests assert their equivalence).
    """
    from ..where import where_doc_matches, where_matches

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

    if impl == "vectorized" or (impl == "auto" and not where_ops):
        if where_ops:
            raise ValueError("vectorized fold does not support where_ops")
        return _materialize_vectorized(union, id_col, seq_col, op_col, field_cols)

    out_schema = T.StructType(
        [union.schema[id_col], T.StructField(OFFSET_COL, T.LongType())]
        + [union.schema[c] for c in field_cols]
    )
    wops = sorted(where_ops or [], key=lambda t: t[0])

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(seq_col, kind="mergesort")
        gid = _py(pdf[id_col].iloc[0])
        exists = False
        state: dict = {}
        offset: int | None = None

        def apply_where_ops(upto_seq: float) -> None:
            # fold in every pending predicate delete with seq < upto_seq
            nonlocal exists, state, offset
            while wq and wq[0][0] < upto_seq:
                _, w_ids, w, wd = wq.pop(0)
                if not exists:
                    continue
                meta = {k: _py(v) for k, v in state.items() if not _is_null(v)}
                ok = (
                    (w_ids is None or str(gid) in w_ids)
                    and (w is None or where_matches(meta, w))
                    and (wd is None or where_doc_matches(meta.get("document"), wd))
                )
                if ok:
                    exists, state, offset = False, {}, None

        wq = list(wops)
        for row in pdf.itertuples(index=False):
            d = row._asdict()
            op = d[op_col]
            seq = d[seq_col]
            if op != BASE_OP:
                apply_where_ops(seq)
            if op == BASE_OP:
                exists = True
                state = {c: d[c] for c in field_cols}
                offset = None if _is_null(d.get(OFFSET_COL)) else int(d[OFFSET_COL])
            elif op == "ADD":
                if not exists:
                    exists = True
                    state = {c: d[c] for c in field_cols}
                    offset = int(seq)
            elif op == "UPDATE":
                if exists:
                    for c in field_cols:
                        if not _is_null(d[c]):
                            state[c] = d[c]
            elif op == "UPSERT":
                if exists:
                    for c in field_cols:
                        if not _is_null(d[c]):
                            state[c] = d[c]
                else:
                    exists = True
                    state = {c: d[c] for c in field_cols}
                    offset = int(seq)
            elif op == "DELETE":
                exists = False
                state = {}
                offset = None
        apply_where_ops(float("inf"))
        if not exists:
            return pd.DataFrame(columns=[id_col, OFFSET_COL, *field_cols])
        return pd.DataFrame([{id_col: pdf[id_col].iloc[0], OFFSET_COL: offset, **state}])

    return union.groupBy(id_col).applyInPandas(fold, schema=out_schema)


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


def _is_null(v) -> bool:
    if v is None:
        return True
    try:
        result = pd.isna(v)
        return bool(result) if not hasattr(result, "__len__") else False
    except (TypeError, ValueError):
        return False

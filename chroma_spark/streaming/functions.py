"""Attached-function analogs (reference: trigger-like derived computations
run at compaction time, writing into another collection).

Reference surface:
- ``statistics`` — metadata value frequencies
  (`rust/worker/src/execution/functions/statistics.rs`,
  `chromadb/api/functions.py:21-23`)
- ``record_counter`` / count-to-file — running record counts
  (`rust/worker/src/execution/operators/execute_task.rs:31-33`)
- ``revision_history`` — archive every version of a record
  (`rust/worker/src/execution/functions/revision_history.rs`,
  `chromadb/api/functions.py:27-28`)

Each is a plain DataFrame transformation so it runs identically in batch
(registry oracle queries) and inside the streaming compactor's
``foreachBatch`` (see compactor.py) — the reference runs them piggybacked
on compaction the same way (SURVEY §3.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..frames import local_frame
from ..functions.text import sql_lit


def statistics(records: DataFrame, keys: list[str]) -> DataFrame:
    """Metadata value frequencies: ``(key, value, n)`` for each key in
    ``keys``. Values are stringified (the reference's statistics output
    collection stores them as strings). NULLs are counted under the literal
    ``'__null__'`` bucket so missing-key rates are visible.

    Scale: unpivot is per-row (no shuffle); one hash aggregation on
    (key, value) — uniformly distributed unless one value dominates, which
    AQE skew-split handles.
    """
    stack_expr = ", ".join(
        "'" + k.replace("'", "\\'") + f"', CAST(`{k}` AS STRING)" for k in keys
    )
    unpivoted = records.select(
        F.expr(f"stack({len(keys)}, {stack_expr}) AS (key, value)")
    ).select("key", F.coalesce(F.col("value"), F.lit("__null__")).alias("value"))
    return unpivoted.groupBy("key", "value").agg(F.count("*").alias("n"))


def statistics_sql(records_sql: str, keys: list[str]) -> str:
    arms = "\nUNION ALL\n".join(
        f"SELECT {sql_lit(k)} AS key, coalesce(CAST(\"{k}\" AS VARCHAR), '__null__') AS value FROM __rec"
        for k in keys
    )
    return f"""
WITH __rec AS ({records_sql})
SELECT key, value, CAST(count(*) AS BIGINT) AS n
FROM ({arms}) GROUP BY key, value"""


def record_counter(records: DataFrame, group_col: str | None = None) -> DataFrame:
    """Live record counts, optionally per group: ``(group?, n_records)``.
    The streaming compactor appends one output row set per batch (with the
    batch id), giving the running count-to-file the reference emits."""
    if group_col is None:
        return records.agg(F.count("*").alias("n_records"))
    return records.groupBy(group_col).agg(F.count("*").alias("n_records"))


def revision_history(
    log: DataFrame, id_col: str = "id", seq_col: str = "seq_id", op_col: str = "op"
) -> DataFrame:
    """Every version of every record, numbered: log rows + ``version`` =
    1-based write ordinal per id. Append-only — the history collection keeps
    pre-images forever (reference `revision_history.rs`).

    Scale: one window per id partition; id cardinality is high so the
    shuffle is well-spread.
    """
    w = Window.partitionBy(id_col).orderBy(F.col(seq_col).asc())
    return log.withColumn("version", F.row_number().over(w).cast("long"))


def revision_history_sql(log_sql: str, id_col: str = "id", seq_col: str = "seq_id") -> str:
    return f"""
SELECT *, CAST(row_number() OVER (PARTITION BY "{id_col}" ORDER BY "{seq_col}" ASC) AS BIGINT) AS version
FROM ({log_sql})"""


def make_attached_function(name: str, kind: str, _input_states=None, **params):
    """Build an :class:`~chroma_spark.streaming.compactor.AttachedFunction`
    from a serializable ``(kind, params)`` spec — the form a collection
    persists in its config so the compactor can re-create the function on
    every compaction (the reference's attach stores the function type +
    params on the collection, `chromadb/api/functions.py:21-28`).

    Kinds:
    - ``statistics`` (params: ``keys``) — value frequencies over the NEW
      compacted state.
    - ``record_counter`` (params: optional ``group_col``) — running counts
      over the new state.
    - ``revision_history`` (no params) — per-id version numbering of the
      raw log batch (append-only pre-image archive).
    - ``quality_score`` (params: ``weights``/``intercept``/``dim`` from
      :func:`~chroma_spark.operators.quality_model.train_quality_classifier`,
      optional ``text_col``) — linear quality scores over the new state.
    - ``bpe_vocab`` (params: optional ``n_merges``/``max_words``/
      ``text_col``) — re-learn a BPE merge table from the new state and
      write the symbol histogram with merge ranks.
    - ``union_record_counter`` (multi-input; params: optional
      ``group_col``) — record counts over THIS collection's new state
      UNIONED with every extra input collection's snapshot, tagged by a
      ``collection`` source column. The multi-input analog of the
      reference's add_attached_function_input surface
      (`chromadb/api/__init__.py:1086-1104`).

    ``_input_states`` carries the extra input collections' snapshot
    DataFrames (resolved by ``Collection._attached_functions`` at run
    time; position i corresponds to the spec's ``inputs[i]``, None for a
    never-written input).
    """
    from .compactor import AttachedFunction

    input_states = _input_states or []

    if kind == "statistics":
        keys = list(params["keys"])

        def fn(state: DataFrame, batch: DataFrame) -> DataFrame:  # noqa: ARG001
            return statistics(state, keys)

    elif kind == "record_counter":
        group_col = params.get("group_col")

        def fn(state: DataFrame, batch: DataFrame) -> DataFrame:  # noqa: ARG001
            return record_counter(state, group_col)

    elif kind == "revision_history":

        def fn(state: DataFrame, batch: DataFrame) -> DataFrame:  # noqa: ARG001
            cols = [params.get("id_col", "id"), params.get("seq_col", "seq_id")]
            missing = [c for c in cols if c not in batch.columns]
            if missing:
                raise ValueError(f"revision_history: log batch lacks {missing}")
            return revision_history(
                batch,
                id_col=params.get("id_col", "id"),
                seq_col=params.get("seq_col", "seq_id"),
            )

    elif kind == "quality_score":
        # fastText-style linear quality scores over the NEW compacted
        # state (operators/quality_model.py): params carry the trained
        # model verbatim ({"weights": [...], "intercept": f, "dim": n} —
        # JSON-serializable, so the collection config persists it and any
        # later compaction process rebuilds the identical scorer). The
        # score is a shuffle-free projection piggybacked on compaction —
        # the cheapest point to keep corpus quality continuously scored.
        model = {
            "weights": [float(w) for w in params["weights"]],
            "intercept": float(params["intercept"]),
            "dim": int(params["dim"]),
        }
        text_col = params.get("text_col", "document")

        def fn(state: DataFrame, batch: DataFrame) -> DataFrame:  # noqa: ARG001
            from ..operators.quality_model import score_quality

            if text_col not in state.columns:
                raise ValueError(f"quality_score: state lacks {text_col!r}")
            return score_quality(state, model, text_col=text_col)

    elif kind == "lm_perplexity":
        # CCNet-style bigram-LM perplexity over the NEW compacted state
        # (operators/lm.py), self-trained on that same state — the
        # in-domain setup: after every compaction the corpus re-defines
        # its own reference distribution and each doc's ppl says how
        # typical it is of the current corpus. Count tables are
        # vocabulary-bounded; the output is (id, n_bigrams, ppl), read
        # back via read_function_output for gating or head/middle/tail
        # bucketing. add_k is persisted so re-compactions score
        # identically for an unchanged corpus.
        add_k = float(params.get("add_k", 0.5))
        text_col = params.get("text_col", "document")

        def fn(state: DataFrame, batch: DataFrame) -> DataFrame:  # noqa: ARG001
            from ..operators.lm import lm_perplexity

            if text_col not in state.columns:
                raise ValueError(f"lm_perplexity: state lacks {text_col!r}")
            return lm_perplexity(state, add_k=add_k, text_col=text_col)

    elif kind == "bpe_vocab":
        # Trainable BPE vocabulary over the NEW compacted state
        # (operators/bpe.py): every compaction re-learns ``n_merges``
        # merges from the corpus's word-frequency table (vocabulary-
        # bounded — the only corpus-sized cost is one word-count pass)
        # and writes the resulting symbol histogram with each learned
        # merge's rank. Reading the output back gives a tokenizer report
        # that tracks the corpus as it grows: (symbol, freq, merge_rank)
        # where merge_rank is NULL for base characters.
        n_merges = int(params.get("n_merges", 256))
        max_words = int(params.get("max_words", 50_000))
        text_col = params.get("text_col", "document")

        def fn(state: DataFrame, batch: DataFrame) -> DataFrame:  # noqa: ARG001
            from ..operators.bpe import bpe_symbol_frequencies, bpe_train

            if text_col not in state.columns:
                raise ValueError(f"bpe_vocab: state lacks {text_col!r}")
            merges = bpe_train(state, n_merges, text_col=text_col, max_words=max_words)
            freqs = bpe_symbol_frequencies(state, merges, text_col=text_col)
            # distinct merges can synthesize the same symbol text ((a,bc)
            # and (ab,c) both -> "abc"): keep the first-learned rank so
            # the join never fans out
            rank_of: dict[str, int] = {}
            for i, (a, b) in enumerate(merges):
                rank_of.setdefault(a + b, i + 1)
            ranks = local_frame(
                state.sparkSession, list(rank_of.items()), "symbol STRING, merge_rank INT"
            )
            return freqs.join(F.broadcast(ranks), "symbol", "left").select(
                "symbol", "freq", "merge_rank"
            )

    elif kind == "union_record_counter":
        # multi-input: counts over this collection's new state plus every
        # extra input snapshot, tagged with the source position — pure
        # unions + one groupBy (map-side partials), no driver rows
        group_col = params.get("group_col")

        def fn(state: DataFrame, batch: DataFrame) -> DataFrame:  # noqa: ARG001
            frames = [state.withColumn("collection", F.lit("self"))]
            for i, extra in enumerate(input_states):
                if extra is not None:
                    frames.append(extra.withColumn("collection", F.lit(f"input_{i}")))
            cols = ["collection"] + ([group_col] if group_col else [])
            counted = [
                f.groupBy(*[F.col(c) for c in cols]).agg(F.count("*").alias("n"))
                for f in frames
            ]
            out = counted[0]
            for c in counted[1:]:
                out = out.unionByName(c)
            return out.orderBy(*cols)

    else:
        raise ValueError(
            f"unknown attached-function kind {kind!r}; "
            "expected statistics | record_counter | revision_history | "
            "quality_score | lm_perplexity | bpe_vocab | union_record_counter"
        )
    return AttachedFunction(name=name, fn=fn)

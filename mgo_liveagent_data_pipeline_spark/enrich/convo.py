"""U1 — per-conversation LLM analysis, the reference's flagship operator
(core/extract/ConvoDataExtract.py:37-72,109-187 create/analyze_convo;
driver fan-out extraction_helpers.py:123-162,218-226).

Reference shape: per ticket — assemble the conversation in message order
(A5), fill the prompt template, call the LLM with a fallback chain, parse
the JSON, whitelist to the expected fields with null defaults, and emit an
error-fallback row if anything fails.

Spark shape: the conversation assembly (A5) runs in Catalyst — ordered
group-concat via ``array_sort(collect_list(struct))`` — so only one
narrow row per conversation crosses into Python, where a single
``mapInArrow`` stage batches thousands of conversations per Arrow batch
(a per-group ``applyInPandas`` pays the Arrow round trip once per
conversation; measured ~3× slower at sf0.1). Each output
``pyarrow.RecordBatch`` is built straight from the per-record Python
values, so a worker never imports pandas (a cold worker's pandas import
alone is ~0.3 s). Output typed by an explicit StructType (the pydantic
ResponseSchema's equivalent). The reference's
Semaphore(10) concurrency cap becomes the task-level parallelism of the
stage; at 100 TB you bound external-API pressure by coalescing to N
partitions before this stage, not with driver-side semaphores.

Retry safety: the gateway is injected and the stage is a pure function of
its input batch — a re-executed Spark task recomputes identical output
(hash-deterministic stub) or re-calls an idempotent endpoint.
"""
from __future__ import annotations

import json
from collections.abc import Callable

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .gateway import EXPECTED_FIELDS, PROMPT_TEMPLATE

_RATING_FIELDS = {
    "intent_rating",
    "engagement_rating",
    "clarity_rating",
    "resolution_rating",
    "sentiment_rating",
}

_STRING_FIELDS = [f for f in EXPECTED_FIELDS if f not in _RATING_FIELDS]

_INT64_MIN, _INT64_MAX = -(2**63), 2**63 - 1


def _coerce_rating_column(values: list) -> tuple[list, list[bool]]:
    """Pydantic-style int coercion for one rating column of a batch.

    Returns ``(coerced, bad)`` — ``coerced`` holds Python ints / None,
    ``bad`` marks non-null values that are not integral in-int64-range
    numbers ("5" → 5, 5.0 → 5; 5.5 / "abc" / inf / NaN / 2**70 → the
    whole record becomes a fallback row). A well-behaved LLM returns
    typed ints, so the common case is a single cheap scan with no
    per-value exception handling.
    """
    n = len(values)
    bad = [False] * n
    # fast path: already-typed output (type check excludes bool)
    if all(v is None or type(v) is int for v in values):
        for i, v in enumerate(values):
            if v is not None and not _INT64_MIN <= v <= _INT64_MAX:
                bad[i] = True
        return [None if bad[i] else v for i, v in enumerate(values)], bad
    out: list = [None] * n
    for i, v in enumerate(values):
        if v is None:
            continue
        try:
            iv = int(v)  # ValueError/TypeError on junk, OverflowError on inf
            if isinstance(v, float) and iv != v:
                raise ValueError(f"non-integral rating: {v}")
            if not _INT64_MIN <= iv <= _INT64_MAX:
                raise ValueError(f"rating outside int64: {v}")
            out[i] = iv
        except Exception:
            bad[i] = True
    return out, bad


def response_schema(key_col: str, key_type: T.DataType) -> T.StructType:
    """The typed output contract — ResponseSchema (core/schemas/
    ConvoResponse.py:3-19) plus run metadata (tokens/model/date_extracted,
    extraction_helpers.py:148-162)."""
    fields = [T.StructField(key_col, key_type)]
    for f in EXPECTED_FIELDS:
        dtype = T.LongType() if f in _RATING_FIELDS else T.StringType()
        fields.append(T.StructField(f, dtype))
    fields += [
        T.StructField("tokens", T.LongType()),
        T.StructField("model", T.StringType()),
        T.StructField("date_extracted", T.TimestampType()),
    ]
    return T.StructType(fields)


def analyze_conversations(
    df: DataFrame,
    gateway: Callable[[str], tuple[str, int, str]],
    key_col: str = "user_id",
    order_cols: tuple[str, ...] = ("ts", "event_id"),
    text_col: str = "event_type",
    id_col: str = "event_id",
    ts_col: str = "ts",
) -> DataFrame:
    """One output row per conversation group.

    Conversation line format is ``<text>#<id>`` joined by `` | `` in
    (order_cols) order — deterministic at any parallelism because the sort
    happens inside the aggregation result (array_sort of the collected
    structs), never on input row order. The Python boundary sees one
    pre-assembled narrow row per conversation.
    """
    from pyspark.sql import functions as F

    key_type = df.schema[key_col].dataType
    schema = response_schema(key_col, key_type)
    out_cols = [f.name for f in schema.fields]

    line = F.concat(
        F.col(text_col).cast("string"), F.lit("#"), F.col(id_col).cast("string")
    )
    sort_struct = F.struct(
        *[F.col(c) for c in order_cols], line.alias("__line")
    )
    grouped = df.groupBy(key_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(sort_struct)), lambda s: s["__line"]
            ),
            " | ",
        ).alias("__convo"),
        F.max(ts_col).alias("__max_ts"),
    )

    fallback_model = getattr(gateway, "model", "unknown")

    def _analyze(batches):
        for batch in batches:
            n = batch.num_rows
            # strings go back in the width the JVM sent them in
            str_type = batch.schema.field("__convo").type
            field_cols: dict[str, list] = {
                k: [None] * n for k in EXPECTED_FIELDS
            }
            tokens = [0] * n
            models: list = [fallback_model] * n
            failed = [False] * n
            for i, convo in enumerate(batch.column("__convo").to_pylist()):
                prompt = PROMPT_TEMPLATE.format(conversation=convo)
                try:
                    raw, tok, model = gateway(prompt)
                    tok = int(tok)
                    data = json.loads(raw)
                    if not isinstance(data, dict):
                        raise ValueError("non-object completion")
                except Exception:
                    failed[i] = True
                    continue
                # field whitelist + null defaults
                # (ConvoDataExtract.py:132-155)
                for k in EXPECTED_FIELDS:
                    field_cols[k][i] = data.get(k)
                tokens[i] = tok
                models[i] = model
            # ratings must land as ints and the other fields as strings,
            # or the Arrow conversion kills the task instead of producing
            # the fallback row; a bad value fails its whole record, like
            # the per-record parse errors
            for k in _RATING_FIELDS:
                field_cols[k], bad = _coerce_rating_column(field_cols[k])
                failed = [f or b for f, b in zip(failed, bad)]
            for k in _STRING_FIELDS:
                col = field_cols[k]
                # one type scan when the column is clean, the common case
                if not all(v is None or type(v) is str for v in col):
                    failed = [
                        f or not (v is None or isinstance(v, str))
                        for f, v in zip(failed, col)
                    ]
            # error-fallback rows (ConvoDataExtract.py:163-187)
            for i in (i for i, f in enumerate(failed) if f):
                for k in EXPECTED_FIELDS:
                    field_cols[k][i] = None
                field_cols["summary"][i] = "ANALYSIS_FAILED"
                tokens[i] = 0
                models[i] = fallback_model
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(key_col),
                    *(
                        pa.array(
                            field_cols[k],
                            type=pa.int64() if k in _RATING_FIELDS else str_type,
                        )
                        for k in EXPECTED_FIELDS
                    ),
                    pa.array(tokens, type=pa.int64()),
                    pa.array(models, type=str_type),
                    batch.column("__max_ts"),
                ],
                names=out_cols,
            )

    return grouped.mapInArrow(_analyze, schema)

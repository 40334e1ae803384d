"""Stateful streaming operators with no native Spark primitive —
applyInPandasWithState gauge compression (``stateful_changes_only``) and
a per-(key, time bucket) token-bucket throttle (``stateful_rate_limit``).

Each is the streaming twin of a batch operator (resample.changes_only,
sampling.rate_limit): the per-key GroupState carries what the batch
operator reads from earlier rows, so with time-split input the emitted
set equals the batch result. Per-interval counts and sums (A6) are NOT
here: Spark's watermarked ``window`` aggregate already emits each bucket
once, so they run through ``operators.aggregate.interval_aggregate``.

Arrow-batched (applyInPandasWithState hands pandas chunks); the per-key
math is vectorized pandas, no per-row Python.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

__all__ = ["stateful_changes_only", "stateful_rate_limit"]

_CHG_STATE_SCHEMA = T.StructType(
    [
        T.StructField("has_last", T.LongType(), True),
        T.StructField("last_is_null", T.LongType(), True),
        T.StructField("last_v", T.LongType(), True),
    ]
)


def stateful_changes_only(
    stream: DataFrame,
    key_cols: list[str],
    ts_col: str,
    value_col: str,
    id_col: str,
) -> DataFrame:
    """Streaming twin of resample.changes_only: per key, emit a row only
    when its floored value DIFFERS from the last emitted observation —
    the stateful gauge-compression an OTel pipeline applies at the edge
    so a flat gauge costs nothing downstream. GroupState holds exactly
    one (value) per key — O(keys) state, no timeout needed (a gauge's
    last value never stops being the comparison point; deployments can
    bolt a TTL on top when key churn demands it).

    Rows are ordered by (ts, id) WITHIN each microbatch (vectorized
    pandas sort, no per-row Python); cross-batch order is the file
    source's time order, so with time-split input the emitted set
    equals the batch operator exactly — which is how the oracle checks
    it (lib_streaming_changes).
    """
    key_types = [stream.schema[k].dataType for k in key_cols]
    out_schema = T.StructType(
        [T.StructField(k, t, True) for k, t in zip(key_cols, key_types)]
        + [
            T.StructField("event_id", T.LongType(), True),
            T.StructField("value_floor", T.LongType(), True),
        ]
    )

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        pdf = pd.concat(list(pdfs), ignore_index=True)
        if len(pdf) == 0:
            return
        pdf = pdf.sort_values([ts_col, id_col], kind="mergesort").reset_index(
            drop=True
        )
        import numpy as np

        raw = pdf[value_col]
        vs = pd.Series(
            np.floor(raw.to_numpy(dtype="float64")), dtype="Float64"
        ).astype("Int64")
        vs[raw.isna().to_numpy()] = pd.NA
        prev = vs.shift(1)
        if state.exists:
            _has, last_is_null, last_v = state.get
            prev.iloc[0] = pd.NA if last_is_null else last_v
            first_row_unconditional = False
        else:
            first_row_unconditional = True
        # null-safe inequality, fully vectorized on the nullable dtype
        both_na = vs.isna() & prev.isna()
        one_na = vs.isna() ^ prev.isna()
        changed = ((vs != prev).fillna(False) | one_na) & ~both_na
        if first_row_unconditional:
            changed.iloc[0] = True
        last = vs.iloc[-1]
        state.update((1, 1 if pd.isna(last) else 0, 0 if pd.isna(last) else int(last)))
        if changed.any():
            sel = pdf.loc[changed.to_numpy()]
            data = {k: [kv] * len(sel) for k, kv in zip(key_cols, key)}
            data["event_id"] = sel[id_col].to_list()
            data["value_floor"] = pd.array(vs[changed.to_numpy()], dtype="Int64")
            yield pd.DataFrame(data)

    return (
        stream.groupBy(*key_cols)
        .applyInPandasWithState(
            fn,
            outputStructType=out_schema,
            stateStructType=_CHG_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


_RL_STATE_SCHEMA = T.StructType(
    [
        T.StructField("buckets", T.ArrayType(T.LongType()), True),
        T.StructField("counts", T.ArrayType(T.LongType()), True),
    ]
)


def stateful_rate_limit(
    stream: DataFrame,
    key_cols: list[str],
    ts_col: str,
    id_col: str,
    interval_seconds: int = 86400,
    max_per_window: int = 100,
) -> DataFrame:
    """Streaming twin of sampling.rate_limit: per (key, time bucket),
    let the FIRST ``max_per_window`` rows through and drop the rest —
    the edge throttle for chatty emitters, with the admitted-count per
    open bucket as GroupState (O(active buckets) per key; a deployment
    adds bucket eviction past its late-data bound — the replay harness
    keeps every bucket so the equality with the batch operator is
    total).

    Rows are sorted by (ts, id) within each microbatch (vectorized);
    with time-split input the admitted set equals the batch
    rate_limit, which the oracle states as the plain row_number cut.
    """
    key_types = [stream.schema[k].dataType for k in key_cols]
    out_schema = T.StructType(
        [T.StructField(k, t, True) for k, t in zip(key_cols, key_types)]
        + [T.StructField("event_id", T.LongType(), True)]
    )

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        pdf = pd.concat(list(pdfs), ignore_index=True)
        if len(pdf) == 0:
            return
        pdf = pdf.sort_values([ts_col, id_col], kind="mergesort").reset_index(
            drop=True
        )
        prior: dict[int, int] = {}
        if state.exists:
            buckets, counts = state.get
            prior = dict(zip(buckets, counts))
        secs = (
            pdf[ts_col].astype("datetime64[us]").astype("int64") // 1_000_000
        )
        bucket = (secs // interval_seconds) * interval_seconds
        rank_in_bucket = bucket.groupby(bucket).cumcount()
        already = bucket.map(prior).fillna(0).astype("int64")  # vectorized dict map
        admit = (rank_in_bucket + already) < max_per_window
        new_totals = bucket.value_counts().to_dict()
        for b, n in new_totals.items():
            prior[int(b)] = prior.get(int(b), 0) + int(n)
        state.update((list(prior.keys()), list(prior.values())))
        if admit.any():
            sel = pdf.loc[admit.to_numpy()]
            data = {k: [kv] * len(sel) for k, kv in zip(key_cols, key)}
            data["event_id"] = sel[id_col].to_list()
            yield pd.DataFrame(data)

    return stream.groupBy(*key_cols).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=_RL_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

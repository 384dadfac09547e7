"""Correctness gate: the final state against the repository's replay
oracle (``dataingestion_spark.oracle.replay``), a pure-pandas
last-writer-wins replay that never touches the engine, over every event the
run applied.  Any mismatch fails the run.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from dataingestion_spark import oracle
from inputs import PAYLOAD, PK, Events, to_arrow

COLS = PK + PAYLOAD


def expected_state(ev: Events) -> pd.DataFrame:
    """Live rows after replaying ``ev`` in lsn order."""
    return oracle.replay(to_arrow(ev).to_pandas())


def normalize(df: pd.DataFrame, cols: list[str] = COLS) -> pd.DataFrame:
    """Canonical form for comparison: fixed column order, pk-sorted,
    integer turn, ts as epoch microseconds, None for missing strings."""
    out = df[cols].copy()
    if "turn_idx" in out:
        out["turn_idx"] = out["turn_idx"].astype(np.int64)
    if "ts" in out and not pd.api.types.is_integer_dtype(out["ts"]):
        ts = pd.to_datetime(out["ts"], utc=True).dt.tz_convert(None)
        out["ts"] = ts.astype("datetime64[us]").astype(np.int64)
    for c in cols:
        if out[c].dtype == object:
            out[c] = out[c].where(out[c].notna(), None)
    keys = [c for c in PK if c in cols] or cols[:1]
    return out.sort_values(keys, kind="stable").reset_index(drop=True)


def diff(got: pd.DataFrame, want: pd.DataFrame, what: str, cols=COLS) -> str | None:
    """None when equal row for row, else a one-line description."""
    g, w = normalize(got, cols), normalize(want, cols)
    keys = [c for c in PK if c in cols]
    if keys and g.duplicated(keys).any():
        return f"{what}: duplicate primary keys"
    if len(g) != len(w):
        return f"{what}: {len(g)} rows, expected {len(w)}"
    ne = ~((g == w) | (g.isna() & w.isna())).all(axis=1)
    if ne.any():
        i = int(np.flatnonzero(ne.to_numpy())[0])
        return (
            f"{what}: row {i} differs: got {g.iloc[i].to_dict()} "
            f"expected {w.iloc[i].to_dict()}"
        )
    return None


def filter_keys(state: pd.DataFrame, keys: list[tuple]) -> pd.DataFrame:
    idx = pd.MultiIndex.from_tuples(keys, names=PK)
    return state[pd.MultiIndex.from_frame(state[PK]).isin(idx)]


def filter_convs(state: pd.DataFrame, convs: list[str]) -> pd.DataFrame:
    return state[state["conv_id"].isin(convs)]


def aggregate_view(state: pd.DataFrame) -> pd.DataFrame:
    """The ``conv_id -> (n_rows, sum_turn_idx)`` view, recomputed fresh."""
    g = state.groupby("conv_id", as_index=False).agg(
        n_rows=("turn_idx", "size"), sum_turn_idx=("turn_idx", "sum")
    )
    return g.astype({"n_rows": np.int64, "sum_turn_idx": np.int64})

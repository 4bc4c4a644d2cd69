"""Seeded input generators. The same seed always gives the same inputs.

Every generator returns pandas frames; the workloads stage them as
parquet under the run's temp root, so the library under test sees only
files, never the generator.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
# the skew of the snapshot fixture's hot cluster: 2% of users, 30% of rows
HOT_USER_FRAC, HOT_ROW_FRAC = 0.02, 0.30
NEAR_DUP_FRAC = 0.15
T0 = np.datetime64("2024-01-01T00:00:00", "us")
SPAN_US = 30 * 86_400_000_000  # thirty days, like the sf0.1 events table


def _user_of_row(rng, n_rows: int, n_users: int) -> np.ndarray:
    """User id per row: ``HOT_USER_FRAC`` of the users carry
    ``HOT_ROW_FRAC`` of the rows, the rest spread uniformly."""
    n_hot = max(1, int(n_users * HOT_USER_FRAC))
    hot = rng.random(n_rows) < HOT_ROW_FRAC
    users = np.where(hot, rng.integers(0, n_hot, n_rows),
                     rng.integers(n_hot, n_users, n_rows))
    return users.astype(np.int64)


def events(seed: int, n_rows: int, n_users: int) -> pd.DataFrame:
    """An events-like stream with the columns of the sf0.1 ``events``
    table: event_id, ts, user_id, event_type, value, props."""
    rng = np.random.default_rng([seed, 1])
    ts = T0 + np.sort(rng.integers(0, SPAN_US, n_rows)).astype("timedelta64[us]")
    return pd.DataFrame({
        "event_id": np.arange(n_rows, dtype=np.int64),
        "ts": ts,
        "user_id": _user_of_row(rng, n_rows, n_users),
        "event_type": np.array(EVENT_TYPES, dtype=object)[rng.integers(0, 5, n_rows)],
        "value": np.round(rng.lognormal(3.4, 0.9, n_rows), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_rows)],
    })


def keyed_table(seed: int, stream: int, n_rows: int, n_users: int,
                cols: dict[str, str]) -> pd.DataFrame:
    """A (user_id, ts, values...) table with one row per (user_id, ts).
    ``cols`` maps a column name to ``"double"`` or ``"long"``."""
    rng = np.random.default_rng([seed, stream])
    pdf = pd.DataFrame({
        "user_id": rng.integers(0, n_users, n_rows).astype(np.int64),
        "ts": T0 + rng.integers(0, SPAN_US, n_rows).astype("timedelta64[us]"),
    })
    for name, kind in cols.items():
        if kind == "double":
            pdf[name] = np.round(rng.normal(0.0, 10.0, n_rows), 3)
        else:
            pdf[name] = rng.integers(0, 1000, n_rows).astype(np.int64)
    return (pdf.drop_duplicates(["user_id", "ts"])
            .sort_values(["user_id", "ts"]).reset_index(drop=True))


def corpus(seed: int, n_docs: int, words: list[str]) -> pd.DataFrame:
    """(doc_id, text) documents of 8-90 vocabulary words, about the
    length spread of the sf0.1 ``documents`` table (44-577 chars).
    ``NEAR_DUP_FRAC`` of the documents copy an earlier one with a few
    words replaced, so the dedup pair set is never empty."""
    rng = np.random.default_rng([seed, 7])
    vocab = np.array(words, dtype=object)
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < NEAR_DUP_FRAC:
            toks = texts[int(rng.integers(0, i))].split(" ")
            for _ in range(int(rng.integers(0, 1 + len(toks) // 12))):
                toks[int(rng.integers(0, len(toks)))] = vocab[int(rng.integers(0, len(vocab)))]
        else:
            toks = list(vocab[rng.integers(0, len(vocab), int(rng.integers(8, 91)))])
        texts.append(" ".join(toks))
    return pd.DataFrame({"doc_id": np.arange(n_docs, dtype=np.int64), "text": texts})

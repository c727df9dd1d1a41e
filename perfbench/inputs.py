"""Seeded input generation: ``events`` and ``documents`` parquet tables in
the shapes of the repo's test tables, which ``sources.tables`` reads.

The seed decides every value, including which entity is hot; the engine
only ever sees the written files.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# the word list of the sf0.1 documents table: its token ids include the
# ones the benchmark's rules select on (982, 756)
WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
EVENT_TYPES = ("signup", "purchase", "view", "click", "error")
DAYS = 30
T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


def write_documents(out: Path, rng: np.random.Generator, n_docs: int) -> None:
    lens = rng.integers(10, 101, n_docs)
    words = np.array(WORDS)[rng.integers(0, len(WORDS), int(lens.sum()))]
    cuts = np.cumsum(lens)[:-1]
    text = [" ".join(w) for w in np.split(words, cuts)]
    df = pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": text,
            "lang": np.array(LANGS)[rng.choice(len(LANGS), n_docs, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
        }
    )
    df["n_chars"] = df["text"].str.len().astype(np.int64)
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), out)


def write_events(
    out: Path,
    rng: np.random.Generator,
    n_events: int,
    n_users: int,
    hot_share: float = 0.0,
) -> int:
    """Events spread uniformly over ``n_users`` and 30 days; with
    ``hot_share`` > 0 one seed-chosen user holds that share of the rows.
    (user_id, ts) pairs are unique, so as-of matches have no ties to
    resolve. Returns the hot user's row count (0 without one)."""
    users = rng.integers(0, n_users, n_events)
    hot = None
    if hot_share > 0:
        hot = int(rng.integers(0, n_users))
        users[rng.random(n_events) < hot_share] = hot
    ts = T0_US + rng.integers(0, DAYS * 86_400_000_000, n_events)
    _, first = np.unique(np.stack([users, ts]), axis=1, return_index=True)
    first.sort()
    users, ts = users[first], ts[first]
    n = len(users)
    order = np.argsort(ts, kind="stable")
    users, ts = users[order], ts[order]
    table = pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": users.astype(np.int64),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )
    pq.write_table(table, out)
    return int((users == hot).sum()) if hot is not None else 0


def write_sequence_tables(
    sf_dir: Path, seed: int, n_events: int, n_users: int, n_docs: int,
    hot_share: float = 0.0,
) -> int:
    """Write ``documents.parquet`` and ``events.parquet`` under ``sf_dir``;
    returns the hot user's row count."""
    sf_dir.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng(seed)
    write_documents(sf_dir / "documents.parquet", rng, n_docs)
    return write_events(sf_dir / "events.parquet", rng, n_events, n_users, hot_share)

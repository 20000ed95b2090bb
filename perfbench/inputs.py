"""Seeded input generation for the benchmark.

The benchmark may read nothing outside its checkout, so it cannot copy the
``events`` table the test suite uses. It generates a table with the same
schema and the same value distributions instead: 1500 users per replica,
five equally likely event types, exponential ``value`` (mean 50, two
decimals), ``props`` of the form ``{"k": 0..99}`` and timestamps spread over
30 days in ``event_id`` order.

A base replica of ``BASE_ROWS`` rows is drawn from the seed. Replica ``r``
copies it with ``event_id`` offset by ``r * BASE_ROWS`` and ``user_id``
remapped through a seeded permutation of ``[0, USERS * replicas)``. The
transcripts derivation zero-pads ``user_id`` to six digits, so ids must stay
below 10**6 or conversations would merge; ``events_table`` refuses more
replicas than that allows.

``documents`` follows the test table's shape: documents of 10-99 words
from a 31-word vocabulary with five languages and 20 sources, and a few
planted exact and one-word-off copies. The seed draws the rows and their
order across the files.

The same seed gives byte-identical parquet files: every value comes from a
``numpy.random.Generator`` and pyarrow writes no timestamps into the file.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# parquet parts per table, so scans are split across cores
FILES = 4
BASE_ROWS = 100_000
USERS = 1500
DAYS = 30
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
PROPS = [f'{{"k": {k}}}' for k in range(100)]
MAX_USER_ID = 10**6
EPOCH_US = int(np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64))
WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key line merge"
    " order part query row scan slow small sort spark stream table the value vector window"
).split()
LANGS = ["en", "en", "en", "zh", "de", "fr", "es"]
SOURCES = 20
# share of documents that are exact or one-word-off copies of another
COPY_SHARE = 0.03


def _dict_column(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    idx = pa.array(rng.integers(0, len(values), n).astype(np.int32))
    return pa.DictionaryArray.from_arrays(idx, pa.array(values)).cast(pa.string())


def events_table(seed: int, replicas: int) -> pa.Table:
    """``replicas`` x ``BASE_ROWS`` events rows drawn from ``seed``."""
    if USERS * replicas > MAX_USER_ID:
        raise ValueError(f"{replicas} replicas would need user_id >= {MAX_USER_ID}")
    rng = np.random.default_rng(seed)
    n = BASE_ROWS
    ts = EPOCH_US + np.sort(rng.integers(0, DAYS * 86400 * 10**6, n))
    user = rng.integers(0, USERS, n)
    base = {
        "ts": pa.array(ts.astype("datetime64[us]")),
        "event_type": _dict_column(rng, EVENT_TYPES, n),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": _dict_column(rng, PROPS, n),
    }
    remap = rng.permutation(USERS * replicas)
    parts = []
    for r in range(replicas):
        parts.append(
            pa.table(
                {
                    "event_id": pa.array(np.arange(n, dtype=np.int64) + r * n),
                    "ts": base["ts"],
                    "user_id": pa.array(remap[user + r * USERS].astype(np.int64)),
                    "event_type": base["event_type"],
                    "value": base["value"],
                    "props": base["props"],
                }
            )
        )
    return pa.concat_tables(parts)


def documents_table(seed: int, n: int) -> pa.Table:
    """``n`` documents drawn from ``seed``, in a seeded row order."""
    rng = np.random.default_rng([seed, 1])
    texts = [" ".join(rng.choice(WORDS, rng.integers(10, 100))) for _ in range(n)]
    for i in rng.choice(np.arange(1, n), int(n * COPY_SHARE), replace=False):
        ws = texts[rng.integers(0, i)].split()
        if rng.random() < 0.5:
            ws[rng.integers(0, len(ws))] = rng.choice(WORDS)
        texts[i] = " ".join(ws)
    ids = np.arange(n, dtype=np.int64)
    table = pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": rng.choice(LANGS, n),
            "source": [f"src{i % SOURCES}" for i in ids],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    return table.take(rng.permutation(n))


def write_table(sf_dir: str, name: str, table: pa.Table) -> int:
    """Write ``<sf_dir>/<name>.parquet/`` as ``FILES`` parquet parts and
    return the row count."""
    out = os.path.join(sf_dir, f"{name}.parquet")
    os.makedirs(out, exist_ok=True)
    n = table.num_rows
    for i in range(FILES):
        lo, hi = i * n // FILES, (i + 1) * n // FILES
        pq.write_table(table.slice(lo, hi - lo), os.path.join(out, f"part-{i:05d}.parquet"))
    return n

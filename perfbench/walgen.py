"""Seeded generator for change-event WAL files, written with pyarrow.

The benchmark, not the engine, makes its inputs: the engine only sees the parquet
files. Rows follow the engine's event schema (``pocket_etl_spark.schema``):
``(lsn, op, repo, path, commit, lang, content, ts, extras)`` with unique,
increasing LSNs, an insert/update/delete mix of 20/70/10, content null on deletes,
a share of events routed to one hot key, a share with a NULL op (invalid, must
land in the DLQ), and optionally a tunnel field in ``extras``.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

LANGS = ["py", "java", "ts", "go", "rs", "md"]

SCHEMA = pa.schema(
    [
        ("lsn", pa.int64()),
        ("op", pa.string()),
        ("repo", pa.string()),
        ("path", pa.string()),
        ("commit", pa.string()),
        ("lang", pa.string()),
        ("content", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
        ("extras", pa.map_(pa.string(), pa.string())),
    ]
)


def events(
    rng: np.random.Generator,
    first_lsn: int,
    n: int,
    n_keys: int,
    hot_fraction: float = 0.0,
    invalid_fraction: float = 0.0,
    tunnel_col: str | None = None,
) -> pa.Table:
    """``n`` events with LSNs ``first_lsn .. first_lsn + n - 1``."""
    lsn = np.arange(first_lsn, first_lsn + n, dtype=np.int64)
    key = rng.integers(0, n_keys, n)
    key[rng.random(n) < hot_fraction] = 0
    slot = rng.integers(0, 100, n)
    op = np.where(slot < 20, "I", np.where(slot < 90, "U", "D")).astype(object)
    op[rng.random(n) < invalid_fraction] = None
    live = op != "D"
    n_repos = max(1, n_keys // 20)
    blobs = rng.bytes(n * 64).hex()
    repo, path, commit, lang, content, extras = [], [], [], [], [], []
    for i in range(n):
        k = int(key[i])
        lg = LANGS[k % len(LANGS)]
        r = f"org/repo-{k % n_repos:05d}"
        p = f"src/module_{k % 7}/file_{k:05d}.{lg}"
        repo.append(r)
        path.append(p)
        body = blobs[i * 128 : (i + 1) * 128]
        if live[i]:
            commit.append(body[:40])
            lang.append(lg)
            content.append(f"// {r}:{p} @ lsn={lsn[i]}\n{body}\n{body[::-1]}")
        else:
            commit.append(None)
            lang.append(None)
            content.append(None)
        ex = [("gen", "perfbench")]
        if tunnel_col is not None:
            ex.append((tunnel_col, str(int(slot[i]) * 7 % 1000)))
        extras.append(ex)
    ts = (np.datetime64("2024-01-01T00:00:00", "us") + lsn.astype("timedelta64[s]")).astype("datetime64[us]")
    return pa.table(
        [
            pa.array(lsn),
            pa.array(op, pa.string()),
            pa.array(repo),
            pa.array(path),
            pa.array(commit, pa.string()),
            pa.array(lang, pa.string()),
            pa.array(content, pa.string()),
            pa.array(ts, pa.timestamp("us", tz="UTC")),
            pa.array(extras, pa.map_(pa.string(), pa.string())),
        ],
        schema=SCHEMA,
    )


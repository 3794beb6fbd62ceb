"""Seeded workload inputs and the oracle answers they are checked against.

Every input comes from ``migrator_spark.gen.generate_event_log`` with the
workload seed; every expected answer comes from the same events in
pandas. The full-state digest uses ``gen.fold_oracle`` (per-row Python,
so it is computed once per seed and generator parameters, cached on
disk, and always outside a timed window). Point expectations (lookups,
row counts, change counts, per-repo view counts) use a vectorized
last-event-per-key fold of the same events, which follows the same
LWW-by-offset and delete-removes rules.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pandas as pd

DIGEST_COLS = ["repo", "path", "content_sha256", "_last_offset"]
KEEP_LOGS = 4  # generated logs kept in the cache, most recently used first
# generate_event_log seeds file i's RNG with seed * 1_000_003 + i, which
# numpy accepts only in [0, 2**32); a log has at most 64 files.
GEN_SEEDS = (2**32 - 64) // 1_000_003


def gen_seed(seed: int) -> int:
    """The generator seed of a workload seed. Seeds below ``GEN_SEEDS``
    are used as they are; any other integer, negative or large, is
    hashed into that range, so every ``--seed`` gives a valid log."""
    if 0 <= seed < GEN_SEEDS:
        return seed
    return int(hashlib.sha256(str(seed).encode()).hexdigest(), 16) % GEN_SEEDS


def digest_rows(rows) -> str:
    """Order-independent sha256 over ``(repo, path, content_sha256,
    _last_offset)`` tuples."""
    lines = sorted(f"{r[0]}\t{r[1]}\t{r[2]}\t{int(r[3])}" for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


class EventLog:
    """One generated log plus the oracle views the gate needs."""

    def __init__(self, cache_dir: str, name: str, **params):
        from migrator_spark.gen import generate_event_log, load_events_pandas

        tag = hashlib.sha256(json.dumps(params, sort_keys=True).encode()).hexdigest()[:12]
        self.dir = os.path.join(cache_dir, f"{name}-{tag}")
        os.makedirs(cache_dir, exist_ok=True)
        generate_event_log(self.dir, **params)
        os.utime(self.dir)
        _evict_old_logs(cache_dir)
        ev = load_events_pandas(self.dir)
        self.num_events = len(ev)
        self.files = sorted(f for f in os.listdir(self.dir) if f.startswith("events-"))
        self._ev = ev[["offset", "op", "repo", "path", "content"]]
        self._payload_bytes = (
            ev["repo"].str.len() + ev["path"].str.len() + ev["commit"].str.len()
            + ev["lang"].str.len() + ev["content"].str.len().fillna(0)
        ).to_numpy()
        self._digests_path = os.path.join(self.dir, "_oracle_digests.json")

    def file_offsets(self) -> list[tuple[int, int]]:
        """``[lo, hi)`` offset range of each log file, in file order."""
        import pyarrow.parquet as pq

        out = []
        for f in self.files:
            col = pq.read_table(os.path.join(self.dir, f), columns=["offset"])["offset"]
            out.append((int(col[0].as_py()), int(col[-1].as_py()) + 1))
        return out

    def payload_bytes(self, lo: int, hi: int) -> int:
        return int(self._payload_bytes[lo:hi].sum())

    def oracle_digest(self, end: int) -> str:
        """Digest of ``gen.fold_oracle`` over events with offset < end,
        cached per log and prefix."""
        from migrator_spark.gen import fold_oracle, load_events_pandas

        cached = {}
        if os.path.exists(self._digests_path):
            with open(self._digests_path) as f:
                cached = json.load(f)
        if str(end) not in cached:
            ev = load_events_pandas(self.dir)
            state = fold_oracle(ev[ev["offset"] < end])
            cached[str(end)] = digest_rows(state[DIGEST_COLS].itertuples(index=False))
            with open(self._digests_path, "w") as f:
                json.dump(cached, f)
        return cached[str(end)]

    def state(self, end: int) -> pd.DataFrame:
        """Visible rows after events with offset < end: the last event
        per key wins and a winning delete removes the key. Columns:
        repo, path, offset, content."""
        ev = self._ev[self._ev["offset"] < end]
        last = ev.drop_duplicates(["repo", "path"], keep="last")
        return last[last["op"] != "delete"].drop(columns="op").reset_index(drop=True)

    def expected_rows(self, state: pd.DataFrame, keys: list[tuple]) -> set:
        """``(repo, path, content_sha256, _last_offset)`` of ``keys``
        present in ``state``, hashed like the engine's transform."""
        from migrator_spark.functions.transforms import nfc_normalize_py

        idx = state.set_index(["repo", "path"])
        out = set()
        for k in keys:
            if k in idx.index:
                row = idx.loc[k]
                content = nfc_normalize_py(row["content"])
                out.add((k[0], k[1], hashlib.sha256(content.encode()).hexdigest(),
                         int(row["offset"])))
        return out

    def changed_keys(self, lo: int, hi: int) -> int:
        """Net per-key changes the commit of offsets [lo, hi) makes:
        every touched key except one absent both before and after."""
        live = pd.concat([self.state(lo), self.state(hi)])[["repo", "path"]].drop_duplicates()
        touched = self._ev[(self._ev["offset"] >= lo) & (self._ev["offset"] < hi)]
        keys = touched[["repo", "path"]].drop_duplicates()
        return len(keys.merge(live, on=["repo", "path"]))

    def sample_keys(self, state: pd.DataFrame, n: int, seed: int) -> list[tuple]:
        rng = np.random.RandomState(seed)
        pick = rng.choice(len(state), size=min(n, len(state)), replace=False)
        return [(state["repo"].iat[i], state["path"].iat[i]) for i in sorted(pick)]


def repo_counts(state: pd.DataFrame) -> dict:
    """Per-repo visible row count: the view's ``n_docs`` and ``n_sha``
    (every visible row carries content, so both equal the row count)."""
    return {k: int(v) for k, v in state.groupby("repo").size().items()}


def _evict_old_logs(cache_dir: str) -> None:
    """Keep the ``KEEP_LOGS`` most recently used logs: each new seed
    makes a new one and the cache must not grow without bound."""
    dirs = [os.path.join(cache_dir, d) for d in os.listdir(cache_dir)]
    dirs = sorted((d for d in dirs if os.path.isdir(d)), key=os.path.getmtime, reverse=True)
    for d in dirs[KEEP_LOGS:]:
        shutil.rmtree(d, ignore_errors=True)

"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its ``seed`` (numpy's PCG64 via
``np.random.default_rng``): the same seed gives byte-identical inputs,
and a different seed gives different ones (``test_perfbench.py``).
Sizes are fixed per workload, so seeds change the data, never the
amount of work. Any hashing that must agree between the driver and
the Python workers uses ``zlib.crc32``, never the per-process salted
``hash()``.
"""

from __future__ import annotations

import zlib
from dataclasses import dataclass
from datetime import datetime, timedelta

import numpy as np


def crc(*parts: object) -> int:
    """Stable 32-bit hash of ``parts`` (same value in every process)."""
    return zlib.crc32("|".join(map(str, parts)).encode())


# --- advisory_incremental ------------------------------------------------


_OVERRIDE_STATES = ("not_applicable", " Not_Applicable", "will_not_fix", "FIXED ")
_CVE_SPACE = 9_999_991  # prime: i -> (a * i + b) mod p never repeats for i < p


class AdvisoryFeed:
    """The advisory feed, run by run: run 1 sees ``n_advisories``
    distinct (cve_id, package) keys, and each later run replaces a
    ``churn`` share of the previous feed with keys never seen before.

    Overrides cover 4 % of the first feed, half of them spelled in a
    different case than the feed (the join is case-insensitive), plus
    1 % keys absent from every feed. They stay the same for every run,
    like the reference's CSV."""

    def __init__(self, seed: int, n_advisories: int, churn: float):
        self.rng = np.random.default_rng([seed, 1])
        self.n_pkgs = max(8, n_advisories // 6)
        self.n_churn = int(n_advisories * churn)
        self._a = int(self.rng.integers(1, _CVE_SPACE))
        self._b = int(self.rng.integers(0, _CVE_SPACE))
        self._n_keys = 0
        self.feed = self._keys(n_advisories)
        self.runs = 0
        picks = self.rng.choice(n_advisories, size=max(2, n_advisories // 25), replace=False)
        self.overrides: list[tuple[str, str, str, str | None, str]] = []
        for j, i in enumerate(picks.tolist()):
            pkg, cve, _ = self.feed[i]
            if j % 2:
                cve, pkg = cve.lower(), pkg.upper()
            self.overrides.append((cve, pkg, "Not applicable here", None, _OVERRIDE_STATES[j % 4]))
        for j in range(max(1, n_advisories // 100)):
            self.overrides.append(
                (f"CVE-1998-{j:07d}", f"ghost-{j}", "Not applicable here", "0.1", "not_applicable")
            )

    def _keys(self, n: int) -> list[tuple[str, str, str | None]]:
        """``n`` new (package_name, cve_id, fixed_version) rows."""
        idx = np.arange(self._n_keys, self._n_keys + n)
        self._n_keys += n
        nums = (self._a * idx + self._b) % _CVE_SPACE
        years = self.rng.integers(1999, 2027, size=n)
        pkgs = self.rng.integers(0, self.n_pkgs, size=n)
        has_fix = self.rng.random(n) < 0.6
        return [
            (
                f"pkg-{int(p)}",
                f"CVE-{int(y)}-{int(k):07d}",
                f"{int(k) % 9}.{int(k) % 17}-{int(y) % 5}" if f else None,
            )
            for p, y, k, f in zip(pkgs, years, nums, has_fix)
        ]

    def next_feed(self) -> list[tuple[str, str, str | None]]:
        """The feed of the next run (run 1 first)."""
        if self.runs:
            drop = set(self.rng.choice(len(self.feed), size=self.n_churn, replace=False).tolist())
            self.feed = [r for i, r in enumerate(self.feed) if i not in drop]
            self.feed += self._keys(self.n_churn)
        self.runs += 1
        return self.feed


def seeded_cache(
    feed, sources, t0: datetime, ttl: timedelta, step: timedelta
) -> list[tuple[str, str, str, datetime]]:
    """Enrichment-cache rows (cve_id, package_name, source_name,
    last_accessed) left by earlier runs, one per (source, key) of
    ``feed``, as if the cache had been filled over the two clock steps
    before ``t0``: 45 % of them expire at ``t0``, 45 % are fresh at
    ``t0`` and expire one step later, and 10 % are absent. With a TTL
    between one and two clock steps, every key is then refetched every
    other run, so each run finds about half its keys fresh and half
    expired instead of alternating between refetching all and none."""
    rows = []
    for source in sources:
        for pkg, cve, _ in feed:
            cohort = crc("cache", source, cve, pkg) % 20
            if cohort < 9:
                rows.append((cve, pkg, source, t0 - ttl - timedelta(hours=1)))
            elif cohort < 18:
                rows.append((cve, pkg, source, t0 + step - ttl - timedelta(hours=1)))
    return rows


def resolve(source: str, epoch: int, cve_id: str, package: str) -> dict:
    """Offline upstream resolver: a deterministic answer per (source,
    key, clock epoch), so a key fetched again later may have moved
    (pending -> fixed) and two sources disagree."""
    h = crc(source, cve_id, package, epoch)
    if h % 10 >= 7:
        return {"found": False}
    version = f"{h % 7}.{(h >> 4) % 13}" if (h >> 8) % 3 else None
    return {"found": True, "upstream_fixed_version": version, "upstream_status": "analyzed"}


# --- graph_fixpoint ------------------------------------------------------


@dataclass(frozen=True)
class GraphInputs:
    edges: np.ndarray  # (n, 2) int64, one row per undirected edge
    seeds: np.ndarray  # BFS seed node ids

    @property
    def input_rows(self) -> int:
        return int(len(self.edges) + len(self.seeds))


def graph_inputs(
    seed: int, n_chains: int, chain_len: int, n_clusters: int
) -> GraphInputs:
    """Long chains (deep: connected components needs many rounds)
    mixed with many small cliques (shallow: converge in 1-2 rounds).

    Node ids are distinct random 40-bit BIGINTs, so nothing relies on
    small or dense ids. The shape does not depend on the seed: the
    order of ids along chain ``c`` follows a permutation drawn from a
    fixed stream of its own, and clique sizes cycle through 5-9, so
    every seed gives the operators the same number of rounds and rows.
    Minimum labels spread along a chain in scrambled order about one
    hop per round, so the chains set the components round count."""
    rng = np.random.default_rng([seed, 2])
    sizes = [5 + i % 5 for i in range(n_clusters)]
    n_nodes = n_chains * chain_len + sum(sizes)
    ids = rng.choice(1 << 40, size=n_nodes, replace=False).astype(np.int64)
    edges = []
    seeds = []
    pos = 0
    for c in range(n_chains):
        order = np.random.default_rng([c, 7]).permutation(chain_len)
        chain = np.sort(ids[pos : pos + chain_len])[order]
        pos += chain_len
        edges.append(np.stack([chain[:-1], chain[1:]], axis=1))
        seeds.append(chain[0])
    for s in sizes:
        nodes = ids[pos : pos + s]
        pos += s
        ii, jj = np.triu_indices(s, k=1)
        edges.append(np.stack([nodes[ii], nodes[jj]], axis=1))
    seeds += ids[n_chains * chain_len :: 97].tolist()[: max(1, n_clusters // 50)]
    all_edges = np.concatenate(edges)
    return GraphInputs(
        edges=all_edges[rng.permutation(len(all_edges))],
        seeds=np.array(seeds, dtype=np.int64),
    )

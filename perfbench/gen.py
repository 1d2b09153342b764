"""Seeded workload inputs for the crawl benchmark.

The rules are those of ``fixtures/gen.py`` (and of the distributed loader in
``indigo_crawler_spark/sources/synthetic.py`` that ``bench.py`` uses): every
value is a pure function of the row index through
``h(field, i) = first 8 bytes of sha256(f"{seed}:{field}:{i}")``, hosts are
Zipf(s=1.2)-skewed, and the 7/11/13 cohorts (relative hrefs, invalid UTF-8,
denormalized urls) are kept. The only change is that the seed is an argument
instead of the constant 42, so ``seed=42`` reproduces the legacy synthetic
corpus byte for byte (pinned by ``perfbench/tests``).

Generation is set-up, not engine work: every input table is written to
parquet (with pyarrow, in worker processes) before any engine timer starts,
and the engine reads those files.
"""

from __future__ import annotations

import hashlib
import os
from datetime import timedelta

from fixtures.gen import _EPOCH, _ROBOTS_TEMPLATES, _WORDS, _zipf_cdf
from indigo_crawler_spark.kernels.keys import host_hash

# above this many seeds the loader takes the distributed path: seed i is the
# url of page row i (raw duplicates are possible and bootstrap dedups them),
# exactly like sources/synthetic.seeds_df
DISTRIBUTED_SEEDS = 100_000


def seed_rule(n_rows: int, n_seeds: int) -> str:
    """``"distinct"`` (the first *n_seeds* distinct page urls) or ``"rows"``
    (seed i = url of row i). More seeds than pages can only follow the row
    rule: the seeds past the last row name pages the corpus lacks."""
    return "distinct" if n_seeds <= min(DISTRIBUTED_SEEDS, n_rows) else "rows"


def _u64(key: bytes) -> int:
    return int.from_bytes(hashlib.sha256(key).digest()[:8], "big")


class SeededPages:
    """Row generator for ``pages`` under workload seed *seed*."""

    def __init__(self, n_rows: int, n_hosts: int, seed: int):
        self.n_rows, self.n_hosts, self.seed = n_rows, n_hosts, seed
        self._p = b"%d:" % seed
        self._cdf = None

    def h(self, field: str, *idx: int) -> int:
        return _u64(self._p + ":".join([field, *map(str, idx)]).encode())

    def _ranks(self, ids: list[int]):
        import numpy as np

        if self._cdf is None:
            self._cdf = np.asarray(_zipf_cdf(self.n_hosts), dtype=np.float64)
        p = self._p + b"host:"
        us = np.fromiter(
            (_u64(p + b"%d" % i) for i in ids), dtype=np.uint64, count=len(ids)
        )
        return np.searchsorted(self._cdf, us / 2.0**64, side="left") + 1

    def urls(self, ids: list[int]) -> list[str]:
        """Raw page urls (every 13th denormalized) for row indexes *ids*."""
        return self._urls(ids, self._paths(ids))

    def _paths(self, ids) -> dict[int, str]:
        p = self._p + b"path:"
        return {i: "p/%d" % (_u64(p + b"%d" % i) % 10**6) for i in ids}

    def _urls(self, ids, paths) -> list[str]:
        out = []
        for i, r in zip(ids, self._ranks(ids)):
            host = "h%d.example.org" % int(r)
            if i % 13 == 0:
                out.append(f"HTTPS://{host.upper()}:443/./{paths[i]}%7e#frag")
            else:
                out.append(f"https://{host}/{paths[i]}")
        return out

    def rows(self, ids) -> dict[str, list]:
        """Columns of the page rows *ids* (``pages`` schema)."""
        ids = [int(i) for i in ids]
        n, p = self.n_rows, self._p
        children, url_idx, path_only = {}, set(ids), set()
        for i in ids:
            cs = [(i * 31 + j * 17) % n for j in range(_u64(p + b"nl:%d" % i) % 12)]
            children[i] = cs
            (path_only if i % 7 == 0 else url_idx).update(cs)
        paths = self._paths(url_idx | path_only)
        order = sorted(url_idx)
        urls = dict(zip(order, self._urls(order, paths)))
        html = []
        for i in ids:
            parts = [
                f"<html><head><title>T{i}</title><script>x</script></head>"
                f"<body><h1>H{i}</h1>"
            ]
            for j, c in enumerate(children[i]):
                href = "/" + paths[c] if i % 7 == 0 else urls[c]
                parts.append(f'<a href="{href}">a{j}</a>')
            for j in range(2):
                ws = " ".join(
                    _WORDS[_u64(p + b"w:%d:%d" % (i, j * 8 + k)) % len(_WORDS)]
                    for k in range(8)
                )
                parts.append(f"<p>{ws}</p>")
            parts.append("</body></html>")
            blob = "".join(parts).encode("utf-8")
            html.append(blob + b"\xff" if i % 11 == 0 else blob)
        return {
            "url": [urls[i] for i in ids],
            "warc_ts": [_EPOCH + timedelta(seconds=i) for i in ids],
            "html": html,
            "text": [None] * len(ids),
            "lang": [("en", "zh", "de", "es")[_u64(p + b"lang:%d" % i) % 4] for i in ids],
        }

    def seeds(self, n_seeds: int) -> list[tuple[str, int]]:
        """The seed list as (url, seed_rank) pairs, by ``seed_rule``."""
        if seed_rule(self.n_rows, n_seeds) == "rows":
            return list(zip(self.urls(range(n_seeds)), range(n_seeds)))
        out, seen, i, step = [], set(), 0, 4096
        while len(out) < n_seeds and i < self.n_rows:
            ids = list(range(i, min(i + step, self.n_rows)))
            for u in self.urls(ids):
                if u not in seen and len(out) < n_seeds:
                    seen.add(u)
                    out.append((u, len(out)))
            i += step
        return out

    def robots(self) -> list[tuple]:
        rows = []
        for rank in range(1, self.n_hosts + 1):
            host = f"h{rank}.example.org"
            txt = _ROBOTS_TEMPLATES[self.h("rb", rank) % len(_ROBOTS_TEMPLATES)]
            rows.append((host, host_hash(host), txt, _EPOCH))
        return rows

    def budgets(self) -> list[tuple]:
        """Overrides for the heaviest 5% of hosts (Zipf rank order)."""
        rows = []
        for rank in range(max(1, int(self.n_hosts * 0.05))):
            host = f"h{rank + 1}.example.org"
            rows.append(
                (host, host_hash(host), 2 + self.h("bud", rank) % 7,
                 2 if rank % 9 == 8 else 0)
            )
        return rows


def _arrow_schema(table: str):
    """The engine's input schema for *table*, as a pyarrow schema."""
    from pyspark.sql.pandas.types import to_arrow_schema

    from indigo_crawler_spark.plans import schemas

    return to_arrow_schema({
        "pages": schemas.PAGES, "seeds": schemas.SEEDS, "seed_list": schemas.SEEDS,
        "robots": schemas.ROBOTS, "host_budgets": schemas.HOST_BUDGETS,
    }[table])


def write_part(task: tuple) -> int:
    """Write one parquet file of one input table; returns its row count.
    ``task = (table, path, n_rows, n_hosts, seed, lo, hi)`` — the rows
    [lo, hi) of *table*; ``seed_list`` is the whole driver-side seed list
    (the first *hi* distinct page urls). Runs in worker processes."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table, path, n_rows, n_hosts, seed, lo, hi = task
    spec = SeededPages(n_rows, n_hosts, seed)
    schema = _arrow_schema(table)
    if table == "pages":
        cols = spec.rows(range(lo, hi))
    elif table == "seed_list":
        pairs = spec.seeds(hi)
        cols = {"url": [u for u, _ in pairs], "seed_rank": [k for _, k in pairs]}
    elif table == "seeds":
        cols = {"url": spec.urls(range(lo, hi)), "seed_rank": list(range(lo, hi))}
    elif table == "robots":
        cols = dict(zip(schema.names, map(list, zip(*spec.robots()))))
    else:
        cols = dict(zip(schema.names, map(list, zip(*spec.budgets()))))
    pq.write_table(pa.Table.from_pydict(cols, schema=schema), path)
    return len(cols[schema.names[0]])


def input_tasks(out: str, n_rows: int, n_hosts: int, n_seeds: int, seed: int,
                rows_per_part: int = 10_000) -> tuple[dict, list]:
    """Table name -> directory, and the ``write_part`` tasks that fill
    them: the rules of ``sources/synthetic.py`` (see ``seed_rule``)."""
    dirs = {t: os.path.join(out, t) for t in ("pages", "seeds", "robots", "host_budgets")}
    tasks = []

    def split(table, n):
        for k, lo in enumerate(range(0, n, rows_per_part)):
            path = os.path.join(dirs[table], f"part-{k:05d}.parquet")
            tasks.append((table, path, n_rows, n_hosts, seed, lo, min(n, lo + rows_per_part)))

    split("pages", n_rows)
    if seed_rule(n_rows, n_seeds) == "distinct":
        tasks.append(("seed_list", os.path.join(dirs["seeds"], "part-00000.parquet"),
                      n_rows, n_hosts, seed, 0, n_seeds))
    else:
        split("seeds", n_seeds)
    for t in ("robots", "host_budgets"):
        tasks.append((t, os.path.join(dirs[t], "part-00000.parquet"), n_rows, n_hosts, seed, 0, 0))
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    # biggest first, so the pool's tail is short
    tasks.sort(key=lambda t: t[0] != "pages")
    return dirs, tasks


class InputWriter:
    """Writes a workload's inputs with *processes* worker processes
    (``python3 -m perfbench.gen``), so generation overlaps the Spark session
    start and the warm-up crawl. ``wait()`` waits for every worker and
    returns table name -> directory."""

    def __init__(self, out: str, n_rows: int, n_hosts: int, n_seeds: int,
                 seed: int, processes: int):
        import json
        import subprocess
        import sys

        self.dirs, tasks = input_tasks(out, n_rows, n_hosts, n_seeds, seed)
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        self._procs = [
            subprocess.Popen(
                [sys.executable, "-m", "perfbench.gen", json.dumps(tasks[k::processes])],
                cwd=root,
            )
            for k in range(min(processes, len(tasks)))
        ]

    def wait(self, timeout: float = 120.0) -> dict[str, str]:
        try:
            for p in self._procs:
                if p.wait(timeout) != 0:
                    raise RuntimeError(f"input writer exited with {p.returncode}")
        finally:
            self.close()
        return self.dirs

    def close(self) -> None:
        """Stop any worker still running and wait for it."""
        for p in self._procs:
            if p.poll() is None:
                p.kill()
            p.wait()


def write_inputs(out: str, n_rows: int, n_hosts: int, n_seeds: int, seed: int,
                 rows_per_part: int = 10_000) -> dict:
    """Write a (small) workload's inputs in this process."""
    dirs, tasks = input_tasks(out, n_rows, n_hosts, n_seeds, seed, rows_per_part)
    for t in tasks:
        write_part(t)
    return dirs


if __name__ == "__main__":
    import json
    import sys

    for task in json.loads(sys.argv[1]):
        write_part(tuple(task))

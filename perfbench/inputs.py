"""Inputs, scratch space and the fresh-input guard.

- Transcripts come from ``sketchlib.testdata.generate_transcripts(n, seed)``
  and are cached as Parquet under ``.perfbench_cache/`` in the checkout,
  keyed by (seed, conversations).  Filling the cache happens before any
  timing and in a child process, so ``setup_s`` and ``peak_rss_mb`` mean
  the same with a cold or a warm cache.
- Each run gets an empty scratch directory under ``.perfbench_scratch/``
  (tables, sketch stores, Spark's local and temp directories), removed when
  the run ends: leftover lineage or epoch files would turn folds into skips.
- ``FreshGuard`` refuses to time a DataFrame twice or one an action already
  ran on.  Spark keeps the shuffle output of an executed plan, so re-running
  the same DataFrame object skips stages and times a fraction of the work.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CACHE_DIR = ".perfbench_cache"
SCRATCH_DIR = ".perfbench_scratch"
OUT_DIR = ".perfbench_out"


def transcripts_path(root: str, seed: int, n_conv: int, n_files: int) -> str:
    """Directory of ``n_files`` Parquet files holding the generated table.
    A cache miss generates it in a child process, so the run's own memory
    and heap look the same with a cold or a warm cache."""
    path = os.path.join(root, CACHE_DIR, f"transcripts-seed{seed}-conv{n_conv}-files{n_files}")
    if not os.path.isdir(path):
        env = dict(os.environ, PYTHONPATH=os.pathsep.join(filter(None, [root, os.environ.get("PYTHONPATH")])))
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), path, str(seed), str(n_conv), str(n_files)],
            env=env, check=True,
        )
    return path


def _generate(path: str, seed: int, n_conv: int, n_files: int) -> None:
    from sketchlib import testdata

    tmp = f"{path}.{uuid.uuid4().hex}.tmp"
    pdf = testdata.generate_transcripts(n_conv, seed)
    tbl = pa.Table.from_pandas(pdf, preserve_index=False)
    # Spark reads microsecond timestamps, not pandas' nanoseconds
    i = tbl.schema.get_field_index("ts")
    tbl = tbl.set_column(i, "ts", tbl.column("ts").cast(pa.timestamp("us")))
    os.makedirs(tmp)
    step = -(-tbl.num_rows // n_files)
    for f in range(n_files):
        pq.write_table(tbl.slice(f * step, step), os.path.join(tmp, f"part-{f:04d}.parquet"))
    try:
        os.rename(tmp, path)
    except OSError:  # another run published it first
        shutil.rmtree(tmp, ignore_errors=True)


def make_scratch(root: str) -> str:
    path = os.path.join(root, SCRATCH_DIR, f"run-{os.getpid()}-{uuid.uuid4().hex[:8]}")
    os.makedirs(path)
    return path


def remove_scratch(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    parent = os.path.dirname(path)
    try:
        os.rmdir(parent)  # only when no other run is using it
    except OSError:
        pass


class Truth:
    """Exact answers from the generated rows, for the correctness checks."""

    def __init__(self, tbl: pa.Table, seed: int):
        pdf = tbl.to_pandas()
        self.rows = len(pdf)
        self.conv = pdf["conv_id"].to_numpy()
        self.text = pdf["text"].to_numpy()
        self.tool = pdf["tool"].to_numpy()
        self.ts_sec = pdf["ts"].to_numpy().astype("datetime64[s]").astype(np.int64)
        self.day = pdf["ts"].dt.strftime("%Y-%m-%d").to_numpy()
        self.days = sorted(set(self.day))
        self.rng = np.random.default_rng(seed + 7919)

    def distinct_conv(self, mask=None) -> int:
        return len(set(self.conv if mask is None else self.conv[mask]))

    def distinct_conv_tool(self) -> int:
        return len(set(zip(self.conv, self.tool)))

    def tool_counts(self, mask=None) -> dict[str, int]:
        vals, counts = np.unique(self.tool if mask is None else self.tool[mask], return_counts=True)
        return dict(zip(vals.tolist(), counts.tolist()))

    def day_mask(self, first: str, last: str):
        return (self.day >= first) & (self.day <= last)

    def sample_texts(self, n: int, mask=None) -> tuple[list[str], list[str]]:
        """(members, non-members): ``n`` texts of the table, and the same
        texts with a suffix no generated text has."""
        pool = self.text if mask is None else self.text[mask]
        idx = self.rng.choice(len(pool), size=min(n, len(pool)), replace=False)
        members = pool[idx].tolist()
        return members, [t + "#absent" for t in members]


class StaleInputError(RuntimeError):
    pass


class FreshGuard:
    """Hands each timed operation a DataFrame no action has run on.

    ``install`` wraps the action methods of ``DataFrame`` (and of any other
    class given) so every object an action runs on is remembered; ``take``
    raises when asked to time a remembered object, and remembers the one it
    lets through."""

    ACTIONS = ("collect", "count", "first", "take", "toArrow", "toPandas", "toLocalIterator")

    def __init__(self):
        self._seen: dict[int, object] = {}  # holding the object keeps its id unique
        self._patches: list[tuple[type, str, object]] = []

    def take(self, df):
        if id(df) in self._seen:
            raise StaleInputError(
                f"timed operation got a DataFrame that already ran an action: {df!r}"
            )
        self._seen[id(df)] = df
        return df

    def install(self, *classes) -> None:
        if not classes:
            from pyspark.sql import DataFrame

            classes = (DataFrame,)
        for cls in classes:
            for name in self.ACTIONS:
                orig = cls.__dict__.get(name)
                if orig is None:
                    continue
                self._patches.append((cls, name, orig))
                setattr(cls, name, self._remembering(orig))

    def _remembering(self, orig):
        seen = self._seen

        def action(df, *args, **kwargs):
            seen[id(df)] = df
            return orig(df, *args, **kwargs)

        action.__name__ = orig.__name__
        action.__doc__ = orig.__doc__
        return action

    def uninstall(self) -> None:
        for cls, name, orig in reversed(self._patches):
            setattr(cls, name, orig)
        self._patches.clear()


if __name__ == "__main__":
    _generate(sys.argv[1], *map(int, sys.argv[2:]))

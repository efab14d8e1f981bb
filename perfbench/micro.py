"""Driver-side timings of the two layers below Spark: the mmh3 hash and the
sketch kernels, over one fixed packed batch of generated texts."""

from __future__ import annotations

import statistics
import time

import numpy as np

from sketchlib import mmh3
from sketchlib.kernels import KERNEL_BY_KIND
from sketchlib.spark.agg import _pack_state
from sketchlib.specs import BloomSpec, CBloomSpec, CmsSpec, HllSpec, TdBloomSpec

KINDS = ("bloom", "hll", "cms", "tdbloom", "cbloom")


def _median_time(fn, reps: int) -> float:
    out = []
    for _ in range(reps):
        t = time.perf_counter()
        fn()
        out.append(time.perf_counter() - t)
    return statistics.median(out)


def kernel_specs(n: int, start_time: int) -> dict:
    return {
        "bloom": BloomSpec(n, 0.01),
        "hll": HllSpec(p=14),
        "cms": CmsSpec(epsilon=0.0005, delta=0.01),
        "tdbloom": TdBloomSpec(n, 0.001, timeout=7 * 86400, start_time=start_time),
        "cbloom": CBloomSpec(n, 0.01),
    }


def run(rec, texts: list[str], ts_sec: np.ndarray, start_time: int, reps: int = 5) -> dict[str, float]:
    data, off = mmh3.pack_strings(texts)
    n = len(texts)
    out: dict[str, float] = {}
    with rec.span("mmh3.hash"):
        dt = _median_time(lambda: mmh3.mmh3_x64_128(data, off), reps)
    out["mmh3.hash_bytes_per_s"] = data.size / dt
    with rec.span("mmh3.positions"):
        dt = _median_time(lambda: mmh3.positions(data, off, 7, 9_585_058), reps)
    out["mmh3.positions_rows_per_s"] = n / dt

    for kind, spec in kernel_specs(n, start_time).items():
        cls = KERNEL_BY_KIND[kind]
        args = (data, off, ts_sec) if kind == "tdbloom" else (data, off)
        a, b = cls(spec), cls(spec)
        half = n // 2
        with rec.span(f"kernels.{kind}.update"):
            dt = _median_time(lambda: cls(spec).update(*args), reps)
        out[f"kernels.{kind}.update_rows_per_s"] = n / dt
        a.update(*args)
        b.update(*((data, off[: half + 1], ts_sec[:half]) if kind == "tdbloom" else (data, off[: half + 1])))
        blob = a.serialize()
        targets = iter([cls.deserialize(spec, blob) for _ in range(reps)])
        with rec.span(f"kernels.{kind}.merge"):
            out[f"kernels.{kind}.merge_ms"] = 1e3 * _median_time(lambda: next(targets).merge(b), reps)
        with rec.span(f"kernels.{kind}.serialize"):
            out[f"kernels.{kind}.serialize_ms"] = 1e3 * _median_time(a.serialize, reps)
        with rec.span(f"kernels.{kind}.deserialize"):
            out[f"kernels.{kind}.deserialize_ms"] = 1e3 * _median_time(
                lambda: cls.deserialize(spec, blob), reps
            )
        out[f"kernels.{kind}.state_bytes"] = float(len(blob))
        out[f"kernels.{kind}.packed_bytes"] = float(len(_pack_state(blob)))
    return out

"""Correctness checks behind ``error_rate``: every timed operation and every
check is one attempt; a failed operation or an output outside its bound is
one failure."""

from __future__ import annotations

import math

import numpy as np

from sketchlib import mmh3


def hll_bound(p: int) -> float:
    """Four standard errors of the published HLL error 1.04/sqrt(2^p)."""
    return 4 * 1.04 / math.sqrt(1 << p)


class Checker:
    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        # Bloom false positives on non-members, summed over every check
        self.fp = 0
        self.fp_trials = 0

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.failures) < 20:
                self.failures.append(what)
        return ok

    def op_failed(self, what: str, exc: BaseException) -> None:
        self.check(False, f"{what}: {type(exc).__name__}: {exc}")

    @property
    def error_rate(self) -> float:
        return self.failed / max(1, self.attempted)

    # -- per-sketch checks ---------------------------------------------------
    def hll(self, kernel, exact: int, what: str) -> None:
        est = kernel.estimate()
        err = abs(est - exact) / max(1, exact)
        self.check(err <= hll_bound(kernel.spec.p), f"{what}: HLL {est:.0f} vs exact {exact} ({err:.2%})")

    def bloom(self, kernel, members, non_members, what: str) -> None:
        hit = kernel.contains(*members)
        self.check(bool(hit.all()), f"{what}: {int((~hit).sum())} Bloom false negatives")
        fp = int(kernel.contains(*non_members).sum())
        n = len(non_members[1]) - 1
        self.fp += fp
        self.fp_trials += n
        self.check(fp <= 1.5 * kernel.spec.accuracy * n, f"{what}: Bloom FPR {fp}/{n}")

    def cms(self, kernel, counts: dict[str, int], what: str) -> None:
        keys = list(counts)
        est = kernel.estimate(*mmh3.pack_strings(keys)).astype(np.int64)
        exact = np.array([counts[k] for k in keys], dtype=np.int64)
        bound = kernel.spec.epsilon * kernel.total
        self.check(bool((est >= exact).all()), f"{what}: CMS undercount")
        self.check(bool((est - exact <= bound).all()), f"{what}: CMS over eps*N")

    def identical(self, a: dict, b: dict, what: str) -> None:
        """Two {name: kernel} maps hold byte-identical states."""
        diff = sorted(
            k for k in a.keys() | b.keys()
            if k not in a or k not in b or a[k].serialize() != b[k].serialize()
        )
        self.check(not diff, f"{what}: states differ for {diff}")

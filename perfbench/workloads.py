"""The three workloads.  Each is driven by one closed-loop client (this
process): an operation starts only after the previous one returned.

Every workload runs the north-star suite — HLL(conv_id), HLL(conv_id⊕tool),
Bloom(text), CMS(tool), TdBloom(conv_id, ts) — over transcripts generated
from the run's seed, and every operation it times reads input no action
has run on (``inputs.FreshGuard``).

- ``ingest``: full-table builds through the three public build entry
  points — ``build_many`` (mmh3), ``build_many(prehash=True)`` and
  ``build_suite_sql`` — each over a fresh read; after each round, point
  lookups on the kernels just built.
- ``serve``: sketches, shard states and a day rollup are built in setup;
  the loop only reads: broadcast probes (mmh3 and prehash), routed probes,
  day-range estimates and point lookups on kernels loaded from a
  ``SketchStore``.
- ``maintain``: the table arrives one day at a time.  Each day is appended,
  read back, and folded by the foreachBatch functions of
  ``streaming.sketch_sink``, ``cells_sink`` and ``rollup_sink`` (called
  directly, with increasing epoch ids); a range lookup and point lookups
  follow each fold.
"""

from __future__ import annotations

import gc
import os
import statistics
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from sketchlib import io as tables
from sketchlib import mmh3, streaming
from sketchlib.spark import agg, probe, probe_join, rollup, suite_sql
from sketchlib.specs import BloomSpec, CmsSpec, HllSpec, TdBloomSpec
from sketchlib.store import SketchStore
from sketchlib.testdata import BASE_TS

from inputs import StaleInputError

# conversations per workload (~29.5 turns each): ingest is sized so the
# scan, hash and kernel updates dominate a build; serve and maintain so a
# run holds enough probes and folds
CONVERSATIONS = {"ingest": 30_000, "serve": 10_000, "maintain": 20_000}
TIMEOUT = 7 * 86400
HLL = HllSpec(p=14)
# point lookups after every loop step: at least three steps make 3000, so
# thirty samples lie beyond the 99th percentile; the same count every step
# keeps the mix of lookups right after a Spark job the same in every run
LOOKUPS_PER_STEP = 1000


def suite_jobs(rows: int, prehash: bool) -> list:
    return [
        agg.SketchJob("hll_conv", HLL, key="conv_id", prehash=prehash),
        agg.SketchJob(
            "hll_conv_tool", HLL,
            key=F.concat_ws("\x00", F.col("conv_id"), F.col("tool")), prehash=prehash,
        ),
        agg.SketchJob("bloom_text", BloomSpec(rows, 0.01), key="text", prehash=prehash),
        agg.SketchJob(
            "cms_tool", CmsSpec(epsilon=0.0005, delta=0.01), key="tool",
            prehash=prehash, low_cardinality=True,
        ),
        agg.SketchJob(
            "td_conv", TdBloomSpec(100_000, 0.001, timeout=TIMEOUT, start_time=BASE_TS),
            key="conv_id", ts="ts", prehash=prehash, low_cardinality=True,
        ),
    ]


def kernels_of(built: dict) -> dict:
    return {name: kernel for name, (kernel, _rows) in built.items()}


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[min(len(s) - 1, max(0, int(np.ceil(q * len(s))) - 1))]


class Lookups:
    """Point lookups on driver-side kernels, one key each: Bloom membership
    of member and non-member texts, the CMS count of a tool, and TdBloom
    freshness of a recently active conversation."""

    def __init__(self, truth, mask, n_keys: int = 500):
        sel = np.flatnonzero(mask)
        self.members, self.non_members = truth.sample_texts(n_keys, mask)
        self.tools = truth.tool_counts(mask)
        self.as_of = int(truth.ts_sec[sel].max())
        recent = mask & (truth.ts_sec >= self.as_of - TIMEOUT // 2)
        convs = sorted(set(truth.conv[recent]))
        pick = truth.rng.choice(len(convs), size=min(n_keys, len(convs)), replace=False)
        self.fresh = [convs[i] for i in pick]
        self.rows = int(mask.sum())

    def burst(self, ctx, kernels: dict, n: int) -> None:
        """``n`` timed lookups, after eight untimed ones: a lookup client is
        not synchronised with the batch jobs, so each burst starts once the
        last job's background work has settled and the kernels and code
        paths it evicted from the caches are warm again."""
        bloom, cms, td = kernels["bloom_text"], kernels["cms_tool"], kernels["td_conv"]
        tools = list(self.tools)
        eps_n = cms.spec.epsilon * self.rows
        samples, chk = ctx.lookup_ms, ctx.checker
        gc.collect()
        time.sleep(0.05)
        with ctx.rec.span("kernels.lookup"):
            for i in range(-8, n):
                j = (len(samples) + i) // 4
                kind = i % 4
                t = time.perf_counter()
                if kind == 0:
                    got = bool(bloom.contains(*mmh3.pack_strings([self.members[j % len(self.members)]]))[0])
                elif kind == 1:
                    got = bool(bloom.contains(*mmh3.pack_strings([self.non_members[j % len(self.non_members)]]))[0])
                elif kind == 2:
                    tool = tools[j % len(tools)]
                    got = int(cms.estimate(*mmh3.pack_strings([tool]))[0])
                else:
                    got = bool(td.contains(*mmh3.pack_strings([self.fresh[j % len(self.fresh)]]), self.as_of)[0])
                dt = time.perf_counter() - t
                if i < 0:
                    continue
                samples.append(1e3 * dt)
                if kind == 1:
                    chk.fp += int(got)
                    chk.fp_trials += 1
                    chk.check(True, "")
                elif kind == 2:
                    exact = self.tools[tool]
                    chk.check(exact <= got <= exact + eps_n, f"lookup: CMS {tool!r} {got} vs {exact}")
                else:
                    chk.check(got, "lookup: false negative")


class Workload:
    name = ""
    min_steps = 3

    def __init__(self, ctx, source: str, truth):
        self.ctx = ctx
        self.source = source
        self.truth = truth
        self.dir = os.path.join(ctx.scratch, self.name)
        self.op_s: list[float] = []  # per step: seconds of the workload's unit of work
        self.prepare()

    def read(self):
        """A fresh DataFrame over the generated table."""
        return self.ctx.guard.take(self.ctx.spark.read.parquet(self.source))

    def prepare(self) -> None:
        """Untimed: the exact answers and probe inputs the checks use."""

    def setup(self) -> None:
        """Build the state the loop needs; runs once per (re)started session."""
        raise NotImplementedError

    def warm_up(self) -> None:
        """Untimed: start the Python workers and let codegen and the JIT
        settle before the loop is measured (measured steps keep getting
        faster for the first two or three after a session start)."""

    def step(self) -> bool:
        """One loop iteration; False when the workload has no more work."""
        raise NotImplementedError

    def finish(self) -> None:
        pass

    def named_metrics(self) -> dict[str, tuple[float, str]]:
        """This workload's figures under the names of the workload-specific
        end-to-end metrics, with units."""
        return {}

    def layer_metrics(self) -> dict[str, float]:
        return {}


class Ingest(Workload):
    name = "ingest"

    def prepare(self):
        self.rows = self.truth.rows
        self.members = mmh3.pack_strings(self.truth.sample_texts(10_000)[0])
        self.non_members = mmh3.pack_strings(self.truth.sample_texts(10_000)[1])
        self.exact_conv = self.truth.distinct_conv()
        self.exact_conv_tool = self.truth.distinct_conv_tool()
        self.tools = self.truth.tool_counts()
        self.lookups = Lookups(self.truth, np.ones(self.rows, dtype=bool))

    def setup(self):
        self.jobs = {"mmh3": suite_jobs(self.rows, False), "prehash": suite_jobs(self.rows, True)}
        self.ctx.spark.read.parquet(self.source).count()  # file listing, footers, page cache
        self.build_s = {"mmh3": [], "prehash": [], "sql": []}

    def warm_up(self):
        for _ in range(2):
            for path in self.build_s:
                self.build(path)

    def build(self, path: str) -> dict:
        ctx = self.ctx
        df = self.read()
        with ctx.rec.span(f"ingest.build_{path}"):
            if path == "sql":
                return kernels_of(suite_sql.build_suite_sql(df, self.jobs["prehash"]))
            return kernels_of(agg.build_many(df, self.jobs[path]))

    def step(self):
        ctx, chk = self.ctx, self.ctx.checker
        built, total = {}, 0.0
        for path in self.build_s:
            t = time.perf_counter()
            try:
                built[path] = self.build(path)
            except StaleInputError:
                raise
            except Exception as exc:  # noqa: BLE001 — counted, the run goes on
                chk.op_failed(f"build {path}", exc)
                continue
            dt = time.perf_counter() - t
            chk.check(True, "")
            self.build_s[path].append(dt)
            total += dt
            chk.hll(built[path]["hll_conv"], self.exact_conv, f"{path} hll_conv")
            chk.hll(built[path]["hll_conv_tool"], self.exact_conv_tool, f"{path} hll_conv_tool")
        if "mmh3" in built:
            k = built["mmh3"]
            chk.bloom(k["bloom_text"], self.members, self.non_members, "mmh3 bloom_text")
            chk.cms(k["cms_tool"], self.tools, "mmh3 cms_tool")
            self.lookups.burst(ctx, k, LOOKUPS_PER_STEP)
        if "prehash" in built and "sql" in built:
            chk.identical(built["prehash"], built["sql"], "prehash vs sql")
        if len(built) == 3:
            self.op_s.append(total)
        return True

    def named_metrics(self):
        return {
            f"build_{path}_turns_per_s": (self.rows / statistics.median(times), "turns/s")
            for path, times in self.build_s.items() if times
        }

    def layer_metrics(self):
        ctx = self.ctx
        out = {
            f"agg.build_many_s.{path}": ctx.rec.median_duration("agg.build_many", "ingest", f"ingest.build_{path}")
            for path in ("mmh3", "prehash")
        }
        out["suite_sql.plan_s"] = ctx.rec.median_duration("suite_sql.suite_cell_rows", "ingest")
        out["suite_sql.build_s"] = ctx.rec.median_duration("suite_sql.build_suite_sql", "ingest")
        out["suite_sql.materialize_s"] = ctx.rec.median_duration("suite_sql._materialize", "ingest")
        bloom = self.jobs["mmh3"][2]
        out["agg.partials"] = float(
            agg.sketch_partials(self.read(), bloom.spec, key="text").rdd.getNumPartitions()
        )
        out["suite_sql.cells"] = float(
            suite_sql.suite_cell_rows(self.read(), self.jobs["prehash"]).count()
        )
        built = self.build("mmh3")
        out["agg.state_bytes"] = float(sum(len(k.serialize()) for k in built.values()))
        return out


class Serve(Workload):
    name = "serve"
    N_SHARDS = 8
    PROBE_ROWS = 100_000  # members (at most the table), and as many non-members

    def prepare(self):
        """The probe table: members and as many non-members, shuffled."""
        members, non_members = self.truth.sample_texts(self.PROBE_ROWS)
        self.n_members = len(members)
        self.probe_path = os.path.join(self.dir, "probes")
        os.makedirs(self.probe_path)
        tbl = pa.table({
            "text": members + non_members,
            "member": [True] * len(members) + [False] * len(non_members),
        })
        tbl = tbl.take(pa.array(self.truth.rng.permutation(tbl.num_rows)))
        n_files = self.ctx.cpus
        step = -(-tbl.num_rows // n_files)
        for f in range(n_files):
            pq.write_table(tbl.slice(f * step, step), os.path.join(self.probe_path, f"part-{f}.parquet"))
        self.lookups = Lookups(self.truth, np.ones(self.truth.rows, dtype=bool))

    def setup(self):
        ctx = self.ctx
        rows = self.truth.rows
        self.store = SketchStore(os.path.join(self.dir, "store"))
        self.shards_path = os.path.join(self.dir, "shards")
        self.rollup_path = os.path.join(self.dir, "rollup")
        with ctx.rec.span("serve.build_kernels"):
            mmh3_k = kernels_of(agg.build_many(self.read(), suite_jobs(rows, False)))
            for name, kernel in mmh3_k.items():
                self.store.save_kernel(name, kernel)
            self.bloom = mmh3_k["bloom_text"]
            self.bloom_prehash = kernels_of(
                agg.build_many(self.read(), suite_jobs(rows, True)[2:3])
            )["bloom_text"]
        self.shard_spec = BloomSpec(int(1.5 * rows / self.N_SHARDS), 0.01)
        with ctx.rec.span("probe_join.build"):
            # mmh3 routing: with prehash=True the routing hash is also the
            # Bloom's first hash lane, and when m shares factors with the
            # shard count that lane only reaches 1/gcd of the bits in a shard
            # (FPR 1.9% at p=1% for m % 8 == 0)
            states = probe_join.build_sharded_states(
                self.read(), "text", self.shard_spec, n_shards=self.N_SHARDS
            )
            probe_join.save_states(states, self.shards_path)
        with ctx.rec.span("rollup.build"):
            rollup.write_rollup(rollup.sketch_rollup(self.read(), HLL, "conv_id"), self.rollup_path)
        self.probe_s = {"broadcast": [], "routed": []}

    def warm_up(self):
        self.step()
        self.step()
        self.op_s.clear()
        self.probe_s = {"broadcast": [], "routed": []}
        self.ctx.lookup_ms.clear()

    def _probe_counts(self, df) -> tuple[int, int, int]:
        row = df.agg(
            F.sum((F.col("member") & F.col("hit")).cast("long")).alias("tp"),
            F.sum((~F.col("member") & F.col("hit")).cast("long")).alias("fp"),
            F.count(F.lit(1)).alias("n"),
        ).collect()[0]
        return int(row["tp"] or 0), int(row["fp"] or 0), int(row["n"])

    def _check_probe(self, what: str, tp: int, fp: int, n: int, p: float) -> None:
        chk = self.ctx.checker
        members = self.n_members
        chk.check(n == 2 * members, f"{what}: probed {n} rows")
        chk.check(tp == members, f"{what}: {members - tp} false negatives")
        chk.fp += fp
        chk.fp_trials += members
        chk.check(fp <= 1.5 * p * members, f"{what}: FPR {fp}/{members}")

    def probe_broadcast(self, prehash: bool):
        ctx = self.ctx
        kernel = self.bloom_prehash if prehash else self.bloom
        df = ctx.guard.take(ctx.spark.read.parquet(self.probe_path))
        hit = probe.probe_column(ctx.spark, kernel, "text", prehash=prehash)
        with ctx.rec.span("probe.query"):
            return self._probe_counts(df.select("member", hit.alias("hit")))

    def probe_routed(self):
        ctx = self.ctx
        df = ctx.guard.take(ctx.spark.read.parquet(self.probe_path))
        states = ctx.guard.take(probe_join.load_states(ctx.spark, self.shards_path))
        out = probe_join.probe_sharded(
            states, df, "text", spec=self.shard_spec, n_shards=self.N_SHARDS,
        )
        self.routed_plan = out._jdf.queryExecution().executedPlan().toString()
        with ctx.rec.span("probe_join.query"):
            return self._probe_counts(out)

    def step(self):
        ctx, chk = self.ctx, self.ctx.checker
        total = 0.0
        for what, fn, p in (
            ("broadcast mmh3", lambda: self.probe_broadcast(False), 0.01),
            ("broadcast prehash", lambda: self.probe_broadcast(True), 0.01),
            ("routed", self.probe_routed, 0.01),
        ):
            t = time.perf_counter()
            try:
                with ctx.rec.span(f"serve.probe_{what.replace(' ', '_')}"):
                    tp, fp, n = fn()
            except StaleInputError:
                raise
            except Exception as exc:  # noqa: BLE001 — counted, the run goes on
                chk.op_failed(what, exc)
                return True
            dt = time.perf_counter() - t
            total += dt
            self.probe_s[what.split()[0]].append(dt)
            self._check_probe(what, tp, fp, n, p)
        self.op_s.append(total)
        self.range_estimates(2)
        kernels = {name: self.store.load_kernel(name)[0] for name in ("bloom_text", "cms_tool", "td_conv")}
        self.lookups.burst(ctx, kernels, LOOKUPS_PER_STEP)
        return True

    def named_metrics(self):
        return {
            f"probe_{kind}_rows_per_s": (2 * self.n_members / statistics.median(times), "rows/s")
            for kind, times in self.probe_s.items() if times
        }

    def range_estimates(self, n: int) -> None:
        ctx, truth = self.ctx, self.truth
        for _ in range(n):
            a, b = sorted(truth.rng.choice(len(truth.days), size=2))
            first, last = truth.days[a], truth.days[b]
            with ctx.rec.span("serve.range"):
                r = ctx.guard.take(rollup.read_rollup(ctx.spark, self.rollup_path))
                kernel, rows = rollup.merge_range(r, HLL, first, last)
            mask = truth.day_mask(first, last)
            ctx.checker.check(rows == int(mask.sum()), f"range {first}..{last}: rows {rows}")
            ctx.checker.hll(kernel, truth.distinct_conv(mask), f"range {first}..{last}")

    def finish(self):
        plan = self.routed_plan
        self.ctx.checker.check(
            "FlatMapCoGroupsInArrow" in plan and "BroadcastExchange" not in plan,
            "routed probe plan is not a cogroup without broadcast",
        )

    def layer_metrics(self):
        rec = self.ctx.rec
        chk = self.ctx.checker
        states = pq.read_table(self.shards_path, columns=["state"]).column("state")
        return {
            "probe.column_s": rec.median_duration("probe.probe_column", "serve"),
            "probe.query_s": rec.median_duration("probe.query", "serve"),
            "probe.fp_rate": chk.fp / max(1, chk.fp_trials),
            "probe.hit_rate": 0.5 * (1 - chk.fp / max(1, chk.fp_trials)),
            "probe_join.build_states_s": rec.median_duration("probe_join.build", "serve"),
            "probe_join.probe_s": rec.median_duration("serve.probe_routed", "serve"),
            "probe_join.state_bytes": float(sum(len(s.as_py()) for s in states)),
            "rollup.sketch_rollup_s": rec.median_duration("rollup.build", "serve"),
            "rollup.merge_range_ms": 1e3 * rec.median_duration("rollup.merge_range", "serve"),
        }


class Maintain(Workload):
    name = "maintain"
    # folds get slower as the table grows (read_days lists every file), so
    # the median must cover about the same folds in every run
    min_steps = 5

    def setup(self):
        ctx = self.ctx
        truth = self.truth
        self.rows = truth.rows
        self.jobs = suite_jobs(self.rows, False)
        self.jobs_sql = suite_jobs(self.rows, True)
        self.folded: list[str] = []
        self.bytes_written = 0
        self._reset(os.path.join(self.dir, "run"))

    def warm_up(self):
        """One fold of the first day into a throw-away table and store."""
        self._reset(os.path.join(self.dir, "warm"))
        self.fold(self.truth.days[0], epoch=0)
        self._reset(os.path.join(self.dir, "run"))

    def _reset(self, base: str) -> None:
        import shutil

        shutil.rmtree(base, ignore_errors=True)
        os.makedirs(base)
        self.table = tables.TranscriptsTable(self.ctx.spark, os.path.join(base, "table"))
        self.store = SketchStore(os.path.join(base, "store"))
        self.cells_root = os.path.join(base, "cells")
        os.makedirs(self.cells_root)
        self.sinks = {
            "sketch": streaming.sketch_sink(self.store, self.jobs, "kernels"),
            "cells": streaming.cells_sink(self.cells_root, self.jobs_sql, "cells"),
            "rollup": streaming.rollup_sink(self.store, HLL, "conv_id", "days"),
        }

    def _store_files(self) -> dict[str, tuple[int, int]]:
        out = {}
        for dirpath, _dirs, files in os.walk(self.store.root):
            for f in files:
                st = os.stat(os.path.join(dirpath, f))
                out[os.path.join(dirpath, f)] = (st.st_mtime_ns, st.st_size)
        return out

    def fold(self, day: str, epoch: int) -> None:
        ctx = self.ctx
        src = ctx.spark.read.parquet(self.source).filter(F.to_date("ts") == F.lit(day).cast("date"))
        self.table.write(ctx.guard.take(src), mode="append")
        for sink in self.sinks.values():
            sink(ctx.guard.take(self.table.read_days(day, day)), epoch)

    def step(self):
        ctx, chk, truth = self.ctx, self.ctx.checker, self.truth
        if len(self.folded) == len(truth.days):
            return False
        day = truth.days[len(self.folded)]
        before = self._store_files()
        t = time.perf_counter()
        try:
            with ctx.rec.span("maintain.fold"):
                self.fold(day, epoch=len(self.folded))
        except StaleInputError:
            raise
        except Exception as exc:  # noqa: BLE001 — counted, the run goes on
            chk.op_failed(f"fold {day}", exc)
            return False
        dt = time.perf_counter() - t
        chk.check(True, "")
        self.folded.append(day)
        self.op_s.append(dt)
        after = self._store_files()
        self.bytes_written += sum(size for f, (mt, size) in after.items() if before.get(f, (None,))[0] != mt)

        mask = truth.day_mask(self.folded[0], day)
        kernel, rows = streaming.rollup_range_from_store(self.store, HLL, "days", self.folded[0], day)
        chk.check(rows == int(mask.sum()), f"range to {day}: rows {rows}")
        chk.hll(kernel, truth.distinct_conv(mask), f"range to {day}")
        kernels = {name: self.store.load_kernel(name)[0] for name in ("bloom_text", "cms_tool", "td_conv")}
        Lookups(truth, mask).burst(ctx, kernels, LOOKUPS_PER_STEP)
        return True

    def named_metrics(self):
        if not self.op_s:
            return {}
        turns = int(np.isin(self.truth.day, self.folded).sum())
        return {
            "fold_s_p50": (statistics.median(self.op_s), "s"),
            "maintain_turns_per_s": (turns / sum(self.op_s), "turns/s"),
        }

    def finish(self):
        """The folded stores equal one-shot builds over the same rows."""
        ctx, chk = self.ctx, self.ctx.checker
        if not self.folded:
            chk.check(False, "no day folded")
            return
        first, last = self.folded[0], self.folded[-1]
        once = kernels_of(agg.build_many(self.table.read_days(first, last), self.jobs))
        stored = {name: self.store.load_kernel(name)[0] for name in once}
        chk.identical(stored, once, "sketch_sink store vs one-shot build")
        cells = suite_sql.materialize_suite_cells(
            streaming.read_stream_cells(ctx.spark, self.cells_root, "cells"), self.jobs_sql
        )
        once_sql = suite_sql.build_suite_sql(self.table.read_days(first, last), self.jobs_sql)
        chk.identical(kernels_of(cells), kernels_of(once_sql), "cells_sink store vs one-shot build")
        ranged, _ = streaming.rollup_range_from_store(self.store, HLL, "days", first, last)
        chk.identical({"hll": ranged}, {"hll": once["hll_conv"]}, "rollup range vs one-shot build")

    def layer_metrics(self):
        rec = self.ctx.rec
        files = len(self.table.read_days(self.folded[-1], self.folded[-1]).inputFiles())
        turns = int(np.isin(self.truth.day, self.folded).sum())

        def med(name, scale=1.0):
            return scale * rec.median_duration(name, "maintain")

        return {
            "store.save_kernel_ms": med("store.save_kernel", 1e3),
            "store.load_kernel_ms": med("store.load_kernel", 1e3),
            "store.bytes_written_per_turn": self.bytes_written / max(1, turns),
            "streaming.sketch_sink_s": med("streaming.sketch_sink"),
            "streaming.cells_sink_s": med("streaming.cells_sink"),
            "streaming.rollup_sink_s": med("streaming.rollup_sink"),
            "streaming.range_from_store_ms": med("streaming.rollup_range_from_store", 1e3),
            "io.write_s": med("io.write"),
            "io.read_days_s": med("io.read_days"),
            "io.files_scanned": float(files),
        }


WORKLOADS = {"ingest": Ingest, "serve": Serve, "maintain": Maintain}

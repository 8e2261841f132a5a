"""The benchmark's workloads. Each drives the engine only through its
public functions, over inputs from ``datagen``.

Interface the worker relies on:

* ``generate()`` writes the seeded inputs (not counted as set-up).
* ``setup()`` brings the engine up (timed as set-up).
* ``op(i)`` is one timed operation; ``check(i, out)`` verifies its
  output outside the timed region and returns error strings.
* ``can_stop(n)`` says whether a window of ``n`` measured ops is whole.
* ``amp_mark()`` returns cumulative (bytes written, input bytes).
* ``finish()`` runs run-level correctness checks.
* ``trace_before(tracer)`` runs before a traced run's op plan.
* ``trace_metrics(tracer, untraced_p50)`` returns the workload's own
  per-layer metrics after a traced window.
"""

from __future__ import annotations

import json
import os
import warnings

import pyarrow.parquet as pq

from ai_ready_data_framework_spark import registry
from ai_ready_data_framework_spark.checks.engine import CHECKS, CheckContext
from ai_ready_data_framework_spark.io import load_tables
from ai_ready_data_framework_spark.operators.ai import NEAR_DUP_JACCARD, SHINGLE_K
from ai_ready_data_framework_spark.plans.assessment import assess
from ai_ready_data_framework_spark.session import get_spark
from ai_ready_data_framework_spark.sources.maintenance import (
    read_band_index,
    write_band_index,
)
from ai_ready_data_framework_spark.streaming import dedup as SD
from bench import force

from perfbench import datagen
from perfbench.probes import spark_counters
from perfbench.stats import median

GOLDEN_ASSESS = os.path.join(os.path.dirname(__file__), "golden", "assess.json")
# A MinHash estimate over the engine's 32 hashes has a standard error of
# at most sqrt(0.25 / 32) ~= 0.09; the tolerance is four of those.
JACCARD_TOLERANCE = 0.35
MIN_AGREEING = 0.95


def jaccard(a: str, b: str, k: int = SHINGLE_K) -> float:
    """Exact Jaccard of the distinct k-word shingle sets of two
    space-joined texts (a text shorter than k is one shingle)."""

    def grams(text: str) -> set[str]:
        w = text.split(" ")
        return {" ".join(w[j : j + k]) for j in range(max(len(w) - k + 1, 1))}

    ga, gb = grams(a), grams(b)
    return len(ga & gb) / len(ga | gb)


class Workload:
    name = ""
    warmup_ops = 1
    # a traced run warms up before its untraced/traced pair, so that
    # pair compares ops at about the same place on the JIT curve
    trace_warmup_ops = 1
    min_ops = 1
    # U = untraced op, T = traced op, in the order a traced run makes them
    trace_plan = "UT"

    def __init__(self, work_dir: str, seed: int, tracer):
        self.work = work_dir
        self.seed = seed
        self.tracer = tracer
        self.spark = None
        self.trace_errors: list[str] = []

    def _session(self) -> None:
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark(app_name=f"perfbench-{self.name}")
        with self.tracer.span("registry.load_all"):
            registry.load_all()

    def can_stop(self, n_measured: int) -> bool:
        return True

    def exhausted(self, next_op: int) -> bool:
        return False

    def finish(self) -> list[str]:
        return list(self.trace_errors)

    def trace_before(self, tracer) -> None:
        pass


class Assess(Workload):
    """One op = the full 48-check assessment of one data product
    (``plans.assessment.assess``: ``run_assessment`` plus the factor
    roll-up), with streaming parity in its declared fast mode."""

    name = "assess"
    # the measured op is the first of the process, as a batch assessment
    # run sees it: class loading and JIT compilation of the generated
    # code included. Warming up to a level op costs about five ops.
    warmup_ops = 0
    # a traced run warms up with every check run alone (trace_before)
    trace_warmup_ops = 0
    trace_plan = "UT"

    def generate(self) -> dict:
        self.data_dir = os.path.join(self.work, "tables")
        rows, n_bytes = datagen.write_tables(self.data_dir, self.seed)
        self.golden = None
        if os.path.exists(GOLDEN_ASSESS):
            with open(GOLDEN_ASSESS) as f:
                self.golden = json.load(f)
        return {"table_rows": rows, "input_bytes": n_bytes}

    def setup(self) -> None:
        self._session()
        with self.tracer.span("io.load_tables"):
            load_tables(self.spark, self.data_dir)

    def op(self, i: int):
        # run_assessment turns a raising check into score 0.0 plus a
        # warning; catch those so a broken check counts as a failure
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            scores, factors = assess(self.spark, self.data_dir, run_streaming=False)
            rows = scores.collect()
            factors.collect()
        errored = [str(w.message) for w in caught if "errored" in str(w.message)]
        return rows, errored

    def check(self, i: int, out) -> list[str]:
        rows, errored = out
        errors = list(errored)
        if len(rows) != len(CHECKS):
            errors.append(f"{len(rows)} scores, expected {len(CHECKS)}")
        for r in rows:
            if "P" in r.kind:
                # pipeline probes measure latency: only the range is fixed
                if not 0.0 <= r.value <= 1.0:
                    errors.append(f"{r.requirement}={r.value} outside [0, 1]")
            elif self.golden is None:
                errors.append("no golden record")
                break
            elif self.golden.get(r.requirement) != r.value:
                errors.append(
                    f"{r.requirement}={r.value}, golden {self.golden.get(r.requirement)}"
                )
        return errors

    def golden_record(self, out) -> dict:
        rows, _ = out
        return {r.requirement: r.value for r in rows if "P" not in r.kind}

    def amp_mark(self) -> tuple[float, float]:
        c = spark_counters(self.spark)
        return c["spark.shuffle_write_bytes"], c["spark.input_bytes"]

    def trace_before(self, tracer) -> None:
        """Every check alone, serially, on its own CheckContext (tables
        shared, artifacts not), first in the process as the measured op
        is: the time each would take unpooled, cold."""
        tables = load_tables(self.spark, self.data_dir)
        out: dict[str, float] = {"checks.M.s": 0.0, "checks.D.s": 0.0, "checks.P.s": 0.0}
        artifacts: set[str] = set()
        for chk in CHECKS:
            ctx = CheckContext(spark=self.spark, sf_dir=self.data_dir, run_streaming=False)
            ctx.tables = dict(tables)
            with tracer.span(f"checks.{chk.key}", op=-1) as sp:
                try:
                    chk.fn(ctx)
                except Exception as exc:  # noqa: BLE001 - reported, not fatal
                    self.trace_errors.append(f"check {chk.key} errored: {exc}")
            artifacts |= set(ctx.artifacts)
            group = "P" if "P" in chk.kind else "D" if "D" in chk.kind else "M"
            out[f"checks.{group}.s"] += sp.seconds
            if chk.kind != "M":
                out[f"checks.{chk.key}.s"] = sp.seconds
        out["checks.artifacts"] = float(len(artifacts))
        self.check_metrics = out

    def trace_metrics(self, tracer, untraced_p50: float) -> dict[str, float]:
        out = dict(self.check_metrics)
        serial = out["checks.M.s"] + out["checks.D.s"] + out["checks.P.s"]
        out["checks.pool_overlap"] = serial / untraced_p50
        return out


class Ingest(Workload):
    """One op = one micro-batch epoch of streaming near-dedup: probe the
    persisted band index with a landing-zone drop and fold the drop's
    bands in (``streaming.dedup.probe_and_fold``), then one scheduled
    maintenance pass (``maintain_band_index``, compacting every
    ``COMPACT_AFTER`` epochs)."""

    name = "ingest"
    BASE_DOCS = 2_000
    DROP_DOCS = 1_000
    COPY_SHARE = 0.1
    COMPACT_AFTER = 2
    N_DROPS = 12
    # the measured cycle starts at the process's first epoch, as the
    # measured assess op does
    warmup_ops = 0
    min_ops = COMPACT_AFTER
    # one whole compaction cycle each, so both sides hold one compaction
    trace_plan = "U" * COMPACT_AFTER + "T" * COMPACT_AFTER

    def generate(self) -> dict:
        self.state = os.path.join(self.work, "state")
        self.delta_dir = os.path.join(self.state, "delta")
        self.pairs_dir = os.path.join(self.state, "pairs")
        self.drops = datagen.write_drops(
            os.path.join(self.work, "drops"),
            self.seed,
            self.BASE_DOCS,
            self.N_DROPS,
            self.DROP_DOCS,
            self.COPY_SHARE,
        )
        base = datagen.docgen_rows(self.seed, 0, self.BASE_DOCS)
        self.base_path = os.path.join(self.work, "base.parquet")
        datagen.write_docs(self.base_path, base)
        self.texts = {r[0]: r[1] for r in base}
        self.files: dict[str, tuple[int, int]] = {}
        self.pairs_checked = 0
        self.pairs_agreeing = 0
        self.bytes_written = 0
        self.bytes_in = 0
        self.epochs: dict[int, dict] = {}
        return {
            "base_docs": self.BASE_DOCS,
            "drop_docs": self.DROP_DOCS,
            "copy_share": self.COPY_SHARE,
            "compact_after": self.COMPACT_AFTER,
        }

    def setup(self) -> None:
        self._session()
        self.table = "band_index"
        self.index_path = os.path.join(self.state, "index")
        with self.tracer.span("maintenance.write_band_index"):
            write_band_index(
                SD.doc_bands(self._docs(self.base_path)), self.table, self.index_path
            )
        self._scan_writes()  # the base index is set-up, not ingest output

    def _docs(self, path: str):
        return self.spark.read.schema(SD.DOCS_SCHEMA).parquet(path)

    def op(self, i: int) -> dict:
        docs = self._docs(self.drops[i].path)
        with self.tracer.span("dedup.probe_and_fold", counters=True):
            SD.probe_and_fold(
                self.spark, docs, self.table, self.delta_dir, self.pairs_dir, i
            )
        with self.tracer.span("dedup.maintain", counters=True) as sp:
            res = SD.maintain_band_index(
                self.spark,
                self.table,
                self.index_path,
                self.delta_dir,
                compact_after=self.COMPACT_AFTER,
            )
        if sp is not None:
            sp.name = f"dedup.maintain_{'compact' if res['action'] == 'compact' else 'noop'}"
        return res

    def check(self, i: int, out) -> list[str]:
        """Every injected copy pairs with its source at estimate 1.0;
        every pair links two documents at an estimate at or above the
        near-dup threshold; its agreement with the exact Jaccard of the
        two texts' shingle sets is tallied for ``finish``."""
        self.bytes_in += self.drops[i].n_bytes
        new_bytes, new_files = self._scan_writes()
        self.bytes_written += new_bytes
        pairs = pq.read_table(
            f"{self.pairs_dir}/epoch={i}", columns=["new_doc", "other_doc", "est_jaccard"]
        ).to_pylist()
        got = {
            ((min(r["new_doc"], r["other_doc"]), max(r["new_doc"], r["other_doc"])), r["est_jaccard"])
            for r in pairs
        }
        self.epochs[i] = {
            "bytes": new_bytes,
            "files": new_files,
            "pairs": len(got),
            "pending": len(out.get("pending_epochs", [])),
        }
        for row in pq.read_table(self.drops[i].path, columns=["doc_id", "text"]).to_pylist():
            self.texts[row["doc_id"]] = row["text"]
        est = dict(got)
        errors = [
            f"copy {c} of {s} paired at {est.get((s, c))} in epoch {i}"
            for c, s in self.drops[i].copies
            if est.get((s, c)) != 1.0
        ]
        for (a, b), e in got:
            if a == b or e < NEAR_DUP_JACCARD:
                errors.append(f"pair {a},{b}: estimate {e} in epoch {i}")
                continue
            self.pairs_checked += 1
            self.pairs_agreeing += abs(e - jaccard(self.texts[a], self.texts[b])) <= JACCARD_TOLERANCE
        return errors

    def finish(self) -> list[str]:
        """Banded MinHash is approximate, so a rare pair may miss its
        exact Jaccard by more than the tolerance; a share of such pairs
        well above that rate means the estimates are wrong."""
        errors = super().finish()
        if self.pairs_checked and self.pairs_agreeing < MIN_AGREEING * self.pairs_checked:
            errors.append(
                f"only {self.pairs_agreeing} of {self.pairs_checked} pair estimates"
                f" within {JACCARD_TOLERANCE} of the exact Jaccard"
            )
        return errors

    def _scan_writes(self) -> tuple[int, int]:
        """Bytes and files new or rewritten under the index, delta and
        pairs directories since the last scan."""
        n_bytes = n_files = 0
        for dirpath, _, names in os.walk(self.state):
            for name in names:
                path = os.path.join(dirpath, name)
                try:
                    st = os.stat(path)
                except FileNotFoundError:
                    continue
                key = (st.st_size, st.st_mtime_ns)
                if self.files.get(path) != key:
                    self.files[path] = key
                    n_bytes += st.st_size
                    n_files += 1
        return n_bytes, n_files

    def can_stop(self, n_measured: int) -> bool:
        # whole compaction cycles only, so every window has the same mix
        return n_measured % self.COMPACT_AFTER == 0

    def exhausted(self, next_op: int) -> bool:
        return next_op >= len(self.drops)

    def amp_mark(self) -> tuple[float, float]:
        return float(self.bytes_written), float(self.bytes_in)

    def trace_metrics(self, tracer, untraced_p50: float) -> dict[str, float]:
        ops = tracer.named("op")
        traced = [self.epochs[s.op] for s in ops]
        out: dict[str, float] = {}

        def med(name: str, key: str | None = None) -> float:
            spans = tracer.named(name)
            if not spans:
                return 0.0
            return median([s.counters[key] if key else s.seconds for s in spans])

        # doc_bands alone, forced to a no-op sink over each traced drop
        for sp in ops:
            with tracer.span("dedup.doc_bands", op=sp.op, counters=True):
                force(SD.doc_bands(self._docs(self.drops[sp.op].path)))
        out["dedup.doc_bands.s"] = med("dedup.doc_bands")
        out["dedup.probe_and_fold.s"] = med("dedup.probe_and_fold")
        out["dedup.probe_and_fold.tasks"] = med("dedup.probe_and_fold", "spark.tasks")
        out["dedup.maintain_compact.s"] = med("dedup.maintain_compact")
        out["dedup.maintain_compact.tasks"] = med("dedup.maintain_compact", "spark.tasks")
        out["dedup.maintain_noop.s"] = med("dedup.maintain_noop")
        out["maintenance.write_band_index.s"] = tracer.named("maintenance.write_band_index")[0].seconds
        out["maintenance.bytes_written"] = float(sum(e["bytes"] for e in traced))
        out["maintenance.files_written"] = float(sum(e["files"] for e in traced))
        out["dedup.pairs"] = float(sum(e["pairs"] for e in traced))
        rows = read_band_index(self.spark, self.table).count()
        if os.path.isdir(self.delta_dir) and any(
            n.startswith("epoch=") for n in os.listdir(self.delta_dir)
        ):
            rows += self.spark.read.parquet(self.delta_dir).count()
        out["dedup.index_rows"] = float(rows)
        out["dedup.pending_epochs"] = float(traced[-1]["pending"])
        return out

"""The benchmark's workloads.  Each one generates its inputs from the
run's seed before Spark starts, runs one kind of operation through the
package's public functions, and checks every output.

``run.py`` calls a workload's ``prepare`` (inputs, untimed), then
``warmup`` (the warm-up operations that end the set-up), then
``operate`` (one timed operation) in the measured loop, and ``metrics``
(the workload's end-to-end figures) at the end.  After each
``warmup`` and ``operate`` it calls ``check``, outside every timed span,
which returns the problems found in the outputs made since the last
``check``.
"""

from __future__ import annotations

import os
import statistics
import time

import pyarrow as pa
import pyarrow.parquet as pq

import checks
import gen

#: every workload's end-to-end metrics and their units
E2E_UNITS = {"setup_s": "s", "op_p50_s": "s", "result_recall": "ratio"}


def _sub_seed(seed: int, k: int) -> int:
    """A fresh, reproducible input seed for operation ``k`` of a run,
    so no operation sees another's input (nothing the engine caches
    per input carries over)."""
    return seed * 1_000_003 + k


class PageSource:
    """The medallion's API source, answering each fetch with the next
    precomputed page in constant time.  It refuses a cursor that does
    not continue the previous page, because that means bronze lost or
    repeated rows."""

    def __init__(self, pages: list[list[dict]]):
        self.pages = pages
        self.next = 0
        self.cursor = "2025-10-01T00:00"  # sources.rest.INITIAL_CURSOR

    def fetch(self, cursor) -> list[dict]:
        if str(cursor) != self.cursor:
            raise RuntimeError(f"cursor {cursor!r}, expected {self.cursor!r}")
        page = self.pages[self.next]
        self.next += 1
        self.cursor = max(r["Minutes1UTC"] for r in page
                          if r["Minutes1UTC"])[:16]
        return page


class Medallion:
    """``medallion_incremental``: the reference's own use.  The warm-up
    backfills a fresh warehouse with one day of minutes and runs its
    first hourly page, so both the create and the incremental paths have
    run once; the measured loop then runs further one-hour pages through
    bronze -> silver -> gold -> CSV export.  Every page is checked
    against the reference's DuckDB replay of the same pages."""

    name = "medallion_incremental"
    STEADY = "cycle"
    #: one day of minutes, centred on the Nov -> Dec season change
    BACKFILL_MINUTES = 24 * 60
    PAGE_MINUTES = 60
    #: more hourly pages than any run can consume
    MAX_CYCLES = 60

    def __init__(self, work: str, seed: int, tracer):
        self.work = work
        self.seed = seed
        self.tr = tracer
        self.recall = 1.0

    def prepare(self) -> dict:
        from energi_data_pipeline_spark.pipelines import medallion

        self.m = medallion
        pages = gen.power_pages(_sub_seed(self.seed, 0),
                                self.BACKFILL_MINUTES, self.PAGE_MINUTES,
                                self.MAX_CYCLES)
        self.wh = os.path.join(self.work, "warehouse")
        self.csv = os.path.join(self.work, "ml_features")
        self.src = PageSource(pages)
        os.makedirs(os.path.join(self.work, "oracle_bronze"))
        self.oracle = checks.MedallionOracle(
            os.path.join(self.work, "oracle_bronze"))
        self.checked = 0
        self.input_bytes = 0
        rows = [len(p) for p in pages]
        return {"backfill_rows": rows[0],
                "backfill_bytes": gen.record_bytes(pages[0]),
                "cycle_rows": statistics.median(rows[1:]),
                "cycle_bytes": gen.record_bytes(pages[1])}

    def _cycle(self, spark, kind: str) -> tuple[float, int]:
        """One page through the four stages; returns (wall, records)."""
        m, tr = self.m, self.tr
        t0 = time.perf_counter()
        with tr.span(f"medallion.{kind}.bronze"):
            n = m.run_bronze(spark, self.wh, self.src)
        with tr.span(f"medallion.{kind}.silver"):
            m.run_silver(spark, self.wh)
        with tr.span(f"medallion.{kind}.gold"):
            m.run_gold(spark, self.wh)
        with tr.span(f"medallion.{kind}.export"):
            m.export_ml_features(spark, self.wh, self.csv)
        return time.perf_counter() - t0, n

    def warmup(self, spark) -> None:
        """Backfill the empty warehouse, then run its first hourly
        page."""
        wall, n = self._cycle(spark, "backfill")
        self.backfill_rows_per_s = n / wall
        self._cycle(spark, "cycle")

    def operate(self, spark, i: int) -> tuple[str, float]:
        wall, _ = self._cycle(spark, "cycle")
        return "cycle", wall

    def check(self) -> list[str]:
        """Replay the pages consumed since the last check through the
        oracle, page by page, then compare gold table and export."""
        for page in self.src.pages[self.checked:self.src.next]:
            self.input_bytes += gen.record_bytes(page)
            self.oracle.add_page(page)
        self.checked = self.src.next
        problems, self.recall = checks.check_medallion(
            self.wh, self.csv, self.oracle)
        return problems

    def metrics(self, walls: dict[str, list[float]]) -> dict:
        return {"op_p50_s": statistics.median(walls.get("cycle") or [0.0]),
                "result_recall": self.recall}

    def figures(self) -> dict:
        """The workload's own per-layer figures."""
        return {"medallion.backfill_rows_per_s": self.backfill_rows_per_s}

    def stored_bytes(self) -> tuple[int, int]:
        """(warehouse bytes, API bytes of the pages it holds)."""
        return _tree_bytes(self.wh), self.input_bytes

    def finish(self) -> None:
        self.oracle.close()


class Curation:
    """``corpus_curation``: per operation, ``curation_pipeline`` and
    ``curation_cluster_representatives`` on a fresh corpus with
    planted exact- and near-duplicate families."""

    name = "corpus_curation"
    STEADY = "op"
    DOCS = 1000
    WARMUP_DOCS = 500

    def __init__(self, work: str, seed: int, tracer):
        self.work = work
        self.seed = seed
        self.tr = tracer
        self.recalls: list[float] = []
        self.false_merges: list[float] = []
        #: outputs not yet checked: (corpus, kept, reps, measured)
        self.pending: list[tuple] = []

    def _corpus(self, key: int, n: int):
        corpus = gen.documents(_sub_seed(self.seed, key), n)
        d = os.path.join(self.work, f"corpus{key}")
        os.makedirs(d)
        pq.write_table(pa.table(corpus.columns()),
                       os.path.join(d, "documents.parquet"))
        return d, corpus

    def prepare(self) -> dict:
        from energi_data_pipeline_spark.queries import load_all

        self.registry = load_all()
        # two warm-up curations, as the medallion's warm-up runs two
        # pages: the JIT is still warming after the first
        self.warm_inputs = [self._corpus(-k, self.WARMUP_DOCS)
                            for k in (1, 2)]
        return gen.documents(_sub_seed(self.seed, 0),
                             self.DOCS).properties()

    def _run(self, spark, sf_dir: str):
        """(curated keep-set rows, representative rows)"""
        out = []
        for entry in ("curation_pipeline",
                      "curation_cluster_representatives"):
            with self.tr.span("queries.plan"):
                df = self.registry[entry].fn(spark, sf_dir)
            with self.tr.span("queries.exec"):
                out.append(df.collect())
        return tuple(out)

    def warmup(self, spark) -> None:
        for d, corpus in self.warm_inputs:
            self.pending.append((corpus, *self._run(spark, d), False))

    def operate(self, spark, i: int) -> tuple[str, float]:
        """One curation of a fresh corpus (generated before the clock
        starts)."""
        d, corpus = self._corpus(i, self.DOCS)
        t0 = time.perf_counter()
        kept, reps = self._run(spark, d)
        wall = time.perf_counter() - t0
        self.pending.append((corpus, kept, reps, True))
        return "op", wall

    def check(self) -> list[str]:
        problems = []
        for corpus, kept, reps, measured in self.pending:
            found, quality = checks.check_curation(
                corpus, [tuple(r) for r in kept], [tuple(r) for r in reps])
            problems += found
            if measured:
                self.recalls.append(quality["planted_dup_recall"])
                self.false_merges.append(quality["false_merge_ratio"])
        self.pending = []
        return problems

    def metrics(self, walls: dict[str, list[float]]) -> dict:
        return {"op_p50_s": statistics.median(walls.get("op") or [0.0]),
                "result_recall": statistics.median(self.recalls or [0.0])}

    def figures(self) -> dict:
        """The workload's own per-layer figures."""
        return {"dedup.false_merge_ratio":
                statistics.median(self.false_merges or [0.0])}

    def stored_bytes(self) -> tuple[int, int]:
        return 0, 0

    def finish(self) -> None:
        pass


def _tree_bytes(root: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(root):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


WORKLOADS = {w.name: w for w in (Medallion, Curation)}

"""The workloads: how each registers its inputs, warms up, runs one pass,
and checks that pass's output.

A pass runs from the registered inputs to a complete result at the sink,
calling only the engine's public functions, the way the production jobs
do. The sink is parquet under the pass's own directory, so the output of
every pass can be checked after the timed window. Span names start with
the module a call goes into; ``trace.py`` reads them.
"""

from __future__ import annotations

import os

from tgist_features_spark.plans.backfill import backfill_features, turn_features
from tgist_features_spark.plans.dedup_pipeline import dedup_corpus
from tgist_features_spark.plans.lineage import (
    FEATURES_TABLE,
    MANIFEST_TABLE,
    read_features,
    run_incremental,
)
from tgist_features_spark.sources.table_io import TableIO

from perfbench import checks

WARM_ROWS = 20_000  # jobs/backfill_features.py's own warm pass size


class Workload:
    """One workload bound to one run's inputs (``meta`` from
    ``inputs.prepare``)."""

    name = ""
    settle = True  # run one untimed pass after the first, before timing

    def __init__(self, spark, meta: dict, tracer):
        self.spark = spark
        self.meta = meta
        self.tracer = tracer
        self.params = meta["params"]

    def _read(self, name: str, count: bool = True):
        """Open an input table; count it when the production job does
        (its main input: that warms the scan before timing)."""
        df = self.spark.read.parquet(os.path.join(self.meta["root"], name))
        if count:
            df.count()
        return df

    def register(self) -> None:
        self.transcripts = self._read("transcripts")

    def warm(self) -> None:
        """The job's own warm pass: the feature plan over a slice, noop sink."""
        turn_features(self.transcripts.limit(WARM_ROWS)).write.mode(
            "overwrite").format("noop").save()

    def run_pass(self, out_dir: str) -> dict:
        raise NotImplementedError

    def check(self, out_dir: str) -> list[str]:
        raise NotImplementedError

    # ---- steps shared by the workloads ---------------------------------

    def _backfill(self, features, out_dir: str, hot_threshold) -> None:
        with self.tracer.span("backfill_features"):
            out = backfill_features(features, self.queries, hot_threshold=hot_threshold)
        with self.tracer.span("backfill.sink"):
            out.write.mode("overwrite").parquet(out_dir)
        self.tracer.capture_plan(out)

    def _check_backfill(self, out_dir: str) -> list[str]:
        return checks.check_backfill(checks.read_parquet_dir(out_dir),
                                     self.meta["oracle"]["backfill"])

    def _materialize(self, warehouse: str) -> dict:
        io = TableIO(self.spark, warehouse)
        kw = dict(snapshot_id=f"input-{self.meta['key']}",
                  n_buckets=self.params["buckets"])
        with self.tracer.span("run_incremental.crash"):
            run_incremental(self.spark, io, self.transcripts, run_id="crash",
                            fail_after_buckets=self.params["crash_after"], **kw)
        with self.tracer.span("run_incremental.resume"):
            resumed = run_incremental(self.spark, io, self.transcripts,
                                      run_id="resume", **kw)
        self.tracer.capture_plan(turn_features(self.transcripts))
        return {"resumed_buckets": len(resumed["buckets_run"])}

    def _check_materialize(self, warehouse: str) -> list[str]:
        feats = checks.read_parquet_dir(os.path.join(warehouse, FEATURES_TABLE),
                                        partitioning="hive")
        manifest = checks.read_parquet_dir(os.path.join(warehouse, MANIFEST_TABLE))
        return checks.check_materialize(feats, manifest,
                                        self.meta["oracle"]["features"],
                                        self.params["buckets"])

    def _dedup(self, out_dir: str) -> None:
        with self.tracer.span("dedup_corpus"):
            kept, drops = dedup_corpus(self.docs)
        with self.tracer.span("dedup.sink"):
            kept.write.mode("overwrite").parquet(os.path.join(out_dir, "kept"))
            drops.write.mode("overwrite").parquet(os.path.join(out_dir, "drops"))
        self.tracer.capture_plan(kept, drops)

    def _check_dedup(self, out_dir: str) -> list[str]:
        sizes = self.meta["sizes"]
        return checks.check_dedup(
            checks.read_parquet_dir(os.path.join(out_dir, "kept")),
            checks.read_parquet_dir(os.path.join(out_dir, "drops")),
            sizes["docs"], sizes["exact_dups"], self.meta["oracle"]["planted"],
        )


class Backfill(Workload):
    """jobs/backfill_features.py ``one_pass``: turn_features -> persist ->
    backfill_features -> sink. ``hot_threshold`` None is the plain route."""

    name = "backfill"
    hot_threshold = None

    def register(self) -> None:
        super().register()
        self.queries = self._read("queries", count=False)

    def run_pass(self, out_dir: str) -> dict:
        with self.tracer.span("turn_features"):
            feats = turn_features(self.transcripts)
        with self.tracer.span("persist"):
            feats = feats.persist()
        self._backfill(feats, out_dir, self.hot_threshold)
        feats.unpersist()
        return {"hot_rows": self.meta["sizes"]["hot_rows"]}

    def check(self, out_dir: str) -> list[str]:
        return self._check_backfill(out_dir)


class HotBackfill(Backfill):
    """The production skew route (``--salted``): hot conversations take
    the salted as-of, the rest the plain merge-scan."""

    name = "hot_backfill"

    @property
    def hot_threshold(self) -> int:
        return self.params["hot_threshold"]


class Materialize(Workload):
    """Features-table mode through ``run_incremental`` into a fresh
    warehouse: a crash after half the buckets, then a resume."""

    name = "materialize"

    def run_pass(self, out_dir: str) -> dict:
        return self._materialize(out_dir)

    def check(self, out_dir: str) -> list[str]:
        return self._check_materialize(out_dir)


class Dedup(Workload):
    """plans/dedup_pipeline.dedup_corpus (exact md5, then MinHash/LSH
    near-dedup) over turn texts with planted duplicates; both outputs
    (kept docs and the drop log) go to the sink."""

    name = "dedup"

    def register(self) -> None:
        self.docs = self._read("docs")

    def warm(self) -> None:
        """jobs/dedup_corpus.py has no warm pass beyond the count."""

    def run_pass(self, out_dir: str) -> dict:
        self._dedup(out_dir)
        return {}

    def check(self, out_dir: str) -> list[str]:
        return self._check_dedup(out_dir)


class Pipeline(Workload):
    """A batch day in three jobs: materialize the features table of a
    skewed corpus (crash after half the buckets, then resume), backfill
    probes from the written table through the skew route, and dedup a
    document set. Lineage, the salted as-of and dedup all work here."""

    name = "pipeline"
    # its first pass compiles every plan it runs; the second is already
    # within a few percent of the third, and a pass costs ~12 s
    settle = False

    def register(self) -> None:
        super().register()
        self.queries = self._read("queries", count=False)
        self.docs = self._read("docs")

    def run_pass(self, out_dir: str) -> dict:
        warehouse = os.path.join(out_dir, "warehouse")
        info = self._materialize(warehouse)
        self._backfill(read_features(TableIO(self.spark, warehouse)),
                       os.path.join(out_dir, "backfill"), self.params["hot_threshold"])
        self._dedup(os.path.join(out_dir, "dedup"))
        return {**info, "hot_rows": self.meta["sizes"]["hot_rows"]}

    def check(self, out_dir: str) -> list[str]:
        return (self._check_materialize(os.path.join(out_dir, "warehouse"))
                + self._check_backfill(os.path.join(out_dir, "backfill"))
                + self._check_dedup(os.path.join(out_dir, "dedup")))


WORKLOADS = {w.name: w for w in (Backfill, Materialize, HotBackfill, Dedup, Pipeline)}

"""The benchmark's workloads: set-up, one timed iteration, output checks.

Each workload calls the program only through its public functions. Every
program call runs inside a tracer span; output checks run outside the spans
and outside the timers.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import shutil
import time
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

from credit_abs_oltp_to_mart_spark import streaming
from credit_abs_oltp_to_mart_spark.functions.similarity import md5_long
from credit_abs_oltp_to_mart_spark.generator import OLTPSynthConfig, run_credit_oltp_synth
from credit_abs_oltp_to_mart_spark.operators import curation
from credit_abs_oltp_to_mart_spark.plans import incremental
from credit_abs_oltp_to_mart_spark.plans.checks import run_schema_tests
from credit_abs_oltp_to_mart_spark.plans.pipeline import run_pipeline

from perfbench.oracles import PARTITION, CorpusOracle, MartOracle
from perfbench.tracing import BatchRecorder, Tracer

MARTS = list(PARTITION)
# the month-wise refreshers of ``plans.incremental`` the refresh iteration
# calls, in ``refresh_month``'s order. ``refresh_month`` itself also runs
# ``refresh_vintage_mob``, which is wrong on some seeds (see README.md):
# fct_vintage_mob keeps its full-build contents and is checked as such.
REFRESHERS = {
    "fct_dpd_daily": incremental.refresh_dpd_daily,
    "fct_npl_monthly": incremental.refresh_npl_monthly,
    "fct_roll_rate_monthly": incremental.refresh_roll_rate_monthly,
    "fct_cure_rate_monthly": incremental.refresh_cure_rate_monthly,
    "fct_collections_monthly": incremental.refresh_collections_monthly,
    "fct_writeoff_recovery_monthly": incremental.refresh_writeoff_recovery_monthly,
}


def _files(d: Path) -> set[str]:
    return {p.name for p in d.glob("*.parquet")} if d.is_dir() else set()


class CreditRefresh:
    """Set-up is the paper's nightly full build on a cold JVM: generate the
    lake, build the 4 staging models and 7 marts, run the schema tests. Each
    iteration refreshes one month across the six month-partitioned marts,
    cycling backwards through the newest months of the lake."""

    name = "credit_refresh"
    LOANS = 300
    # a nightly refresh rewrites the newest months
    REFRESH_MONTHS = 3

    def __init__(self, spark, tracer: Tracer, work: Path, seed: int) -> None:
        self.spark, self.tracer, self.work = spark, tracer, work
        self.cfg = OLTPSynthConfig(
            n_borrowers=self.LOANS * 4 // 3,
            n_applications=self.LOANS * 2,
            n_loans=self.LOANS,
            # originations over 3 years and terms up to 2 years keep the
            # daily fact at ~60 month partitions, so the cold build fits the
            # run budget (the reference's 2015 start and 72-month terms
            # write ~190)
            start_date_min=dt.date(2023, 1, 1),
            max_term_months=24,
            # the generator defaults this bound to today; pin it so the same
            # seed gives the same lake on every day
            start_date_max=dt.date(2025, 12, 31),
            seed=seed,
        )
        self.lake = work / "lake"
        self.marts = work / "marts"
        self.oracle: MartOracle | None = None
        self.months: list[dt.date] = []

    def setup(self) -> None:
        t = self.tracer
        with t.span("generator.run_credit_oltp_synth", self.lake):
            run_credit_oltp_synth(self.spark, self.cfg, out_dir=str(self.lake))
        with t.span("pipeline.run_pipeline", self.marts):
            models = run_pipeline(self.spark, str(self.lake), out_dir=str(self.marts))
        with t.span("checks.run_schema_tests"):
            violations = run_schema_tests(
                {k: v for k, v in models.items() if k.startswith("stg_")}
            )
        self.violations = {k: v for k, v in violations.items() if v != 0}
        self.months = self._newest_months()
        # the first refresh of a process runs its code paths cold; it
        # belongs to the set-up, not to the timed iterations
        self._refresh(self.months[0])

    def _refresh(self, month: dt.date) -> None:
        for refresh in REFRESHERS.values():
            refresh(self.spark, str(self.lake), str(self.marts), [month])

    def _newest_months(self) -> list[dt.date]:
        import duckdb

        con = duckdb.connect()
        try:
            (last,) = con.execute(
                "select max(as_of_date) from read_parquet("
                f"'{self.lake}/arrears_dpd_status.parquet/*.parquet')"
            ).fetchone()
        finally:
            con.close()
        y, m = last.year, last.month
        out = []
        for _ in range(self.REFRESH_MONTHS):
            out.append(dt.date(y, m, 1))
            y, m = (y, m - 1) if m > 1 else (y - 1, 12)
        return out

    def check_setup(self) -> list[str]:
        failures = [f"schema test {k}: {v} violations" for k, v in self.violations.items()]
        # the marts themselves are compared once, after the refreshes, by
        # check_end: months no iteration touched still hold the full build
        self.oracle = MartOracle(self.lake)
        if self.oracle.rows()["fct_dpd_daily"] == 0:
            failures.append("oracle fct_dpd_daily is empty: the check would pass trivially")
        return failures

    def inputs(self) -> dict:
        assert self.oracle is not None
        return {
            "loans": self.cfg.n_loans,
            "borrowers": self.cfg.n_borrowers,
            "applications": self.cfg.n_applications,
            "start_date_min": self.cfg.start_date_min.isoformat(),
            "start_date_max": self.cfg.start_date_max.isoformat(),
            "max_term_months": self.cfg.max_term_months,
            "mart_rows": self.oracle.rows(),
            "refresh_months": [m.isoformat() for m in self.months],
        }

    def iteration(self, i: int) -> dict:
        month = self.months[i % len(self.months)]
        dirs = {
            n: self.marts / f"{n}.parquet" / f"{PARTITION[n]}={month.isoformat()}"
            for n in REFRESHERS
        }
        before = {n: _files(d) for n, d in dirs.items()}
        with self.tracer.span("incremental.refresh_marts", self.marts):
            self._refresh(month)
        return {"month": month, "dirs": dirs, "before": before}

    def check_iteration(self, state: dict) -> list[str]:
        failures = []
        for n, d in state["dirs"].items():
            after = _files(d)
            if (state["before"][n] or n == "fct_dpd_daily") and (
                not after or after & state["before"][n]
            ):
                failures.append(f"{n}: partition {d.name} was not rewritten")
        return failures

    def check_end(self) -> list[str]:
        """Every mart against the oracle after all refreshes: a build or a
        refresh that wrote wrong rows into any month fails here."""
        assert self.oracle is not None
        return self.oracle.check(self.marts)

    def close(self) -> None:
        if self.oracle is not None:
            self.oracle.close()


class CorpusStream:
    """Set-up generates a seeded document table and writes its train split
    as 3 md5-bucketed input slices. Each iteration builds the eval-gram
    blocklist and streams the 3 slices through ``stream_corpus_ingest`` into
    a fresh output directory, with the parameters of the contract query
    ``stream_corpus_ingest``. The first iteration runs on a cold JVM, as a
    scheduled ingest job does."""

    name = "corpus_stream"
    DOCS = 2000
    SAMPLE = 0.8
    WORDS = (
        "a agg batch big column customer data fast filter group hash join key "
        "line merge order part query row scan slow small sort spark stream "
        "table the value vector window"
    ).split()
    LANGS = (["en"] * 41) + (["es"] * 15) + (["zh"] * 15) + (["de"] * 14) + (["fr"] * 15)
    # the contract's MinHash parameters (``__spark_entry__`` JACCARD_N,
    # MINHASH_PERMS, MINHASH_BANDS, MINHASH_SEED)
    STREAM_ARGS = dict(n=3, n_perm=8, bands=2, min_est=0.25, seed=42,
                       dedup_within_batch=True, auto_compact_partitions=2)

    def __init__(self, spark, tracer: Tracer, work: Path, seed: int) -> None:
        self.spark, self.tracer, self.work, self.seed = spark, tracer, work, seed
        self.docs_path = work / "documents.parquet"
        self.slices = work / "slices"
        self.batches = BatchRecorder()
        spark.streams.addListener(self.batches)
        self.oracle: CorpusOracle | None = None
        self.n_docs = self.n_train = 0
        self.batch_log: list[dict] = []

    def _documents(self) -> pa.Table:
        """A seeded corpus shaped like the contract's documents table: texts
        drawn from a 31-word vocabulary, 5 languages, 20 sources, and 5%
        near-duplicates (an earlier text plus ``dup``); then a seeded 80%
        subsample in seeded row order."""
        rng = random.Random(self.seed)
        texts: list[str] = []
        for _ in range(self.DOCS):
            if texts and rng.random() < 0.05:
                texts.append(rng.choice(texts) + " dup")
            else:
                texts.append(" ".join(rng.choices(self.WORDS, k=rng.randint(8, 100))))
        langs = [rng.choice(self.LANGS) for _ in texts]
        keep = rng.sample(range(self.DOCS), int(self.DOCS * self.SAMPLE))
        return pa.table({
            "doc_id": pa.array(keep, pa.int64()),
            "text": [texts[i] for i in keep],
            "lang": [langs[i] for i in keep],
            "source": [f"src{i % 20}" for i in keep],
            "n_chars": pa.array([len(texts[i]) for i in keep], pa.int64()),
        })

    def setup(self) -> None:
        from pyspark.sql import functions as F

        table = self._documents()
        self.n_docs = table.num_rows
        pq.write_table(table, self.docs_path)
        docs = self.spark.read.parquet(str(self.docs_path)).withColumn(
            "split", curation.split_expr()
        )
        self.eval_docs = docs.where(F.col("split") != "train").drop("split")
        train = docs.where(F.col("split") == "train").drop("split")
        self.train_schema = train.schema
        bucket = F.pmod(
            md5_long(F.concat(F.lit("ingest:"), F.col("doc_id").cast("string"))),
            F.lit(3),
        )
        # the file source takes slices in path order and by modification
        # time; stamp strictly increasing mtimes in slice order
        stamp = time.time() - 100
        for k in range(3):
            d = self.slices / f"b{k}"
            train.where(bucket == k).coalesce(1).write.parquet(str(d))
            for f in d.glob("*.parquet"):
                os.utime(f, (stamp + 10 * k, stamp + 10 * k))
        self.n_train = sum(
            pq.read_metadata(f).num_rows for f in self.slices.glob("b*/*.parquet")
        )

    def check_setup(self) -> list[str]:
        return []

    def check_end(self) -> list[str]:
        return []

    def inputs(self) -> dict:
        return {"documents": self.n_docs, "train_documents": self.n_train,
                "admitted": len(self.oracle.expected) if self.oracle else None,
                "batches": self.batch_log}

    def iteration(self, i: int) -> dict:
        d = self.work / f"it{i}"  # fresh: a reused checkpoint resumes the stream
        grams = d / "eval_grams"
        self.batches.take()
        with self.tracer.span("curation.build_eval_gram_store", grams):
            curation.build_eval_gram_store(self.eval_docs).write.parquet(str(grams))
        with self.tracer.span("streaming.stream_corpus_ingest", d / "out"):
            out = streaming.stream_corpus_ingest(
                self.spark, f"{self.slices}/b*", str(d / "out"),
                schema=self.train_schema, gram_store_path=str(grams),
                **self.STREAM_ARGS,
            )
        return {"dir": d, "out": out}

    def _wait_batches(self, timeout_s: float = 30.0) -> list[dict]:
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(int(timeout_s * 1000))
        return self.batches.take()

    def check_iteration(self, state: dict) -> list[str]:
        failures = []
        got = state["out"].toPandas()
        batches = self._wait_batches()
        ids = sorted(b["batch_id"] for b in batches)
        rows = sum(b["rows"] for b in batches)
        if ids != [0, 1, 2]:
            failures.append(f"stream ran batches {ids}, expected [0, 1, 2]")
        if rows != self.n_train:
            failures.append(f"stream read {rows} rows, expected {self.n_train}")
        self.batch_log = [{"batch_id": b["batch_id"], "rows": b["rows"]} for b in batches]
        self.tracer.spans.extend(
            {"name": "streaming.batch", "start": b["start"], "end": b["end"],
             "out_root": state["dir"] / "out", "durations": b["durations"]}
            for b in batches
        )
        self.tracer.capture_outputs()
        if self.oracle is None:
            self.oracle = CorpusOracle(self.docs_path)
        failures += self.oracle.check(got)
        shutil.rmtree(state["dir"], ignore_errors=True)
        return failures

    def close(self) -> None:
        self.spark.streams.removeListener(self.batches)


WORKLOADS = {w.name: w for w in (CreditRefresh, CorpusStream)}

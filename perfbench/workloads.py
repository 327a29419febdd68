"""The benchmark's workloads: one op each, its output check, and a traced
variant that splits the op into spans at the program's public functions.

Each workload is a closed loop with one client; one op is one call of the
program's entry point:

- suite:  suite.run_suite_df over the seeded pages table, forcing verdicts,
          metrics(), violations, stats and hists.
- resume: manifest.run_resumable on a restored checkpoint that has committed
          all but the last RESUME_NEW_FILES files of the same table.
- dedup:  operators.dedup.dedup_clean(variant="fast") over a seeded corpus
          with planted exact and near duplicates.

Protocol: `generate()` writes the seeded inputs (untimed, not set-up);
`bind(spark)` binds them (set-up); `before_op()` runs untimed before each
op; `op()` is the timed op and returns its outputs; `check(out)` compares
them (untimed); `traced_op(t)` runs the same work inside the spans of
tracer `t`, and `isolated(t)` then calls single layers on their own
(untimed); `final_check()` runs once after the timed ops. `docs` is the
number of input docs one op completes, `warm_ops` the untimed ops after
binding, and `traced_with` the workloads whose traced ops run in this
workload's traced run.
"""

from __future__ import annotations

import contextlib
import os
import shutil

import duckdb
from pyspark.sql import functions as F

from sparkcheck import suite
from sparkcheck.functions.extraction import extract_text
from sparkcheck.manifest import ParquetStore, input_files_df, run_resumable
from sparkcheck.operators import dedup, drift, stats, uniqueness
from sparkcheck.sources.dims import iso_lang_dim, iso_lang_sql_values

import gen

REPLICAS = 20          # 5,000 docs x 20 = 100,000 pages
PAGE_FILES = [10_000] * 10
# resume: 8 small committed files, then 2 files of 10,000 new pages arrive.
# The op validates only the new pages; small committed files keep the cold
# committed run that binding makes (set-up) short.
RESUME_FILES = [1_250] * 8 + [10_000] * 2
RESUME_NEW_FILES = 2
DEDUP_UNIQUE, DEDUP_EXACT, DEDUP_NEAR = 3_600, 200, 200
DEDUP_FILES = 4
# dedup_clean's step functions, wrapped in spans for the traced op
DEDUP_STEPS = ("exact_drop_list", "minhash_candidates", "ngram_jaccard",
               "connected_components")

# verdict (step, rule_id) of each first-failing stage, in suite.py rule order
RULE_IDS = {-1: None, 0: "text-not-null", 1: "text-length", 2: "lang-iso",
            3: "warc-ts-window", 4: "extract-byte-identity", 5: "unique-url"}


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def suite_expected(pages_glob: str) -> dict:
    """Verdict, violation and metrics() counts for the flagship suite over
    the pages parquet, computed by DuckDB from the suite.py constants.

    Every failing row fails exactly one stage with one emission, so the
    violation count per rule equals its failed-verdict count. The
    extraction rule never fails: the generator renders html from text."""
    sql = f"""
    WITH p AS (SELECT url, text, lang, warc_epoch
               FROM read_parquet('{pages_glob}')),
    iso AS (SELECT * FROM {iso_lang_sql_values()} t(lang_code)),
    staged AS (
      SELECT url, CASE
        WHEN NOT regexp_matches(url, '{suite.URL_RE}') THEN -1
        WHEN text IS NULL THEN 0
        WHEN NOT length(text) BETWEEN {suite.TEXT_LEN_MIN}
                                  AND {suite.TEXT_LEN_MAX} THEN 1
        WHEN lang IS NULL OR lang NOT IN (SELECT lang_code FROM iso) THEN 2
        WHEN NOT warc_epoch BETWEEN {suite.TS_MIN} AND {suite.TS_MAX} THEN 3
      END AS idx FROM p),
    dup AS (SELECT url FROM staged WHERE idx IS NULL
            GROUP BY url HAVING count(*) > 1)
    SELECT CASE WHEN idx IS NULL AND url IN (SELECT url FROM dup) THEN 5
                ELSE idx END AS idx, count(*) FROM staged GROUP BY 1"""
    by_idx = dict(duckdb.sql(sql).fetchall())
    ok = by_idx.pop(None, 0)
    schema = by_idx.get(-1, 0)
    verdicts = {(None, None): ok}
    violations = {}
    for idx, n in by_idx.items():
        step = "schema" if idx == -1 else "rules"
        verdicts[(step, RULE_IDS[idx])] = n
        violations[RULE_IDS[idx]] = n
    rows = ok + sum(by_idx.values())
    return {"verdicts": verdicts, "violations": violations,
            "metrics": {"rows": rows, "failed_rows": rows - ok,
                        "schema_failed": schema},
            "frontier": ok}


def suite_outputs(res, t) -> dict:
    """Force a ValidationResult (verdicts, metrics(), violations, stats,
    hists) and read back the counts the check compares."""
    with t.span("engine.verdicts"):
        verdicts = {(r["step"], r["rule_id"]): r["n"] for r in
                    res.verdicts.groupBy("step", "rule_id")
                       .agg(F.count(F.lit(1)).alias("n")).collect()}
        metrics = res.metrics()
    with t.span("engine.violations"):
        violations = {r["rule_id"]: r["n"] for r in
                      res.violations.groupBy("rule_id")
                         .agg(F.count(F.lit(1)).alias("n")).collect()}
    with t.span("engine.stats"):
        stats_rows = res.stats.collect()
    with t.span("engine.hists"):
        hists = res.hists.collect()
    t.count("engine.persist_bytes", t.persisted_bytes())
    t.idle()
    return {"verdicts": verdicts, "violations": violations,
            "metrics": {k: metrics[k] for k in
                        ("rows", "failed_rows", "schema_failed")},
            "frontier": sum(r["n"] for r in hists),
            "stats_rows": len(stats_rows),
            "drift_checks": len(res.run_checks)}


class NullTracer:
    """The untraced run: spans and counts cost nothing."""

    def span(self, name):
        return contextlib.nullcontext()

    def count(self, name, value) -> None:
        pass

    def persisted_bytes(self) -> int:
        return 0

    def idle(self) -> None:
        pass


NULL = NullTracer()


def suite_check(expected: dict, got: dict) -> bool:
    return (all(got[k] == expected[k] for k in
                ("verdicts", "violations", "metrics", "frontier"))
            and got["stats_rows"] == len(suite.STATS_COLS)
            and got["drift_checks"] == 1)


def _bind_validator(spark, pages):
    """run_suite_df's binding: the flagship validator with a baseline built
    from the first-replica slice of the frame it validates."""
    v, deps = suite.pages_validator(spark)
    deps["baseline_stats"] = suite.make_baseline(pages, REPLICAS,
                                                 deps["iso_lang"])
    return v.provide(**deps), pages


class Workload:
    """Defaults for the steps a workload does not need."""

    warm_ops = 1  # untimed ops after binding: the JVM's cold first op
    traced_with: tuple = ()  # workloads traced in this one's traced run

    def before_op(self) -> None:
        pass

    def isolated(self, t) -> None:
        pass

    def final_check(self) -> bool:
        return True


class Suite(Workload):
    name = "suite"
    # dedup's per-layer spans come from the suite's traced run: BENCHMARK.json
    # lists suite and resume only (see README.md, "Workloads")
    traced_with = ("dedup",)

    def __init__(self, work: str, seed: int) -> None:
        self.dir = os.path.join(work, "pages")
        self.seed = seed

    def generate(self) -> None:
        files = gen.write_pages(self.dir, self.seed, REPLICAS, PAGE_FILES)
        self.docs = sum(n for _, n in files)
        self.expected = suite_expected(os.path.join(self.dir, "*.parquet"))

    def bind(self, spark) -> None:
        self.spark = spark
        self.pages = spark.read.parquet(self.dir)

    def op(self):
        res = suite.run_suite_df(self.spark, self.pages, replicas=REPLICAS)
        try:
            return suite_outputs(res, NULL)
        finally:
            res.unpersist()

    def check(self, got) -> bool:
        return suite_check(self.expected, got)

    def traced_op(self, t):
        """run_suite_df's two steps, then the forced outputs, in spans."""
        with t.span("model.build"):
            validator, pages = _bind_validator(self.spark, self.pages)
        with t.span("engine.validate"):
            res = validator.validate(pages, persist_drop=["html",
                                                          "extracted_text"])
        try:
            return suite_outputs(res, t)
        finally:
            res.unpersist()

    def isolated(self, t) -> None:
        """Single calls, after the op, into the layers the engine runs."""
        iso = iso_lang_dim(self.spark)
        valid = suite.valid_pages(self.pages, iso)
        with t.span("functions.extract_text"):
            (self.pages.select(extract_text(F.col("html")).alias("t"))
                 .write.format("noop").mode("overwrite").save())
        with t.span("uniqueness.gate_broadcast"):
            owner: list = []
            keys = uniqueness.gate_broadcast(
                uniqueness.duplicate_keys(valid, "url").select("url"), "url",
                owner=owner)
            t.count("uniqueness.dup_keys", keys.count())
            t.count("uniqueness.broadcast", 0 if owner else 1)
            for p in owner:
                p.unpersist()
        with t.span("stats.column_stats"):
            stats.column_stats(valid, suite.STATS_COLS).collect()
        with t.span("stats.length_histograms"):
            stats.length_histograms(valid, ["text"]).collect()
        with t.span("drift.kl_divergence"):
            drift.kl_divergence(
                valid, "lang", F.coalesce(F.col("lang"), F.lit("∅")),
                suite.make_baseline(self.pages, REPLICAS, iso))
        t.idle()


class _TracedStore(ParquetStore):
    """ParquetStore whose calls open manifest spans. A span stays the
    current job group until the next one opens, so the jobs run_resumable
    starts between store calls land in the span that set them up."""

    def __init__(self, base: str, t) -> None:
        super().__init__(base)
        self.t = t

    def reconcile(self, spark):
        with self.t.span("manifest.reconcile"):
            return super().reconcile(spark)

    def completed_files_df(self, spark):
        with self.t.span("manifest.completed_files"):
            return super().completed_files_df(spark)

    def write(self, df, name, run_id):
        with self.t.span(f"manifest.write.{name}"):
            super().write(df, name, run_id)

    def append_manifest(self, entries):
        with self.t.span("manifest.commit"):
            super().append_manifest(entries)


class _TracedValidator:
    def __init__(self, validator, t) -> None:
        self.validator, self.t = validator, t

    def validate(self, df):
        with self.t.span("engine.validate"):
            return self.validator.validate(df)


class Resume(Workload):
    name = "resume"
    warm_ops = 0  # binding runs the program once, cold

    def __init__(self, work: str, seed: int) -> None:
        self.work = work
        self.seed = seed
        self.input = os.path.join(work, "crawl")
        self.pristine = os.path.join(work, "checkpoint0")
        self.base = os.path.join(work, "checkpoint")
        self.n_ops = 0

    def generate(self) -> None:
        staged = os.path.join(self.work, "arriving")
        files = gen.write_pages(staged, self.seed, REPLICAS, RESUME_FILES)
        os.makedirs(self.input)
        self.new = dict(files[-RESUME_NEW_FILES:])
        for name, _ in files[:-RESUME_NEW_FILES]:
            os.rename(os.path.join(staged, name),
                      os.path.join(self.input, name))
        self.staged = staged
        self.docs = sum(self.new.values())

    def bind(self, spark) -> None:
        """Commit a run over all files but the new ones, then let the new
        files arrive. Each op resumes from a copy of this checkpoint."""
        self.spark = spark
        run_resumable(spark, self.input, _bind_validator, self.pristine,
                      run_id="committed")
        for name in self.new:
            os.rename(os.path.join(self.staged, name),
                      os.path.join(self.input, name))
        self.pristine_bytes = dir_bytes(self.pristine)
        self.out_bytes = []

    def before_op(self) -> None:
        shutil.rmtree(self.base, ignore_errors=True)
        shutil.copytree(self.pristine, self.base)

    def check(self, out) -> bool:
        """The manifest commits exactly the new files, with their rows."""
        run_id, n_files = out
        entries = duckdb.sql(
            "SELECT input_file, rows FROM read_parquet("
            f"'{self.base}/manifest/*.parquet') "
            f"WHERE run_id = '{run_id}'").fetchall()
        got = {f.rsplit("/", 1)[-1]: n for f, n in entries}
        self.out_bytes.append(dir_bytes(self.base) - self.pristine_bytes)
        return n_files == len(self.new) and got == self.new

    def op(self, store=None, bind=_bind_validator):
        self.n_ops += 1
        run_id = f"op{self.n_ops}"
        _, n_files, _ = run_resumable(self.spark, self.input, bind,
                                      self.base, run_id=run_id, store=store)
        return run_id, n_files

    def traced_op(self, t):
        def bind(spark, pending):
            with t.span("model.build"):
                v, df = _bind_validator(spark, pending)
            return _TracedValidator(v, t), df
        out = self.op(store=_TracedStore(self.base, t), bind=bind)
        t.idle()
        return out

    def isolated(self, t) -> None:
        t.count("manifest.bytes_written",
                dir_bytes(self.base) - self.pristine_bytes)
        with t.span("manifest.input_files_df"):
            input_files_df(self.spark, self.input).count()
        t.idle()


class Dedup(Workload):
    name = "dedup"

    def __init__(self, work: str, seed: int) -> None:
        self.dir = os.path.join(work, "corpus")
        self.seed = seed
        self.survivors: int | None = None

    def generate(self) -> None:
        self.docs = gen.write_dedup_corpus(
            self.dir, self.seed, DEDUP_UNIQUE, DEDUP_EXACT, DEDUP_NEAR,
            DEDUP_FILES)

    def bind(self, spark) -> None:
        self.spark = spark
        self.df = spark.read.parquet(self.dir)

    def check(self, n: int) -> bool:
        """Exact copies always go; near copies go unless LSH misses them
        (rare at Jaccard >= 0.85), so the count sits in a narrow band and is
        identical across ops."""
        if self.survivors is None:
            self.survivors = n
        lo = self.docs - DEDUP_EXACT - DEDUP_NEAR
        return n == self.survivors and lo <= n <= lo + DEDUP_NEAR // 20

    def final_check(self) -> bool:
        return dedup.exact_drop_list(self.df, "id").count() == DEDUP_EXACT

    def op(self):
        return dedup.dedup_clean(self.df, "id", variant="fast").count()

    def traced_op(self, t):
        """The program's own dedup_clean call, with its step functions
        wrapped in spans for the call. exact_drop_list, minhash_candidates
        and ngram_jaccard only build plans; connected_components runs its
        propagation jobs at call time, and the first of them computes the
        edge list the other steps planned. The survivor count (the two
        anti-joins) is dedup.apply_drops. isolated() then materializes the
        frames the steps returned, each in its own span."""
        self.built = {}

        def wrap(name, fn):
            def call(*args, **kwargs):
                with t.span(f"dedup.{name}"):
                    out = fn(*args, **kwargs)
                self.built[name] = (args, out)
                return out
            return call
        steps = {name: getattr(dedup, name) for name in DEDUP_STEPS}
        for name, fn in steps.items():
            setattr(dedup, name, wrap(name, fn))
        try:
            survivors = dedup.dedup_clean(self.df, "id", variant="fast")
        finally:
            for name, fn in steps.items():
                setattr(dedup, name, fn)
        with t.span("dedup.apply_drops"):
            n = survivors.count()
        t.idle()
        t.count("dedup.dropped", self.docs - n)
        return n

    def isolated(self, t) -> None:
        """The frames dedup_clean's steps returned, counted in their own
        spans; the candidate and Jaccard frames are cached so that each
        span computes only its own step."""
        (_, drop), (_, cand), (_, pairs) = (
            self.built[name] for name in DEDUP_STEPS[:3])
        edges = self.built["connected_components"][0][0]
        with t.span("dedup.exact_drop_list"):
            drop.count()
        held = [cand.persist(), pairs.persist()]
        try:
            with t.span("dedup.minhash_candidates"):
                n_cand = cand.count()
            with t.span("dedup.ngram_jaccard"):
                pairs.count()
                n_edges = edges.count()
            t.idle()
        finally:
            for df in held:
                df.unpersist()
        t.count("dedup.candidate_pairs", n_cand)
        t.count("dedup.verified_edges", n_edges)
        t.count("dedup.edge_yield", n_edges / max(n_cand, 1))


WORKLOADS = {w.name: w for w in (Suite, Resume, Dedup)}

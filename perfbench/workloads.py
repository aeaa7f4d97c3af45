"""The workloads. Each is closed loop with one client: the next
call into the package is issued only after the previous one returned.

A workload prepares its seeded inputs, warms up (counted in setup_s),
runs one operation per `op()` call, checks every operation's output
outside the timed window, and, when traced, runs the per-layer probes
of the layers its operations call."""

from __future__ import annotations

import hashlib
import os
import statistics
import traceback

import duckdb
import pandas as pd
from pyspark.sql import functions as F

from curator_spark.config import QualityConfig
from curator_spark.oracle.compare import frame_hash
from curator_spark.oracle.quality_oracle import run_oracle
from curator_spark.pipeline.catalog import open_table
from curator_spark.pipeline.fingerprint import run_fingerprint
from curator_spark.pipeline.run import QualityPipeline
from curator_spark.queries import ALL_QUERIES, MEASURED, ORACLES

import gen
import layers
from host import log, now

TEXT_OPS_QUERIES = (
    "dedup_exact", "dedup_normalized", "dedup_jaccard_pairs", "dedup_minhash_lsh",
    "dedup_clusters", "boilerplate_segments", "substring_dup_spans",
    "decontaminate", "decontaminate_hashed", "decontaminate_fuzzy", "curation_e2e",
    "doc_winnowing", "gopher_repetition", "c4_line_filter",
)
if not set(TEXT_OPS_QUERIES) <= set(MEASURED):
    raise ImportError(f"not MEASURED queries: {set(TEXT_OPS_QUERIES) - set(MEASURED)}")

# per-layer metrics, in BENCHMARK.json order; a layer that a workload's
# operations never call reports 0
PER_LAYER = (
    list(layers.LADDER_METRICS)
    + [
        "stages.score.text_return_frac",
        "functions.vectorized.encode_texts_s",
        "functions.vectorized.langid_scores_s",
        "functions.vectorized.perplexities_s",
        "functions.scrub_core.scrub_series_s",
        "functions.scrub_core.candidate_frac",
        "functions.scrub_core.hit_frac",
        "functions.scrub_core.useful_ratio",
        "arrow.pandas_roundtrip_s",
        "pipeline.files_written",
        "pipeline.failed_rows",
        "pipeline.stored_bytes_per_input_byte",
        "pipeline.fingerprint_s",
        "pipeline.catalog.append_s",
        "pipeline.catalog.active_commits_s",
        "pipeline.committed_buckets_s",
        "pipeline.incremental_state_s",
        "pipeline.files_per_slice",
        "pipeline.catalog.commits",
        "pipeline.catalog.manifest_bytes",
        "pipeline.slice_s_growth",
        "scaling.docs_per_s_1cpu",
        "scaling.eff_1toN",
        "trace.overhead_s",
    ]
    + [m for q in TEXT_OPS_QUERIES for m in (f"queries.{q}_s", f"queries.{q}.rows_out")]
)
_COUNTS = ("rows_out", "files_written", "failed_rows", "files_per_slice", "commits")


def unit(metric: str) -> str:
    if metric.endswith("_s"):
        return "s"
    if metric.endswith(_COUNTS):
        return "count"
    if metric.endswith("_bytes"):
        return "bytes"
    if metric.endswith("docs_per_s_1cpu"):
        return "docs/s"
    return "ratio"


def _files(root: str, suffix: str) -> list[str]:
    return [
        os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs if f.endswith(suffix)
    ]


def _bytes(root: str, suffix: str = ".parquet") -> int:
    return sum(os.path.getsize(p) for p in _files(root, suffix))


def _sha(s) -> str | None:
    return None if s is None else hashlib.sha256(s.encode("utf-8", "surrogatepass")).hexdigest()


def output_digest(spark, pipe, fp: str) -> tuple:
    """Order-independent digest of one run's committed output."""
    out = pipe.read_output(spark, fp)
    return tuple(out.agg(F.count("*"), F.bit_xor(F.xxhash64(*out.columns))).first())


def check_run_result(spark, pipe, res, failed_expected: int) -> list[str]:
    """RunResult against QualityPipeline.metrics() and the injected
    malformed-html count."""
    bad = []
    m = pipe.metrics(spark, res.fingerprint).agg(
        F.sum("docs_seen").alias("s"), F.sum("docs_kept").alias("k")
    ).first()
    if (res.docs_seen, res.docs_kept) != (m["s"], m["k"]):
        bad.append(f"RunResult {res.docs_seen}/{res.docs_kept} vs metrics() {m['s']}/{m['k']}")
    if res.failed_rows != failed_expected:
        bad.append(f"failed_rows {res.failed_rows} vs injected {failed_expected}")
    return bad


def check_against_oracle(spark, pipe, res, oracle: pd.DataFrame) -> list[str]:
    """Per url against the pandas oracle: labels and scores exactly
    (the tests' tolerance), scrubbed text by sha256, scrub counts."""
    bad = []
    got = pipe.read_output(spark, res.fingerprint).select(
        "url", "keep", "drop_reason", "lang_pred", "lang_score", "perplexity",
        "scrubbed_text", "scrub_counts.*",
    ).toPandas().set_index("url")
    if len(got) != len(oracle) or not got.index.is_unique:
        bad.append(f"rows {len(got)} vs oracle {len(oracle)} (or duplicate urls)")
    if set(got.index) != set(oracle.index):
        return bad + ["url sets differ"]
    exp = oracle.loc[got.index]
    for col in ("keep", "drop_reason", "lang_pred", "lang_score", "perplexity"):
        a, b = got[col].fillna("<null>"), exp[col].fillna("<null>")
        n = int((a.values != b.values).sum())
        if n:
            bad.append(f"{col}: {n} rows differ")
    n = sum(_sha(a) != _sha(b) for a, b in zip(got["scrubbed_text"], exp["scrubbed_text"]))
    if n:
        bad.append(f"scrubbed_text sha256: {n} rows differ")
    for c in ("emails", "ids", "phones", "toxic"):
        n = int((got[c].values != exp[f"scrub_{c}"].values).sum())
        if n:
            bad.append(f"scrub {c}: {n} rows differ")
    return bad


def _oracle(pages: pd.DataFrame, cfg: QualityConfig) -> pd.DataFrame:
    return run_oracle(pages[["url", "text"]], cfg).set_index("url")


class Workload:
    name = ""
    cfg = QualityConfig()
    trace_min_ops = 3  # traced runs order ops traced/plain/traced
    calls_per_op = 1  # calls into the package that one op makes

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.results: list = []  # per op: whatever check() needs
        self.layer: dict[str, float] = {}
        self.extra_attempted = 0  # checked calls made outside the timed loop
        self.props: dict = {}

    def run_op(self) -> dict:
        """One closed-loop operation; an exception is a failed op."""
        try:
            return {"ok": True, **self.op()}
        except Exception:  # the loop must keep running; the op counts as failed
            log(traceback.format_exc())
            return {"ok": False, "op_s": float("nan"), "docs": 0}

    def per_layer(self) -> dict:
        out = dict.fromkeys(PER_LAYER, 0.0)
        out.update(self.layer)
        return out


class SliceFeed:
    """A local CuratedTable grown by appends, consumed slice by slice
    with QualityPipeline.run_incremental."""

    def __init__(self, c, cfg: QualityConfig, name: str) -> None:
        self.c, self.name = c, name
        self.in_table = open_table(c.work.path(name, "in_table"), c.spark)
        self.pipe = QualityPipeline(c.work.path(name, "out_table"), cfg)
        self.slices: list[pd.DataFrame] = []
        self.append_s: list[float] = []
        self.results: list = []

    def append(self, pages: pd.DataFrame) -> str:
        c = self.c
        d = c.work.path(self.name, "input", f"slice{len(self.slices):04d}")
        gen.write_parquet(pages, d, 1, gen.PAGES_ARROW)
        self.slices.append(pages)
        with c.tracer.span("pipeline.catalog.append"):
            t0 = now()
            self.in_table.append(c.spark.read.parquet(d), {"crawl": len(self.slices)})
            self.append_s.append(now() - t0)
        self.last_dir = d
        return d

    def consume(self) -> float:
        c = self.c
        with c.tracer.span("pipeline.run_incremental"):
            t0 = now()
            res = self.pipe.run_incremental(c.spark, self.in_table)
            dt = now() - t0
        self.results.append(res)
        return dt

    def layer_metrics(self, slice_s: list[float]) -> dict:
        """Catalog and snapshot costs after the table has grown."""
        c, pipe, L = self.c, self.pipe, {}
        desc = f"table:{self.in_table.root}@0..{self.in_table.current_snapshot_id()}"
        with c.tracer.span("pipeline.fingerprint"):
            t0 = now()
            run_fingerprint(desc, pipe.cfg, identity=desc)
            L["pipeline.fingerprint_s"] = now() - t0
        with c.tracer.span("pipeline.catalog.active_commits"):
            t0 = now()
            commits = pipe.table.active_commits()
            L["pipeline.catalog.active_commits_s"] = now() - t0
        with c.tracer.span("pipeline.committed_buckets"):
            t0 = now()
            pipe.committed_buckets(self.results[-1].fingerprint)
            L["pipeline.committed_buckets_s"] = now() - t0
        with c.tracer.span("pipeline.incremental_state"):
            t0 = now()
            pipe.incremental_state(self.in_table)
            L["pipeline.incremental_state_s"] = now() - t0
        L["pipeline.catalog.append_s"] = statistics.median(self.append_s)
        L["pipeline.files_per_slice"] = len(_files(pipe.table.data_dir, ".parquet")) / max(1, len(commits))
        L["pipeline.catalog.commits"] = len(commits)
        L["pipeline.catalog.manifest_bytes"] = _bytes(pipe.table.manifest_dir, ".json")
        k = max(1, len(slice_s) // 3)
        L["pipeline.slice_s_growth"] = statistics.median(slice_s[-k:]) / statistics.median(slice_s[:k])
        return L


class CrawlBatch(Workload):
    """QualityPipeline.run over pages from engine.synth (FIXTURES mix)."""

    name = "crawl_batch"
    base_docs = 30000
    warm_runs = 3
    probe_slices = 3

    def make_pages(self, n: int, seed: int) -> pd.DataFrame:
        return gen.crawl_pages(0, n, seed)

    def prepare(self) -> None:
        c = self.ctx
        self.n = max(200, int(self.base_docs * c.scale))
        self.pages = self.make_pages(self.n, c.seed)
        self.malformed = int(self.pages.get("malformed", pd.Series(dtype=bool)).sum())
        # several files per task slot, so one slow CPU does not hold a stage
        self.pages_dir = c.work.path("input", "pages")
        gen.write_parquet(self.pages[gen.PAGE_COLS], self.pages_dir, 4 * c.cpus, gen.PAGES_ARROW)
        # warm-up input: same generator, another seed, a quarter of the size
        self.warm_dir = c.work.path("input", "warm")
        self.n_warm = max(100, self.n // 4)
        warm = self.make_pages(self.n_warm, c.seed + 1_000_000)
        gen.write_parquet(warm[gen.PAGE_COLS], self.warm_dir, 4 * c.cpus, gen.PAGES_ARROW)

    def warmup(self) -> None:
        # a cold run on the small warm-up input (the JVM loads and
        # compiles the plan's code, the Python workers start and build
        # their models), then runs of the measured input while the JIT
        # compiles the hot paths. A traced run's pinned 1-CPU level warms
        # up meanwhile, on the warm-up input it scales on: a cold run and
        # one more (a second one would keep the parent waiting ~10 s and
        # bring a traced run near its time limit on a busy host)
        c = self.ctx
        if c.child is not None:
            for _ in range(2):
                c.child.submit(self.warm_dir)
        self.warm_s = []
        for d in [self.warm_dir] + [self.pages_dir] * self.warm_runs:
            t0 = now()
            QualityPipeline(c.work.fresh("warm"), self.cfg).run(c.spark, input_path=d)
            self.warm_s.append(now() - t0)
        if c.child is not None:
            self.child_warm_s = c.child.collect()

    def op(self) -> dict:
        c = self.ctx
        pipe = QualityPipeline(c.work.fresh("out"), self.cfg)
        with c.tracer.span("pipeline.run"):
            t0 = now()
            res = pipe.run(c.spark, input_path=self.pages_dir, from_html=True)
            dt = now() - t0
        self.results.append((pipe, res))
        return {"op_s": dt, "docs": self.n}

    def check(self, ops: list[dict]) -> int:
        c = self.ctx
        ok_pages = self.pages[~self.pages.get("malformed", pd.Series(False, index=self.pages.index))]
        oracle = _oracle(ok_pages, self.cfg)
        self.props = gen.properties(self.pages["text"].tolist(), oracle, self.malformed)
        # the first run is checked per url against the oracle; every
        # later run of the same input must commit the same bytes, so it
        # shares the first run's verdict
        failed, first, first_bad = 0, None, []
        for pipe, res in self.results:
            bad = check_run_result(c.spark, pipe, res, self.malformed)
            digest = output_digest(c.spark, pipe, res.fingerprint)
            if first is None:
                first = digest
                first_bad = check_against_oracle(c.spark, pipe, res, oracle)
                bad += first_bad
            elif digest != first:
                bad.append(f"output digest {digest} differs from the oracle-checked run's {first}")
            elif first_bad:
                bad.append("same output as the first run, which failed the oracle check")
            if bad:
                log(f"{self.name}: op check failed: {bad}")
                failed += 1
        return failed

    def probes(self, ops: list[dict]) -> None:
        c, L = self.ctx, self.layer
        L.update(layers.ladder(c.spark, self.pages_dir, self.cfg, c.work, c.tracer))
        L.update(layers.cores(self.pages["text"].tolist(), self.cfg, c.arrow_batch, c.tracer))
        pipe, res = self.results[-1]
        L["pipeline.files_written"] = len(_files(pipe.table.root, ".parquet"))
        L["pipeline.failed_rows"] = res.failed_rows
        L["pipeline.stored_bytes_per_input_byte"] = _bytes(pipe.table.root) / _bytes(self.pages_dir)
        # the catalog layers, on the same pages fed as a few appends
        feed, slice_s = SliceFeed(c, self.cfg, "probe"), []
        size = max(1, self.n // 20)
        for k in range(self.probe_slices):
            feed.append(self.pages[gen.PAGE_COLS].iloc[k * size : (k + 1) * size])
            slice_s.append(feed.consume())
        L.update(feed.layer_metrics(slice_s))
        with c.tracer.span("pipeline.fingerprint"):
            t0 = now()
            run_fingerprint(self.pages_dir, self.cfg, spark=c.spark)
            L["pipeline.fingerprint_s"] = now() - t0
        if c.child is not None:
            # on the warm-up input: at local[1] a run of the measured
            # pages is too long for the traced run's time limit
            L.update(layers.scaling(c.spark, c.child, self.warm_dir, self.n_warm, c.cpus, c.work, c.tracer))
            L["scaling.child_warmup_s"] = self.child_warm_s


class CrawlHeavy(CrawlBatch):
    """The same entry point over long, PII-dense pages with non-ASCII
    neighbours and ~1% malformed html (quarantined, not failed)."""

    name = "crawl_heavy"
    base_docs = 5000
    cfg = QualityConfig(require_all_rows=False)

    def make_pages(self, n: int, seed: int) -> pd.DataFrame:
        return gen.heavy_pages(n, seed)


class CrawlIncremental(Workload):
    """Many small appends of the crawl_batch mix to a local
    CuratedTable, each followed by QualityPipeline.run_incremental."""

    name = "crawl_incremental"
    base_slice = 2000
    warm_slices = 2

    def prepare(self) -> None:
        self.s = max(50, int(self.base_slice * self.ctx.scale))
        self.feed = SliceFeed(self.ctx, self.cfg, "feed")

    def _next_slice(self) -> pd.DataFrame:
        return gen.crawl_pages(len(self.feed.slices) * self.s, self.s, self.ctx.seed)

    def warmup(self) -> None:
        for _ in range(self.warm_slices):
            self.feed.append(self._next_slice())
            self.feed.consume()

    def op(self) -> dict:
        # the slice's time runs from the append's commit returning
        self.feed.append(self._next_slice())
        return {"op_s": self.feed.consume(), "docs": self.s}

    def check(self, ops: list[dict]) -> int:
        c, feed = self.ctx, self.feed
        measured = feed.results[self.warm_slices :]
        failed = sum(res.cached or res.docs_seen != self.s for res in measured)
        allp = pd.concat(feed.slices, ignore_index=True)
        out = feed.pipe.table.read(c.spark).select("url", "keep", "drop_reason").toPandas()
        dup = int(out["url"].duplicated().sum())
        missing = len(set(allp["url"]) - set(out["url"]))
        state = feed.pipe.incremental_state(feed.in_table)
        incomplete = sum(not s["complete"] for s in state)
        oracle = _oracle(allp, self.cfg)
        self.props = gen.properties(allp["text"].tolist(), oracle)
        exp = oracle.loc[out["url"]]
        wrong = int(
            (out["keep"].values != exp["keep"].values).sum()
            + (out["drop_reason"].fillna("").values != exp["drop_reason"].fillna("").values).sum()
        )
        if dup or missing or incomplete or wrong or len(state) != len(feed.slices):
            log(f"crawl_incremental: dup={dup} missing={missing} incomplete={incomplete} "
                f"wrong={wrong} slices={len(state)}/{len(feed.slices)}")
            # the table-wide checks cannot name one slice: fail them all
            failed = len(measured)
        return failed

    def probes(self, ops: list[dict]) -> None:
        c, L, feed = self.ctx, self.layer, self.feed
        L.update(layers.ladder(c.spark, feed.last_dir, self.cfg, c.work, c.tracer))
        L.update(layers.cores(feed.slices[-1]["text"].tolist(), self.cfg, c.arrow_batch, c.tracer))
        L.update(feed.layer_metrics([o["op_s"] for o in ops if o["ok"]]))
        L["pipeline.files_written"] = L["pipeline.files_per_slice"]
        L["pipeline.failed_rows"] = feed.results[-1].failed_rows
        L["pipeline.stored_bytes_per_input_byte"] = (
            _bytes(feed.pipe.table.data_dir) / _bytes(feed.in_table.data_dir)
        )


class TextOps(Workload):
    """The document-level dedup / decontamination / filter queries of
    the MEASURED registry over a seeded `documents` table, each forced
    through a noop write."""

    name = "text_ops"
    base_docs = 300
    calls_per_op = len(TEXT_OPS_QUERIES)

    def prepare(self) -> None:
        c = self.ctx
        self.n = max(60, int(self.base_docs * c.scale))
        self.docs = gen.documents(self.n, c.seed)
        self.sf = c.work.path("sf")
        self.docs.to_parquet(os.path.join(self.sf, "documents.parquet"), index=False)
        self.props = gen.properties(self.docs["text"].tolist(), None)
        self.collected: dict[str, pd.DataFrame] = {}
        self.extra_attempted = len(TEXT_OPS_QUERIES)

    def warmup(self) -> None:
        # the first pass collects every result for the correctness check;
        # the second, a pass as the operation makes it, still runs partly
        # interpreted code and costs ~25% more CPU than the passes after
        # it, so it is not timed either
        self.warm_s = {}
        for q in TEXT_OPS_QUERIES:
            t0 = now()
            self.collected[q] = ALL_QUERIES[q](self.ctx.spark, self.sf).toPandas()
            self.warm_s[q] = now() - t0
        self.warm_s["noop_pass"] = self._pass()

    def _pass(self) -> float:
        c = self.ctx
        t0 = now()
        for q in TEXT_OPS_QUERIES:
            with c.tracer.span(f"queries.{q}"):
                ALL_QUERIES[q](c.spark, self.sf).write.format("noop").mode("overwrite").save()
        return now() - t0

    def op(self) -> dict:
        return {"op_s": self._pass(), "docs": self.n}

    def check(self, ops: list[dict]) -> int:
        failed = 0
        con = duckdb.connect()
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{self.sf}/documents.parquet'")
        for q, got in self.collected.items():
            exp = con.execute(ORACLES[q]).df()
            if sorted(got.columns) != sorted(exp.columns) or frame_hash(got) != frame_hash(exp):
                log(f"text_ops: {q} differs from its DuckDB oracle")
                failed += 1
        con.close()
        return failed

    def probes(self, ops: list[dict]) -> None:
        st = self.ctx.tracer.self_times()
        for q in TEXT_OPS_QUERIES:
            agg = st.get(f"queries.{q}", {"count": 0, "self_s": 0.0})
            self.layer[f"queries.{q}_s"] = agg["self_s"] / max(1, agg["count"])
            self.layer[f"queries.{q}.rows_out"] = len(self.collected[q])


WORKLOADS = {w.name: w for w in (CrawlBatch, CrawlHeavy, CrawlIncremental, TextOps)}

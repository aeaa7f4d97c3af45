"""Physical-plan assertions — the "is this the plan you'd want at
100 TB" checks, kept green in CI so optimizations don't silently
regress.

Each test inspects the executed/formatted plan for the properties that
matter at scale: column pruning (never scan `html` for text-only
stages), predicate pushdown into the parquet scan, broadcast joins for
small dims, whole-stage codegen for the native rule exprs, and
shuffle-count bounds.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from curator_spark.queries import ALL_QUERIES


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@pytest.fixture(scope="module")
def pages(spark, pages_path):
    return spark.read.parquet(pages_path)


def test_rules_prune_html_column(spark, pages, cfg):
    """Rule stats touch only `text` — the binary html column must not
    reach the scan's ReadSchema."""
    from curator_spark.stages.rules import with_rule_stats

    df = with_rule_stats(pages, "text").select("url", "word_count")
    plan = _formatted(df)
    assert "html" not in plan, "html column not pruned from scan"
    assert "text" in plan


def test_filter_pushdown_to_parquet(spark, pages):
    df = pages.where(F.col("lang") == "en").select("url")
    plan = _formatted(df)
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan


def test_native_rule_stage_is_codegen_no_python(spark, pages, cfg):
    """The cascade student's rule stats (stages/cascade.py
    with_native_features) stay JVM-side: no Python eval operators, and
    the project runs inside WholeStageCodegen. The pipeline itself
    takes its rule stats from the scoring UDF instead
    (test_quality_plan_scores_in_one_arrow_node)."""
    from curator_spark.stages.decide import with_decision
    from curator_spark.stages.rules import with_rule_flags, with_rule_stats

    df = pages.select("url", "text", F.lit("en").alias("lang_pred"),
                      F.lit(1.0).alias("lang_score"),
                      F.lit(10.0).alias("perplexity"))
    df = with_rule_stats(df, "text")
    df = with_rule_flags(df, cfg)
    df = with_decision(df, cfg)
    out = df.select("url", "keep", "drop_reason")
    plan = _executed(out)
    assert "EvalPython" not in plan
    # whole-stage-codegen'd operators carry the '*(n)' prefix in
    # executedPlan().toString() (Spark 4.x drops the literal
    # "WholeStageCodegen" label from explain output)
    assert plan.lstrip().startswith("*(")


def test_udf_stages_are_arrow_batched(spark, pages, cfg):
    """Model scoring must use ArrowEvalPython (vectorized), never
    row-at-a-time BatchEvalPython."""
    from curator_spark.stages.score import with_scores

    df = with_scores(pages, cfg, "text")
    plan = _executed(df.select("url", "lang_pred", "perplexity", "scrubbed_text"))
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan


def _walk_plan(df, visit) -> None:
    """Call `visit` on every dict and list of the optimized logical
    plan's JSON, depth first."""
    import json

    def walk(x) -> None:
        visit(x)
        if isinstance(x, dict):
            for v in x.values():
                walk(v)
        elif isinstance(x, list):
            for v in x:
                walk(v)

    walk(json.loads(df._jdf.queryExecution().optimizedPlan().toJSON()))


def _short(node: dict) -> str:
    return node["class"].rsplit(".", 1)[-1]


def _expression_classes(df) -> set[str]:
    """Simple class names of every node and expression in the
    optimized logical plan."""
    found: set[str] = set()

    def visit(x) -> None:
        if isinstance(x, dict) and isinstance(x.get("class"), str):
            found.add(_short(x))

    _walk_plan(df, visit)
    return found


def _tree(nodes: list, i: int = 0) -> tuple[tuple, int]:
    """Rebuild the (class, children) tree serialized in pre-order at
    nodes[i]; also return the index just past it."""
    kids, j = [], i + 1
    for _ in range(nodes[i]["num-children"]):
        kid, j = _tree(nodes, j)
        kids.append(kid)
    return (_short(nodes[i]), kids), j


def _subtrees(tree: tuple):
    yield tree
    for kid in tree[1]:
        yield from _subtrees(kid)


def _tokenizes(cls: str) -> bool:
    return cls == "StringSplit" or cls.startswith("RegExp")


def _lambda_resplits(df) -> list[str]:
    """Tokenizing subtrees (StringSplit / RegExp*) inside a
    higher-order function's lambda body that hold no lambda variable.
    Spark evaluates such a captured expression once per array element,
    so a split of the page inside a per-word lambda costs O(words²) per
    row; the word array must be projected as a column first
    (functions/textstats.word_ngrams / word_chunks)."""
    bad: list[str] = []

    def visit(x) -> None:
        if not (
            isinstance(x, list) and x and isinstance(x[0], dict)
            and "num-children" in x[0]
        ):
            return
        for lam in _subtrees(_tree(x)[0]):
            if lam[0] != "LambdaFunction":
                continue
            for sub in _subtrees(lam[1][0]):  # the lambda body
                classes = {c for c, _ in _subtrees(sub)}
                if _tokenizes(sub[0]) and "NamedLambdaVariable" not in classes:
                    bad.append(sub[0])

    _walk_plan(df, visit)
    return bad


def test_lambda_resplit_lint_trips_on_inline_split(spark):
    """Self-test of the lint: a page split captured inside a per-element
    lambda is flagged; the same split projected once is not."""
    from curator_spark.functions.textstats import words

    df = spark.createDataFrame([("a b c",)], "text string")
    seq = F.sequence(F.lit(1), F.lit(3))
    inline = df.select(
        F.transform(seq, lambda i: F.element_at(words(F.col("text")), i))
    )
    assert _lambda_resplits(inline) == ["StringSplit"]
    projected = df.withColumn("ws", words(F.col("text"))).select(
        F.transform(seq, lambda i: F.element_at(F.col("ws"), i)),
        F.transform(seq, lambda i: F.size(F.col("ws")) + i),
    )
    assert _lambda_resplits(projected) == []


@pytest.mark.parametrize("name", sorted(ALL_QUERIES))
def test_no_query_resplits_inside_a_lambda(spark, name):
    from test_queries_oracle import SF_DIR

    assert _lambda_resplits(ALL_QUERIES[name](spark, SF_DIR)) == []


def test_near_dup_index_plans_do_not_resplit_inside_a_lambda(spark, tmp_path):
    """The NearDupIndex key derivation and confirm step tokenize each
    page once (the same lint as the registry queries)."""
    from curator_spark.pipeline.dedup_index import NearDupIndex

    idx = NearDupIndex(str(tmp_path / "idx"), n_buckets=4)
    pages = spark.createDataFrame(
        [("u1", "a b c d"), ("u2", "a b c e")], "url string, text string"
    )
    marked = pages.select(
        "url", "text",
        F.lit(True).alias("near_dup_candidate"),
        F.lit("u1").alias("near_dup_canonical"),
    )
    assert _lambda_resplits(idx._exploded_keys(pages)) == []
    assert _lambda_resplits(idx.confirm_candidates(spark, marked, pages)) == []


def test_quality_plan_scores_in_one_arrow_node(spark, pages, cfg):
    """langid, perplexity, scrub and the rule stats share ONE Arrow
    round-trip of the text per batch — one ArrowEvalPython node in the
    whole plan — and no JVM text scan for the rule stats is left over,
    so they are never computed twice."""
    from curator_spark.pipeline.run import OUT_COLS, quality_plan, with_bucket

    df = with_bucket(pages, cfg.n_buckets)
    out = quality_plan(df, cfg, "text").select(*OUT_COLS)
    plan = _executed(out)
    assert plan.count("ArrowEvalPython") == 1, plan
    assert "BatchEvalPython" not in plan, plan
    classes = _expression_classes(out)
    assert "ArrowEvalPython" in classes  # the walk sees the whole plan
    leftover = {
        "RegExpCount", "StringSplit", "ArrayDistinct", "StringTranslate"
    } & classes
    assert not leftover, leftover


def test_small_dim_join_broadcasts(spark, sf_dir="/root/testdata/sf0.001"):
    from curator_spark.queries.relationalq import q_top_customers

    plan = _executed(q_top_customers(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_pipeline_single_shuffle(spark, pages, cfg):
    """The scoring pipeline shuffles exactly once (the bucket_id
    repartition for the partitioned write) — every UDF/rule stage runs
    pre-shuffle at scan parallelism."""
    from curator_spark.pipeline.run import OUT_COLS, quality_plan, with_bucket

    df = with_bucket(pages, cfg.n_buckets).withColumn("doc_text", F.col("text"))
    out = quality_plan(df, cfg, text_col="doc_text").select(*OUT_COLS)
    out = out.repartition("bucket_id")
    plan = _executed(out)
    assert plan.count("Exchange") == 1


def test_exact_dedup_partial_aggregation(spark):
    """Hash-groupBy dedup must do map-side partial aggregation so the
    shuffle carries one row per (hash, partition), not the corpus."""
    from curator_spark.queries.dedupq import q_dedup_exact

    plan = _executed(q_dedup_exact(spark, "/root/testdata/sf0.001"))
    # partial + final aggregate pair around a single exchange
    assert plan.count("HashAggregate") >= 2
    assert "partial_count" in plan or "merge_count" in plan


def test_bucket_partition_pruning(spark, pages, cfg, tmp_path):
    """The snapshot table's bucket_id directory layout must let a
    bucket-filtered read prune partitions at planning time (the
    Iceberg-partitioning analog): the scan's PartitionFilters must
    carry the bucket predicate and the scanned file list must shrink
    to the one bucket directory."""
    from curator_spark.pipeline.run import with_bucket
    from curator_spark.pipeline.snapshot import SnapshotTable

    tab = SnapshotTable(str(tmp_path / "snap"))
    df = with_bucket(pages.select("url", "text"), 8)
    tab.append(df, {"run_fingerprint": "t"}, partition_by=["bucket_id"])

    out = tab.read(spark).where(F.col("bucket_id") == 3)
    plan = _formatted(out)
    assert "PartitionFilters" in plan and "bucket_id" in plan.split(
        "PartitionFilters"
    )[1].split("\n")[0]
    n_sel = out.count()
    n_all = tab.read(spark).count()
    assert 0 < n_sel < n_all


def test_pipeline_write_plan_one_scan_one_shuffle(spark, pages_path, cfg):
    """The production write path (extract -> rules -> fused scorer ->
    decide -> quarantine routing -> bucket repartition) reads the
    input ONCE and shuffles ONCE — the failed-row branch must not add
    a second scan of the input."""
    from curator_spark.pipeline.run import staged_plan, with_bucket

    import re

    pages = with_bucket(spark.read.parquet(pages_path), 32)
    out = staged_plan(pages, cfg, from_html=True)
    plan = _formatted(out)
    # each operator appears once in the tree and once as a "(n) Op"
    # details header; count the headers
    scans = re.findall(r"^\(\d+\) Scan parquet", plan, re.M)
    exchanges = re.findall(r"^\(\d+\) Exchange", plan, re.M)
    assert len(scans) == 1, plan
    assert len(exchanges) == 1, plan


def test_dedup_flagged_write_plan_keeps_shape(spark, pages_path, cfg):
    """With a dup_of_history flag present (DedupIndex-marked re-crawl)
    the write plan must STAY one scan + one shuffle, and extraction
    must live inside the doc_text conditional — no second Project
    materializing the html binary (the naive when() over the html
    column copied every page's bytes through an extra projection)."""
    from pyspark.sql import functions as F

    from curator_spark.pipeline.run import staged_plan, with_bucket

    import re

    pages = with_bucket(spark.read.parquet(pages_path), 32).withColumn(
        "dup_of_history", F.pmod(F.xxhash64("url"), F.lit(4)) == 0
    )
    out = staged_plan(pages, cfg, from_html=True)
    plan = _formatted(out)
    scans = re.findall(r"^\(\d+\) Scan parquet", plan, re.M)
    exchanges = re.findall(r"^\(\d+\) Exchange", plan, re.M)
    assert len(scans) == 1, plan
    assert len(exchanges) == 1, plan
    # html appears only at the scan and inside the single conditional
    # extraction expression — never as a rewritten output column
    assert not re.search(r"CASE WHEN .* END AS html", plan), plan


def test_snapshot_read_prunes_bucket_partitions(spark, pages_path, cfg, tmp_path):
    """The committed output is partitioned by bucket_id, so a reader
    filtering one bucket must hit partition pruning (PartitionFilters
    in the scan), not read-all-then-filter — at corpus scale this is
    reading 1/n_buckets of the table."""
    from curator_spark.pipeline.run import QualityPipeline

    pipe = QualityPipeline(str(tmp_path / "out"), cfg)
    r = pipe.run(spark, pages_path)
    out = pipe.read_output(spark, r.fingerprint)
    one = out.where(F.col("bucket_id") == 3)
    plan = _formatted(one)
    assert "PartitionFilters" in plan
    assert "bucket_id" in plan.split("PartitionFilters", 1)[1][:200]
    # and the pruned read returns exactly that bucket's rows
    m = pipe.metrics(spark, r.fingerprint).toPandas().set_index("bucket_id")
    assert one.count() == int(m.loc[3, "docs_seen"])


def test_semdedup_upstream_computed_once(spark):
    """The hash-block-pair decomposition must not re-run the upstream
    per role (an earlier two-branch union re-ran scan -> centroids ->
    assignment once per role) and must not contain a per-cluster
    Window (a rank window hashes the whole mega-cluster into ONE
    shuffle partition — the same straggler at the exchange instead of
    the UDF). Pin: exactly 2 parquet scans (the centroid pass + the
    main pass) and zero Window operators."""
    from curator_spark.queries.simq import q_semdedup_prune

    plan = _executed(q_semdedup_prune(spark, "/root/testdata/sf0.001"))
    assert plan.count("Scan parquet") == 2, plan.count("Scan parquet")
    assert "Window" not in plan

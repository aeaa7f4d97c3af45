"""Deduplication operators over the `documents` table.

Training-data-pipeline dedup family (exact, normalized, n-gram
Jaccard, MinHash+LSH). The reference has no dedup operator (its
"dedup" is run-level caching, SURVEY §4); these are the web-scale
curation ops the north_star workload needs.

Engine-parity design: every hash is md5 (identical lowercase hex in
Spark and DuckDB) and MinHash minimizes md5 *strings* (lexicographic
min is engine-independent), so the whole MinHash/LSH construction is
bit-reproducible in both engines without any custom UDF — Catalyst
keeps it in whole-stage codegen.

Scale notes (100 TB): exact/normalized dedup = one hash-partitioned
groupBy (map-side partial agg). MinHash: the explode(shingles) blowup
is bounded per-row; signatures reduce via min() with partial
aggregation, so shuffle volume is n_docs × K hashes, not the shingle
stream. LSH band self-join is an equi-join on (band_id, band_hash) —
AQE skew-split handles hot buckets; at 500 docs local it is exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from curator_spark.functions.textstats import word_chunks, word_ngrams, words
from curator_spark.queries.common import spread, sql_words, t

MINHASH_K = 16         # OPH signature slots (one per hex digit bucket)
LSH_BANDS = 4          # bands of r = K/LSH_BANDS = 4 rows: P(candidate)
                       # = 1-(1-j^4)^4 => ~0.99 at j=0.9, ~2e-5 at j=0.1
JACCARD_THRESHOLD = 0.5  # 2-gram shingle Jaccard for near-dup pairs
# Common-shingle cutoff: shingles whose document frequency exceeds this
# are dropped from the shingle UNIVERSE (intersection AND sizes) before
# pair expansion — the standard near-dup move (a shingle in half the
# corpus carries no dedup signal but expands q^2 pairs in one bucket
# task, and its posting list is the collect_set OOM ADVICE r4 flagged).
# The DuckDB oracle applies the identical cap, so rows stay hash-matched.
JACCARD_MAX_DF = 64


# DuckDB twin of F.array_distinct(word_ngrams("ws", 2)): distinct
# word-2gram shingles, empty when fewer than 2 words.
SQL_SHINGLES2 = (
    "CASE WHEN len(ws) >= 2 THEN list_distinct(list_transform("
    "range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])) "
    "ELSE CAST([] AS VARCHAR[]) END"
)

# built on the ONE canonical SQL word definition (common.sql_words):
# an inline duplicate of the tokenizer is exactly how a future word-
# definition change (e.g. a new whitespace class) would silently split
# the Spark/DuckDB shingle parity this file's oracles depend on
SQL_WS_CTE = f"SELECT doc_id, {sql_words('text')} AS ws FROM documents"


def _bucket_pairs(ids):
    """Ordered (doc_a < doc_b) pair structs from a sorted id array —
    the in-bucket pair expansion shared by the exact-Jaccard
    co-occurrence grouping and the LSH candidate buckets (1-based
    F.slice: element i pairs with every element from i+2 on)."""
    return F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + F.lit(2), F.size(ids)),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )


# ---------------------------------------------------------------------------
# dedup_exact — hash-groupBy exact dedup.
# ---------------------------------------------------------------------------

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5(F.col("text").cast("binary")).alias("text_hash"))
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count("*").alias("dup_count"),
        )
    )


SQL_DEDUP_EXACT = """
SELECT md5(text) AS text_hash,
       min(doc_id)::BIGINT AS keep_doc_id,
       count(*)::BIGINT AS dup_count
FROM documents GROUP BY md5(text)
"""


# ---------------------------------------------------------------------------
# dedup_normalized — exact dedup after lower + whitespace collapse.
# ---------------------------------------------------------------------------

def q_dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    return (
        d.groupBy(F.md5(norm.cast("binary")).alias("norm_hash"))
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count("*").alias("dup_count"),
        )
    )


SQL_DEDUP_NORMALIZED = """
SELECT md5(trim(regexp_replace(lower(text), '[ \\t\\n\\v\\f\\r]+', ' ', 'g'), ' ')) AS norm_hash,
       min(doc_id)::BIGINT AS keep_doc_id,
       count(*)::BIGINT AS dup_count
FROM documents GROUP BY 1
"""


# ---------------------------------------------------------------------------
# dedup_url — canonical-URL dedup (the Common-Crawl "one document per
# canonical url" step that runs BEFORE any content dedup: strip scheme,
# www., query string, fragment, trailing slash; lowercase host+path).
# The testdata `documents` table has no url column, so the url is
# synthesized deterministically from (source, doc_id) with deliberate
# collisions (path = doc_id % 7) and per-row scheme/www/query noise —
# canonicalization must erase exactly the noise and keep the collisions.
# At corpus scale this is ONE hash-shuffle on the canonical url (same
# cost shape as dedup_exact but keyed on a short string, not the text).
# ---------------------------------------------------------------------------

def q_dedup_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    raw = F.concat(
        F.when(F.col("doc_id") % 2 == 0, F.lit("https://")).otherwise(
            F.lit("http://")),
        F.when(F.col("doc_id") % 3 == 0, F.lit("WWW.")).otherwise(F.lit("")),
        F.col("source"), F.lit(".example.com/p/"),
        (F.col("doc_id") % 7).cast("string"),
        F.when(F.col("doc_id") % 5 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 4 == 0,
               F.lit("?utm_source=feed#frag")).otherwise(F.lit("")),
    )
    canon = F.regexp_replace(F.lower(raw), r"^https?://(www\.)?", "")
    canon = F.regexp_replace(canon, r"[?#].*$", "")
    canon = F.regexp_replace(canon, r"/$", "")
    return (
        d.select("doc_id", canon.alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count("*").alias("dup_count"),
        )
    )


SQL_DEDUP_URL = """
WITH raw AS (
  SELECT doc_id,
    (CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'http://' END)
    || (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END)
    || source || '.example.com/p/' || (doc_id % 7)::VARCHAR
    || (CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END)
    || (CASE WHEN doc_id % 4 = 0 THEN '?utm_source=feed#frag' ELSE '' END)
    AS url
  FROM documents
)
SELECT regexp_replace(regexp_replace(regexp_replace(lower(url),
         '^https?://(www\\.)?', ''), '[?#].*$', ''), '/$', '')
         AS canonical_url,
       min(doc_id)::BIGINT AS keep_doc_id,
       count(*)::BIGINT AS dup_count
FROM raw GROUP BY 1
"""


# ---------------------------------------------------------------------------
# dedup_jaccard_pairs — exact n-gram Jaccard near-dup pairs.
# ---------------------------------------------------------------------------

def q_dedup_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    d = spread(d, spark)
    sh = d.withColumn("ws", words(F.col("text"))).select(
        "doc_id", F.explode(F.array_distinct(word_ngrams("ws", 2))).alias("sh")
    )
    # df cutoff BEFORE any posting list materializes: pass 1 is a
    # map-side-combined count whose output is one row per DISTINCT hot
    # shingle (the zipf head — tiny), anti-joined back so no bucket
    # ever holds more than JACCARD_MAX_DF ids (AQE converts the anti
    # join to broadcast at runtime from the tiny hot set's actual
    # size). Sizes are computed AFTER the cap: the capped universe is
    # the Jaccard universe, identically on both engines.
    hot = (
        sh.groupBy("sh")
        .agg(F.count("*").alias("df_cnt"))
        .filter(F.col("df_cnt") > JACCARD_MAX_DF)
        .select("sh")
    )
    sh = sh.join(hot, "sh", "left_anti")
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    # co-occurrence via bucket grouping, NOT a shingle self-join (same
    # shape as q_dedup_minhash_lsh's bucket expansion): a self-join
    # recomputes the whole shingle pipeline for both sides and pushes
    # every hot shingle's rows through the join shuffle TWICE before
    # expanding q² pairs; grouping runs the pipeline once, shuffles
    # each (shingle, doc) row once, and expands the q² pairs inside
    # the (df-capped) bucket with map-side partial aggregation of the
    # per-pair counts.
    pairs_in_bucket = _bucket_pairs(F.col("ids"))
    inter = (
        sh.groupBy("sh")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("ids"))
        .select(F.explode(pairs_in_bucket).alias("p"))
        .groupBy(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    jac = (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a")
                   .withColumnRenamed("n_sh", "sa"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b")
              .withColumnRenamed("n_sh", "sb"), "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("sa") + F.col("sb") - F.col("n_common")),
        )
        .where(F.col("jaccard") >= JACCARD_THRESHOLD)
    )
    return jac.select(
        "doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard")
    )


SQL_DEDUP_JACCARD = f"""
WITH w AS ({SQL_WS_CTE}),
sh_all AS (
  SELECT doc_id, unnest({SQL_SHINGLES2}) AS sh FROM w
),
sh AS (
  SELECT * FROM sh_all
  WHERE sh IN (SELECT sh FROM sh_all GROUP BY sh
               HAVING count(*) <= {JACCARD_MAX_DF})
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM sh a JOIN sh b USING (sh)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(n_common::DOUBLE / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE n_common::DOUBLE / (sa.n_sh + sb.n_sh - n_common) >= {JACCARD_THRESHOLD}
"""


# ---------------------------------------------------------------------------
# dedup_minhash_lsh — MinHash signatures + banded LSH candidate pairs.
# ---------------------------------------------------------------------------

HEX = "0123456789abcdef"


def _minhash_agg_cols():
    """One-permutation-hashing signature (Li, Owen & Zhang, NIPS 2012):
    ONE md5 per shingle, bucketed by its first hex digit into K=16
    bins; the signature slot for bin k is the min hash-string within
    that bin. Equivalent near-dup power to K independent min-hashes at
    1/K the hash compute — at 10^12 docs the shingle hashing IS the
    job, so this is a 12-16x saving in the hot loop. All md5/substr/
    CASE exprs stay in whole-stage codegen; groupBy(min) does map-side
    partial aggregation, so the shuffle carries only n_docs x K
    signature hashes, never the shingle stream. Empty bins (short
    docs) stay NULL and are positionally sentinel-filled at banding
    ("empty densification") so both engines band identically. Operates
    on a pre-projected `h` column so md5 runs once per shingle, not
    once per aggregate expression."""
    b = F.substring(F.col("h"), 1, 1)
    return [
        F.min(F.when(b == HEX[k], F.col("h"))).alias(f"m{k}")
        for k in range(MINHASH_K)
    ]


def _band_col(b: int, r: int):
    return F.md5(
        F.concat_ws(
            "|",
            *[
                F.coalesce(F.col(f"m{b * r + j}"), F.lit(f"~{b * r + j}"))
                for j in range(r)
            ],
        ).cast("binary")
    )


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    d = spread(d, spark)
    sh = d.withColumn("ws", words(F.col("text"))).select(
        "doc_id", F.explode(F.array_distinct(word_ngrams("ws", 2))).alias("sh")
    ).select("doc_id", F.md5(F.col("sh").cast("binary")).alias("h"))
    sig = sh.groupBy("doc_id").agg(*_minhash_agg_cols())
    r = MINHASH_K // LSH_BANDS
    bands = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        _band_col(b, r).alias("band_hash"),
                    )
                    for b in range(LSH_BANDS)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "band.band_id", "band.band_hash")
    # candidate pairs via bucket grouping, NOT a bands self-join: the
    # self-join recomputes the whole shingle->minhash->band pipeline
    # for both sides (no exchange reuse across the join) and amplifies
    # a hot band_hash quadratically through the join's shuffle.
    # Grouping runs the pipeline ONCE, shuffles each band row once,
    # and expands pairs inside the (small, near-dup-sized) bucket.
    ids = F.col("ids")
    buckets = (
        bands.groupBy("band_id", "band_hash")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("ids"))
        .where(F.size(ids) >= 2)
    )
    pairs_in_bucket = _bucket_pairs(ids)
    return (
        buckets.select(F.explode(pairs_in_bucket).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )


def _sql_minhash() -> str:
    mins = ",\n    ".join(
        f"min(CASE WHEN substr(h, 1, 1) = '{HEX[k]}' THEN h END) AS m{k}"
        for k in range(MINHASH_K)
    )
    r = MINHASH_K // LSH_BANDS

    def band_expr(b: int) -> str:
        parts = " || '|' || ".join(
            f"coalesce(m{b * r + j}, '~{b * r + j}')" for j in range(r)
        )
        return f"md5({parts})"

    band_structs = ", ".join(
        "{'band_id': %d, 'band_hash': %s}" % (b, band_expr(b))
        for b in range(LSH_BANDS)
    )
    return f"""
WITH w AS ({SQL_WS_CTE}),
sh AS (
  SELECT doc_id, md5(unnest({SQL_SHINGLES2})) AS h FROM w
),
sig AS (
  SELECT doc_id,
    {mins}
  FROM sh GROUP BY doc_id
),
bands AS (
  SELECT doc_id, unnest([{band_structs}], recursive := true)
  FROM sig
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a
JOIN bands b ON a.band_id = b.band_id AND a.band_hash = b.band_hash
WHERE a.doc_id < b.doc_id
"""


# ---------------------------------------------------------------------------
# dedup_clusters — connected components over the LSH candidate pairs:
# the step that turns pairwise near-dup hits into dedup groups (keep
# one canonical doc per component). cluster_id = min doc_id reachable.
#
# Spark side: iterative min-label propagation over the EDGE VERTEX
# SET only — each round, every paired vertex takes the min of its own
# label and its neighbors' labels; a driver loop runs rounds until a
# fixpoint; the corpus joins in exactly once at the end (isolated docs
# = singleton clusters). Rounds needed = graph diameter, and near-dup
# components are tiny (duplicate groups), so this converges in 2-3
# rounds; localCheckpoint each round truncates the lineage so the plan
# doesn't grow exponentially. At 10^12 docs this is the standard
# large-scale CC recipe with per-round shuffle width O(|pairs|), NOT
# O(|corpus|) (each round = one equi-join + partial-agg min on the
# candidate vertex table); the large-star/small-star optimization
# drops in here if diameters grow. Non-SQL-expressible iteration, but
# DuckDB's recursive CTE computes the identical fixpoint, so it still
# gets a full value-parity oracle.
# ---------------------------------------------------------------------------

def min_label_propagate(edges: DataFrame, max_rounds: int = 30) -> DataFrame:
    """Min-label propagation over a SYMMETRIC edge list (s, d) —
    returns (doc_id, label) for every vertex that appears in `edges`.

    Scale shape (VERDICT r2 ask #4): the label table is initialized
    over the EDGE VERTEX SET only (distinct endpoints), never the full
    corpus — only vertices touched by a candidate pair can ever change
    label, and near-dup pairs are a tiny fraction of a web corpus, so
    every round's join + min-agg shuffles O(|pairs|) rows instead of
    O(|corpus|). Isolated docs are attached by the caller with ONE
    final left join. Rounds needed = component diameter (duplicate
    clusters are near-cliques, 2-3 rounds); localCheckpoint per round
    truncates lineage; the `changed` probe is a limit(1) count over
    the small vertex table.
    """
    # every vertex appears as `s` (edges are symmetric), so `s`'s
    # distinct values ARE the vertex set and the per-round join can be
    # inner: each vertex has >= 1 neighbor.
    labels = (
        edges.select(F.col("s").alias("doc_id"))
        .distinct()
        .select("doc_id", F.col("doc_id").alias("label"))
        .localCheckpoint(eager=False)
    )

    def hop(lbl: DataFrame) -> DataFrame:
        neigh = (
            edges.join(lbl, edges["d"] == lbl["doc_id"])
            .groupBy(F.col("s").alias("doc_id"))
            .agg(F.min("label").alias("nlabel"))
        )
        return lbl.join(neigh, "doc_id").select(
            "doc_id",
            F.least(F.col("label"), F.col("nlabel")).alias("label"),
        )

    # TWO propagation hops per checkpoint + changed-probe cycle:
    # min-label propagation is monotone, so extra hops never change
    # the fixpoint — but each cycle's eager checkpoint and probe are
    # driver-side actions (job-submit latency locally; full label-table
    # materialization at scale), so covering the diameter in half the
    # cycles halves that fixed cost. Multi-hop convergence is pinned by
    # tests/test_cc_propagation.py.
    for _ in range(max_rounds):  # diameter bound; converges long before
        new_labels = hop(hop(labels)).localCheckpoint(eager=True)
        changed = (
            new_labels.join(labels.withColumnRenamed("label", "old"), "doc_id")
            .where(F.col("label") != F.col("old"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        # exhausted without an observed fixpoint: labels would be
        # silently WRONG (min has traveled only 2*max_rounds hops).
        # Fail loudly — a component diameter this large means the
        # caller should be on the log-round star driver instead.
        raise RuntimeError(
            f"min_label_propagate did not converge within {max_rounds} "
            "cycles (component diameter > "
            f"{2 * max_rounds}); use star_contract_components"
        )
    return labels


def _large_star(e: DataFrame) -> DataFrame:
    """One large-star round: every node links its STRICTLY LARGER
    neighbors to the minimum of its closed neighborhood."""
    sym = e.unionAll(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mn = sym.groupBy("u").agg(F.min("v").alias("mn"))
    m = F.least(F.col("u"), F.col("mn"))
    return (
        sym.join(mn, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), m.alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """One small-star round: orient every edge toward its larger
    endpoint; that endpoint links itself and all its smaller
    neighbors to the minimum among them."""
    o = e.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
    mn = o.groupBy("u").agg(F.min("v").alias("m"))
    return (
        o.join(mn, "u")
        .where(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .unionAll(mn.select("u", F.col("m").alias("v")))
        .distinct()
    )


def _propagate_exact(e: DataFrame) -> DataFrame:
    """Finish CC on a (u, v) edge set with min-label propagation,
    sized so it CANNOT truncate: diameter <= vertex count, each cycle
    covers two hops, so ceil(|V|/2)+1 cycles always reach the fixpoint
    (min_label_propagate raises rather than return wrong labels). Only
    the star driver's rare fallbacks call this — the vertex count() is
    one small action on the already-contracted set."""
    n_verts = (
        e.select(F.col("u").alias("x"))
        .unionAll(e.select(F.col("v").alias("x")))
        .distinct()
        .count()
    )
    sym = e.select(F.col("u").alias("s"), F.col("v").alias("d"))
    return min_label_propagate(
        sym.unionAll(sym.select(F.col("d").alias("s"), F.col("s").alias("d"))),
        max_rounds=max(30, n_verts // 2 + 2),
    )


def star_contract_components(edges: DataFrame, max_rounds: int = 25) -> DataFrame:
    """Connected components by alternating large-star / small-star
    contraction (Kiveris et al., "Connected Components in MapReduce
    and Beyond", ACM SoCC 2014) — same (doc_id, label = component min)
    contract and same symmetric (s, d) input as `min_label_propagate`.

    WHY A SECOND DRIVER: min-label propagation needs rounds ~=
    component DIAMETER. That is optimal for near-dup clusters (near
    cliques, diameter 2-3, the q_dedup_clusters default), but a
    pathological corpus can chain components — versioned page runs
    where each revision is near-dup with the NEXT one build a path
    whose diameter is the run length, turning the driver loop into
    O(run) barriers. Star contraction instead rewires every node to
    the minimum of its neighborhood each round, (at least) halving
    every tree's height, so ANY topology converges in O(log n)
    alternations — a diameter-10^4 chain resolves in ~14 rounds, not
    5*10^3 double-hop cycles. Per-round cost stays one groupBy + one
    join with shuffle width O(|edges|), and the edge set only shrinks
    (toward one star per component), so the scale shape matches the
    propagation loop round-for-round while the round COUNT stops
    depending on the data's worst chain.

    Termination probes the edge-set fixpoint with one symmetric
    anti-join action per round; at the fixpoint the edges are exactly
    the stars (non-root -> root), which the final projection reads off
    without any further shuffle. Equality with min_label_propagate is
    pinned across random graphs, chains, and clique mixes in
    tests/test_cc_star.py; q_dedup_clusters keeps the propagation
    driver because its diameter-2-3 inputs converge in one cycle.
    """
    out_schema = "doc_id long, label long"
    e = (
        edges.where(F.col("s") != F.col("d"))
        .select(F.greatest("s", "d").alias("u"), F.least("s", "d").alias("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    for _ in range(max_rounds):
        e2 = _small_star(_large_star(e)).localCheckpoint(eager=True)
        # exact fixpoint probe (no checksum false-match risk): the set
        # changed iff either side has a row the other lacks
        changed = (
            e2.join(e, ["u", "v"], "left_anti")
            .unionAll(e.join(e2, ["u", "v"], "left_anti"))
            .limit(1)
            .count()
        )
        e = e2
        if changed == 0:
            break
    else:
        # max_rounds exhausted without a fixpoint (log2-bounded, so
        # only reachable with an absurdly small cap): the edge set
        # still spans the same components, so the propagation driver
        # finishes the job correctly on the contracted graph.
        return _propagate_exact(e)
    if e.isEmpty():
        return edges.sparkSession.createDataFrame([], out_schema)
    # star guard: at a true fixpoint no vertex is both a pointer and a
    # target. The alternation theorem says this always holds at the
    # composed fixpoint; the guard makes correctness UNCONDITIONAL on
    # that proof for one cheap probe over the contracted (tiny) set —
    # if it ever fired, the propagation driver finishes exactly.
    non_star = (
        e.select("v").distinct()
        .join(e.select(F.col("u").alias("v")).distinct(), "v")
        .limit(1)
        .count()
    )
    if non_star:
        return _propagate_exact(e)
    pointers = e.select(F.col("u").alias("doc_id"), F.col("v").alias("label"))
    roots = (
        e.select(F.col("v").alias("doc_id")).distinct()
        .select("doc_id", F.col("doc_id").alias("label"))
    )
    return pointers.unionByName(roots).distinct()


# Edge sets at or under this count solve on the driver (union-find
# over collected (s, d) longs — ~32 MB at the cap): the NEARDUP_
# BROADCAST_CAP pattern applied to connected components. Near-dup
# edge sets are a small fraction of the corpus by construction, but
# at 10^12 docs they can still exceed any driver, so the distributed
# fixpoint stays the >cap route; identical labels either way
# (component min), pinned by tests/test_cc_propagation.py.
CC_COLLECT_CAP = 1_000_000


def _union_find_labels(spark: SparkSession, edges: DataFrame) -> DataFrame:
    """Driver-side exact component-min labels for a SMALL edge set."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for row in edges.collect():
        a, b = row.s, row.d
        for v in (a, b):
            if v not in parent:
                parent[v] = v
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)  # min root wins
    labels = [(v, find(v)) for v in parent]
    return spark.createDataFrame(labels, "doc_id long, label long")


def _clusters_query(spark: SparkSession, sf_dir: str, cc_driver) -> DataFrame:
    """Shared scaffolding for the cluster queries: LSH pairs ->
    symmetric edges -> component-min labels -> one left join attaching
    the (vast) isolated majority as singleton clusters. Both drivers
    compute the same (doc_id, component-min) contract, so both queries
    share one DuckDB oracle.

    Route gate: the edge set materializes once (eager localCheckpoint
    — the fixpoint re-reads it every hop anyway), and a cheap count on
    the checkpointed data picks driver-side union-find at or under
    CC_COLLECT_CAP (each distributed hop costs fixed job latency that
    dwarfs the actual work on a small graph) vs the distributed
    `cc_driver` fixpoint above it. `cc_driver=None` forces the
    distributed route off (star query keeps its driver — that is its
    point)."""
    pairs = q_dedup_minhash_lsh(spark, sf_dir)
    edges = pairs.selectExpr("doc_a AS s", "doc_b AS d").unionAll(
        pairs.selectExpr("doc_b AS s", "doc_a AS d")
    ).localCheckpoint()
    if cc_driver is min_label_propagate and edges.count() <= CC_COLLECT_CAP:
        labels = _union_find_labels(spark, edges)
    else:
        labels = cc_driver(edges)
    return (
        t(spark, sf_dir, "documents")
        .select("doc_id")
        .join(labels, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("label", "doc_id").alias("cluster_id"),
        )
    )


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _clusters_query(spark, sf_dir, min_label_propagate)


def q_dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_dedup_clusters with the log-round star-contraction driver
    swapped in — the SAME fixpoint (component min), so it shares
    q_dedup_clusters' DuckDB oracle verbatim. This is the driver to
    run when candidate pairs chain (versioned page runs) and the
    component diameter stops being the near-clique 2-3."""
    return _clusters_query(spark, sf_dir, star_contract_components)


def _sql_clusters() -> str:
    return f"""
WITH RECURSIVE pairs AS ({_sql_minhash()}),
edges AS (
  SELECT doc_a AS s, doc_b AS d FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
),
walk(doc_id, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT w.doc_id, e.d FROM walk w JOIN edges e ON e.s = w.r
)
SELECT doc_id, min(r)::BIGINT AS cluster_id FROM walk GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# boilerplate_segments — cross-document boilerplate measurement, the
# paragraph-dedup step of CC pipelines (headers/footers/cookie banners
# repeating across pages). Segment = non-overlapping BP_SEG_WORDS-word
# window (the synthetic corpus has no newlines, so word windows stand
# in for paragraphs; the operator is unit-agnostic). A segment seen in
# >= BP_MIN_DOCS distinct docs is boilerplate; output is the per-doc
# boilerplate fraction. Scale shape: one shuffle to count distinct
# docs per segment, one shuffle to join the (small) boilerplate set
# back — left to AQE to broadcast when it fits.
# ---------------------------------------------------------------------------

BP_SEG_WORDS = 4
BP_MIN_DOCS = 3


def q_boilerplate_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(t(spark, sf_dir, "documents"), spark)
    segs = d.withColumn("ws", words(F.col("text"))).select(
        "doc_id", F.explode(word_chunks("ws", BP_SEG_WORDS)).alias("seg")
    )
    bp = (
        segs.groupBy("seg")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .where(F.col("nd") >= BP_MIN_DOCS)
        .select("seg", F.lit(1).alias("is_bp"))
    )
    n_bp = F.sum(F.coalesce(F.col("is_bp"), F.lit(0)))
    return (
        segs.join(bp, "seg", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_segments"),
            n_bp.cast("long").alias("n_boilerplate"),
            F.round(n_bp / F.count("*"), 6).alias("boilerplate_frac"),
        )
    )


SQL_BOILERPLATE = f"""
WITH w AS ({SQL_WS_CTE}),
segs AS (
  SELECT doc_id, unnest(list_transform(
    range(1, CAST(ceil(len(ws) / {BP_SEG_WORDS}.0) AS INT) + 1),
    i -> list_aggregate(
      ws[(i-1)*{BP_SEG_WORDS}+1:(i-1)*{BP_SEG_WORDS}+{BP_SEG_WORDS}],
      'string_agg', ' '))) AS seg
  FROM w WHERE len(ws) > 0
),
bp AS (
  SELECT seg FROM segs GROUP BY seg
  HAVING COUNT(DISTINCT doc_id) >= {BP_MIN_DOCS}
)
SELECT s.doc_id,
       COUNT(*)::BIGINT AS n_segments,
       SUM(CASE WHEN b.seg IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
         AS n_boilerplate,
       round(SUM(CASE WHEN b.seg IS NOT NULL THEN 1 ELSE 0 END) * 1.0
             / COUNT(*), 6) AS boilerplate_frac
FROM segs s LEFT JOIN bp b USING (seg)
GROUP BY s.doc_id
"""


def boilerplate_scrub_frame(d: DataFrame) -> DataFrame:
    """Core of q_boilerplate_scrub over any (doc_id, text) frame —
    factored out so the pathological-shape property test
    (tests/test_boilerplate_pathological.py: one 10k-segment doc) can drive it on a
    constructed corpus."""
    segs = d.withColumn("ws", words(F.col("text"))).select(
        "doc_id",
        F.posexplode(word_chunks("ws", BP_SEG_WORDS)).alias("pos", "seg"),
    )
    bp = (
        segs.groupBy("seg")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .where(F.col("nd") >= BP_MIN_DOCS)
        .select("seg", F.lit(1).alias("is_bp"))
    )
    parts = F.array_sort(
        F.collect_list(F.struct("pos", "seg", "is_bp"))
    )
    kept = F.filter(parts, lambda s: s["is_bp"].isNull())
    return (
        segs.join(bp, "seg", "left")
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(kept, lambda s: s["seg"]), " "
            ).alias("clean_text"),
            F.sum(F.coalesce(F.col("is_bp"), F.lit(0)))
            .cast("long")
            .alias("n_removed"),
        )
    )


def q_boilerplate_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rewrite each doc with boilerplate segments REMOVED (the actual
    paragraph-dedup transformation, not just the metric): explode with
    position, flag boilerplate, reassemble the survivors in original
    order. Order preservation costs a collect_list + array_sort per
    doc — bounded by doc length, not corpus size (pinned by the
    10k-segment property test in tests/test_boilerplate_pathological.py)."""
    return boilerplate_scrub_frame(spread(t(spark, sf_dir, "documents"), spark))


SQL_BOILERPLATE_SCRUB = f"""
WITH w AS ({SQL_WS_CTE}),
segs AS (
  SELECT doc_id, i - 1 AS pos,
         list_aggregate(
           ws[(i-1)*{BP_SEG_WORDS}+1:(i-1)*{BP_SEG_WORDS}+{BP_SEG_WORDS}],
           'string_agg', ' ') AS seg
  FROM w, unnest(range(1,
    CAST(ceil(len(ws) / {BP_SEG_WORDS}.0) AS INT) + 1)) AS t(i)
  WHERE len(ws) > 0
),
bp AS (
  SELECT seg FROM segs GROUP BY seg
  HAVING COUNT(DISTINCT doc_id) >= {BP_MIN_DOCS}
)
SELECT s.doc_id,
       coalesce(string_agg(s.seg, ' ' ORDER BY s.pos)
                FILTER (WHERE b.seg IS NULL), '') AS clean_text,
       SUM(CASE WHEN b.seg IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
         AS n_removed
FROM segs s LEFT JOIN bp b USING (seg)
GROUP BY s.doc_id
"""


# ---------------------------------------------------------------------------
# substring_dup_spans — ExactSubstr-style duplicated-span measurement
# (Lee et al. 2021, "Deduplicating Training Data Makes Language Models
# Better", arXiv:2107.06499): a character window duplicated VERBATIM in
# any other document marks a duplicated span, catching copy-paste
# duplication that word/segment units miss (not aligned to word or
# paragraph boundaries). The paper's suffix array finds every maximal
# duplicate; the distributed restatement samples overlapping
# SUB_GRAM-char windows every SUB_STRIDE chars — any duplicate run
# >= SUB_GRAM + SUB_STRIDE - 1 chars is guaranteed to contain a
# sampled window, so recall is exact above that span length. Windows
# travel as md5 hashes (fixed 32-byte keys), so the dup-count shuffle
# is narrow regardless of window width. One shuffle to count distinct
# docs per window hash, one to join the flags back (AQE broadcasts the
# dup set when small). Per-doc output: fraction of sampled windows
# that are cross-doc duplicates.
# ---------------------------------------------------------------------------

SUB_GRAM = 40    # window width (chars)
SUB_STRIDE = 20  # sampling stride (chars)


def q_substring_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(t(spark, sf_dir, "documents"), spark)
    # substring's (pos, len) must be column-valued inside the lambda,
    # so the window array is built as a SQL expr
    wins = F.when(
        F.length("text") >= SUB_GRAM,
        F.expr(
            f"transform(sequence(1, CAST(floor((length(text) - {SUB_GRAM})"
            f" / {float(SUB_STRIDE)}) AS INT) + 1),"
            f" i -> md5(CAST(substring(text, (i-1)*{SUB_STRIDE}+1,"
            f" {SUB_GRAM}) AS BINARY)))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = d.select("doc_id", F.explode(wins).alias("h"))
    dup = (
        grams.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .where(F.col("nd") >= 2)
        .select("h", F.lit(1).alias("is_dup"))
    )
    n_dup = F.sum(F.coalesce(F.col("is_dup"), F.lit(0)))
    return (
        grams.join(dup, "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_windows"),
            n_dup.cast("long").alias("n_dup"),
            F.round(n_dup / F.count("*"), 6).alias("dup_frac"),
        )
    )


SQL_SUBSTRING_DUP_SPANS = f"""
WITH grams AS (
  SELECT doc_id,
    md5(substr(text, (i-1)*{SUB_STRIDE}+1, {SUB_GRAM})) AS h
  FROM documents,
    unnest(range(1, CAST(floor((length(text) - {SUB_GRAM})
      / {float(SUB_STRIDE)}) AS INT) + 2)) AS t(i)
  WHERE length(text) >= {SUB_GRAM}
),
dup AS (
  SELECT h FROM grams GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2
)
SELECT g.doc_id,
  COUNT(*)::BIGINT AS n_windows,
  SUM(CASE WHEN d.h IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_dup,
  round(SUM(CASE WHEN d.h IS NOT NULL THEN 1 ELSE 0 END) * 1.0
        / COUNT(*), 6) AS dup_frac
FROM grams g LEFT JOIN dup d USING (h)
GROUP BY g.doc_id
"""


# ---------------------------------------------------------------------------
# substring_dup_scrub — the ExactSubstr REMOVAL step (Lee et al. 2021,
# arXiv:2107.06499 §4.1: "deduplicate by removing all but one of the
# duplicated substrings"): substring_dup_spans finds the duplicated
# windows; this query actually rewrites the corpus. Keep-one-copy is
# made deterministic with a canonical-keeper rule — for each
# cross-doc-duplicated window hash, the doc with MIN doc_id keeps its
# occurrence(s); every other doc has that window's char span removed.
# Overlapping flagged windows union into spans via a cursor fold over
# the doc's sorted flagged start offsets (per-row, bounded by doc
# length); the DuckDB twin merges the same spans relationally
# (gaps-and-islands windows) — different algorithm, identical bytes.
# Scale shape: the spans pipeline's two narrow md5 shuffles, plus one
# per-doc collect of flagged starts and a join back to text; docs with
# no flagged window never enter the fold (left join, coalesce to the
# original text).
# ---------------------------------------------------------------------------


def q_substring_dup_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(t(spark, sf_dir, "documents"), spark)
    wins = F.when(
        F.length("text") >= SUB_GRAM,
        F.expr(
            f"transform(sequence(1, CAST(floor((length(text) - {SUB_GRAM})"
            f" / {float(SUB_STRIDE)}) AS INT) + 1),"
            f" i -> struct(i AS i, md5(CAST(substring(text,"
            f" (i-1)*{SUB_STRIDE}+1, {SUB_GRAM}) AS BINARY)) AS h))"
        ),
    )  # no otherwise: explode() skips the NULL array of a short doc
    grams = d.select("doc_id", F.explode(wins).alias("w")).select(
        "doc_id", F.col("w.i").alias("i"), F.col("w.h").alias("h")
    )
    dup = (
        grams.groupBy("h")
        .agg(
            F.countDistinct("doc_id").alias("nd"),
            F.min("doc_id").alias("keeper"),
        )
        .where(F.col("nd") >= 2)
    )
    flagged = (
        grams.join(dup, "h")
        .where(F.col("doc_id") != F.col("keeper"))
        .select(
            "doc_id",
            ((F.col("i") - 1) * SUB_STRIDE + 1).alias("s"),
        )
    )
    spans = flagged.groupBy("doc_id").agg(
        F.array_sort(F.collect_list("s")).alias("starts"),
        F.count("*").cast("long").alias("n_dup"),
    )

    init = F.struct(F.lit(1).alias("cur"), F.lit("").alias("out"))

    def merge(acc: Column, st: Column) -> Column:
        piece = F.substr(
            F.col("text"), acc["cur"], F.greatest(st - acc["cur"], F.lit(0))
        )
        return F.struct(
            F.greatest(acc["cur"], st + F.lit(SUB_GRAM)).alias("cur"),
            F.concat(acc["out"], piece).alias("out"),
        )

    def finish(acc: Column) -> Column:
        return F.concat(
            acc["out"],
            F.substr(
                F.col("text"), acc["cur"],
                F.greatest(F.length("text") - acc["cur"] + 1, F.lit(0)),
            ),
        )

    scrubbed = F.when(
        F.col("starts").isNull(), F.col("text")
    ).otherwise(F.aggregate(F.col("starts"), init, merge, finish))
    return d.join(spans, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_dup", F.lit(0)).cast("long").alias("n_dup_windows"),
        (F.length("text") - F.length(scrubbed)).cast("long").alias(
            "removed_chars"
        ),
        scrubbed.alias("scrubbed_text"),
    )


SQL_SUBSTRING_DUP_SCRUB = f"""
WITH grams AS (
  SELECT doc_id, i,
    md5(substr(text, (i-1)*{SUB_STRIDE}+1, {SUB_GRAM})) AS h
  FROM documents,
    unnest(range(1, CAST(floor((length(text) - {SUB_GRAM})
      / {float(SUB_STRIDE)}) AS INT) + 2)) AS t(i)
  WHERE length(text) >= {SUB_GRAM}
),
dup AS (
  SELECT h, min(doc_id) AS keeper FROM grams
  GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2
),
flagged AS (
  SELECT g.doc_id, (g.i-1)*{SUB_STRIDE}+1 AS s
  FROM grams g JOIN dup d USING (h)
  WHERE g.doc_id <> d.keeper
),
m AS (
  SELECT doc_id, s,
    max(s + {SUB_GRAM}) OVER (PARTITION BY doc_id ORDER BY s
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS end_before
  FROM flagged
),
isl AS (
  SELECT doc_id, s,
    sum(CASE WHEN end_before IS NULL OR s >= end_before THEN 1 ELSE 0 END)
      OVER (PARTITION BY doc_id ORDER BY s) AS island
  FROM m
),
islands AS (
  SELECT doc_id, island, min(s) AS is_start,
         max(s) + {SUB_GRAM} - 1 AS is_end
  FROM isl GROUP BY doc_id, island
),
gaps AS (
  SELECT doc_id, island, is_start,
    lag(is_end) OVER (PARTITION BY doc_id ORDER BY is_start) AS prev_end
  FROM islands
),
pieces AS (
  SELECT g.doc_id, g.island AS ord,
    substr(d.text, coalesce(g.prev_end, 0) + 1,
           g.is_start - coalesce(g.prev_end, 0) - 1) AS piece
  FROM gaps g JOIN documents d USING (doc_id)
  UNION ALL
  SELECT le.doc_id, 2147483647 AS ord, substr(d.text, le.last_end + 1) AS piece
  FROM (SELECT doc_id, max(is_end) AS last_end FROM islands GROUP BY doc_id) le
  JOIN documents d USING (doc_id)
),
scrub AS (
  SELECT doc_id, string_agg(piece, '' ORDER BY ord) AS scrubbed
  FROM pieces GROUP BY doc_id
),
nd AS (SELECT doc_id, count(*)::BIGINT AS n_dup FROM flagged GROUP BY doc_id)
SELECT d.doc_id,
  coalesce(nd.n_dup, 0)::BIGINT AS n_dup_windows,
  (length(d.text) - length(coalesce(s.scrubbed, d.text)))::BIGINT
    AS removed_chars,
  coalesce(s.scrubbed, d.text) AS scrubbed_text
FROM documents d
LEFT JOIN scrub s USING (doc_id)
LEFT JOIN nd USING (doc_id)
"""


QUERIES = {
    "dedup_exact": q_dedup_exact,
    "dedup_normalized": q_dedup_normalized,
    "dedup_url": q_dedup_url,
    "dedup_jaccard_pairs": q_dedup_jaccard_pairs,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_clusters": q_dedup_clusters,
    "dedup_clusters_star": q_dedup_clusters_star,
    "boilerplate_segments": q_boilerplate_segments,
    "boilerplate_scrub": q_boilerplate_scrub,
    "substring_dup_spans": q_substring_dup_spans,
    "substring_dup_scrub": q_substring_dup_scrub,
}

ORACLES = {
    "dedup_exact": SQL_DEDUP_EXACT,
    "dedup_normalized": SQL_DEDUP_NORMALIZED,
    "dedup_url": SQL_DEDUP_URL,
    "dedup_jaccard_pairs": SQL_DEDUP_JACCARD,
    "dedup_minhash_lsh": _sql_minhash(),
    "dedup_clusters": _sql_clusters(),
    "dedup_clusters_star": _sql_clusters(),
    "boilerplate_segments": SQL_BOILERPLATE,
    "boilerplate_scrub": SQL_BOILERPLATE_SCRUB,
    "substring_dup_spans": SQL_SUBSTRING_DUP_SPANS,
    "substring_dup_scrub": SQL_SUBSTRING_DUP_SCRUB,
}

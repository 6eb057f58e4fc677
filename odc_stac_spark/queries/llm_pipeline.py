"""Higher-order training-data pipeline operators.

- **dedup clustering**: near-dup pairs → connected components via
  iterative min-label propagation (the step after LSH in a real dedup
  pipeline: pick one survivor per duplicate cluster). Genuinely iterative
  DataFrame algorithm — loop on the driver, joins in the cluster,
  persist+localCheckpoint each round to cut lineage. The DuckDB oracle is
  a recursive CTE computing the same min-reachable-id labels.
- **stratified sampling**: deterministic md5-hash gate per document with
  per-language rates — reproducible sampling (no rand()), exactly what a
  data mixer uses; hash arithmetic matches DuckDB bit-for-bit.
- **token stats**: per-language top-k tokens (explode → count → window) —
  the vocabulary/frequency pass of corpus analysis.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..sources.tables import load_table
from .dedup import JACCARD_THRESHOLD, _hash32, _SHINGLES_SQL, dedup_ngram_jaccard
from . import register, scoped_persist

SAMPLE_RATES = {"es": 50, "zh": 20}  # percent; default below
SAMPLE_DEFAULT = 10


def _pairs_sql() -> str:
    return f"""
        SELECT doc_a, doc_b FROM (
            WITH sh AS ({_SHINGLES_SQL}),
            cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
            pairs AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
                FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            )
            SELECT doc_a, doc_b
            FROM pairs JOIN cnt ca ON ca.doc_id = doc_a
                       JOIN cnt cb ON cb.doc_id = doc_b
            WHERE shared * 1.0 / (ca.n + cb.n - shared) >= {JACCARD_THRESHOLD}
        )
    """


@register(
    "dedup_connected_components",
    oracle=f"""
    WITH RECURSIVE pairs AS ({_pairs_sql()}),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION
        SELECT doc_b, doc_a FROM pairs
    ),
    verts AS (SELECT DISTINCT src AS doc_id FROM edges),
    reach(a, b) AS (
        SELECT doc_id, doc_id FROM verts
        UNION
        SELECT r.a, e.dst FROM reach r JOIN edges e ON e.src = r.b
    )
    SELECT a AS doc_id, MIN(b) AS component FROM reach GROUP BY a
    """,
    doc="dedup clustering: connected components over near-dup pairs via "
    "iterative min-label propagation (survivor selection after LSH).",
    tags=("dedup", "iterative"),
)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .distinct()
        .persist()
    )
    labels = (
        edges.select(F.col("src").alias("doc_id")).distinct().withColumn("component", F.col("doc_id"))
    ).persist()
    # min-label propagation to fixpoint; components here are tiny (dup
    # clusters), so few rounds. localCheckpoint truncates lineage so the
    # plan doesn't grow with iterations (the Spark-idiomatic Pregel loop).
    for _ in range(20):
        neigh = (
            edges.join(labels, edges.dst == labels.doc_id)
            .groupBy("src")
            .agg(F.min("component").alias("neigh_min"))
        )
        # r16 optimization: the change flag is computed IN the same pass
        # that produces the new labels and rides through the checkpoint,
        # so convergence detection is a shuffle-free scan-agg of the
        # already-materialized rows — the old shape re-joined new vs old
        # labels every round (one extra shuffle join job per round).
        nxt = F.least(
            F.col("component"), F.coalesce(F.col("neigh_min"), F.col("component"))
        )
        new_labels = (
            labels.join(neigh, labels.doc_id == neigh.src, "left")
            .select(
                "doc_id",
                nxt.alias("component"),
                (nxt != F.col("component")).cast("int").alias("chg"),
            )
            # eager=False (r17): the checkpoint materializes under the
            # convergence agg's job below — one job per round, not two
            .localCheckpoint(eager=False)
        )
        changed = new_labels.agg(F.sum("chg")).collect()[0][0]
        labels.unpersist()
        labels = new_labels.select("doc_id", "component")
        if changed == 0:
            break
    # labels is a localCheckpoint that the last round's convergence
    # collect() already materialized, so the edge cache is no longer
    # needed by the returned plan — release it here instead of leaking it
    # into the shared session (ADVICE r11).
    edges.unpersist()
    return labels.select("doc_id", "component")


def cc_star_contraction(edges: DataFrame, max_rounds: int = 32) -> DataFrame:
    """Connected components via alternating large-star/small-star
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC 2014) — rounds grow with log(diameter), NOT diameter.

    Plain min-label propagation needs one join round per hop of the
    longest shortest path, so a 10k-hop chain (pathological but possible
    in a transitively-linked near-dup graph) needs 10k shuffles. Star
    contraction rewires the graph toward a star forest each round:

    - large-star: every node u sends its strictly-LARGER neighbors to
      m(u) = min(N(u) ∪ {u})  — halves the height of tall subtrees;
    - small-star: every node u rewires its ≤-neighbors and itself to
      m(u) — flattens what large-star left.

    At the fixpoint the edge set IS the answer: a star forest where every
    node neighbors its component minimum. Each phase is one groupBy(min)
    + one self-join on the (deduped) edge list — all JVM-side, lineage
    cut per round with an eager localCheckpoint.

    `edges` must be directed-symmetric distinct (u, v) pairs, u != v.
    Returns (doc_id, component) for every endpoint. Raises (never returns
    partial labels) if the fixpoint is not reached within ``max_rounds``
    — the alternation needs ~log2(diameter) rounds, so the default 32
    covers any physically possible graph.
    """
    # materialize the input FIRST: E is referenced ~6× per round (mins,
    # the star joins, the convergence diff) — without this, an expensive
    # upstream (the shingle self-join) would recompute on every
    # reference, every round (measured: 49 s → 2 s at sf0.1).
    # eager=False (r17): the checkpoint RDD materializes (and caches)
    # under the count() job below instead of a dedicated job — same
    # blocks, one fewer job round trip (the bpe_train r16 lesson; each
    # job costs ~0.1-0.5 s of scheduler floor on the composed pipeline)
    E = edges.select(F.col("src").alias("u"), F.col("dst").alias("v")).localCheckpoint(
        eager=False
    )
    # convergence bookkeeping (r16 optimization): E and E2 are both
    # DISTINCT edge sets, so E == E2  ⟺  |E| == |E2| AND E2 \ E == ∅.
    # Tracking the cardinality lets most rounds skip the set-difference
    # entirely (counts differ → provably not converged) and the final
    # round run ONE exceptAll instead of two — the old both-directions
    # check cost 2 anti-join jobs per round on every CC-composed query.
    # Exact, not probabilistic: the one-sided check only runs (and only
    # suffices) when the cardinalities are equal.
    n_edges = E.count()
    for _ in range(max_rounds):
        # m(u) = min over the closed neighborhood (u itself included)
        mins = E.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        # `mins` is NODE-sized — it grows with the graph, so the E⋈mins
        # joins are pinned to shuffle-hash: at sf10 AQE underestimated
        # the checkpointed aggregate and tried to BROADCAST it, dying in
        # notEnoughMemoryToBuildAndBroadcastTable (rule 2: never
        # broadcast what grows with the data)
        # large-star: (v, m(u)) for v > u; keeps every component
        # connected while halving tall-tree height (paper, Lemma 1)
        large = (
            E.join(mins.hint("shuffle_hash"), "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .where(F.col("a") != F.col("b"))
        )
        E1 = (
            large.select(F.col("a").alias("u"), F.col("b").alias("v"))
            .union(large.select(F.col("b").alias("u"), F.col("a").alias("v")))
            .distinct()
            # referenced by mins1 AND small; eager=False fuses its
            # materialization under E2's job — both references share one
            # checkpointed RDD, so within that job the large-star subtree
            # still runs once (r17: 2 checkpoint jobs/round → 1)
            .localCheckpoint(eager=False)
        )
        # small-star on the large-star output: (v, m(u)) for v <= u plus
        # (u, m(u)) — after enough alternations E is a star forest
        mins1 = E1.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        small = (
            E1.join(mins1.hint("shuffle_hash"), "u")
            .where(F.col("v") <= F.col("u"))
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .union(mins1.select(F.col("u").alias("a"), F.col("m").alias("b")))
            .where(F.col("a") != F.col("b"))
        )
        E2 = (
            small.select(F.col("a").alias("u"), F.col("b").alias("v"))
            .union(small.select(F.col("b").alias("u"), F.col("a").alias("v")))
            .distinct()
            # lineage does not grow with rounds; eager=False lets the
            # count() below do the materialization in the same job
            .localCheckpoint(eager=False)
        )
        n2 = E2.count()
        converged = n2 == n_edges and E2.exceptAll(E).isEmpty()
        E = E2
        n_edges = n2
        if converged:
            break
    else:
        # never return silently-wrong labels: convergence needs
        # ~log2(diameter) rounds, so 32 covers any graph with diameter
        # < 2^32 — hitting this means the input is malformed (e.g.
        # non-symmetric edges), not that more rounds would help
        raise RuntimeError(
            f"cc_star_contraction did not converge in {max_rounds} rounds"
        )
    # star forest → labels: component(u) = min(u, min neighbor)
    return E.groupBy("u").agg(
        F.least(F.min("v"), F.first("u")).alias("component")
    ).select(F.col("u").alias("doc_id"), "component")


@register(
    "dedup_cc_star_contraction",
    oracle=f"""
    WITH RECURSIVE pairs AS ({_pairs_sql()}),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION
        SELECT doc_b, doc_a FROM pairs
    ),
    verts AS (SELECT DISTINCT src AS doc_id FROM edges),
    reach(a, b) AS (
        SELECT doc_id, doc_id FROM verts
        UNION
        SELECT r.a, e.dst FROM reach r JOIN edges e ON e.src = r.b
    )
    SELECT a AS doc_id, MIN(b) AS component FROM reach GROUP BY a
    """,
    doc="connected components over the near-dup pair graph via "
    "large-star/small-star contraction (Kiveris et al. 2014): the "
    "100 TB-safe CC — round count grows with log(component diameter) "
    "instead of the diameter itself, so a pathological transitive "
    "near-dup chain cannot turn the driver loop into thousands of "
    "shuffle rounds the way plain min-label propagation "
    "(dedup_connected_components) can. Identical labels by "
    "construction — both converge to min-reachable-id — so the same "
    "recursive-CTE oracle gates both.",
    tags=("dedup", "iterative", "scale"),
)
def dedup_cc_star_contraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .distinct()
    )
    return cc_star_contraction(edges)


@register(
    "pipeline_training_prep",
    oracle="""
    WITH scored AS (
      SELECT doc_id, lang, text, n_tokens,
             ROUND(0.4 * LEAST(n_tokens / 100.0, 1.0)
                 + 0.4 * LEAST(stop_ratio * 4, 1.0)
                 + 0.2 * LEAST(avg_token_len / 8.0, 1.0), 4) AS quality
      FROM (
        SELECT doc_id, lang, text,
               len(toks) AS n_tokens,
               ROUND(len(list_filter(toks, t -> list_contains(
                   ['the', 'and', 'of', 'to', 'a', 'in', 'is', 'on', 'for', 'with'], t)))
                     * 1.0 / len(toks), 4) AS stop_ratio,
               ROUND(length(array_to_string(toks, '')) * 1.0 / len(toks), 4)
                   AS avg_token_len
        FROM (SELECT doc_id, lang, text,
                     string_split_regex(trim(lower(text)), ' +') AS toks
              FROM documents)
        WHERE len(toks) > 0
      )
    ),
    filtered AS (SELECT * FROM scored WHERE quality >= 0.5),
    deduped AS (
      SELECT * FROM filtered
      WHERE doc_id IN (SELECT MIN(doc_id) FROM filtered
                       GROUP BY md5(trim(lower(text))))
    ),
    sampled AS (
      SELECT * FROM deduped
      WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
            % 100 < 50
    )
    SELECT lang, COUNT(*) AS n_docs,
           ROUND(AVG(quality), 4) AS avg_quality,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM sampled GROUP BY lang
    """,
    doc="END-TO-END training-data prep: quality filter (C4-style "
    "heuristics) → exact dedup keep-min → deterministic 50% sample → "
    "per-language corpus stats. One declarative plan — Catalyst fuses "
    "the stages; every intermediate is also an individually-gated query "
    "(text_quality_score / dedup_exact / sample_stratified).",
    tags=("text", "dedup", "sampling", "pipeline"),
)
def pipeline_training_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .text import STOPWORDS

    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.lower(F.col("text"))), " +")
    d = d.select("doc_id", "lang", "text", toks.alias("toks")).where(F.size("toks") > 0)
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS])
    n_tokens = F.size("toks")
    stop_ratio = F.round(
        F.size(F.filter("toks", lambda t: F.array_contains(stop_arr, t))) / n_tokens, 4
    )
    avg_len = F.round(F.length(F.concat_ws("", F.col("toks"))) / n_tokens, 4)
    quality = F.round(
        0.4 * F.least(n_tokens / 100.0, F.lit(1.0))
        + 0.4 * F.least(stop_ratio * 4, F.lit(1.0))
        + 0.2 * F.least(avg_len / 8.0, F.lit(1.0)),
        4,
    )
    scored = d.select("doc_id", "lang", "text", n_tokens.alias("n_tokens"), quality.alias("quality"))
    filtered = scored.where(F.col("quality") >= 0.5)
    keep = filtered.groupBy(F.md5(F.trim(F.lower(F.col("text")))).alias("fp")).agg(
        F.min("doc_id").alias("doc_id")
    )
    deduped = filtered.join(keep.select("doc_id"), "doc_id", "left_semi")
    sampled = deduped.where(_hash32(F.col("doc_id").cast("string")) % 100 < 50)
    return sampled.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("quality"), 4).alias("avg_quality"),
        F.sum("n_tokens").alias("total_tokens"),
    )


@register(
    "sample_stratified",
    oracle=f"""
    SELECT doc_id, lang, bucket
    FROM (SELECT doc_id, lang,
                 CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                     % 100 AS bucket
          FROM documents)
    WHERE bucket < CASE lang WHEN 'es' THEN {SAMPLE_RATES['es']}
                             WHEN 'zh' THEN {SAMPLE_RATES['zh']}
                             ELSE {SAMPLE_DEFAULT} END
    """,
    doc="stratified sampling: deterministic md5-hash gate with per-language "
    "rates (reproducible data mixing — no rand()).",
    tags=("text", "sampling"),
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    bucket = _hash32(F.col("doc_id").cast("string")) % 100
    rate = (
        F.when(F.col("lang") == "es", SAMPLE_RATES["es"])
        .when(F.col("lang") == "zh", SAMPLE_RATES["zh"])
        .otherwise(SAMPLE_DEFAULT)
    )
    return (
        d.select("doc_id", "lang", bucket.alias("bucket"))
        .where(F.col("bucket") < rate)
    )


@register(
    "text_top_tokens_per_lang",
    oracle="""
    SELECT lang, tok, n, rn FROM (
        SELECT lang, tok, n,
               ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, tok) AS rn
        FROM (SELECT lang, tok, COUNT(*) AS n
              FROM (SELECT lang,
                           UNNEST(string_split_regex(trim(lower(text)), ' +')) AS tok
                    FROM documents)
              GROUP BY 1, 2)
    ) WHERE rn <= 5
    """,
    doc="corpus vocabulary: top-5 tokens per language (explode → count → "
    "ranked window).",
    tags=("text",),
)
def text_top_tokens_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.lower(F.col("text"))), " +")
    counts = (
        d.select("lang", F.explode(toks).alias("tok"))
        .groupBy("lang", "tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("lang").orderBy(F.desc("n"), F.asc("tok"))
    return counts.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= 5)


DECON_BENCH_MOD = 10  # ~10% of docs play the held-out benchmark split
DECON_MIN_FRAC = 0.3  # flag when ≥30% of a train doc's shingles hit a bench doc


@register(
    "decontaminate_ngram_overlap",
    oracle=f"""
    WITH sh AS ({_SHINGLES_SQL}),
    gated AS (
        SELECT doc_id, shingle,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                   % {DECON_BENCH_MOD} = 0 AS is_bench
        FROM sh
    ),
    cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    hits AS (
        SELECT t.doc_id AS train_doc, b.doc_id AS bench_doc, COUNT(*) AS shared
        FROM gated t JOIN gated b ON t.shingle = b.shingle
        WHERE NOT t.is_bench AND b.is_bench
        GROUP BY 1, 2
    ),
    flagged AS (
        SELECT train_doc, bench_doc, shared, shared * 1.0 / c.n AS frac
        FROM hits JOIN cnt c ON c.doc_id = train_doc
        WHERE shared * 1.0 / c.n >= {DECON_MIN_FRAC}
    )
    SELECT train_doc AS doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bench_hits,
           ROUND(MAX(frac), 4) AS max_overlap_frac,
           MIN(bench_doc) AS example_bench_doc
    FROM flagged GROUP BY 1
    """,
    doc="benchmark decontamination: flag training documents whose token "
    "3-gram shingles overlap a held-out benchmark split (deterministic "
    "md5 doc gate) above DECON_MIN_FRAC — the standard eval-contamination "
    "scrub before training. Spark shape: the benchmark side is the tiny "
    "split, so its inverted index BROADCASTs and contamination detection "
    "is a map-side join over the training shingles; per-(train, bench) "
    "counts then aggregate per train doc. At 100 TB the benchmark index "
    "is built once and reused across corpus shards.",
    tags=("text", "dedup", "llm"),
)
def decontaminate_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup import _shingles_df

    # persist: bench, train and the per-doc count all read this (same
    # call-site pattern as dedup_ngram_jaccard)
    sh = scoped_persist(_shingles_df(spark, sf_dir))
    is_bench = _hash32(F.col("doc_id").cast("string")) % DECON_BENCH_MOD == 0
    bench = sh.where(is_bench).select(
        F.col("doc_id").alias("bench_doc"), "shingle"
    )
    train = sh.where(~is_bench).select(
        F.col("doc_id").alias("train_doc"), "shingle"
    )
    cnt = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    hits = (
        train.join(F.broadcast(bench), "shingle")
        .groupBy("train_doc", "bench_doc")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    flagged = (
        hits.join(cnt.withColumnRenamed("doc_id", "train_doc"), "train_doc")
        .withColumn("frac", F.col("shared") / F.col("n"))
        .where(F.col("frac") >= DECON_MIN_FRAC)
    )
    return flagged.groupBy(F.col("train_doc").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("n_bench_hits"),
        F.round(F.max("frac"), 4).alias("max_overlap_frac"),
        F.min("bench_doc").alias("example_bench_doc"),
    )


SUBSTR_WINDOW = 8  # tokens per window (production uses ~50; same machinery)


@register(
    "text_substring_dedup",
    # tokenize on ' ' → every WINDOW-token sliding window → windows whose
    # exact text recurs in ANOTHER document → per-doc union of the
    # duplicated intervals (sorted starts; each adds min(W, gap) tokens)
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             string_split(text, ' ') AS t,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    wins AS (
      SELECT doc_id, n_tokens,
             unnest(generate_series(0, n_tokens - {SUBSTR_WINDOW})) AS start
      FROM toks WHERE n_tokens >= {SUBSTR_WINDOW}
    ),
    winstr AS (
      SELECT w.doc_id, w.n_tokens, w.start,
             array_to_string(list_slice(t.t, w.start + 1,
                                        w.start + {SUBSTR_WINDOW}), ' ') AS win
      FROM wins w JOIN toks t ON t.doc_id = w.doc_id
    ),
    dup AS (
      SELECT ws.doc_id, ws.n_tokens, ws.start
      FROM winstr ws
      JOIN (SELECT win FROM winstr GROUP BY win
            HAVING COUNT(DISTINCT doc_id) > 1) d USING (win)
    ),
    cov AS (
      SELECT doc_id, n_tokens, start,
             CASE WHEN lag(start) OVER (PARTITION BY doc_id ORDER BY start)
                       IS NULL THEN {SUBSTR_WINDOW}
                  ELSE LEAST({SUBSTR_WINDOW},
                             start - lag(start) OVER
                                 (PARTITION BY doc_id ORDER BY start))
             END AS covered
      FROM dup
    )
    SELECT doc_id,
           MIN(n_tokens) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS dup_windows,
           CAST(CAST(SUM(covered) AS BIGINT) AS BIGINT) AS dup_tokens,
           ROUND(CAST(SUM(covered) AS BIGINT) * 1.0 / MIN(n_tokens), 6)
               AS dup_fraction
    FROM cov
    GROUP BY doc_id
    """,
    doc="EXACT-SUBSTRING dedup (the Lee et al. 2022 'Deduplicating "
    "Training Data' operator, reshaped from suffix arrays to the "
    "shuffle-native form): every sliding token window is fingerprinted; "
    "windows whose exact text recurs in another document mark duplicated "
    "spans, and per-doc interval union (a lag-window prefix computation "
    "— no UDFs) yields the duplicated-token fraction a cleaning pipeline "
    "thresholds on. Scale shape: windows are grouped by xxhash64 (8-byte "
    "shuffle keys instead of strings — the oracle groups by the string "
    "itself, identical absent a 2^-64 collision), the heavy self-join is "
    "a plain equi-join Catalyst can shuffle-hash, and coverage is one "
    "partitioned window pass; at 100 TB the window table is the only "
    "large intermediate and it never leaves the executors.",
    tags=("text", "dedup", "llm"),
)
def text_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    W = SUBSTR_WINDOW
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.split(F.col("text"), " ").alias("toks"),
    ).withColumn("n_tokens", F.size("toks").cast("bigint"))
    toks = toks.where(F.col("n_tokens") >= W)
    wins = toks.select(
        "doc_id",
        "n_tokens",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), (F.col("n_tokens") - W).cast("int")),
                lambda i: F.xxhash64(F.concat_ws(" ", F.slice(F.col("toks"), i + 1, W))),
            )
        ).alias("start", "win_hash"),
    )
    dup_keys = (
        wins.groupBy("win_hash")
        .agg(F.countDistinct("doc_id").alias("ndocs"))
        .where(F.col("ndocs") > 1)
        .select("win_hash")
    )
    dup = wins.join(dup_keys, "win_hash")
    w = Window.partitionBy("doc_id").orderBy("start")
    cov = dup.select("doc_id", "n_tokens", "start").withColumn(
        "covered",
        F.when(F.lag("start").over(w).isNull(), F.lit(W)).otherwise(
            F.least(F.lit(W), F.col("start") - F.lag("start").over(w))
        ),
    )
    return cov.groupBy("doc_id").agg(
        F.min("n_tokens").alias("n_tokens"),
        F.count(F.lit(1)).alias("dup_windows"),
        F.sum("covered").cast("bigint").alias("dup_tokens"),
        F.round(
            F.sum("covered").cast("bigint") / F.min("n_tokens"), 6
        ).alias("dup_fraction"),
    )


def _bpe_train_oracle() -> str:
    from ._bpe_train_golden import BPE_TRAIN_GOLDEN_VALUES

    return f"""
    SELECT step, lft AS left, rgt AS right, merged, pair_count
    FROM {BPE_TRAIN_GOLDEN_VALUES}
    WHERE corpus_key = (SELECT CAST(SUM(n_chars) AS BIGINT) FROM documents)
    ORDER BY step
    """


@register(
    "text_bpe_train",
    # the merge loop is genuinely iterative (each step's argmax depends
    # on the rewritten histogram) so it has no direct SQL image — the
    # oracle is a GOLDEN merge sequence per oracle corpus (keyed by
    # SUM(n_chars)) from the independent sequential reference trainer
    # (tools/gen_bpe_train_golden.py); the trainer is exactly
    # deterministic (integer counts, lexicographic tie-break), and
    # tests/test_bpe.py additionally pins distributed==sequential parity
    oracle=_bpe_train_oracle(),
    doc="distributed BPE tokenizer training (Sennrich et al. 2016, the "
    "vocabulary-building step of an LLM pipeline): ONE corpus-sized "
    "shuffle builds the word histogram (re-laid-out to vocab-derived "
    "partitioning), then every merge iteration is ONE narrow Catalyst "
    "job over that compact table — the previous step's pure `aggregate` "
    "merge fold (no UDFs) riding lazily under the adjacent-pair "
    "posexplode + weighted groupBy argmax (deterministic count/"
    "lexicographic tie-break). The driver holds only the K merge rules, "
    "exactly the operators/kmeans.py shape; at 100 TB per-iteration "
    "cost follows vocabulary size (Heaps' law), not corpus size.",
    tags=("text", "llm", "tokenizer", "iterative"),
)
def text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bpe import bpe_train

    docs = load_table(spark, sf_dir, "documents").select("text")
    merges = bpe_train(docs, n_merges=12)
    return spark.createDataFrame(
        [(int(s), a, b, a + b, int(n)) for s, a, b, n in merges],
        "step INT, left STRING, right STRING, merged STRING, pair_count BIGINT",
    )


def _bpe_encode_oracle() -> str:
    from ._bpe_golden import BPE_GOLDEN_VALUES

    return f"""
    WITH words AS (
      SELECT doc_id, unnest(ws) AS word,
             unnest(generate_series(1, len(ws))) AS pos
      FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
    ),
    joined AS (
      SELECT w.doc_id, w.pos, w.word, g.n_toks, g.tok_str
      FROM (SELECT * FROM words WHERE word <> '') w
      JOIN {BPE_GOLDEN_VALUES} ON g.word = w.word
    )
    SELECT doc_id,
           COUNT(*) AS n_words,
           CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
           CAST(SUM(LENGTH(word)) AS BIGINT) AS n_chars,
           ROUND(SUM(LENGTH(word)) / CAST(SUM(n_toks) AS DOUBLE), 6)
               AS chars_per_token,
           MAX(CASE WHEN pos = 1 THEN tok_str END) AS first_word_tokens
    FROM joined GROUP BY doc_id
    """


@register(
    "text_bpe_encode",
    # the oracle joins a GOLDEN word→tokens table produced by an
    # independent sequential apply of the same frozen merge table
    # (tools/gen_bpe_golden.py), so the Catalyst merge folds are
    # hash-gated against scalar reference tokenizations
    oracle=_bpe_encode_oracle(),
    doc="distributed BPE tokenization with a FROZEN merge table (the "
    "serving half of Sennrich et al. 2016 — production pipelines apply "
    "a fixed tokenizer): the corpus-sized pass is split+explode+"
    "broadcast-join+agg only; the merge folds (pure Catalyst aggregate, "
    "one per rule, no UDFs) run over the DISTINCT vocabulary, which by "
    "Heaps' law is millions of rows at 100 TB, not corpus-sized. The "
    "word→tokens map broadcasts; per-doc token/char counts partial-"
    "aggregate map-side.",
    tags=("text", "llm", "tokenizer"),
)
def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bpe import bpe_encode_vocab
    from ._bpe_golden import BPE_MERGES

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    words = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "word")
    ).where(F.col("word") != "")
    vocab = words.select("word").distinct()
    enc = bpe_encode_vocab(vocab, BPE_MERGES)
    joined = words.join(F.broadcast(enc), "word")
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum("n_toks").alias("n_tokens"),
        F.sum(F.length("word")).alias("n_chars"),
        F.round(
            F.sum(F.length("word")) / F.sum("n_toks").cast("double"), 6
        ).alias("chars_per_token"),
        F.max(F.when(F.col("pos") == 0, F.col("tok_str"))).alias(
            "first_word_tokens"
        ),
    )


DSIR_TARGET_SOURCES = ("src0", "src1")  # target-domain proxy corpus
DSIR_THRESHOLD = 1.0  # applied map-side; production derives it once
# deterministic per-doc uniform for Gumbel noise: Knuth multiplicative
# hash over doc_id, exact integer arithmetic in BOTH engines
_DSIR_A, _DSIR_M = 2654435761, 2147483647


def _dsir_oracle() -> str:
    tgt = ", ".join(f"'{s}'" for s in DSIR_TARGET_SOURCES)
    return f"""
    WITH toks AS (
      SELECT doc_id, source, unnest(string_split(text, ' ')) AS word
      FROM documents
    ),
    toks_f AS (SELECT * FROM toks WHERE word <> ''),
    raw_cnt AS (SELECT word, COUNT(*)::DOUBLE AS rc FROM toks_f GROUP BY word),
    tgt_cnt AS (
      SELECT word, COUNT(*)::DOUBLE AS tc FROM toks_f
      WHERE source IN ({tgt}) GROUP BY word
    ),
    tot AS (
      SELECT SUM(rc) AS rtot, COUNT(*)::DOUBLE AS v FROM raw_cnt
    ),
    ttot AS (SELECT COALESCE(SUM(tc), 0) AS ttot FROM tgt_cnt),
    lr AS (
      SELECT r.word,
             ln((COALESCE(t.tc, 0) + 1) / (ttot.ttot + tot.v))
               - ln((r.rc + 1) / (tot.rtot + tot.v)) AS logratio
      FROM raw_cnt r LEFT JOIN tgt_cnt t ON t.word = r.word, tot, ttot
    ),
    perdoc AS (
      SELECT tk.doc_id,
             COUNT(*) AS n_tokens,
             SUM(lr.logratio) AS weight
      FROM toks_f tk JOIN lr ON lr.word = tk.word
      GROUP BY tk.doc_id
    )
    SELECT doc_id, n_tokens,
           ROUND(weight, 6) AS weight,
           ROUND(weight - ln(-ln(
             ((doc_id * {_DSIR_A}) % {_DSIR_M} + 1) / {_DSIR_M + 1}.0
           )), 6) AS score,
           (weight - ln(-ln(
             ((doc_id * {_DSIR_A}) % {_DSIR_M} + 1) / {_DSIR_M + 1}.0
           ))) >= {DSIR_THRESHOLD} AS selected
    FROM perdoc
    """


@register(
    "text_dsir_select",
    # the oracle recomputes the identical smoothed log-ratio weights and
    # the identical integer-hash Gumbel key, so every per-doc weight,
    # score and keep/drop decision is hash-gated
    oracle=_dsir_oracle(),
    doc="DSIR data selection (Xie et al. 2023, arXiv:2302.03169 — Data "
    "Selection via Importance Resampling): estimate unigram bag-of-words "
    "distributions for the raw corpus and a target-domain proxy "
    "(additive smoothing), score each document by its summed "
    "log-importance ratio, add deterministic Gumbel noise (integer-hash "
    "uniform per doc_id — reproducible, no rand()), and select docs "
    "whose Gumbel-perturbed score clears a threshold (the Gumbel-top-k "
    "trick as a map-side filter). Scale shape: the distributions are "
    "vocabulary-sized aggregates (Heaps' law), the log-ratio table "
    "broadcasts, per-doc weights partial-aggregate map-side, and the "
    "selection is a stateless filter — production derives the threshold "
    "once via percentile_approx over a sample, so NOTHING here is "
    "corpus-global at serve time.",
    tags=("text", "llm", "selection"),
)
def text_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    toks = docs.select(
        "doc_id",
        "source",
        F.explode(F.split("text", " ")).alias("word"),
    ).where(F.col("word") != "")
    # ONE corpus-token pass builds both distributions (raw + target as a
    # conditional count). The rtot/ttot/V totals are a SCALAR aggregate
    # over the vocabulary table, broadcast-joined back (VERDICT r11 #5:
    # the previous unpartitioned-window form funneled the whole Heaps'-law
    # vocabulary — ~10⁸-10⁹ rows at 100 TB — through ONE window task; a
    # 1-row crossJoin(broadcast) costs one extra tiny job instead). The
    # vocab aggregate is persisted for the two reads (totals + log-ratio);
    # integer counts summed in double are exact below 2^53, so the totals
    # are bit-identical to the window form.
    stats = scoped_persist(
        toks.groupBy("word").agg(
            F.count(F.lit(1)).cast("double").alias("rc"),
            F.sum(
                F.when(F.col("source").isin(*DSIR_TARGET_SOURCES), 1).otherwise(0)
            )
            .cast("double")
            .alias("tc"),
        )
    )
    tot = stats.agg(
        F.sum("rc").alias("rtot"),
        F.sum("tc").alias("ttot"),
        F.count(F.lit(1)).cast("double").alias("v"),
    )
    lr = stats.crossJoin(F.broadcast(tot)).select(
        "word",
        (
            F.log((F.col("tc") + 1) / (F.col("ttot") + F.col("v")))
            - F.log((F.col("rc") + 1) / (F.col("rtot") + F.col("v")))
        ).alias("logratio"),
    )
    perdoc = (
        toks.join(F.broadcast(lr), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("logratio").alias("weight"),
        )
    )
    u = ((F.col("doc_id") * _DSIR_A) % _DSIR_M + 1) / F.lit(float(_DSIR_M + 1))
    score = F.col("weight") - F.log(-F.log(u))
    return perdoc.select(
        "doc_id",
        "n_tokens",
        F.round("weight", 6).alias("weight"),
        F.round(score, 6).alias("score"),
        (score >= DSIR_THRESHOLD).alias("selected"),
    )


@register(
    "dedup_keep_canonical",
    oracle=f"""
    WITH RECURSIVE pairs AS ({_pairs_sql()}),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION
        SELECT doc_b, doc_a FROM pairs
    ),
    verts AS (SELECT DISTINCT src AS doc_id FROM edges),
    reach(a, b) AS (
        SELECT doc_id, doc_id FROM verts
        UNION
        SELECT r.a, e.dst FROM reach r JOIN edges e ON e.src = r.b
    ),
    comp AS (SELECT a AS doc_id, MIN(b) AS component FROM reach GROUP BY a)
    SELECT d.doc_id, d.source, comp.component,
           CAST(comp.component IS NULL OR d.doc_id = comp.component AS INT) AS keep
    FROM documents d LEFT JOIN comp USING (doc_id)
    """,
    doc="the dedup pipeline's FINAL VERDICT: connected components over "
    "near-dup pairs, canonical survivor = the component's min doc_id "
    "(which IS the min-propagation label, so selection is a map-side "
    "equality — no extra aggregation), singletons keep themselves. One "
    "left join of the corpus against the component table (dup-cluster-"
    "bounded, broadcastable at real dup rates) produces the keep/drop "
    "column a training run consumes.",
    tags=("dedup", "llm", "iterative"),
)
def dedup_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    comp = dedup_connected_components(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return d.join(F.broadcast(comp), "doc_id", "left").select(
        "doc_id",
        "source",
        "component",
        (
            F.col("component").isNull() | (F.col("doc_id") == F.col("component"))
        )
        .cast("int")
        .alias("keep"),
    )


SAMPLE_K_PER_GROUP = 10


@register(
    "sample_k_per_group_by_hash",
    oracle=f"""
    SELECT source, CAST(rk AS INT) AS rk, doc_id
    FROM (SELECT source, doc_id,
                 ROW_NUMBER() OVER (
                     PARTITION BY source
                     ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC)
                     AS rk
          FROM documents)
    WHERE rk <= {SAMPLE_K_PER_GROUP}
    """,
    doc=f"deterministic fixed-size sample: exactly {SAMPLE_K_PER_GROUP} "
    "documents per source, selected by smallest md5(doc_id) — a "
    "reproducible 'reservoir' (the hash IS the uniform random draw, so "
    "the sample is stable across runs, partitionings and engines, "
    "unlike rand()-based reservoirs). Physically a TWO-STAGE top-k: "
    "Spark's InferWindowGroupLimit plants a partial per-key limit below "
    "the exchange, so the shuffle carries <= "
    "partitions x sources x k rows instead of the corpus — the eyeball-"
    "sample / golden-set export every 100 TB pipeline needs (r16: the "
    "former mapInPandas pre-top-k became redundant under "
    "WindowGroupLimit and was removed — same bound, pure JVM).",
    tags=("text", "sampling"),
)
def sample_k_per_group_by_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", F.md5(F.col("doc_id").cast("string")).alias("hk")
    )
    w = Window.partitionBy("source").orderBy(F.asc("hk"), F.asc("doc_id"))
    return (
        d.withColumn("rk", F.row_number().over(w).cast("int"))
        .where(F.col("rk") <= SAMPLE_K_PER_GROUP)
        .select("source", "rk", "doc_id")
    )


def _cc_histogram_oracle() -> str:
    """Wrap the gated connected-components oracle's final SELECT as a CTE
    and roll it up to the cluster-size histogram — the composed oracle
    replays the EXACT gated computation (the ann_recall_report pattern)."""
    from . import REGISTRY

    cc = REGISTRY["dedup_connected_components"].oracle
    final = "SELECT a AS doc_id, MIN(b) AS component FROM reach GROUP BY a"
    assert final in cc
    return cc.replace(
        final,
        """, comp AS (SELECT a AS doc_id, MIN(b) AS component
                    FROM reach GROUP BY a),
    sizes AS (SELECT component, CAST(count(*) AS BIGINT) AS cluster_size
              FROM comp GROUP BY 1)
    SELECT cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(cluster_size * count(*) AS BIGINT) AS n_docs
    FROM sizes GROUP BY 1""",
    )


@register(
    "dedup_cluster_size_histogram",
    oracle=None,  # set right below (needs the CC oracle registered first)
    doc="near-duplicate cluster-size distribution: the dedup planning "
    "readout (how many pairs/triples/large families, how many docs the "
    "keep-one policy removes). Composes the GATED connected-components "
    "labels — sizes per component, then a histogram over the bounded "
    "size domain; the oracle replays the identical recursive-CTE "
    "computation with the rollup appended, so the gate covers the whole "
    "composition. Singleton docs (no near-dup edge) are by construction "
    "absent: every cluster here has >= 2 members. Two bounded exchanges "
    "above the iterative CC pass.",
    tags=("dedup", "analytics"),
)
def dedup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    labels = dedup_connected_components(spark, sf_dir)
    sizes = labels.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        (F.col("cluster_size") * F.count(F.lit(1))).alias("n_docs"),
    )



_SPLIT_SQL = """
    SELECT doc_id,
           CASE WHEN bucket < 90 THEN 'train'
                WHEN bucket < 95 THEN 'val'
                ELSE 'test' END AS split
    FROM (SELECT doc_id,
                 CAST(('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)),
                                      1, 8)) AS BIGINT) % 100 AS bucket
          FROM documents)
"""


@register(
    "split_leakage_audit",
    oracle=f"""
    WITH pairs AS ({_pairs_sql()}),
    splits AS ({_SPLIT_SQL}),
    sym AS (SELECT doc_a AS d, doc_b AS o FROM pairs
            UNION ALL SELECT doc_b, doc_a FROM pairs),
    j AS (SELECT sd.doc_id, sd.split, so.split AS osplit
          FROM sym JOIN splits sd ON sd.doc_id = sym.d
                   JOIN splits so ON so.doc_id = sym.o),
    perdoc AS (
        SELECT doc_id, split,
               MAX(CASE WHEN osplit <> split THEN 1 ELSE 0 END) AS crossed,
               MAX(CASE WHEN split <> 'train' AND osplit = 'train'
                        THEN 1 ELSE 0 END) AS from_train
        FROM j GROUP BY 1, 2),
    base AS (SELECT split, CAST(count(*) AS BIGINT) AS n_docs
             FROM splits GROUP BY 1)
    SELECT base.split, n_docs,
           CAST(COALESCE(SUM(crossed), 0) AS BIGINT) AS n_crosssplit_neardup,
           CAST(COALESCE(SUM(from_train), 0) AS BIGINT) AS n_contaminated_by_train,
           ROUND(CAST(COALESCE(SUM(from_train), 0) AS BIGINT) * 100.0 / n_docs, 4)
               AS contamination_pct
    FROM base LEFT JOIN perdoc USING (split)
    GROUP BY 1, 2
    """,
    doc="train/eval leakage audit — the step every serious training-data "
    "pipeline runs after splitting: a val/test document with a near-dup "
    "twin in train inflates eval scores without the model generalizing. "
    "Composes the gated near-dup pair generator with the deterministic "
    "salted-hash split (docs_train_val_split): per split, how many "
    "documents have a near-dup in ANY other split and specifically in "
    "train, plus the contamination rate. The pair graph is the same "
    "materialized intermediate the dedup family shares; the split label "
    "is a map-side pure function (zero extra shuffles beyond the two "
    "bounded per-doc rollups). Counts are exact integers; the one "
    "percentage is a division of identical integers on both engines.",
    tags=("llm-pipeline", "dedup", "eval"),
)
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .text import docs_train_val_split

    pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    splits = scoped_persist(
        docs_train_val_split(spark, sf_dir).select("doc_id", "split")
    )
    sym = pairs.select(F.col("doc_a").alias("d"), F.col("doc_b").alias("o")).unionAll(
        pairs.select(F.col("doc_b").alias("d"), F.col("doc_a").alias("o"))
    )
    sd = splits.select(F.col("doc_id").alias("d"), F.col("split").alias("split"))
    so = splits.select(F.col("doc_id").alias("o"), F.col("split").alias("osplit"))
    j = sym.join(sd, "d").join(so, "o")
    perdoc = j.groupBy("d", "split").agg(
        F.max((F.col("osplit") != F.col("split")).cast("int")).alias("crossed"),
        F.max(
            ((F.col("split") != "train") & (F.col("osplit") == "train")).cast("int")
        ).alias("from_train"),
    )
    base = splits.groupBy("split").agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        base.join(perdoc, "split", "left")
        .groupBy("split", "n_docs")
        .agg(
            F.coalesce(F.sum("crossed"), F.lit(0)).alias("n_crosssplit_neardup"),
            F.coalesce(F.sum("from_train"), F.lit(0)).alias("n_contaminated_by_train"),
            F.round(
                F.coalesce(F.sum("from_train"), F.lit(0)) * 100.0 / F.col("n_docs"), 4
            ).alias("contamination_pct"),
        )
    )


from .text import SPLIT_SALT as _SPLIT_SALT  # noqa: E402 - oracle interpolation


@register(
    "split_assign_by_component",
    oracle=f"""
    WITH RECURSIVE pairs AS ({_pairs_sql()}),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION
        SELECT doc_b, doc_a FROM pairs
    ),
    verts AS (SELECT DISTINCT src AS doc_id FROM edges),
    reach(a, b) AS (
        SELECT doc_id, doc_id FROM verts
        UNION
        SELECT r.a, e.dst FROM reach r JOIN edges e ON e.src = r.b
    ),
    comp AS (SELECT a AS doc_id, MIN(b) AS component FROM reach GROUP BY a),
    alldocs AS (SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component
             FROM documents d LEFT JOIN comp c USING (doc_id))
    SELECT doc_id, component,
           CASE WHEN bucket < 90 THEN 'train'
                WHEN bucket < 95 THEN 'val'
                ELSE 'test' END AS split
    FROM (SELECT doc_id, component,
                 CAST(('0x' || substr(md5('{_SPLIT_SALT}' || CAST(component AS VARCHAR)),
                                      1, 8)) AS BIGINT) % 100 AS bucket
          FROM alldocs)
    """,
    doc="leakage-FREE train/val/test split (round 15) — the fix for what "
    "split_leakage_audit measures: hashing the salted split bucket from "
    "the near-dup COMPONENT label instead of the doc_id puts every "
    "near-duplicate cluster wholly inside one split, so cross-split "
    "contamination is zero BY CONSTRUCTION (group-aware splitting, the "
    "standard remedy once an audit finds eval twins in train). Same "
    "deterministic md5 bucket rule as docs_train_val_split (90/5/5) — "
    "singleton documents hash exactly as before via component = "
    "doc_id, so only clustered docs move. Composed from the gated star-"
    "contraction CC; the split label is a map-side pure function of the "
    "component, and the only join beyond the CC is the one left join "
    "fanning labels back to the corpus. The zero-leakage property is "
    "pinned executably by tests/test_round15_ops.py (the audit's "
    "cross-split counter reads 0 on this assignment).",
    tags=("llm-pipeline", "dedup", "eval"),
)
def split_assign_by_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .text import SPLIT_SALT

    comp = dedup_cc_star_contraction(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    full = d.join(comp, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("component"), F.col("doc_id")).alias("component"),
    )
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(SPLIT_SALT), F.col("component").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 100
    )
    split = (
        F.when(bucket < 90, F.lit("train"))
        .when(bucket < 95, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return full.select("doc_id", "component", split.alias("split"))


def _pipeline_e2e_oracle() -> str:
    """The composed production-dedup oracle: exact-collapse first, then
    the EXACT gated MinHash-LSH chain (same signature/band/verify SQL
    fragments as dedup_minhash_lsh's oracle) over the representatives
    only, recursive-CTE CC over the verified pairs, canonical keep/drop
    for every document."""
    from .dedup import (
        JACCARD_THRESHOLD as THR,
        _band_cols_sql,
        _minhash_sig_sql,
        _shingles_sql_from,
    )

    return f"""
    WITH RECURSIVE
    base AS (SELECT doc_id, source, text,
                    MIN(doc_id) OVER (PARTITION BY md5(trim(lower(text))))
                        AS rep_id
             FROM documents),
    reps AS (SELECT doc_id, text FROM base WHERE doc_id = rep_id),
    sh AS ({_shingles_sql_from("reps")}),
    sig AS ({_minhash_sig_sql()}),
    bands AS ({_band_cols_sql()}),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a
        JOIN bands b ON a.band_idx = b.band_idx AND a.bh = b.bh
                     AND a.doc_id < b.doc_id
    ),
    cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    shared AS (
        SELECT c.doc_a, c.doc_b, COUNT(*) AS shared
        FROM cand c
        JOIN sh a ON a.doc_id = c.doc_a
        JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT s.doc_a, s.doc_b
        FROM shared s
        JOIN cnt ca ON ca.doc_id = s.doc_a
        JOIN cnt cb ON cb.doc_id = s.doc_b
        WHERE s.shared * 1.0 / (ca.n + cb.n - s.shared) >= {THR}
    ),
    edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
              UNION SELECT doc_b, doc_a FROM pairs),
    verts AS (SELECT DISTINCT src AS doc_id FROM edges),
    reach(a, b) AS (
        SELECT doc_id, doc_id FROM verts
        UNION
        SELECT r.a, e.dst FROM reach r JOIN edges e ON e.src = r.b),
    comp AS (SELECT a AS rep_id, MIN(b) AS component FROM reach GROUP BY a)
    SELECT b.doc_id, b.source,
           COALESCE(c.component, b.rep_id) AS component,
           CAST(b.doc_id = COALESCE(c.component, b.rep_id) AS INT) AS keep
    FROM base b LEFT JOIN comp c ON c.rep_id = b.rep_id
    """


@register(
    "dedup_pipeline_e2e",
    oracle=None,  # late-bound below (needs dedup's SQL fragments)
    doc="the composed PRODUCTION dedup pipeline, end to end in one gated "
    "query (VERDICT r14 #1): exact-collapse first (fingerprint window, "
    "min doc_id per md5(trim(lower(text))) group) -> MinHash-LSH banded "
    "candidate pairs + exact-Jaccard verify over the REPRESENTATIVES "
    "only (_lsh_verified_pairs — the identical gated generator) -> "
    "large-star/small-star connected components (cc_star_contraction) "
    "-> canonical keep/drop verdict for EVERY document. Why this "
    "composition is the 100 TB shape: round 14's sf10 probe showed the "
    "exact n-gram pair generator dying at 100x replication (>78 GB "
    "shuffle spill) because exact copies explode the shingle inverted "
    "index quadratically; collapsing exact duplicates FIRST means the "
    "expensive near-dup machinery only ever sees distinct text, and "
    "every stage after the one fingerprint exchange is bounded by the "
    "distinct-document count. The component label of a cluster equals "
    "its minimum doc_id (representatives are minima of their exact "
    "groups; CC labels are minima over representatives), so the keep "
    "flag is a map-side equality — no extra aggregation. Singleton "
    "docs keep themselves; exact-only clusters keep their "
    "representative. Scale plan: ONE window exchange on the "
    "fingerprint, LSH internals bounded by colliding buckets (salted), "
    "CC rounds ~ log(diameter), one rep_id-keyed join to fan the "
    "verdict back out (AQE picks broadcast when the component table is "
    "small). sf10 receipt in COVERAGE.md beside the r14 negative "
    "result.",
    tags=("dedup", "llm", "iterative", "scale"),
)
def dedup_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup import _lsh_verified_pairs, shingle_arrays

    d = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    w_fp = Window.partitionBy(F.md5(F.trim(F.lower(F.col("text")))))
    # ONE exchange keyed on the fingerprint produces BOTH the per-doc
    # rep mapping and (filtered) the representative stream — persisted
    # because the rep stream feeds the LSH chain while the full mapping
    # feeds the final verdict join (at 100 TB this is the materialized
    # intermediate a pipeline would write between stages)
    base = scoped_persist(
        d.select("doc_id", "source", "text", F.min("doc_id").over(w_fp).alias("rep_id"))
    )
    reps = base.where(F.col("doc_id") == F.col("rep_id")).select("doc_id", "text")
    # shingle arrays computed AFTER the collapse — map-side, reps only
    sharr = scoped_persist(shingle_arrays(reps))
    pairs = _lsh_verified_pairs(sharr).select("doc_a", "doc_b")
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .distinct()
    )
    comp = cc_star_contraction(edges).select(
        F.col("doc_id").alias("rep_id"), "component"
    )
    out = base.select("doc_id", "source", "rep_id").join(comp, "rep_id", "left")
    component = F.coalesce(F.col("component"), F.col("rep_id"))
    return out.select(
        "doc_id",
        "source",
        component.alias("component"),
        (F.col("doc_id") == component).cast("int").alias("keep"),
    )


# late-bind the composed oracle now that the CC query is registered
from . import REGISTRY as _REG  # noqa: E402

_REG["dedup_cluster_size_histogram"].oracle = _cc_histogram_oracle()
_REG["dedup_pipeline_e2e"].oracle = _pipeline_e2e_oracle()

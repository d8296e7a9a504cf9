"""Dedup-operator queries over the documents table (training-data ops).

Exact dedup is in core.py (doc_fingerprint_dedup); here: MinHash
signatures, SimHash fingerprints, and n-gram Jaccard similarity — each
verified value-for-value against a DuckDB re-implementation built from the
same md5 primitives.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wopen_spark.operators.dedup import (
    _word_shingles,
    minhash_lsh_candidates,
    minhash_signatures,
    ngram_jaccard,
    simhash,
)
from wopen_spark.queries.registry import (
    _distinct_spread,
    _inherit,
    _per_distinct_text,
    _spread,
    _t,
    query,
)

# DuckDB fragments mirroring operators.dedup._word_shingles / minhash
_DUCK_WORDS = "regexp_extract_all(lower(trim(text)), '\\S+')"


def _duck_shingles(n: int) -> str:
    # range(1, len(w)-(n-2)) is end-exclusive -> indices 1..len(w)-(n-1)
    return (
        f"list_distinct(list_transform(range(1, len(w) - {n - 2}), "
        f"i -> array_to_string(w[i:i+{n - 1}], ' ')))"
    )


_N_MINHASH = 4


@query(
    "minhash_signatures_docs",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_DUCK_WORDS} AS w FROM documents),
    sh AS (SELECT doc_id, {_duck_shingles(3)} AS shingles FROM toks)
    SELECT doc_id,
           {", ".join(f"list_min(list_transform(shingles, s -> substr(md5('mh{i // 4}|' || s), {1 + 8 * (i % 4)}, 8))) AS mh{i}" for i in range(_N_MINHASH))}
    FROM sh ORDER BY doc_id
    """,
)
def minhash_signatures_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signatures are a function of the text alone, so they compute once
    per DISTINCT text and every clone inherits via broadcast join
    (queries.registry._per_distinct_text) — at sf10 that is 4,992
    signature computations instead of 500k."""
    d = _spread(spark, _t(spark, sf_dir, "documents"))
    sigs = _per_distinct_text(
        d.select("doc_id", "text"),
        lambda texts: minhash_signatures(
            texts, "text", n_hashes=_N_MINHASH, shingle_size=3
        ),
    )
    return sigs.select(
        "doc_id",
        *[F.col("minhash").getItem(i).alias(f"mh{i}") for i in range(_N_MINHASH)],
    ).orderBy("doc_id")


def _duck_simhash(bits: int = 16) -> str:
    nibbles = (bits + 3) // 4
    hashed = (
        "list_transform(list_distinct(" + _DUCK_WORDS + "), "
        f"t -> ('0x' || substr(md5(t), 1, {nibbles}))::BIGINT)"
    )
    bit_terms = " + ".join(
        f"CASE WHEN list_sum(list_transform(h, x -> CASE WHEN (x & {1 << b}) != 0 THEN 1 ELSE -1 END)) > 0 THEN {1 << b} ELSE 0 END"
        for b in range(bits)
    )
    return f"SELECT doc_id, CAST({bit_terms} AS BIGINT) AS fp FROM (SELECT doc_id, {hashed} AS h FROM documents)"


@query(
    "simhash_docs",
    oracle=f"""
    {_duck_simhash(16)}
    ORDER BY doc_id
    """,
)
def simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _spread(spark, _t(spark, sf_dir, "documents")).select("doc_id", "text")
    return (
        _per_distinct_text(
            d, lambda t: t.select("text", simhash(F.col("text"), bits=16).alias("fp"))
        )
        .select("doc_id", "fp")
        .orderBy("doc_id")
    )


@query(
    "ngram_jaccard_adjacent_docs",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, {_duck_shingles(2)} AS shingles
      FROM (SELECT doc_id, {_DUCK_WORDS} AS w FROM documents)
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(CASE WHEN len(list_distinct(list_concat(a.shingles, b.shingles))) > 0
                 THEN len(list_intersect(a.shingles, b.shingles))::DOUBLE
                      / len(list_distinct(list_concat(a.shingles, b.shingles)))::DOUBLE
                 ELSE 0.0 END, 6) AS jaccard
    FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
    ORDER BY id_a
    """,
)
def ngram_jaccard_adjacent_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram Jaccard between consecutive doc ids — a bounded pair set that
    exercises the similarity kernel without the O(n²) pair space.

    Shingle sets are computed once per DISTINCT text (clone-collapse) and
    inherited to docs; the pair join then intersects PRE-BUILT arrays —
    the inline ngram_jaccard(text_a, text_b) form re-tokenized and
    re-shingled both texts for every pair (2 evaluations per pair vs one
    per distinct text)."""
    from wopen_spark.operators.dedup import _word_shingles
    from wopen_spark.queries.registry import _inherit

    d = _spread(spark, _t(spark, sf_dir, "documents")).select("doc_id", "text")
    # the pair join carries 32-byte text FINGERPRINTS, never texts or
    # shingle arrays; the per-distinct-text shingle sets attach map-side
    # (gated rejoin) AFTER the adjacency join
    d2 = d.select("doc_id", F.md5("text").alias("fp"))
    sh_fp = (
        _distinct_spread(d, ["text"])
        .select(
            F.md5("text").alias("fp"),
            _word_shingles(F.col("text"), 2).alias("sh"),
        )
    )
    b = d2.select((F.col("doc_id") - 1).alias("doc_id"), F.col("fp").alias("fp_b"))
    pairs = d2.join(b, "doc_id")
    sh_b = sh_fp.select(F.col("fp").alias("fp_b"), F.col("sh").alias("sh_b"))
    both = _inherit(_inherit(pairs, sh_fp, ["fp"]), sh_b, ["fp_b"])
    inter = F.size(F.array_intersect("sh", "sh_b"))
    union = F.size(F.array_union("sh", "sh_b"))
    return both.select(
        F.col("doc_id").alias("id_a"),
        (F.col("doc_id") + 1).alias("id_b"),
        F.round(
            inter.cast("double") / F.greatest(union, F.lit(1)).cast("double"),
            6,
        ).alias("jaccard"),
    ).orderBy("id_a")


# --- scale-path near-dup queries -------------------------------------------

# 8-hash signature slots in DuckDB: two md5 digests per shingle (groups
# mh0/mh1), four 8-hex-char slices each — mirrors operators.dedup exactly.
_DUCK_SLOTS_8 = ", ".join(
    f"list_min(list_transform(shingles, s -> substr(md5('mh{i // 4}|' || s), {1 + 8 * (i % 4)}, 8)))"
    for i in range(8)
)


# the candidate-pair SELECT without ordering, reusable as a CTE body
# (also feeds the connected-components oracle in graph_q.py).
#
# Exact-dedup-first: the large-SF corpora are ~100x exact-replicated
# (sf10: 500k docs, 4,992 distinct texts), so doc-level band joins
# degenerate into within-clone cliques — every clone shares ALL band
# keys, forcing ~25M pairs at sf10 that say nothing beyond "these bytes
# are equal" (doc_fingerprint_dedup's job). LSH runs over one
# min-doc_id representative per distinct text; at 100 TB you never
# re-signature identical bytes. The rep groupBy is one shuffle, and each
# rep's signature is computed once (the band keys are bucketed by a
# groupBy, not self-joined).
DUCK_LSH_REPS = f"""
    reps AS (
      SELECT min(doc_id) AS doc_id, text FROM documents
      WHERE len(regexp_extract_all(text, '\\S+')) >= 3
      GROUP BY text
    )
"""

DUCK_LSH_PAIRS = f"""
    WITH {DUCK_LSH_REPS},
    toks AS (SELECT doc_id, {_DUCK_WORDS} AS w FROM reps),
    sh AS (SELECT doc_id, {_duck_shingles(3)} AS shingles FROM toks),
    sig AS (SELECT doc_id, [{_DUCK_SLOTS_8}] AS slots FROM sh),
    banded AS (
      SELECT doc_id,
             md5(CAST(b AS VARCHAR) || '|' || array_to_string(slots[b*2+1:b*2+2], '|')) AS band_key
      FROM sig, unnest([0,1,2,3]) AS t(b)
    )
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM banded a JOIN banded b USING (band_key)
    WHERE a.doc_id < b.doc_id
"""


def _lsh_reps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-doc_id representative per distinct text (>=3 words). The rep
    frame feeds the family's heavy signature passes (shingle + 8x md5
    per rep), so its layout is pinned at core-count partitions by a
    narrow post-aggregate exchange — the groupBy's map-side combine
    still collapses clones BEFORE its shuffle, and AQE can no longer
    coalesce the compute input to ~one partition (guide §2.3/§2.5)."""
    d = _spread(spark, _t(spark, sf_dir, "documents")).filter(
        F.regexp_count(F.col("text"), F.lit(r"\S+")) >= 3
    )
    dp = spark.sparkContext.defaultParallelism
    return (
        d.groupBy("text")
        .agg(F.min("doc_id").alias("doc_id"))
        .repartition(dp, F.col("text"))
    )


@query(
    "minhash_lsh_candidate_pairs",
    oracle=f"""
    {DUCK_LSH_PAIRS}
    ORDER BY id_a, id_b
    """,
)
def minhash_lsh_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH banding over exact-dedup representatives: the scale
    path for near-dup detection. Each distinct text explodes into 4 band
    keys; only bucket collisions join — neither the O(n²) pair space nor
    the within-clone cliques are ever materialized."""
    return (
        minhash_lsh_candidates(
            _lsh_reps(spark, sf_dir), id_col="doc_id", text_col="text",
            n_hashes=8, n_bands=4,
        )
        .orderBy("id_a", "id_b")
    )


@query(
    "simhash_dedup_clusters",
    oracle=f"""
    WITH fps AS (
      {_duck_simhash(24)}
    )
    SELECT fp, COUNT(*) AS n_docs, MIN(doc_id) AS keep_doc_id
    FROM fps GROUP BY fp HAVING COUNT(*) >= 2
    ORDER BY fp
    """,
)
def simhash_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup dedup by 24-bit SimHash: docs sharing a fingerprint form a
    cluster; keep the min doc_id per cluster.

    Deliberately cluster-shaped, not pair-shaped: on a corpus with large
    near-identical groups, pair listing is quadratic in cluster size
    (sf0.1 already yields >100k pairs), while the groupBy is one uniform
    shuffle with output bounded by the number of clusters. For
    band-collision candidate *pairs* see minhash_lsh_candidate_pairs.

    The fingerprint is computed once per DISTINCT text (the large-SF
    corpora are ~100x exact-replicated), then cluster counts re-weight by
    clone count — identical output to hashing every row, at 1% of the
    hash work. Byte-equal texts trivially share a SimHash, so collapsing
    them first never changes the clusters.
    """
    d = _spread(spark, _t(spark, sf_dir, "documents"))
    # narrow post-aggregate exchange: the 24-bit simhash pass below must
    # not run on the aggregate's AQE-coalesced (~1 partition) output
    per_text = d.groupBy("text").agg(
        F.count(F.lit(1)).alias("n"), F.min("doc_id").alias("min_id")
    ).repartition(spark.sparkContext.defaultParallelism, F.col("text"))
    fps = per_text.select("n", "min_id", simhash(F.col("text"), bits=24).alias("fp"))
    return (
        fps.groupBy("fp")
        .agg(F.sum("n").alias("n_docs"), F.min("min_id").alias("keep_doc_id"))
        .filter(F.col("n_docs") >= 2)
        .orderBy("fp")
    )


@query(
    "normalized_text_dedup",
    oracle="""
    WITH h AS (
      SELECT doc_id, source,
             md5(trim(regexp_replace(regexp_replace(lower(text),
                 '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS hh
      FROM documents)
    SELECT doc_id, source,
           COUNT(*) OVER (PARTITION BY hh) AS group_size,
           doc_id = MIN(doc_id) OVER (PARTITION BY hh) AS keep
    FROM h ORDER BY doc_id
    """,
)
def normalized_text_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup AFTER canonicalization (lowercase, strip punctuation,
    collapse whitespace) — the first dedup pass of every web-scale corpus
    pipeline, catching trivially-reformatted copies that byte-exact dedup
    misses.

    The canonical hash is a function of the text alone, so it computes
    once per DISTINCT text (clone-collapse); the keep/group-size decision
    is one window shuffle keyed on the uniform md5 — same scale shape as
    doc_fingerprint_dedup."""
    from pyspark.sql import Window

    d = _spread(spark, _t(spark, sf_dir, "documents"))
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""), " +", " "
        )
    )
    hashed = _per_distinct_text(
        d.select("doc_id", "source", "text"),
        lambda t: t.select("text", F.md5(norm).alias("hh")),
    )
    w = Window.partitionBy("hh")
    return (
        hashed.withColumn("group_size", F.count(F.lit(1)).over(w))
        .withColumn("keep", F.col("doc_id") == F.min("doc_id").over(w))
        .select("doc_id", "source", "group_size", "keep")
        .orderBy("doc_id")
    )


_N_SRC_MINHASH = 16


@query(
    "source_minhash_similarity",
    oracle=f"""
    WITH toks AS (SELECT source, {_DUCK_WORDS} AS w FROM documents),
    sh AS (SELECT DISTINCT source, unnest({_duck_shingles(3)}) AS s FROM toks),
    sig AS (SELECT source, seed, MIN(substr(md5(seed || '#' || s), 1, 8)) AS mh
            FROM sh, range({_N_SRC_MINHASH}) t(seed) GROUP BY 1, 2)
    SELECT a.source AS src_a, b.source AS src_b,
           COUNT(*) FILTER (WHERE a.mh = b.mh) AS n_match,
           CAST(COUNT(*) FILTER (WHERE a.mh = b.mh) AS DOUBLE)
             / {_N_SRC_MINHASH}.0 AS jaccard_est
    FROM sig a JOIN sig b ON a.seed = b.seed AND a.source < b.source
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def source_minhash_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level MinHash: one signature per SOURCE (min over the
    source's distinct 3-word shingles, per seed), then the pairwise
    source-similarity matrix from signature agreement — the mergeable-
    sketch way to compare whole corpora without any doc-level join.

    Scale shape: shingles contract to DISTINCT (source, shingle) in one
    shuffle with map-side combine; signatures are |sources| x seeds rows,
    so the pairwise self-join is a broadcast over a frame that fits in
    one task regardless of corpus size. The min over fixed-width lowercase
    hex prefixes equals the min over the underlying 32-bit hash values,
    so both engines pick identical signature elements."""
    d = _spread(spark, _t(spark, sf_dir, "documents"))
    # distinct pinned at core-count partitions (same single exchange):
    # the seed-explode + per-row md5 below otherwise runs on the
    # AQE-coalesced (~1 partition) aggregate output
    sh = _distinct_spread(
        d.select(
            "source", F.explode(_word_shingles(F.col("text"), 3)).alias("s")
        ),
        ["source", "s"],
    )
    sig = (
        sh.withColumn(
            "seed", F.explode(F.sequence(F.lit(0), F.lit(_N_SRC_MINHASH - 1)))
        )
        .select(
            "source",
            "seed",
            F.substring(
                F.md5(F.concat_ws("#", F.col("seed").cast("string"), F.col("s"))),
                1,
                8,
            ).alias("mh"),
        )
        .groupBy("source", "seed")
        .agg(F.min("mh").alias("mh"))
    )
    a = sig.select(
        F.col("source").alias("src_a"), F.col("seed").alias("seed"),
        F.col("mh").alias("mh_a"),
    )
    b = sig.select(
        F.col("source").alias("src_b"), F.col("seed").alias("seed_b"),
        F.col("mh").alias("mh_b"),
    )
    return (
        a.join(
            F.broadcast(b),
            (a.seed == b.seed_b) & (a.src_a < b.src_b),
        )
        .groupBy("src_a", "src_b")
        .agg(
            F.sum(F.when(F.col("mh_a") == F.col("mh_b"), 1).otherwise(0)).alias(
                "n_match"
            )
        )
        .withColumn(
            "jaccard_est",
            F.col("n_match").cast("double") / float(_N_SRC_MINHASH),
        )
        .orderBy("src_a", "src_b")
    )


@query(
    "source_dup_rate",
    oracle="""
    WITH h AS (
      SELECT source,
             md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS hh
      FROM documents)
    SELECT source, COUNT(*) AS n_docs,
           COUNT(DISTINCT hh) AS n_unique,
           CAST(COUNT(*) - COUNT(DISTINCT hh) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS dup_rate
    FROM h GROUP BY 1 ORDER BY 1
    """,
)
def source_dup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplication report — the first number a curator reads
    when deciding how aggressively to dedup each corpus slice. Uses the
    same normalized md5 fingerprint as doc_fingerprint_dedup, computed
    once per DISTINCT text via clone-collapse; the rollup is one
    aggregate with a distinct count (Expand-planned, single shuffle
    chain, no per-source rescan)."""
    from wopen_spark.functions.text import doc_fingerprint

    d = _spread(spark, _t(spark, sf_dir, "documents"))
    hashed = _per_distinct_text(
        d.select("source", "text"),
        lambda t: t.select("text", doc_fingerprint(F.col("text")).alias("hh")),
    )
    n = F.count(F.lit(1))
    nd = F.count_distinct(F.col("hh"))
    return (
        hashed.groupBy("source")
        .agg(
            n.alias("n_docs"),
            nd.alias("n_unique"),
            ((n - nd).cast("double") / n.cast("double")).alias("dup_rate"),
        )
        .orderBy("source")
    )


@query(
    "prefix_containment_docs",
    oracle="""
    WITH reps AS (
      SELECT min(doc_id) AS doc_id, text, COUNT(*) AS n_clones
      FROM documents GROUP BY text
    ),
    nbr AS (
      SELECT doc_id, text, n_clones,
             LEAD(text) OVER (
               PARTITION BY substr(text, 1, 1) ORDER BY text, doc_id
             ) AS nxt
      FROM reps
    )
    SELECT doc_id, n_clones, length(text) AS n_chars
    FROM nbr
    WHERE (nxt IS NOT NULL AND nxt <> text
           AND substr(nxt, 1, length(text)) = text)
       OR (length(text) = 0
           AND (SELECT count(*) FROM reps WHERE length(text) > 0) > 0)
    ORDER BY doc_id
    """,
)
def prefix_containment_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Docs whose full text is a strict PREFIX of another distinct doc —
    the truncation-duplicate case shingle similarity underweights (a
    short doc swallowed by a long one shares few of the long doc's
    shingles). Sort-neighbor check, and it is COMPLETE, not a
    heuristic: if A prefixes any doc, A's immediate lexicographic
    successor among distinct texts must itself extend A, so ONE lead()
    per doc decides containment. Prefix pairs always share their first
    character, so the sort partitions by first char — parallel, never a
    global single-partition sort. Exact-dedup reps first: one shuffle
    to contract clones, one window exchange over distinct texts."""
    from wopen_spark.operators.dedup import prefix_contained_flags

    d = _spread(spark, _t(spark, sf_dir, "documents"))
    reps = d.groupBy("text").agg(
        F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("n_clones")
    )
    return (
        prefix_contained_flags(reps, "text", "doc_id")
        .filter(F.col("is_prefix"))
        .select("doc_id", "n_clones", F.length("text").alias("n_chars"))
        .orderBy("doc_id")
    )


@query(
    "ngram_containment_adjacent_docs",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, {_duck_shingles(2)} AS shingles
      FROM (SELECT doc_id, {_DUCK_WORDS} AS w FROM documents)
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(len(list_intersect(a.shingles, b.shingles))::DOUBLE
                 / greatest(len(a.shingles), 1)::DOUBLE, 6) AS containment
    FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
    ORDER BY id_a
    """,
)
def ngram_containment_adjacent_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment |A∩B|/|A| between consecutive doc ids —
    catches a short doc quoted inside a longer one, which symmetric
    Jaccard dilutes. Same bounded pair frame as the Jaccard query."""
    from wopen_spark.operators.dedup import ngram_containment

    d = _spread(spark, _t(spark, sf_dir, "documents")).select("doc_id", "text")
    b = d.select(
        (F.col("doc_id") - 1).alias("doc_id"), F.col("text").alias("text_b")
    )
    return (
        d.join(b, "doc_id")
        .select(
            F.col("doc_id").alias("id_a"),
            (F.col("doc_id") + 1).alias("id_b"),
            ngram_containment(F.col("text"), F.col("text_b"), n=2).alias(
                "containment"
            ),
        )
        .orderBy("id_a")
    )


@query(
    "dedup_cascade_funnel",
    oracle=f"""
    WITH RECURSIVE pairs AS ({DUCK_LSH_PAIRS}),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ),
    reach(a, b) AS (
      SELECT a, a FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    rep_comp AS (
      SELECT a AS rep_id, MIN(b) AS component FROM reach GROUP BY a
    ),
    {DUCK_LSH_REPS},
    survivors AS (
      SELECT COUNT(DISTINCT coalesce(rc.component, rm.doc_id)) AS n_eligible
      FROM reps rm LEFT JOIN rep_comp rc ON rc.rep_id = rm.doc_id
    ),
    short_reps AS (
      SELECT COUNT(*) AS n_short FROM (
        SELECT DISTINCT text FROM documents
        WHERE len(regexp_extract_all(text, '\\S+')) < 3
      )
    )
    SELECT (SELECT COUNT(*) FROM documents) AS n_total,
           (SELECT COUNT(DISTINCT text) FROM documents) AS n_after_exact,
           (SELECT COUNT(DISTINCT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')))
            FROM documents) AS n_after_normalized,
           s.n_eligible + sr.n_short AS n_after_neardup
    FROM survivors s, short_reps sr
    """,
)
def dedup_cascade_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline summary a curator reads first: corpus size
    after each stage — byte-exact dedup, normalized-text dedup, and
    transitive near-dup clustering (LSH candidates -> connected
    components over exact reps; docs too short to shingle pass
    through). Each stage is the count its operator family would keep;
    the whole report is one row built from contracted aggregates."""
    from wopen_spark.functions.text import doc_fingerprint
    from wopen_spark.operators.graph import connected_components

    d = _spread(spark, _t(spark, sf_dir, "documents"))
    # ONE documents scan for all four counts (total, exact-distinct,
    # normalized-distinct, short-distinct): separate aggs each re-read
    # the multi-KB text column. The Expand behind the multi-distinct agg
    # multiplies rows 4x, but partial distinct collapses each group to
    # the ~5k distinct texts before the shuffle — far cheaper than three
    # extra full-corpus scans.
    counts = d.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.count_distinct("text").alias("n_after_exact"),
        F.count_distinct(doc_fingerprint(F.col("text"))).alias(
            "n_after_normalized"
        ),
        F.count_distinct(
            F.when(
                F.regexp_count(F.col("text"), F.lit(r"\S+")) < 3, F.col("text")
            )
        ).alias("n_short"),
    )
    reps = _lsh_reps(spark, sf_dir)
    pairs = minhash_lsh_candidates(
        reps, id_col="doc_id", text_col="text", n_hashes=8, n_bands=4
    )
    comps = connected_components(pairs, src="id_a", dst="id_b")
    # no broadcast hint: comps is proportional to the candidate graph —
    # small at every tested SF (AQE converts to broadcast at runtime) but
    # corpus-proportional in the worst case, where a forced broadcast
    # would OOM; the doc_id-keyed join stays narrow either way
    eligible = (
        reps.withColumnRenamed("doc_id", "rep_id")
        .join(
            comps.withColumnRenamed("node", "rep_id"),
            "rep_id",
            "left",
        )
        .agg(
            F.count_distinct(
                F.coalesce(F.col("component"), F.col("rep_id"))
            ).alias("n_eligible")
        )
    )
    return (
        counts.join(F.broadcast(eligible))
        .select(
            "n_total",
            "n_after_exact",
            "n_after_normalized",
            (F.col("n_eligible") + F.col("n_short")).alias("n_after_neardup"),
        )
    )


@query(
    "simhash_hamming_adjacent",
    oracle=f"""
    WITH fps AS (
      {_duck_simhash(16)}
    )
    SELECT CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming,
           COUNT(*) AS n_pairs
    FROM fps a JOIN fps b ON b.doc_id = a.doc_id + 1
    GROUP BY 1 ORDER BY 1
    """,
)
def simhash_hamming_adjacent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SimHash VERIFICATION stage: Hamming distance between
    fingerprints (XOR + popcount), histogrammed over the bounded
    adjacent-id pair frame. Near-dups sit in the low-distance buckets —
    this is the distance computation a banded SimHash index runs on its
    bucket collisions. Fingerprints compute once per DISTINCT text."""
    d = _spread(spark, _t(spark, sf_dir, "documents")).select("doc_id", "text")
    fps = _per_distinct_text(
        d, lambda t: t.select("text", simhash(F.col("text"), bits=16).alias("fp"))
    ).select("doc_id", "fp")
    b = fps.select(
        (F.col("doc_id") - 1).alias("doc_id"), F.col("fp").alias("fp_b")
    )
    return (
        fps.join(b, "doc_id")
        .select(
            F.bit_count(
                F.col("fp").bitwiseXOR(F.col("fp_b"))
            ).cast("long").alias("hamming")
        )
        .groupBy("hamming")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("hamming")
    )


@query(
    "lsh_recall_eval",
    oracle=f"""
    WITH {DUCK_LSH_REPS},
    sub AS (SELECT doc_id, text FROM reps WHERE doc_id < 300),
    sh AS (
      SELECT doc_id, {_duck_shingles(3)} AS shingles
      FROM (SELECT doc_id, {_DUCK_WORDS} AS w FROM sub)
    ),
    truth AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE len(list_intersect(a.shingles, b.shingles)) * 2
            >= len(list_distinct(list_concat(a.shingles, b.shingles)))
    ),
    cand AS (
      SELECT id_a, id_b FROM ({DUCK_LSH_PAIRS})
      WHERE id_a < 300 AND id_b < 300
    )
    SELECT (SELECT COUNT(*) FROM truth) AS n_true_pairs,
           (SELECT COUNT(*) FROM cand) AS n_candidates,
           (SELECT COUNT(*) FROM truth t JOIN cand c
             ON t.id_a = c.id_a AND t.id_b = c.id_b) AS n_hits
    """,
)
def lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH recall audit: on a bounded slice of the rep corpus, compare
    the banded candidate set against BRUTE-FORCE ground truth (3-shingle
    Jaccard >= 0.5, decided with the integer cross-multiplication
    2·|∩| >= |∪| — no ratio rounding). This is the banding-parameter
    tuning loop (bands/rows trade recall vs candidates) made a
    first-class query; the brute-force side exists only on the audit
    slice, never the corpus."""
    reps = _lsh_reps(spark, sf_dir)
    sub = reps.filter(F.col("doc_id") < 300)
    sh = sub.select(
        "doc_id", _word_shingles(F.col("text"), 3).alias("shingles")
    )
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("shingles").alias("sa"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("shingles").alias("sb"))
    truth = (
        a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
        .filter(
            F.size(F.array_intersect("sa", "sb")) * 2
            >= F.size(F.array_union("sa", "sb"))
        )
        .select("id_a", "id_b")
    )
    cand = (
        minhash_lsh_candidates(
            reps, id_col="doc_id", text_col="text", n_hashes=8, n_bands=4
        )
        .filter((F.col("id_a") < 300) & (F.col("id_b") < 300))
    )
    n_truth = truth.agg(F.count(F.lit(1)).alias("n_true_pairs"))
    n_cand = cand.agg(F.count(F.lit(1)).alias("n_candidates"))
    n_hits = truth.join(cand, ["id_a", "id_b"]).agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    return n_truth.join(F.broadcast(n_cand)).join(F.broadcast(n_hits))


@query(
    "cross_source_near_dups",
    oracle=f"""
    WITH pairs AS ({DUCK_LSH_PAIRS}),
    src AS (SELECT doc_id, source FROM documents)
    SELECT LEAST(sa.source, sb.source) AS src_a,
           GREATEST(sa.source, sb.source) AS src_b,
           COUNT(*) AS n_pairs
    FROM pairs p
    JOIN src sa ON p.id_a = sa.doc_id
    JOIN src sb ON p.id_b = sb.doc_id
    WHERE sa.source <> sb.source
    GROUP BY 1, 2 ORDER BY n_pairs DESC, src_a, src_b
    """,
)
def cross_source_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which source PAIRS share near-duplicate content — the
    contamination matrix that tells a curator where scrape overlap
    lives (same-source dups are routine; cross-source dups change
    mixture weights). LSH candidate pairs join the doc->source map
    (AQE-sized, never force-broadcast) and roll up to the unordered
    source pair."""
    pairs = minhash_lsh_candidates(
        _lsh_reps(spark, sf_dir), id_col="doc_id", text_col="text",
        n_hashes=8, n_bands=4,
    )
    d = _spread(spark, _t(spark, sf_dir, "documents"))
    src = d.select("doc_id", "source")
    sa = src.select(F.col("doc_id").alias("id_a"), F.col("source").alias("s_a"))
    sb = src.select(F.col("doc_id").alias("id_b"), F.col("source").alias("s_b"))
    # the doc_id->source map is corpus-sized — never force-broadcast it;
    # AQE broadcasts whichever side is actually small at runtime, and at
    # 100 TB this resolves to a narrow (doc_id, source) shuffled join
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(F.col("s_a") != F.col("s_b"))
        .groupBy(
            F.least("s_a", "s_b").alias("src_a"),
            F.greatest("s_a", "s_b").alias("src_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy(F.desc("n_pairs"), "src_a", "src_b")
    )


@query(
    "prefix_filter_jaccard_pairs",
    # Clone-collapsed oracle (the r7 sf10 lesson): the old form ran the
    # token self-join over ALL doc_ids, so on the clone-heavy benchdata
    # corpus (~100 copies per distinct text at sf10) the verification
    # join grew with clone multiplicity SQUARED and exhausted temp disk.
    # This one mirrors the engine's exactness-preserving structure: the
    # quadratic token join runs per DISTINCT text (md5 fingerprint as
    # rep id), rep pairs expand back to doc pairs through two equi
    # joins, and same-text clone pairs are jaccard=1.0 by construction
    # (only for texts with >= 3 tokens — the shingle-set exclusion both
    # sides share). Temp tables bound per-statement state; CREATE OR
    # REPLACE keeps re-runs on one connection idempotent.
    oracle="""
    CREATE OR REPLACE TEMP TABLE pfj_docs AS
      SELECT doc_id, md5(text) AS fp,
             len(regexp_extract_all(lower(trim(text)), '\\S+')) >= 3 AS shingled
      FROM documents;
    CREATE OR REPLACE TEMP TABLE pfj_toks AS
      WITH reps AS (SELECT DISTINCT md5(text) AS rid, text FROM documents),
      words AS (
        SELECT rid, regexp_extract_all(lower(trim(text)), '\\S+') AS w FROM reps
      )
      SELECT DISTINCT rid, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS tok
      FROM words, LATERAL unnest(range(1, len(w) - 1)) AS g(i);
    CREATE OR REPLACE TEMP TABLE pfj_rep_pairs AS
      WITH sizes AS (SELECT rid, COUNT(*) AS sz FROM pfj_toks GROUP BY rid),
      inter AS (
        SELECT a.rid AS ra, b.rid AS rb, COUNT(*) AS i
        FROM pfj_toks a JOIN pfj_toks b ON a.tok = b.tok AND a.rid < b.rid
        GROUP BY 1, 2
      )
      SELECT ra, rb, CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) AS jaccard
      FROM inter
      JOIN sizes sa ON inter.ra = sa.rid
      JOIN sizes sb ON inter.rb = sb.rid
      WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.5;
    SELECT id_a, id_b, jaccard FROM (
      SELECT least(a.doc_id, b.doc_id) AS id_a,
             greatest(a.doc_id, b.doc_id) AS id_b,
             p.jaccard AS jaccard
      FROM pfj_rep_pairs p
      JOIN pfj_docs a ON a.fp = p.ra
      JOIN pfj_docs b ON b.fp = p.rb
      UNION ALL
      SELECT x.doc_id, y.doc_id, CAST(1.0 AS DOUBLE)
      FROM pfj_docs x
      JOIN pfj_docs y ON x.fp = y.fp AND x.doc_id < y.doc_id
      WHERE x.shingled
    ) ORDER BY id_a, id_b
    """,
)
def prefix_filter_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT all-pairs near-dup join via prefix filtering (SSJoin/PPJoin
    family) — the deterministic complement to the MinHash+LSH pipeline:
    LSH can miss pairs (probabilistic recall); prefix filtering returns
    every pair with trigram-shingle Jaccard >= 0.5, provably, while still
    never materializing the O(n²) pair space (candidates come from an
    equi-join on rarest-prefix tokens + a size-ratio bound; exact
    verification runs only on candidates). The oracle is a brute-force
    exact Jaccard over co-occurring-token pairs — if the prefix filter
    dropped a true pair, the hash comparison would catch it.

    Clone-collapse (mandatory here, not cosmetic): the expensive
    candidate+verify join runs per DISTINCT text — identical texts
    would otherwise each re-enter the pair space and the exact join's
    cost grows with the clone multiplicity squared (measured 5.5 s ->
    54.6 s from sf0.1 to sf1, where 50k docs carry the same ~5k
    distinct texts). Rep pairs then expand to doc pairs through
    md5-fingerprint-keyed joins (AQE-sized, never force-broadcast), and
    same-text clone pairs are emitted as jaccard=1.0 by construction —
    exactness is preserved, only the redundant recomputation is gone.
    """
    from wopen_spark.operators.dedup import prefix_filter_similarity_join

    d = _spread(spark, _t(spark, sf_dir, "documents")).select("doc_id", "text")
    docs = d.select("doc_id", F.md5("text").alias("fp"), "text")
    # pinned-layout distinct: the operator's shingle/rank passes run on
    # the rep frame and must not inherit a coalesced 1-partition layout
    reps = _distinct_spread(
        docs.select(F.col("fp").alias("rid"), "text"), ["rid", "text"]
    )
    rep_pairs = prefix_filter_similarity_join(
        reps,
        id_col="rid",
        text_col="text",
        threshold=0.5,
        shingle_size=3,  # trigram vocab is ~30x bigram's on this corpus,
        # so prefix tokens are rare and the candidate join stays sparse
    )
    a = docs.select(F.col("fp").alias("id_a"), F.col("doc_id").alias("da"))
    b = docs.select(F.col("fp").alias("id_b"), F.col("doc_id").alias("db"))
    cross = (
        rep_pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            F.least("da", "db").alias("id_a"),
            F.greatest("da", "db").alias("id_b"),
            "jaccard",
        )
    )
    # clones of the same text are exact duplicates: J = 1.0 without any
    # verification — but only texts that HAVE a trigram shingle, to match
    # the operator's (and the oracle's) empty-shingle-set exclusion
    shingled = docs.filter(
        F.regexp_count(F.col("text"), F.lit(r"\S+")) >= 3
    ).select("doc_id", "fp")
    same = (
        shingled.alias("x")
        .join(
            shingled.alias("y"),
            (F.col("x.fp") == F.col("y.fp"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("id_a"),
            F.col("y.doc_id").alias("id_b"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    return cross.unionByName(same).orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# Exact duplicate-substring spans (ExactSubstr dedup, Lee et al. 2022):
# a token 8-gram occurring in >= 2 distinct texts marks every position
# it covers as duplicated; overlapping hits merge into maximal spans, so
# a token is counted once however many duplicate grams cover it. This is
# the partial-overlap dedup pass that exact/doc-level dedup misses and
# MinHash only approximates — per-source duplicated-token mass is the
# dedup-priority signal for a training mixture.
# ---------------------------------------------------------------------------
_SPAN_K = 8

_DUCK_SPANS = f"""
    dt AS (SELECT DISTINCT text FROM documents),
    toks AS (SELECT text, {_DUCK_WORDS} AS w FROM dt),
    pos AS (SELECT text, w,
                   unnest(range(0, greatest(len(w) - {_SPAN_K} + 1, 0))) AS i
            FROM toks),
    grams AS (SELECT text, i,
                     md5(array_to_string(w[i+1:i+{_SPAN_K}], ' ')) AS g
              FROM pos),
    dup AS (SELECT g FROM (SELECT DISTINCT g, text FROM grams)
            GROUP BY g HAVING COUNT(*) > 1),
    hits AS (SELECT text, i FROM grams WHERE g IN (SELECT g FROM dup)),
    brks AS (
      SELECT text, i,
        CASE WHEN i > COALESCE(MAX(i + {_SPAN_K}) OVER (
               PARTITION BY text ORDER BY i
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
             THEN 1 ELSE 0 END AS brk
      FROM hits),
    isl AS (SELECT text, i, SUM(brk) OVER (PARTITION BY text ORDER BY i)
                   AS island FROM brks),
    spans AS (SELECT text, MIN(i) AS s, MAX(i) + {_SPAN_K} AS e
              FROM isl GROUP BY text, island),
    pt AS (SELECT text, SUM(e - s) AS dup FROM spans GROUP BY text),
    nt AS (SELECT text, len(w) AS n_tokens FROM toks)
"""


@query(
    "dup_span_source_stats",
    oracle=f"""
    WITH {_DUCK_SPANS}
    SELECT d.source,
           CAST(SUM(nt.n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(COALESCE(pt.dup, 0)) AS BIGINT) AS dup_tokens,
           round(CAST(SUM(COALESCE(pt.dup, 0)) AS DOUBLE)
                 / SUM(nt.n_tokens), 6) AS dup_token_fraction
    FROM documents d JOIN nt USING (text) LEFT JOIN pt USING (text)
    GROUP BY source ORDER BY source
    """,
)
def dup_span_source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-span detection runs once per DISTINCT text (the operator
    contract); clones inherit their text's (n_tokens, dup_tokens) via the
    gated rejoin and only the per-source weighting sees all rows. Exact
    integer token counts; the single float is a rounded ratio of longs."""
    from wopen_spark.operators.dedup import duplicate_kgram_spans

    d = _spread(spark, _t(spark, sf_dir, "documents"))
    per_text = duplicate_kgram_spans(
        _distinct_spread(d, ["text"]), "text", k=_SPAN_K
    )
    return (
        _inherit(
            d.select("source", "text"),
            per_text,
            ["text"],
            gate=d.select("text").distinct(),
        )
        .groupBy("source")
        .agg(
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.sum("dup_tokens").cast("long").alias("dup_tokens"),
            F.round(
                F.sum("dup_tokens").cast("double") / F.sum("n_tokens"), 6
            ).alias("dup_token_fraction"),
        )
        .orderBy("source")
    )


@query(
    "dup_span_docs",
    oracle=f"""
    WITH {_DUCK_SPANS}
    SELECT d.doc_id, CAST(nt.n_tokens AS BIGINT) AS n_tokens,
           CAST(pt.dup AS BIGINT) AS dup_tokens,
           round(CAST(pt.dup AS DOUBLE) / nt.n_tokens, 6) AS dup_fraction
    FROM documents d JOIN nt USING (text) JOIN pt USING (text)
    WHERE pt.dup > 0
    ORDER BY doc_id
    """,
)
def dup_span_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-level duplicate-span report: every document carrying at least
    one cross-document duplicated 8-gram span, with its duplicated-token
    count and fraction — the row-level input a span-removal rewrite (or
    a drop-if-mostly-duplicated filter) consumes downstream."""
    from wopen_spark.operators.dedup import duplicate_kgram_spans

    d = _spread(spark, _t(spark, sf_dir, "documents"))
    per_text = duplicate_kgram_spans(
        _distinct_spread(d, ["text"]), "text", k=_SPAN_K
    ).filter(F.col("dup_tokens") > 0)
    return (
        _inherit(
            d.select("doc_id", "text"),
            per_text,
            ["text"],
            gate=d.select("text").distinct(),
        )
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("dup_tokens").cast("long").alias("dup_tokens"),
            F.round(
                F.col("dup_tokens").cast("double") / F.col("n_tokens"), 6
            ).alias("dup_fraction"),
        )
        .orderBy("doc_id")
    )

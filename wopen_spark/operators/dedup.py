"""Deduplication operators for web-scale corpora.

All engine-portable by construction: hashes are md5 (identical in every
engine), shingles are word n-grams, and every step is a pure Column
expression — no Python in the row path, so the operators run inside
whole-stage codegen and scale linearly with executors.

Scale notes (100 TB):
- exact dedup = one shuffle on the 128-bit fingerprint; skew-free since
  fingerprints are uniform.
- MinHash+LSH = per-row signature (map-only) + one shuffle on the band
  key; candidate verification touches only bucket collisions, never the
  O(n²) pair space.
- SimHash = map-only fingerprint; near-dup lookup via Hamming bands.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _word_shingles(text: Column, n: int) -> Column:
    """Distinct word n-gram shingles of ``text`` (lowercased).

    Built with n-1 ``zip_with`` passes over shifted copies of the word
    array — O(words) per row, unlike the naive per-index ``slice`` which
    is O(words²) and dominated a 50k-doc corpus scan. The zip pads the
    shorter (shifted) side with null; ``concat`` propagates the null so a
    final not-null filter leaves exactly size-n+1 shingles (empty when the
    text has fewer than n words).
    """
    words = F.split(F.lower(F.trim(text)), r"\s+")
    combined = words
    for i in range(1, n):
        shifted = F.slice(words, i + 1, F.greatest(F.size(words) - i, F.lit(0)))
        combined = F.zip_with(combined, shifted, lambda a, b: F.concat(a, F.lit(" "), b))
    return F.array_distinct(F.filter(combined, lambda x: x.isNotNull()))


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    n_hashes: int = 4,
    shingle_size: int = 3,
    out_col: str = "minhash",
) -> DataFrame:
    """Add an ``array<string>`` MinHash signature column.

    Hash family: one md5 per shingle per group of 4 (md5(f"mh{g}|" + s)),
    split into four independent 8-hex-char slices — the standard
    split-one-strong-hash trick, 4× fewer digests than hashing per
    function. The signature element is the lexicographic min over
    shingles. Engine-portable: the same mins come out of any engine with
    md5.

    Reference J8 context (get_similarity.py:148-152) does O(n^2) fuzzy
    scoring; MinHash+LSH is the scale path (SURVEY §4.2).
    """
    shingles = _word_shingles(F.col(text_col), shingle_size)
    n_groups = (n_hashes + 3) // 4

    # ONE aggregate pass: per shingle compute its md5 digests (one per group
    # of 4 slots) and fold an element-wise min into the signature array —
    # the shingle subtree and each digest are evaluated once, vs. once per
    # slot with a naive array_min-per-slot. Sentinel "g" sorts after every
    # hex string, and becomes NULL (matching array_min([])) when the text
    # has no shingles.
    def _slices(s):
        digests = [F.md5(F.concat(F.lit(f"mh{g}|"), s)) for g in range(n_groups)]
        return F.array(
            *[F.substring(digests[i // 4], 1 + 8 * (i % 4), 8) for i in range(n_hashes)]
        )

    sig = F.aggregate(
        shingles,
        F.array_repeat(F.lit("g"), n_hashes),
        lambda acc, s: F.zip_with(acc, _slices(s), lambda a, b: F.least(a, b)),
        lambda acc: F.transform(acc, lambda x: F.when(x != "g", x)),
    )
    return df.withColumn(out_col, sig)


def lsh_band_keys(
    sig_col: Column, n_bands: int, rows_per_band: int
) -> list[Column]:
    """Band keys for LSH bucketing: band b's key is the md5 of its slice of
    the signature. Docs sharing any band key are near-dup candidates;
    verify candidates with exact Jaccard afterwards.

    A slice containing any NULL element (doc too short to shingle)
    yields a NULL band key: ``array_join``/``concat_ws`` would silently
    SKIP nulls, so every shingle-less doc would otherwise share
    identical band keys and the downstream bucketing would materialize
    an O(k²) clique of short docs. NULL keys never match an equi-join
    and form no bucket, so such docs simply drop out — the safe default
    for any caller composing the public helpers directly
    (minhash_lsh_candidates additionally pre-filters). The
    null-propagation is ``concat`` over statically-unrolled
    ``element_at`` slots, NOT a when(exists(...)) branch — conditionals
    defeat common-subexpression elimination and were measured
    recomputing the md5-signature tree per band."""
    out = []
    for b in range(n_bands):
        parts: list[Column] = [F.lit(str(b))]
        for i in range(rows_per_band):
            parts.append(F.lit("|"))
            parts.append(F.element_at(sig_col, b * rows_per_band + i + 1))
        out.append(F.md5(F.concat(*parts)))
    return out


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 8,
    n_bands: int = 4,
    shingle_size: int = 3,
) -> DataFrame:
    """Near-duplicate candidate pairs via MinHash + LSH banding.

    Explodes each doc into ``n_bands`` (band, key) rows, groups them into
    buckets by band key (one shuffle on uniform md5 keys), and emits the
    ``id_a < id_b`` pairs inside each bucket; returns the distinct
    candidate id pairs. The signatures are computed once: a band-key
    self-join would run the signature subtree once per join side whenever
    AQE plans the join as a broadcast, which defeats exchange reuse. A
    bucket's ids are collected on one task, so the pairs only ever come
    from colliding buckets, never the O(n²) pair space. Nothing is
    persisted: each call plans the pairs from its own read of ``df``,
    and a caller that scans them more than once releases what it
    persists.
    """
    if n_hashes % n_bands:
        raise ValueError(
            f"n_hashes ({n_hashes}) must divide evenly into n_bands "
            f"({n_bands}): a remainder silently drops signature slots and "
            f"changes the LSH S-curve from the requested configuration"
        )
    rows = n_hashes // n_bands
    # docs too short to have any shingle (null signature) can't be
    # near-dups — and all of them would otherwise share the same empty
    # band keys, forming one giant false-candidate clique. Guard with a
    # cheap word-count predicate, NOT minhash[0].isNotNull(): the latter
    # pushes the whole md5-signature tree into the scan filter and doubles
    # the expensive computation per join side (observed in the plan).
    enough_words = F.regexp_count(F.col(text_col), F.lit(r"\S+")) >= F.lit(shingle_size)
    sigs = minhash_signatures(df.filter(enough_words), text_col, n_hashes, shingle_size)
    keys = lsh_band_keys(F.col("minhash"), n_bands, rows)
    # a NULL band key collides with nothing (see lsh_band_keys), so it
    # must not form a bucket of its own
    buckets = (
        sigs.select(F.col(id_col), F.explode(F.array(*keys)).alias("band_key"))
        .filter(F.col("band_key").isNotNull())
        .groupBy("band_key")
        .agg(F.collect_list(id_col).alias("ids"))
    )
    in_bucket = F.flatten(
        F.transform(
            "ids",
            lambda x: F.transform(
                F.filter("ids", lambda y: x < y),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    return buckets.select(F.inline(in_bucket)).distinct()


def simhash(text: Column, bits: int = 16) -> Column:
    """SimHash fingerprint over distinct lowercase tokens.

    Each token hashes to ``bits`` bits via its md5 prefix; the fingerprint
    sets bit b when the sum over tokens of (+1/-1 for bit b) is positive.
    Near-duplicate docs differ in few bits (Hamming distance).

    Kept to <=24 bits so the per-token hash fits the md5 hex prefix cast;
    engine-portable (md5 + integer ops only).
    """
    if not 1 <= bits <= 24:
        # past ~63 bits the conv()-string -> long cast overflows to NULL
        # for half of all tokens (top bit set) and silently poisons the
        # fingerprint sums; enforce the documented contract instead
        raise ValueError(f"simhash bits must be in [1, 24], got {bits}")
    nibbles = (bits + 3) // 4
    toks = F.array_distinct(F.split(F.lower(F.trim(text)), r"\s+"))
    # hash each token once (md5 prefix -> int), then reuse for every bit
    hashed = F.transform(
        toks, lambda t: F.conv(F.substring(F.md5(t), 1, nibbles), 16, 10).cast("long")
    )
    # ONE pass over the token hashes: accumulate the per-bit ±1 sums into a
    # bits-wide array (+1 when the bit is set, -1 when clear) — 16x fewer
    # array traversals than an aggregate per bit, and no second reference
    # to `hashed` (a separate size(hashed) term would re-evaluate the whole
    # tokenize+md5 subtree per element: branches defeat subexpr elimination).
    masks = F.array(*[F.lit(1 << b).cast("long") for b in range(bits)])
    sums = F.aggregate(
        hashed,
        F.array_repeat(F.lit(0).cast("long"), bits),
        lambda acc, h: F.zip_with(
            acc, masks, lambda a, m: a + (h.bitwiseAND(m) != 0).cast("long") * 2 - 1
        ),
    )
    return F.aggregate(
        F.zip_with(
            sums, masks, lambda s, m: F.when(s > 0, m).otherwise(F.lit(0).cast("long"))
        ),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )


def ngram_jaccard(a: Column, b: Column, n: int = 2) -> Column:
    """Word n-gram Jaccard similarity between two text columns, rounded to
    6 decimals. |A ∩ B| / |A ∪ B| over distinct shingle sets."""
    sa = _word_shingles(a, n)
    sb = _word_shingles(b, n)
    # size() of a NULL array is -1 under Spark's legacy default, so a
    # NULL input text would yield -1.0 — a nonsense negative similarity
    # that survives `sim >= 0` filters. Null inputs propagate NULL.
    inter = F.size(F.array_intersect(sa, sb))
    union = F.size(F.array_union(sa, sb))
    # greatest(union,1) instead of a when()-guard: union==0 forces inter==0
    # so the result is identically 0.0, and the unconditional shape lets
    # subexpression elimination share the sa/sb shingle subtrees.
    sim = F.round(
        inter.cast("double") / F.greatest(union, F.lit(1)).cast("double"), 6
    )
    return F.when(a.isNull() | b.isNull(), F.lit(None)).otherwise(sim)


def exact_dedup(df: DataFrame, key: Column, id_col: str, keep: str = "min") -> DataFrame:
    """Exact deduplication: keep one row per ``key`` (the min/max id).

    One hash-partition shuffle on the dedup key; at 100 TB prefer a
    fingerprint key (md5 of normalized content) so the shuffle is uniform.

    Contract: ``id_col`` must be non-null and unique across rows. A
    NULL id makes min/max NULL and the semi-join then keeps ZERO rows
    for that key (null keys never equi-match); a non-unique id keeps
    every row sharing the winning id, not one row per key.
    """
    agg = F.min(id_col) if keep == "min" else F.max(id_col)
    keep_ids = df.withColumn("__key", key).groupBy("__key").agg(agg.alias(id_col)).drop("__key")
    return df.join(keep_ids, id_col, "left_semi")


def prefix_contained_flags(
    df: DataFrame, text_col: str = "text", order_col: str = "doc_id"
) -> DataFrame:
    """Flag rows whose ``text_col`` is a strict prefix of ANOTHER row's
    text. Complete by construction: among distinct texts sorted
    lexicographically, if A prefixes any text then every text between A
    and that one also extends A — so A's immediate successor decides.
    Prefix pairs share their first character, so the sort runs inside
    first-char partitions (parallel; no global sort).

    Input rows must have distinct ``text_col`` values (contract clones
    first); returns the input columns plus ``is_prefix`` boolean.

    Empty-string edge: "" lands alone in its first-char partition, so the
    lead() never sees a successor even though "" strictly prefixes every
    non-empty text. A 1-row broadcast indicator (any non-empty text
    exists?) closes that blind spot. The indicator is a separate
    aggregate over ``df``, i.e. a second execution of the upstream plan
    (exchange reuse may or may not fold it) — callers feeding an
    expensive pipeline should persist/checkpoint it first.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(F.substring(text_col, 1, 1)).orderBy(
        text_col, order_col
    )
    nxt = F.lead(text_col).over(w)
    flagged = df.withColumn(
        "is_prefix",
        nxt.isNotNull()
        & (nxt != F.col(text_col))
        & (nxt.substr(F.lit(1), F.length(text_col)) == F.col(text_col)),
    )
    ind = df.agg(
        F.coalesce(F.max(F.length(text_col)) > 0, F.lit(False)).alias(
            "__any_nonempty"
        )
    )
    return (
        flagged.join(F.broadcast(ind))
        .withColumn(
            "is_prefix",
            F.when(
                F.length(text_col) == 0, F.col("__any_nonempty")
            ).otherwise(F.col("is_prefix")),
        )
        .drop("__any_nonempty")
    )


def _ceil_thr(threshold: float, sz: Column) -> Column:
    """ceil(threshold * sz) with a downward epsilon guard: IEEE products
    like 0.07*100 land at 7.000000000000001, and a raw ceil() would
    round UP past the exact integer — shrinking a prefix / tightening
    the size-ratio bound and silently dropping pairs the exact-join
    contract owes the caller. The epsilon (1e-6, far above the ~2^-52
    relative product error for any real |T|) only ever errs the SAFE
    way: a marginally longer prefix / looser bound admits extra
    candidates for verification, never excludes a true pair."""
    return F.ceil(F.lit(threshold) * sz - F.lit(1e-6))


def prefix_filter_similarity_join(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    shingle_size: int = 2,
) -> DataFrame:
    """All-pairs set-similarity self-join with PREFIX FILTERING — the
    exact-answer complement to MinHash+LSH (which is probabilistic).
    Returns (id_a, id_b, jaccard) for every pair with word-shingle
    Jaccard >= ``threshold``.

    Prefix-filter lemma (SSJoin/PPJoin, public literature): order every
    document's tokens by one global rank (ascending frequency — rarest
    first, so prefixes are maximally selective); if J(A,B) >= t, then A
    and B share at least one token among each one's first
    ``|T| - ceil(t*|T|) + 1`` tokens. Candidates therefore come from an
    equi-join on PREFIX tokens only, and the exact Jaccard verification
    touches candidates, never the O(n²) pair space.

    Scale shape: token-frequency count (one shuffle on token), rank
    join back (same key; hot common tokens are exactly the ones prefix
    selection then discards — AQE skew-join handles the join itself),
    per-doc re-assembly (one shuffle on id), prefix explode bounded by
    (1-t)|T|+1 tokens per doc, candidate equi-join on rare tokens, and
    a size-ratio filter (min >= t*max, a J-upper-bound) cuts candidates
    before verification. On a cloned corpus run this per DISTINCT text
    and rejoin (the clone-collapse pattern used throughout queries/).
    """
    toks = df.select(
        F.col(id_col).alias("_id"),
        _word_shingles(F.col(text_col), shingle_size).alias("_toks"),
    ).filter(F.size("_toks") > 0)
    # one row per doc with its shingle array — consumed three times
    # (frequency count, prefix build, verification); materialize so the
    # shingle construction runs once, not per consumer
    toks = toks.withColumn("_sz", F.size("_toks")).localCheckpoint()

    freq = (
        toks.select(F.explode("_toks").alias("_tok"))
        .groupBy("_tok")
        .agg(F.count(F.lit(1)).alias("_freq"))
    )
    # global order (rarest first, token as tiebreak) -> per-doc sorted
    # token array; prefix = the first (sz - ceil(t*sz) + 1) entries
    ranked = (
        toks.select("_id", "_sz", F.explode("_toks").alias("_tok"))
        .join(freq, "_tok")
        .groupBy("_id", "_sz")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("_freq"), F.col("_tok")))
            ).alias("_ordered")
        )
        .withColumn(
            "_prefix",
            F.slice(
                F.col("_ordered._tok"),
                1,
                (F.col("_sz") - _ceil_thr(threshold, F.col("_sz")) + 1).cast(
                    "int"
                ),
            ),
        )
        .select("_id", "_sz", F.explode("_prefix").alias("_tok"))
        # both sides of the candidate self-join read this — materialize
        # so the freq-join/sort pipeline doesn't run twice
        .localCheckpoint()
    )
    cand = (
        ranked.alias("a")
        .join(
            ranked.alias("b"),
            (F.col("a._tok") == F.col("b._tok"))
            & (F.col("a._id") < F.col("b._id"))
            # J <= min(|A|,|B|)/max(|A|,|B|): size-ratio pre-filter
            & (
                F.least("a._sz", "b._sz")
                >= _ceil_thr(threshold, F.greatest("a._sz", "b._sz"))
            ),
        )
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        # NOT distinct here: deduping the candidate stream is a full
        # shuffle of |candidates| rows; verifying duplicates costs only
        # the extra intersects and the final distinct then runs on the
        # (tiny) surviving pair set instead
    )
    sets = toks.select("_id", "_toks", "_sz")
    return (
        cand.join(
            sets.select(
                F.col("_id").alias("id_a"),
                F.col("_toks").alias("_ta"),
                F.col("_sz").alias("_sa"),
            ),
            "id_a",
        )
        .join(
            sets.select(
                F.col("_id").alias("id_b"),
                F.col("_toks").alias("_tb"),
                F.col("_sz").alias("_sb"),
            ),
            "id_b",
        )
        .withColumn("_inter", F.size(F.array_intersect("_ta", "_tb")))
        .withColumn(
            "jaccard",
            F.col("_inter") / (F.col("_sa") + F.col("_sb") - F.col("_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
        .distinct()
    )


def ngram_containment(a: Column, b: Column, n: int = 2) -> Column:
    """Word n-gram CONTAINMENT of ``a`` in ``b``: |A ∩ B| / |A|, rounded
    to 6 decimals. The asymmetric complement of :func:`ngram_jaccard` —
    a short doc fully embedded in a long one scores ~1.0 here while its
    Jaccard stays low, which is exactly the truncation/quote-dedup case
    (Broder's containment measure)."""
    sa = _word_shingles(a, n)
    sb = _word_shingles(b, n)
    inter = F.size(F.array_intersect(sa, sb))
    score = F.round(
        inter.cast("double") / F.greatest(F.size(sa), F.lit(1)).cast("double"), 6
    )
    # see ngram_jaccard: size(NULL array) is -1, so gate null inputs
    return F.when(a.isNull() | b.isNull(), F.lit(None)).otherwise(score)


def duplicate_kgram_spans(
    texts: DataFrame, text_col: str = "text", k: int = 8
) -> DataFrame:
    """Cross-document duplicate-substring spans (ExactSubstr-style dedup,
    Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    Better"): a token k-gram that occurs in MORE THAN ONE distinct text
    is a duplicated substring; every corpus position it covers is a
    duplicated token. Overlapping hits are merged into maximal spans per
    text (gaps-and-islands), so ``dup_tokens`` counts each token once no
    matter how many duplicated k-grams cover it.

    Input must be one row per DISTINCT text (clone-collapse upstream —
    exact clones are the exact-dedup operator's job; this one finds the
    partial overlaps exact dedup misses). Returns
    ``(text_col, n_tokens, dup_tokens)`` — one row per input text,
    ``dup_tokens = 0`` when nothing is duplicated.

    Scale shape: the k-gram join key is md5(k-gram) — a uniform 32-char
    key, so the duplicate-gram groupBy shuffles evenly regardless of
    token skew (the paper's suffix-array pass is a single-machine
    algorithm; banding on gram hashes is the distributed equivalent).
    The island-merge windows partition by text, so state per window is
    bounded by a single document's hit count, never the corpus.
    """
    from pyspark.sql import Window

    w_toks = F.regexp_extract_all(
        F.lower(F.trim(F.col(text_col))), F.lit(r"\S+"), F.lit(0)
    )
    toks = texts.select(text_col).select(
        text_col, w_toks.alias("_w"), F.size(w_toks).alias("n_tokens")
    )
    # sequence() flips to step -1 when start > stop, so short texts must
    # be gated to an explicit empty array rather than sequence(0, n-k).
    gram_array = F.when(
        F.col("n_tokens") >= k,
        F.expr(
            f"transform(sequence(0, size(_w) - {k}),"
            f" i -> md5(array_join(slice(_w, i + 1, {k}), ' ')))"
        ),
    ).otherwise(F.array(F.lit(None)).cast("array<string>"))
    grams = toks.select(
        text_col,
        F.posexplode(gram_array).alias("i", "g"),
    ).filter(F.col("g").isNotNull())
    # duplicated gram = appears in >= 2 distinct texts. Within-text
    # repeats collapse IN-ROW (array_distinct before the explode) so the
    # distinct's map-side state is per-row, not a per-task hash table
    # over every gram instance; the (g, text) distinct is kept (Catalyst
    # fuses it into the count's partial aggregation — no extra exchange)
    # so a caller that violates the one-row-per-distinct-text contract
    # still cannot make a text self-duplicate.
    dup_grams = (
        toks.select(text_col, F.explode(F.array_distinct(gram_array)).alias("g"))
        .filter(F.col("g").isNotNull())
        .select("g", text_col)
        .distinct()
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("_nt"))
        .filter(F.col("_nt") > 1)
        .select("g")
    )
    hits = grams.join(dup_grams, "g", "left_semi")
    # merge overlapping [i, i+k) hit intervals per text: island starts
    # where a hit begins past the running max end of everything before it
    win = Window.partitionBy(text_col).orderBy("i")
    prev_end = F.max(F.col("i") + k).over(
        win.rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = hits.select(
        text_col,
        "i",
        F.when(F.col("i") > F.coalesce(prev_end, F.lit(-1)), 1)
        .otherwise(0)
        .alias("_brk"),
    ).withColumn("_island", F.sum("_brk").over(win))
    per_text_dup = (
        islands.groupBy(text_col, "_island")
        .agg((F.max("i") + k - F.min("i")).alias("_span"))
        .groupBy(text_col)
        .agg(F.sum("_span").alias("dup_tokens"))
    )
    return (
        toks.select(text_col, "n_tokens")
        .join(per_text_dup, text_col, "left")
        .select(
            text_col,
            "n_tokens",
            F.coalesce(F.col("dup_tokens"), F.lit(0)).cast("long").alias("dup_tokens"),
        )
    )

"""Deduplication operators for large-scale document corpora.

The reference engine has no document store, but a training-data pipeline at
100 TB needs dedup as a first-class operator. Everything here is expressed
as DataFrame transformations whose shuffles are bounded by design:

- **Exact dedup** shuffles one 32-hex-char key per document (never the
  text): normalize → ``md5`` → groupBy(hash) → keep min(doc_id).
- **N-gram Jaccard** uses the inverted-index pattern: explode distinct
  shingles, equi-join on the shingle, count per pair. The join key is the
  shingle, so only documents *sharing* a shingle ever meet — no all-pairs
  cross join. ``max_shingle_df`` drops stop-shingles (doc frequency above
  a cap) before the join, which bounds the worst-case pair fan-out the
  same way common-token filtering does in production minhash systems.
- **MinHash/LSH** reduces each document to a K-integer signature, then
  band-buckets signatures so candidate pairs come from an equi-join on
  (band index, band key) — candidate generation is O(candidates), not
  O(n²).
- **SimHash** reduces each document to one small integer fingerprint via
  per-bit weighted majorities; near-dup candidates share a fingerprint
  nibble (pigeonhole on Hamming distance), again an equi-join.

Token ids: shingles and tokens get integer ids from one dictionary rank
(:func:`ranked_dictionary`, joined back by :func:`dictionary_ids`): the
1-based rank of the key among the distinct keys in sorted order. MinHash
permutes those ids with fixed ``(a*id + b) % p`` parameters, SimHash and
``textstats.doc_fingerprint`` use the same ids, and every step is plain
integer arithmetic, so a SQL oracle (DuckDB) reproduces it bit-for-bit.
The rank is two-phase (per-prefix-bucket sort plus an O(buckets) offset
table), so only the offset table ever crosses a single partition.

Reference parity note: the reference app has no dedup; this module covers
the brief's training-pipeline surface (SURVEY.md §2 extension).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Modulus and fixed (a, b) parameters for the MinHash permutation family
# h_i(x) = (a_i * x + b_i) % MINHASH_P. Any fixed odd multipliers work; these
# are arbitrary primes well below 2^31 so a*id stays far from BIGINT overflow
# (ids are dictionary ranks, far below 2^31).
MINHASH_P = 2_147_483_647  # 2^31 - 1 (Mersenne prime)
MINHASH_PARAMS: list[tuple[int, int]] = [
    (1_000_000_007, 12_345),
    (998_244_353, 54_321),
    (1_000_000_033, 777),
    (999_999_937, 31_337),
    (1_000_000_087, 42),
    (1_000_000_093, 271_828),
    (1_000_000_097, 141_421),
    (1_000_000_103, 173_205),
    (1_000_000_123, 223_606),
    (1_000_000_181, 244_948),
    (1_000_000_207, 264_575),
    (1_000_000_223, 282_842),
    (1_000_000_241, 300_000),
    (1_000_000_271, 316_227),
    (1_000_000_289, 331_662),
    (1_000_000_297, 346_410),
]
MINHASH_K = len(MINHASH_PARAMS)
LSH_BANDS = 4
LSH_ROWS = MINHASH_K // LSH_BANDS

# SimHash uses the same parameter family; bit j of a token's pseudo-hash is
# the parity of ((a_j * id + b_j) % p).
SIMHASH_BITS = 16


def normalize_text(col: Column) -> Column:
    """Whitespace-collapse + trim + lowercase — the canonical form exact
    dedup hashes. Mirrors the usual normalize step of corpus dedup."""
    return F.lower(F.trim(F.regexp_replace(col, r"\s+", " ")))


def exact_dedup_groups(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: one row per distinct normalized text with the surviving
    doc id (min id = keep-first) and the group size.

    Scale: the shuffle key is the md5 hex (32 chars/doc); text never
    shuffles. Map-side partial aggregation applies to both min and count.
    """
    return (
        docs.select(
            F.md5(normalize_text(F.col(text_col))).alias("text_hash"),
            F.col(id_col),
        )
        .groupBy("text_hash")
        .agg(
            F.min(id_col).alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup applied: keep one row per distinct normalized text (the
    lowest id). Semi-join back so the full rows survive without shuffling
    document bodies through the aggregate."""
    keep = exact_dedup_groups(docs, text_col, id_col).select(
        F.col("keep_doc_id").alias(id_col)
    )
    return docs.join(keep, on=id_col, how="left_semi")


def doc_shingles(
    docs: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    distinct: bool = True,
) -> DataFrame:
    """(doc_id, shingle) pairs: word n-grams over a whitespace split.

    Stays JVM-side: split + transform(sequence) + explode, no Python UDF.
    The token array is materialized as its own projection first so the
    element lookups inside the transform lambda read an attribute — with
    the split inlined, interpreted higher-order eval re-splits the text
    once per shingle position (~n_tokens× redundant work per row).

    Each shingle is built as ``concat_ws(" ", t[i], …, t[i+n-1])`` rather
    than ``array_join(slice(toks, i, n))``: identical strings (verified
    element-wise r21), but no per-position n-element array allocation
    inside the interpreted ``transform`` lambda (higher-order functions
    are CodegenFallback, so every saved allocation is an interpreted-path
    saving; guide §4.1 "prefer built-ins", applied inside the lambda).

    The whole shingle expression is ONE parsed SQL string: building it
    with nested Column operators costs a Py4J round trip per operator
    (profiled r21: the Column form of this module spent >60% of query
    *construction* inside py4j send_command), and the bench pays
    construction on every timed run. Same expression tree either way.
    """
    base = docs.select(
        F.col(id_col).alias("doc_id"), F.split(F.col(text_col), " ").alias("__toks")
    )
    parts = ", ".join(f"element_at(__toks, i + {j})" for j in range(n))
    grams = (
        f"CASE WHEN size(__toks) < {n} THEN CAST(array() AS ARRAY<STRING>) "
        f"ELSE transform(sequence(1, size(__toks) - {n - 1}), "
        f"i -> concat_ws(' ', {parts})) END"
    )
    if distinct:
        grams = f"array_distinct({grams})"
    return base.select("doc_id", F.expr(f"explode({grams}) AS shingle"))


# Bucket width (in characters) for the two-phase dictionary rank. A fixed-
# length character prefix is ORDER-PRESERVING under Spark's default
# UTF8-binary collation (s < t ⇒ prefix_k(s) ≤ prefix_k(t), since UTF-8
# byte order equals codepoint order), so sorting (bucket, key) equals
# sorting key — which is what makes the per-bucket row_number + cross-bucket
# offset reconstruction exact. 4 chars keeps the bucket-count table tiny
# (≤ distinct 4-prefixes) while spreading a web-scale dictionary over
# ~10⁵ buckets.
DICT_BUCKET_CHARS = 4


def ranked_dictionary(keys: DataFrame, key_col: str, id_col: str) -> DataFrame:
    """(key, id) with id = 1-based rank of the key among the distinct
    non-NULL keys in sorted order — the same value
    ``row_number() OVER (ORDER BY key)`` assigns over those keys, WITHOUT a
    single-partition sort of the dictionary.

    NULL keys get no id: they are dropped before the distinct, so the ids
    are dense 1..n over the n distinct non-NULL keys. That matches the
    DuckDB oracle, which sorts NULL last, for every non-NULL key.

    A row_number over a Window with no PARTITION BY is a single-partition
    Exchange + Sort of every distinct key. Two-phase replacement
    (parallelize the sort, shuffle only metadata for the cross-partition
    fix-up):

    1. bucket = first ``DICT_BUCKET_CHARS`` chars of the key (order-
       preserving, deterministic — unlike range partitioning, whose
       sampled boundaries would add a sampling job);
    2. ``row_number() OVER (PARTITION BY bucket ORDER BY key)`` — the big
       sort now runs one task per bucket;
    3. global offset per bucket = running sum of bucket sizes in bucket
       order — a window over the tiny bucket-COUNT table (O(buckets)
       rows, the only remaining single-partition step), broadcast back;
    4. id = offset + per-bucket row number.

    Both consumers of the distinct-key exchange (the per-bucket rank and
    the bucket counts) read the identical subtree, so the executed plan
    reuses one shuffle (``ReusedExchange``; pinned by
    tests/test_ranked_dictionary.py).
    """
    b = f"substring({key_col}, 1, {DICT_BUCKET_CHARS})"
    rw = keys.select(key_col).filter(f"{key_col} IS NOT NULL").distinct().selectExpr(
        key_col,
        f"{b} AS __b",
        f"row_number() OVER (PARTITION BY {b} ORDER BY {key_col}) AS __r",
        # bucket size in the same (partitioning, sort) window pass — the
        # per-bucket head row (__r = 1) then carries everything the offset
        # table needs, so no separate count aggregation (and its exchange).
        f"count(1) OVER (PARTITION BY {b}) AS __c",
    )
    offs = rw.filter("__r = 1").selectExpr(
        "__b",
        "(sum(__c) OVER (ORDER BY __b ROWS BETWEEN UNBOUNDED PRECEDING AND "
        "CURRENT ROW) - __c) AS __off",
    )
    return rw.join(F.broadcast(offs), "__b").selectExpr(
        key_col, f"CAST(__off + __r AS INT) AS {id_col}"
    )


def dictionary_ids(rows: DataFrame, key_col: str, id_col: str, *keep: str) -> DataFrame:
    """(*keep, id_col): each row's ``key_col`` replaced by its
    :func:`ranked_dictionary` id. The one token-id path of MinHash, SimHash
    and ``textstats.doc_fingerprint``. Rows with a NULL key drop out (the
    inner join finds no id for them)."""
    d = ranked_dictionary(rows, key_col, id_col)
    return rows.join(d, key_col).select(*keep, id_col)


def minhash_signatures(
    docs: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document MinHash signature: columns mh0..mh{K-1}.

    One aggregate over the exploded shingles computes all K mins at once
    (map-side partial min per component), so the shuffle carries K ints per
    document regardless of document size.
    """
    ids = dictionary_ids(doc_shingles(docs, n, text_col, id_col), "shingle", "sid", "doc_id")
    # One parsed string per component instead of ~8 Py4J round trips each
    # (same expression: CAST(a AS BIGINT) * sid + b, then % p).
    aggs = [
        F.expr(f"min((CAST({a} AS BIGINT) * sid + {b}) % {MINHASH_P}) AS mh{i}")
        for i, (a, b) in enumerate(MINHASH_PARAMS)
    ]
    return ids.groupBy("doc_id").agg(*aggs)


def _band_table(signatures: DataFrame) -> DataFrame:
    """One scan of the signatures → (doc_id, sig array, band, band_key).

    A single ``explode`` of the per-row array of band structs replaces the
    old LSH_BANDS-way union, so the (possibly expensive) signature lineage
    is traversed once per action rather than once per band. The full
    signature rides along as an array so downstream pair scoring needs no
    join back to the signatures.
    """
    sig_arr = "array(" + ", ".join(f"mh{i}" for i in range(MINHASH_K)) + ")"
    band_structs = "array(" + ", ".join(
        "named_struct('band', {b}, 'band_key', concat_ws('_', {keys}))".format(
            b=b,
            keys=", ".join(f"mh{b * LSH_ROWS + r}" for r in range(LSH_ROWS)),
        )
        for b in range(LSH_BANDS)
    ) + ")"
    return signatures.select(
        "doc_id", F.expr(f"{sig_arr} AS sig"), F.expr(f"explode({band_structs}) AS bk")
    ).select("doc_id", "sig", F.expr("bk.band AS band"), F.expr("bk.band_key AS band_key"))


def minhash_lsh_pairs(
    docs: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket_df: int | None = None,
) -> DataFrame:
    """LSH candidate pairs with the estimated Jaccard (fraction of equal
    signature components). Output: (doc_a, doc_b, est_jaccard).

    ``max_bucket_df`` is the production skew/memory guard, analogous to
    ``max_shingle_df`` in :func:`jaccard_pairs`: buckets whose size
    exceeds the cap are dropped entirely (a bucket of df docs would emit
    O(df²) pairs and hold df (doc_id, 16-int sig) structs in one
    aggregation buffer — a single giant duplicate cluster is the one
    place this plan can concentrate memory). The cap kills the O(df²)
    pair explosion outright; the collect-side buffer still materializes
    once before the filter, but ObjectHashAggregate degrades to
    sort-based spilling under pressure, so the explosion — not the
    collect — is the scale killer the cap addresses. Dropping is safe
    for dedup recall in the same way stop-shingle dropping is: a
    near-dup cluster that large collides in many buckets and in exact
    dedup anyway. ``None`` (the default, used by the differential
    registry entry) keeps every pair.

    Plan shape: the expensive lineage (shingle→id→16-min agg) is traversed
    exactly ONCE — the band table is grouped by (band, band_key) into
    bucket arrays, and candidate pairs are generated bucket-locally by two
    chained ``explode`` s (codegen Generate operators) with ``doc_a <
    doc_b``. No self-join, so nothing depends on exchange reuse surviving
    AQE's broadcast rewrite, and no persist/localCheckpoint blocks the
    query path — the result is as lazy as every other operator here.
    Bucket sizes track real near-dup group sizes (a whole band must
    match), so the per-bucket pair blow-up is O(dup-group²), the same
    bound the problem itself imposes. est_jaccard is computed from the
    signature arrays carried through the bucket structs (a 16-term
    zip_with), so no join back to the signatures is needed.
    """
    sigs = minhash_signatures(docs, n, text_col, id_col)
    bands = _band_table(sigs)
    buckets = (
        bands.groupBy("band", "band_key")
        .agg(F.collect_list(F.struct("doc_id", "sig")).alias("ms"))
        .filter(F.size("ms") >= 2)
    )
    if max_bucket_df is not None:
        buckets = buckets.filter(F.size("ms") <= max_bucket_df)
    matches = (
        "aggregate(zip_with(a.sig, b.sig, "
        "(x, y) -> CASE WHEN x = y THEN 1 ELSE 0 END), 0, (acc, t) -> acc + t)"
    )
    return (
        buckets.select(F.expr("explode(ms) AS a"), "ms")
        .select("a", F.expr("explode(ms) AS b"))
        .filter(F.expr("a.doc_id < b.doc_id"))
        .select(
            F.expr("a.doc_id AS doc_a"),
            F.expr("b.doc_id AS doc_b"),
            F.expr(f"{matches} / CAST({float(MINHASH_K)} AS DOUBLE) AS est_jaccard"),
        )
        .distinct()
    )


def jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_shingle_df: int | None = 100,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for pairs sharing ≥1 shingle.

    Inverted-index join (key = shingle), then |A∩B| via group-count and
    |A∪B| = |A| + |B| − |A∩B|. The Jaccard value is an exact ratio of two
    BIGINTs — deterministic across engines with no quantization needed.

    ``max_shingle_df`` drops shingles whose document frequency exceeds the
    cap — the standard stop-shingle guard that keeps the pair fan-out
    linear in the number of true near-dups at corpus scale. Bounded by
    default (a hot shingle would otherwise produce O(df²) pairs); pass
    ``None`` only for small differential fixtures.

    Plan shape: ONE groupBy(shingle) builds the postings list
    (collect_list of doc ids, bounded by the cap → bounded group memory),
    the cap is a free filter on the group size, and both the per-doc
    shingle counts and the candidate pairs re-derive from the *same*
    postings subtree (``ReusedExchange`` replays the groupBy(shingle)
    shuffle for the second consumer). Pair generation is bucket-local: two
    chained ``explode`` s of the posting array (codegen Generate
    operators) with ``doc_a < doc_b`` — no self-join and no interpreted
    nested-``transform``; the blow-up per posting is bounded by the df
    cap (≤ cap²/2 pairs).
    """
    sh = doc_shingles(docs, n, text_col, id_col)
    groups = sh.groupBy("shingle").agg(F.expr("collect_list(doc_id) AS ds"))
    if max_shingle_df is not None:
        groups = groups.filter(f"size(ds) <= {max_shingle_df}")
    sizes = (
        groups.select(F.expr("explode(ds) AS doc_id"))
        .groupBy("doc_id")
        .agg(F.expr("count(1) AS n_shingles"))
    )
    inter = (
        groups.filter("size(ds) >= 2")
        .select(F.expr("explode(ds) AS a"), "ds")
        .select("a", F.expr("explode(ds) AS b"))
        .filter("a < b")
        .groupBy(F.expr("a AS doc_a"), F.expr("b AS doc_b"))
        .agg(F.expr("count(1) AS n_inter"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    return (
        inter.join(sa, F.expr("doc_a = sa.doc_id"))
        .join(sb, F.expr("doc_b = sb.doc_id"))
        .selectExpr(
            "doc_a",
            "doc_b",
            "CAST(n_inter AS DOUBLE) / (sa.n_shingles + sb.n_shingles - n_inter)"
            " AS jaccard",
        )
        .filter(f"jaccard >= {float(threshold)!r}D")
    )


def simhash(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document SimHash fingerprint (SIMHASH_BITS bits) over unigram
    tokens weighted by occurrence count.

    Bit j of token t's pseudo-hash is parity of ((a_j·id(t)+b_j) mod p);
    the fingerprint sets bit j when the weighted majority of token bits is
    1. One groupBy(doc) computes all bit-majorities at once. Near-dup
    candidates then share a fingerprint nibble at the same position
    (pigeonhole over Hamming distance ≤ 3 for 16 bits / 4 nibbles).
    """
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.col(text_col), " ")).alias("tok"),
    )
    ids = dictionary_ids(toks, "tok", "tid", "doc_id")
    params = MINHASH_PARAMS[:SIMHASH_BITS]
    # Parsed-string form of the same expressions (see doc_shingles note):
    # the Column form of these 16 majorities + the fingerprint fold was
    # ~2800 Py4J round trips per construction.
    bit_sums = [
        F.expr(
            f"sum(((CAST({a} AS BIGINT) * tid + {b}) % {MINHASH_P} % 2) * 2 - 1) AS v{j}"
        )
        for j, (a, b) in enumerate(params)
    ]
    vs = ids.groupBy("doc_id").agg(*bit_sums)
    fp = " + ".join(
        f"(CASE WHEN v{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(SIMHASH_BITS)
    )
    return vs.select("doc_id", F.expr(f"CAST({fp} AS BIGINT) AS simhash"))

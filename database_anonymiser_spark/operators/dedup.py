"""Deduplication operators for training-data pipelines.

The reference has no dedup (SURVEY.md §2 — capability extension mandated by
BASELINE.json). Four families, all expressed with built-in Catalyst
expressions — no Python UDFs anywhere, so every stage codegens and scales:

- exact:        hash groupBy on the raw value
- fingerprint:  md5 over normalised text (case/whitespace canonicalisation)
- n-gram Jaccard: shingle → inverted-index self-join → exact Jaccard
- MinHash+LSH:  shingle hash → k min-hashes → banded buckets → candidate
                join → exact-Jaccard verification (the standard
                Broder/LSH construction from the dedup literature)
- SimHash:      per-token hash → bitwise majority vote → 16-bit signature

Determinism: every hash derives from md5 (stable across engines/versions),
mapped to integers via base-16 conversion — no xxhash/murmur, whose seeds
would make DuckDB-oracle checking impossible.

Scale notes: shingle explosion is linear in corpus tokens; the inverted-index
join shuffles on the shingle hash (high cardinality → even partitioning); the
band join shuffles on (band_id, band_hash). Hot shingles (stopword n-grams)
can skew the Jaccard join at 100 TB — mitigations: AQE skew-join (on by
default in our session) and an optional document-frequency cap that drops
shingles appearing in more than ``max_df`` docs (standard in MinHash dedup
at scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from database_anonymiser_spark.operators.cachectl import scoped_cache

# (a, b) pairs for the universal hash family h(x) = (a*x + b) mod P.
# P = 2^31 - 1 (Mersenne prime): keeps a*x + b within int64.
MERSENNE_P = 2_147_483_647
HASH_FAMILY: tuple[tuple[int, int], ...] = (
    (1_203_114_875, 613_423_303),
    (1_150_086_895, 39_273_847),
    (822_366_449, 1_003_347_421),
    (317_425_359, 222_469_867),
    (784_575_935, 1_909_423_111),
    (1_567_021_349, 83_459_267),
    (491_263_007, 1_350_872_093),
    (962_177_483, 577_306_151),
)


def tokens(text_col) -> F.Column:
    """Whitespace tokenisation (split on runs of whitespace)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.split(F.trim(c), r"\s+")


def _parallelism_floor(df: DataFrame, key_col: str) -> DataFrame:
    """Widen few-partition inputs before heavy per-row projections
    (measured at sf0.1: jaccard 2.45s → 0.83s, minhash 1.94s → 0.97s).
    Projections — unlike filters — do NOT get pushed below a repartition,
    so the id-hash repartition form with no cache barrier applies; see
    :func:`~database_anonymiser_spark.operators.parallel.scan_floor`
    for the consolidated policy (r15)."""
    from database_anonymiser_spark.operators.parallel import scan_floor

    return scan_floor(df, key_col=key_col)


def shingle_array(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, widen: bool = True
) -> DataFrame:
    """Per-doc array of DISTINCT word n-gram shingles: (id, shingle_arr).

    A pure array expression — ``array_distinct(transform(sequence(...), i ->
    array_join(slice(tokens, i, n), ' ')))``. No join, no shuffle beyond
    the parallelism floor, fully whole-stage-codegen'd; cost is linear in
    corpus tokens. Keeping the set-per-doc in an array makes downstream
    set ops (MinHash mins, shingle counts) map-side too.

    ``widen=False`` (r16) skips the parallelism floor — for callers whose
    input is ALREADY cluster-wide (curate's gated frame rides the
    pipeline-head barrier repartition): the floor's size probe cannot see
    partitioning without physically planning, so a pre-widened small
    frame would pay a redundant exchange.
    """
    tok_df = (_parallelism_floor(df, id_col) if widen else df).select(
        F.col(id_col), tokens(text_col).alias("_t")
    )
    # sequence(1, k) is DESCENDING when k < 1, so guard short docs explicitly
    arr = F.when(
        F.size("_t") >= n,
        F.expr(
            f"transform(sequence(1, size(_t) - {n - 1}), i -> array_join(slice(_t, i, {n}), ' '))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    return tok_df.select(F.col(id_col), F.array_distinct(arr).alias("shingle_arr"))


def shingles(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles: (id, shingle) — exploded form of
    :func:`shingle_array`. Already distinct per doc with NO shuffle (the
    earlier ``.distinct()`` paid a full exchange for what ``array_distinct``
    does in the map stage)."""
    return explode_nonempty(
        shingle_array(df, id_col, text_col, n), "shingle_arr", "shingle", id_col
    )


def explode_nonempty(
    df: DataFrame, arr_col: str, out_col: str, *keep_cols: str
) -> DataFrame:
    """``explode`` of a possibly-empty array WITHOUT the inferred-filter
    trap (r15, guide §4.4's duplicated-evaluation class).

    A plain ``explode(expensive_chain)`` drops empty-array rows, so
    Catalyst's infer-filters-from-generate rule synthesizes
    ``size(chain) > 0 AND isnotnull(chain)`` — and pushes that filter
    through any repartition down into the SCAN stage, where the whole
    chain (md5 HOFs, regex trees) re-evaluates per row, twice, on
    however few tasks the file layout gives the scan (measured: the
    n-gram contamination train explode spent ~8s of a 9s query there).
    ``explode_outer`` emits a NULL element for empty arrays instead, so
    no filter is inferable below the generate; the trailing
    ``isNotNull`` on the GENERATOR OUTPUT removes those rows above it
    and cannot be pushed below the generate. The chain then evaluates
    exactly once, in the stage the caller placed it in.

    CONTRACT (equivalence with bare ``explode``): the array's ELEMENTS
    must never be NULL — a NULL element would be indistinguishable from
    the empty-array marker and get dropped where plain explode keeps it.
    True for every in-repo call site (split/md5/transform outputs are
    non-null by construction); run with ``SPARK_GRAFT_DEBUG=1`` to make
    any violation fail the query instead of silently dropping the row.
    """
    import os

    out = F.explode_outer(arr_col).alias(out_col)
    if os.environ.get("SPARK_GRAFT_DEBUG") == "1":
        # a NULL element from a NON-empty source array violates the
        # contract (the empty/null-array marker row has size <= 0). The
        # assertion is fused INTO the drop predicate (when/otherwise) so
        # filter combining/reordering can neither prune it nor
        # short-circuit past it: non-null elements keep the row, marker
        # rows assert the source was empty and then drop. The helper
        # column takes a name no output column has.
        sz = "_src_sz"
        while sz in keep_cols or sz == out_col:
            sz = "_" + sz
        return (
            df.select(
                *[F.col(c) for c in keep_cols],
                F.coalesce(F.size(arr_col), F.lit(-1)).alias(sz),
                out,
            )
            .where(
                F.when(F.col(out_col).isNotNull(), F.lit(True)).otherwise(
                    F.assert_true(
                        F.col(sz) <= 0,
                        F.lit(
                            f"explode_nonempty({arr_col}): NULL array element"
                        ),
                    ).isNotNull()
                )
            )
            .drop(sz)
        )
    return df.select(*[F.col(c) for c in keep_cols], out).where(
        F.col(out_col).isNotNull()
    )


def shingle_hash() -> F.Column:
    """Stable 31-bit integer hash of the ``shingle`` column via md5.

    conv(hex, 16, 10) on the first 15 hex chars (60 bits) then mod P —
    reproducible in any engine with md5 + base conversion.
    """
    h60 = F.conv(F.substring(F.md5(F.col("shingle")), 1, 15), 16, 10).cast("long")
    return (h60 % F.lit(MERSENNE_P)).alias("x")


def exact_dedup(df: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """Exact dedup: keep min-id representative per duplicate group."""
    return df.groupBy(*key_cols).agg(
        F.min(id_col).alias(id_col),
        F.count(F.lit(1)).alias("dup_count"),
    )


def best_dedup(
    df: DataFrame,
    key_cols: list[str],
    id_col: str,
    score_col: str,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Quality-aware survivor selection: per ``key_cols`` group keep the
    HIGHEST-``score_col`` row (ties → smallest ``id_col``) — what a real
    curation pipeline wants from dedup ("of these duplicates, keep the
    best copy"), where :func:`exact_dedup`'s min-id pick is arbitrary.

    One aggregation, no window: the arg-max rides a struct
    ``max(struct(score, -id, payload...))`` whose ordering is total and
    deterministic, so partial (map-side) aggregation applies and the
    shuffle carries ONE struct per (partition, group) — at 100 TB this
    beats the row_number()-over-window formulation, which shuffles every
    row to its group before ranking. NULL scores sort below every value
    (they win only in an all-NULL group, where the id tie-break
    decides — matching SQL's ``DESC NULLS LAST``). ``keep_cols`` payload
    columns ride the struct and come back with the survivor.

    Returns ``key_cols + [score_col, id_col, *keep_cols, dup_count]``.
    """
    payload = [F.col(c).alias(f"p_{c}") for c in keep_cols]
    best = F.max(
        F.struct(
            F.col(score_col).alias("s"),
            (-F.col(id_col)).alias("nid"),
            *payload,
        )
    )
    return (
        df.groupBy(*key_cols)
        .agg(best.alias("_b"), F.count(F.lit(1)).alias("dup_count"))
        .select(
            *key_cols,
            F.col("_b.s").alias(score_col),
            (-F.col("_b.nid")).alias(id_col),
            *[F.col(f"_b.p_{c}").alias(c) for c in keep_cols],
            "dup_count",
        )
    )


def normalized_text(text_col) -> F.Column:
    """Canonical form: lowercase, collapse whitespace, trim."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def fingerprint(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Document fingerprint: md5 of the normalised text."""
    return df.select(
        F.col(id_col),
        F.md5(normalized_text(text_col)).alias("fingerprint"),
    )


def _apply_max_df(sh: DataFrame, id_col: str, max_df: int):
    """Hot-shingle skew mitigation: drop shingles appearing in more than
    ``max_df`` documents (stopword n-grams) from the inverted index.

    The drop-set is tiny by construction (only shingles with df > max_df), so
    it broadcasts and the filter is a map-side anti join — no extra shuffle on
    the big side beyond the one df-count. Set sizes must then be re-counted
    from the filtered index; both sides of the Jaccard use the same filtered
    sets, so the ratio stays internally consistent.
    """
    drop = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("_df"))
        .where(F.col("_df") > max_df)
        .select("shingle")
    )
    kept = sh.join(F.broadcast(drop), "shingle", "left_anti")
    sizes = kept.groupBy(id_col).agg(F.count(F.lit(1)).alias("_sz"))
    return kept, sizes


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """All pairs with n-gram Jaccard ≥ threshold, via inverted-index join.

    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard rounded to 6dp
    (double ratio of exact integer counts — engine-deterministic).
    ``max_df`` (optional) drops shingles shared by more than that many docs —
    the standard skew guard for the self-join at corpus scale.
    """
    sh_arr = scoped_cache(
        "jaccard_pairs", shingle_array(df, id_col, text_col, n)
    )
    sh = sh_arr.select(F.col(id_col), F.explode("shingle_arr").alias("shingle"))
    # set sizes read off the array — map-side, no counting shuffle
    sizes = sh_arr.select(F.col(id_col), F.size("shingle_arr").alias("_sz"))
    if max_df is not None:
        sh, sizes = _apply_max_df(sh, id_col, max_df)
    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    common = (
        a.join(b, "shingle")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("_common"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("_sz").alias("_sza"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("_sz").alias("_szb"))
    jac = (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("_common") / (F.col("_sza") + F.col("_szb") - F.col("_common")), 6
            ).alias("jaccard"),
        )
    )
    return jac.where(F.col("jaccard") >= threshold)


def minhash_signatures_from_shingles(sh: DataFrame, id_col: str) -> DataFrame:
    """k-function MinHash signature from a (id, shingle) DataFrame.

    One groupBy computes all k mins — a single shuffle on the doc id.
    (Prefer :func:`minhash_signatures_from_array` when the per-doc shingle
    array is available: it computes the same mins with NO shuffle.)
    """
    hx = sh.withColumn("x", shingle_hash())
    aggs = [
        F.min((F.col("x") * F.lit(a) + F.lit(b)) % F.lit(MERSENNE_P)).alias(f"mh_{i}")
        for i, (a, b) in enumerate(HASH_FAMILY)
    ]
    return hx.groupBy(id_col).agg(*aggs)


def minhash_signatures_from_array(sh_arr: DataFrame, id_col: str) -> DataFrame:
    """k-function MinHash signature from (id, shingle_arr) — entirely
    map-side: per-row ``array_min(transform(...))``, no explode, no shuffle.
    Empty shingle arrays yield null signatures (doc shorter than n tokens).
    """
    # materialize the md5-derived hash array ONCE, then take k cheap mins —
    # inlining it into each array_min would recompute the md5 pass k times
    hashed = sh_arr.select(
        F.col(id_col),
        F.expr(
            "transform(shingle_arr, s -> "
            f"cast(conv(substring(md5(s), 1, 15), 16, 10) as bigint) % {MERSENNE_P}L)"
        ).alias("_hx"),
    )
    cols = [F.col(id_col)]
    for i, (a, b) in enumerate(HASH_FAMILY):
        cols.append(
            F.expr(f"array_min(transform(_hx, x -> (x * {a}L + {b}L) % {MERSENNE_P}L))")
            .alias(f"mh_{i}")
        )
    return hashed.select(*cols)


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """k-function MinHash signature per document (k = len(HASH_FAMILY))."""
    return minhash_signatures_from_array(shingle_array(df, id_col, text_col, n), id_col)


def minhash_band_rows(
    sig: DataFrame, id_col: str, rows_per_band: int = 2
) -> DataFrame:
    """One row per (doc, LSH band) from a signature frame: ``(id,
    band_id, band_key, bk, sig)`` — the SHARED banding construction
    behind both the batch self-join (:func:`minhash_lsh_pairs`) and the
    streaming signature store (``run_stream_neardedup``). Map-side only:
    an inline struct array explode, no shuffle, no union of k/r frames.

    ``bk`` is ``xxhash64(band_id, band_key)`` — one SORTABLE 64-bit
    bucket key per band row. A stats-carrying store (VersionedTable with
    ``stats_cols=('bk',)``) records each file's [min, max] bk, so after a
    Z-ORDER compaction a point-lookup probe skips to at most one file per
    probed bucket (Delta-style data skipping serving the LSH bucket
    lookup). ``sig`` carries the full k-component signature on every band
    row: a candidate pair's Jaccard is estimated as the fraction of
    matching components without re-reading either document — O(signature)
    per-doc state, the standard banded-LSH trade (Broder 1997; Leskovec
    et al., MMDS ch. 3). Columns the caller doesn't touch (Catalyst
    prunes an unused ``sig``/``bk`` out of the explode) cost nothing.
    """
    k = len(HASH_FAMILY)
    band_structs = []
    for b0 in range(0, k, rows_per_band):
        cols = [f"mh_{i}" for i in range(b0, min(b0 + rows_per_band, k))]
        band_structs.append(
            F.struct(F.lit(b0).alias("band_id"), F.concat_ws("_", *cols).alias("band_key"))
        )
    return (
        sig.select(
            F.col(id_col),
            F.array(*[F.col(f"mh_{i}") for i in range(k)]).alias("sig"),
            F.explode(F.array(*band_structs)).alias("_b"),
        )
        .select(id_col, "_b.band_id", "_b.band_key", "sig")
        .withColumn("bk", F.xxhash64("band_id", "band_key"))
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    rows_per_band: int = 2,
    threshold: float = 0.5,
    max_df: int | None = None,
    widen: bool = True,
) -> DataFrame:
    """MinHash-LSH near-duplicate pairs with exact-Jaccard verification.

    Banding: signature split into bands of ``rows_per_band``; docs sharing any
    band bucket become candidates; candidates are verified with the exact
    n-gram Jaccard and filtered at ``threshold``. Result: (id_a, id_b,
    jaccard) — a subset of jaccard_pairs with LSH-bounded candidate cost,
    which is the property that makes it the 100 TB path (candidate count
    scales with collisions, not with |docs|²).

    Physical shape: the signature frame (|docs| × k+1 small ints) is
    cached so the band self-join's two sides don't each recompute the
    md5 HOF chain; verification joins the CANDIDATES back to the cached
    per-doc shingle ARRAYS and takes ``array_intersect`` sizes per row —
    shuffling |cand| + |docs| packed array rows instead of exploding to
    (|cand| + |docs|) × shingles-per-doc index rows, and needing no
    count-common groupBy at all. Strictly less shuffle volume than the
    inverted-index verify at any scale; per-row memory is two documents'
    shingle sets.
    """
    sh_arr = scoped_cache(
        "minhash_lsh_pairs.sh_arr",
        shingle_array(df, id_col, text_col, n, widen=widen),
    )
    sh = sh_arr.select(F.col(id_col), F.explode("shingle_arr").alias("shingle"))
    # docs below the shingle window have EMPTY shingle sets → null
    # signatures; without this filter they all collide in one null-key
    # bucket and the 0-shingle Jaccard verify divides 0/0 (an ANSI-mode
    # error since Spark 4). No shingles ⇒ no near-dup by construction —
    # and the exploded-index oracle never sees such docs either.
    # r15: the filter tests size(shingle_arr) > 0, NOT mh_0 IS NOT NULL —
    # filtering on the derived column let Catalyst inline the whole md5
    # signature chain into the Filter, evaluating it twice per doc while
    # the sig cache fills (guide §4.4's duplicated-evaluation class).
    # Equivalent by construction: shingle_arr is never NULL (empty on
    # short docs) and mh_0 is NULL exactly on empty arrays.
    sig = scoped_cache(
        "minhash_lsh_pairs.sig",
        minhash_signatures_from_array(
            sh_arr.where(F.size("shingle_arr") > 0), id_col
        ),
    )
    if max_df is None:
        return lsh_pairs_from_signatures(
            sh_arr, sig, id_col, rows_per_band=rows_per_band, threshold=threshold
        )
    candidates = _lsh_candidates(sig, id_col, rows_per_band)
    # max_df path: the df-cap filter lives on the exploded index, so the
    # verified Jaccard uses the capped sets on both sides consistently
    # (signatures/candidates stay array-based — recall only)
    return _verify_capped(sh, candidates, id_col, threshold, max_df)


def _lsh_candidates(sig: DataFrame, id_col: str, rows_per_band: int) -> DataFrame:
    buckets = minhash_band_rows(sig, id_col, rows_per_band=rows_per_band).select(
        id_col, "band_id", "band_key"
    )
    left = buckets.select(F.col(id_col).alias("id_a"), "band_id", "band_key")
    right = buckets.select(F.col(id_col).alias("id_b"), "band_id", "band_key")
    return (
        left.join(right, ["band_id", "band_key"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def lsh_pairs_from_signatures(
    sh_arr: DataFrame,
    sig: DataFrame,
    id_col: str,
    rows_per_band: int = 2,
    threshold: float = 0.5,
) -> DataFrame:
    """The banded-LSH pair pipeline over PRECOMPUTED (and ideally cached)
    shingle-array and signature frames — the single-pass entry for
    callers that also need the signatures themselves (the streaming
    near-dedup batch builds band rows from the same ``sig``, so the
    md5/shingle chain runs once per batch, not twice). Semantics
    identical to :func:`minhash_lsh_pairs`'s default path.

    Candidates come from the band self-join; verification is exact
    n-gram Jaccard per candidate row (cost ∝ collisions, not |docs|²).
    """
    candidates = _lsh_candidates(sig, id_col, rows_per_band)
    # exact-Jaccard verification restricted to LSH candidates (cost ∝
    # candidates, not |docs|²). Default path: join the candidates back to
    # the cached shingle ARRAYS and intersect per row — no explode, no
    # groupBy; set sizes read off the arrays in the same projection.
    arr_a = sh_arr.select(
        F.col(id_col).alias("id_a"), F.col("shingle_arr").alias("_aa")
    )
    arr_b = sh_arr.select(
        F.col(id_col).alias("id_b"), F.col("shingle_arr").alias("_ab")
    )
    return (
        candidates.join(arr_a, "id_a")
        .join(arr_b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("_aa", "_ab")).alias("_common"),
            F.size("_aa").alias("_sza"),
            F.size("_ab").alias("_szb"),
        )
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("_common") / (F.col("_sza") + F.col("_szb") - F.col("_common")),
                6,
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def _verify_capped(
    sh: DataFrame, candidates: DataFrame, id_col: str, threshold: float, max_df: int
) -> DataFrame:
    sh, sizes = _apply_max_df(sh, id_col, max_df)
    sh_a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    sh_b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    common = (
        candidates.join(sh_a, "id_a")
        .join(sh_b, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("_common"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("_sz").alias("_sza"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("_sz").alias("_szb"))
    return (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("_common") / (F.col("_sza") + F.col("_szb") - F.col("_common")), 6
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


SIMHASH_BITS = 16


def simhash(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """16-bit SimHash per document: per-token md5-derived hash, bitwise
    majority vote over tokens (+1/−1 per bit), sign → signature bit.

    All relational: posexplode + one groupBy with 16 conditional sums.
    The token explode + per-token md5 chain runs in the stage that scans
    the input, so the shared parallelism floor widens few-file corpora
    first (r15; no-op at scale, same as the shingle base).
    """
    tok = _parallelism_floor(df, id_col).select(
        F.col(id_col).alias(id_col),
        F.explode_outer(tokens(text_col)).alias("_w"),
    ).where(F.col("_w").isNotNull())  # r15: see explode_nonempty
    h = (
        F.conv(F.substring(F.md5(F.col("_w")), 1, 15), 16, 10).cast("long")
        % F.lit(MERSENNE_P)
    ).alias("_h")
    tok = tok.select(id_col, h)
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("_h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"_v{i}")
        for i in range(SIMHASH_BITS)
    ]
    agg = tok.groupBy(id_col).agg(*votes)
    sig = None
    for i in range(SIMHASH_BITS):
        bit = F.when(F.col(f"_v{i}") > 0, F.lit(2**i)).otherwise(F.lit(0))
        sig = bit if sig is None else sig + bit
    return agg.select(F.col(id_col), sig.cast("long").alias("simhash"))


def line_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_docs: int = 2,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Cross-document LINE dedup — boilerplate removal (the
    RefinedWeb/CCNet scrub): a line whose normalized form appears in
    ≥ ``min_docs`` DISTINCT documents (nav bars, cookie banners, footers)
    is removed from every document; unique lines and blank lines keep
    their original positions.

    Three-shuffle distributed shape: explode lines (map-side), count
    distinct docs per normalized line (one shuffle with partial agg;
    normalization = the fingerprint convention, lower + collapse-ws +
    trim), anti-join the hot-line set (co-partitioned on the same key —
    AQE picks broadcast when the hot set is small, which it is by
    definition of boilerplate), reassemble per document by original line
    position (one shuffle on id). Documents whose every line is
    boilerplate come back with empty text and let the downstream length
    gate drop them — the row is never lost.

    Returns (id, *keep, text — cleaned, n_removed). Deterministic and
    ANSI-SQL-reproducible; value-hash checked as the 'line' branch of the
    declared ``dedup_exact`` entry.

    ``keep`` (r15, guide §2.4): passthrough columns that ride the
    MAP-SIDE total-lines projection — the side that is joined back to
    the reassembly anyway — so callers needing them (curate re-attaches
    ``source``) don't pay a SECOND corpus-keyed exchange + sort to join
    them on afterwards. Identical row set either way.
    """
    clash = set(keep) & {id_col, text_col, "_t", "_kept", "_n_lines", "n_removed"}
    if clash:
        raise ValueError(
            f"keep columns {sorted(clash)} collide with line_dedup's "
            "key/text/output columns"
        )
    # r15: posexplode_outer + isNotNull — bare posexplode makes Catalyst
    # infer size(split(...))>0 and evaluate the split in the scan stage
    # twice per row (see explode_nonempty); split output is never empty
    # or null-elemented, so the row set is identical
    lines = (
        df.select(
            F.col(id_col),
            F.posexplode_outer(F.split(F.col(text_col), "\n")).alias("pos", "ln"),
        )
        .where(F.col("ln").isNotNull())
        .withColumn("key", F.trim(F.regexp_replace(F.lower(F.col("ln")), r"\s+", " ")))
    )
    hot = (
        lines.where(F.col("key").rlike(r"\S"))
        .groupBy("key")
        .agg(F.countDistinct(id_col).alias("n_docs"))
        .where(F.col("n_docs") >= min_docs)
        .select("key")
    )
    kept = lines.join(hot, "key", "left_anti")
    reasm = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "ln"))),
                lambda s: s["ln"],
            ),
            "\n",
        ).alias("_t"),
        F.count(F.lit(1)).alias("_kept"),
    )
    tot = df.select(
        F.col(id_col),
        *[F.col(c) for c in keep],
        F.size(F.split(F.col(text_col), "\n")).cast("long").alias("_n_lines"),
    )
    return tot.join(reasm, id_col, "left").select(
        F.col(id_col),
        *[F.col(c) for c in keep],
        F.coalesce(F.col("_t"), F.lit("")).alias(text_col),
        (F.col("_n_lines") - F.coalesce(F.col("_kept"), F.lit(0)))
        .cast("long")
        .alias("n_removed"),
    )


def dup_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document duplicated-SPAN detection — the substring-granularity
    dedup signal of Lee et al. 2021 ("Deduplicating Training Data Makes
    Language Models Better", ExactSubstr): memorizable text repeats as long
    verbatim spans EMBEDDED in otherwise-distinct documents, which
    doc-level and line-level dedup both miss. Reference scope: no
    counterpart in the reference engine (SURVEY.md §2 training-pipeline
    extension).

    Suffix arrays don't distribute; the standard scalable rendering is the
    windowed one: every k-token sliding window is hashed (md5 → 60-bit
    int, the engine's shingle-hash construction), a window whose hash
    occurs in ≥ ``min_docs`` distinct documents is a duplicated span seed,
    and per document the seeds' (start-position-sorted, overlap-merged)
    interval cover counts how many tokens sit inside duplicated spans.

    Output, one row per input document:
    (id, n_windows, n_dup_windows, dup_tokens, dup_frac) — dup_frac is the
    exact micro-half-up ratio dup_tokens / n_tokens (same integer
    construction as the text-profile ratios, bit-equal cross-engine).

    100 TB shape: the window explode is linear in corpus tokens (the same
    cost class as every n-gram operator here); the hash groupBy produces
    one row per DISTINCT window, the ≥min_docs filter keeps the hot set
    tiny, and the seed join back is inverted-index-shaped (cost ∝ dup
    occurrences, never |docs|²). The interval merge is one lag window per
    doc over seed positions only. No driver collect anywhere.
    """
    tok_df = df.select(F.col(id_col), tokens(text_col).alias("_t"))
    win = F.when(
        F.size("_t") >= k,
        F.expr(
            f"transform(sequence(1, size(_t) - {k - 1}), i -> "
            f"cast(conv(substring(md5(array_join(slice(_t, i, {k}), ' ')), 1, 15), 16, 10) as bigint))"
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    base = tok_df.select(
        F.col(id_col),
        F.size("_t").cast("long").alias("_n_tokens"),
        win.alias("_w"),
    )
    # r15: posexplode_outer + isNotNull, not bare posexplode — the
    # inferred size(_w)>0 filter would push the whole window-hash md5
    # chain into the scan stage (evaluated twice per row there); the
    # outer form infers nothing and window hashes are never NULL, so
    # the row set is identical (see explode_nonempty)
    exploded = base.select(
        F.col(id_col), F.posexplode_outer("_w").alias("pos", "whash")
    ).where(F.col("whash").isNotNull())
    hot = (
        exploded.groupBy("whash")
        .agg(F.countDistinct(id_col).alias("_nd"))
        .where(F.col("_nd") >= min_docs)
        .select("whash")
    )
    seeds = exploded.join(hot, "whash").select(id_col, "pos")
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy("pos")
    cov = seeds.select(
        F.col(id_col),
        F.least(
            F.lit(k), F.col("pos") - F.coalesce(F.lag("pos").over(w), F.col("pos") - k)
        ).alias("_c"),
    )
    per_doc = cov.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_dup_windows"),
        F.sum("_c").alias("dup_tokens"),
    )
    from database_anonymiser_spark.operators.text import _micro_half_up

    return (
        base.join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.greatest(F.size("_w").cast("long"), F.lit(0)).alias("n_windows"),
            F.coalesce("n_dup_windows", F.lit(0)).cast("long").alias("n_dup_windows"),
            F.coalesce("dup_tokens", F.lit(0)).cast("long").alias("dup_tokens"),
            (
                _micro_half_up(
                    F.coalesce("dup_tokens", F.lit(0)).cast("long"), F.col("_n_tokens")
                )
                / F.lit(1000000.0)
            ).alias("dup_frac"),
        )
    )

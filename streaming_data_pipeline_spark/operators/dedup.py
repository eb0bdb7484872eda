"""Deduplication operators for LLM training-data pipelines
(SURVEY.md §2.12): exact, token-set, MinHash+LSH near-dup, SimHash.

Scale design (100 TB):
- exact/token-set dedup is one hash-groupBy — a single shuffle on the
  16-byte fingerprint, with map-side partial aggregation;
- MinHash LSH: signatures are computed map-side (narrow scans first get
  spread_small_scan's conditional redistribution so per-doc tokenize/
  hash work never runs single-task; at real scale the scan's own splits
  carry it), then explode(bands) -> shuffle keyed by (band, bucket) ->
  per-bucket self-join. Candidate volume is bounded by the banding
  s-curve, never O(n^2); exact Jaccard verification happens only on
  candidates;
- SimHash (64/128-bit, from token hashes, same map-side shape) and
  image pHash share one banded-Hamming kernel: candidates agree on at
  least one signature chunk, verified by exact Hamming distance.
All hashing is md5-based so the DuckDB oracle reproduces results
bit-for-bit (no engine-private hash functions on any result path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from streaming_data_pipeline_spark.sources.batch import spread_small_scan
from streaming_data_pipeline_spark.functions.text import (
    MINHASH_K,
    distinct_tokens,
    lsh_band_buckets,
    minhash_slot_sql,
    text_fingerprint,
    token_set_fingerprint,
)

# Portable hex-nibble -> integer value: position() is 1-based in both
# Spark and DuckDB, so value = position(ch IN alphabet) - 1.
_HEX = "0123456789abcdef"

# Cached frames from the most recent near-dup plan. A correctness sweep
# runs ~90 queries in one session; without release, each near-dup call
# leaves its caches pinned in storage memory until LRU eviction. Each
# entry point releases the previous call's caches up front (the lazy
# returned plan is consumed before the next query starts), bounding
# live cache to one query's worth.
_LIVE_CACHES: list[DataFrame] = []


# Observability hook for the scale-growth audit (tools/scaling_audit.py):
# when set, each near-dup family routes its candidate-pair frame through
# this callable (fn(family: str, cand: DataFrame) -> DataFrame) before
# the verify stage, so the audit counts the candidates of the EXACT
# production plan instead of a re-implementation. None (the default) is
# the identity — zero plan or behavior change.
CANDIDATE_OBSERVER = None


def _observe_candidates(family: str, cand: DataFrame) -> DataFrame:
    if CANDIDATE_OBSERVER is not None:
        return CANDIDATE_OBSERVER(family, cand)
    return cand


def _release_caches() -> None:
    while _LIVE_CACHES:
        try:
            _LIVE_CACHES.pop().unpersist()
        except Exception:
            pass


def _cached(df: DataFrame) -> DataFrame:
    df = df.cache()
    _LIVE_CACHES.append(df)
    return df


def exact_dedup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Group identical (normalized) texts: keep lowest id as canonical,
    report group size. ``dup_count > 1`` rows are removable duplicates."""
    return (
        df.withColumn("fp", text_fingerprint(F.col(text_col)))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("dup_count"),
        )
    )


def token_set_dedup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Near-dup groups by order-insensitive token-set fingerprint."""
    return (
        df.withColumn("fp", token_set_fingerprint(F.col(text_col)))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("dup_count"))
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 32,
    bands: int = 8,
    rows: int = 4,
    threshold: float = 0.8,
    tokens_fn=None,
) -> DataFrame:
    """MinHash + LSH near-duplicate pairs with exact-Jaccard verification.

    ``tokens_fn`` maps the text Column to the set-element array the
    Jaccard is computed over — ``distinct_tokens`` (bag-of-words,
    default) or ``word_shingles`` (n-gram Jaccard, order-sensitive).

    Semantics: pair (a,b) is emitted iff their banded minhash signatures
    share >= 1 bucket AND exact token-set Jaccard >= threshold. Both
    conditions depend only on each doc's distinct-token SET, so the plan
    collapses docs to token-set groups and works group-level throughout:

    1. members: (id, fp) where fp = md5(sorted distinct tokens) — one
       scan + one shuffle on the 32-char fp;
    2. groups: one representative token array per fp (groupBy fp) —
       typically orders of magnitude fewer rows than docs, since corpora
       with heavy duplication are exactly when near-dup dedup runs;
    3. LSH banding generates candidates: signature via one codegen
       hash-aggregate, explode(band buckets) -> self-join on bucket ->
       distinct group pairs. Group-level banding keeps the per-bucket
       join tiny (duplicates already collapsed into one group). Defaults
       k=32/b=8/r=4 put the s-curve knee at (1/8)^(1/4) ~ 0.59 with
       ~98.5% recall at J=0.8 (vs b=8/r=2 whose knee at 0.35 floods the
       candidate set);
    4. exact Jaccard verifies CANDIDATES ONLY via array_intersect —
       never an all-pairs (or shared-token inverted-index) computation,
       which stopword-sharing makes quadratic in documents. A size-ratio
       prefilter inside the bucket join (J(A,B) <= min(|A|,|B|) /
       max(|A|,|B|), a necessary condition, so the output is provably
       unchanged) drops pairs that cannot reach the threshold before
       they ever touch the expensive set intersection — on the sf0.1
       corpus this removes ~40% of candidates and keeps the intersect
       stage's input small enough to stay broadcast-joinable under AQE;
    5. expand: verified group pairs join members twice (member frames
       broadcast under AQE); within-group doc pairs get the self-Jaccard
       of their shared token set (empty set -> 0/0 -> NULL -> dropped,
       matching the direct formulation).

    Returns (id_a, id_b, jaccard) with id_a < id_b, deduped across bands.
    Identical output to the direct doc-level formulation (the DuckDB
    oracle computes that formulation); only the physical plan differs.
    """
    member_ids, groups, verified = _minhash_group_stage(
        df, text_col, id_col, k, bands, rows, threshold, tokens_fn
    )
    return _expand_group_pairs(member_ids, groups, verified, threshold)

def _minhash_group_stage(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int,
    bands: int,
    rows: int,
    threshold: float,
    tokens_fn,
):
    """Stages 1-4 of minhash_lsh_pairs (members, groups, verified group
    pairs) — shared by the doc-pair expansion (minhash_lsh_pairs) and
    the group-graph clustering (minhash_cluster_labels), which must
    never expand to doc pairs at all."""
    # members/groups are referenced by many downstream branches (inverted
    # index, banding, both expansion joins); without an explicit cache
    # Spark re-derives each branch from its own parquet scan (18 scans
    # measured in the composed plan). Both tables are collapsed/narrow —
    # groups is one row per DISTINCT token set — so caching is cheap and
    # turns the plan into compute-once + fan-out.
    if tokens_fn is None:
        tokens_fn = distinct_tokens
    _release_caches()
    # Repartition the base rows first: the parquet scan is one split at
    # small SF, and tokenize + array_sort + md5 per doc is the kind of
    # per-row amplification that must never run in a single task.
    members = _cached(
        spread_small_scan(df, id_col)
        .select(
            F.col(id_col).alias("id"),
            F.array_sort(tokens_fn(F.col(text_col))).alias("toks"),
        )
        .withColumn("fp", F.md5(F.concat_ws(" ", "toks")))
    )
    member_ids = members.select("id", "fp")

    # All toks arrays within a group are identical (sorted same set), so
    # any() is deterministic in content.
    # 256-bit token bitmask, 4 longs (bit_or of hashed token bits):
    # powers a SAFE intersection upper bound at candidate time — see
    # the mask_ok pruner below. r11: widened from one 64-bit word —
    # with ~25-token sets the 64-bit mask's collision slack (each side
    # sets ~1/3 of the bits) left the bound too loose to prune the
    # near-threshold candidates, which are the bulk of the false ones:
    # measured at sf0.1, 4 words cut the verify stage's input from
    # 1.375M to 0.605M candidate pairs against 594k truly-verified
    # (98% prefilter precision vs 43%). Token t sets bit
    # pmod(xxhash64(t),256): word div 64, bit-in-word mod 64 (equal to
    # pmod(xxhash64(t),64) since 64 divides 256).
    _mask_words = 4
    groups = _cached(
        members.groupBy("fp")
        .agg(F.any_value("toks").alias("toks"), F.count("*").alias("cnt"))
        .withColumn("sz", F.size("toks"))
        .select(
            "*",
            *[
                F.expr(
                    f"aggregate(filter(toks, t -> pmod(xxhash64(t), 256) div 64 = {w}), "
                    "0L, (acc, t) -> "
                    "acc | shiftleft(1L, cast(pmod(xxhash64(t), 64) as int)))"
                ).alias(f"m{w}")
                for w in range(_mask_words)
            ],
        )
    )

    # --- LSH banding: candidates FIRST ---------------------------------
    # The banding self-join runs on GROUPS (distinct token sets), where a
    # bucket collision means 4 agreeing minhashes — the s-curve keeps the
    # candidate set ~linear in true near-dups. The tempting alternative
    # (inverted index: explode tokens, self-join on token, count per
    # pair) computes exact intersections for every pair sharing ANY
    # token; natural-language corpora share stopwords, so that join is
    # effectively quadratic in documents (OOM'd at sf0.1: ~10^8 pairs
    # from 5k docs). Banding-first touches only pairs the signatures
    # already vouch for.
    sig = _minhash_signatures(groups, k)
    # Cached: the self-join references bucketed twice (a and b sides);
    # without the cache each side re-runs the signature aggregate and,
    # worse, the band-bucket md5 expression tree gets fused INTO the
    # join stage's whole-stage-codegen — a generated method big enough
    # that janino compile time dominated cold runs (measured: caching
    # here cut steady-state sf0.1 wall time from ~6.5s to ~4.4s and
    # cold-run from ~13s to ~11s). The table is one row per (group,
    # band) — bands x distinct-token-sets — so the cache is tiny.
    _mask_cols = [f"m{w}" for w in range(_mask_words)]
    bucketed = _cached(
        sig.join(groups.select("fp", "sz", *_mask_cols), "fp").select(
            "fp",
            "sz",
            *_mask_cols,
            F.explode(
                lsh_band_buckets(
                    F.array(*[F.col(f"h{j}") for j in range(k)]), bands, rows
                )
            ).alias("bucket"),
        )
    )
    # Size-ratio prefilter: round(J, 6) >= threshold implies
    # J >= threshold - 5e-7, and J <= min(sz)/max(sz) always, so any
    # surviving pair must have least(sz)/greatest(sz) >= threshold-5e-7.
    # Checking it IN the join condition (sizes ride along with the
    # bucket keys) kills impossible pairs before the distinct and the
    # array_intersect. (0,0)-size pairs pass 0 >= 0 and die later at
    # the NULL 0/0 Jaccard, exactly as in the direct formulation.
    size_ok = F.least("a.sz", "b.sz").cast("double") >= (
        F.lit(threshold - 1e-4) * F.greatest("a.sz", "b.sz")
    )
    # Bitmask intersection bound, provably safe: any token of A shared
    # with B must hash to a bit present in B's mask, so tokens of A
    # whose bit is in (maskA & ~maskB) are certainly NOT shared ->
    # |A∩B| <= szA - bit_count(maskA & ~maskB) (symmetrically for B).
    # J >= t' forces |A∩B| >= t'(szA+szB)/(1+t'); candidates whose
    # bound cannot reach that are dropped BEFORE the distinct and the
    # exact-Jaccard verify. Hash collisions only WEAKEN the bound
    # (fewer certainly-unshared bits), never violate it — output is
    # provably unchanged; same t' slack as size_ok.
    t_lo = threshold - 1e-4
    # DOUBLE arithmetic only (r11): the previous F.expr form rendered
    # t_lo as a bare SQL literal, which parses as DECIMAL — so every
    # candidate row evaluated in the join condition paid an interpreted
    # BigDecimal multiply+divide (thread dumps showed
    # MutableBigInteger.divideMagnitude hot inside bhj_doConsume). The
    # cutoff constant is folded in Python; its double rounding (~1e-16
    # relative) is dwarfed by the 1e-4 slack between t_lo and the
    # verify threshold, so the prefilter stays provably conservative
    # and the verified output is byte-identical.
    # The per-word unshared-bit counts sum safely: tokens partition by
    # target word, so each word's bit_count lower-bounds that class's
    # certainly-unshared tokens and the sum lower-bounds |A\B| overall.
    def _unshared(x: str, y: str):
        return sum(
            F.bit_count(
                F.col(f"{x}.m{w}").bitwiseAND(F.bitwise_not(F.col(f"{y}.m{w}")))
            )
            for w in range(_mask_words)
        )

    mask_bound = F.least(
        F.col("a.sz") - _unshared("a", "b"),
        F.col("b.sz") - _unshared("b", "a"),
    )
    mask_ok = mask_bound.cast("double") >= F.lit(t_lo / (1.0 + t_lo)) * (
        F.col("a.sz") + F.col("b.sz")
    )
    cand = (
        bucketed.alias("a")
        .join(
            bucketed.alias("b"),
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.fp") < F.col("b.fp"))
            & size_ok
            & mask_ok,
        )
        .select(F.col("a.fp").alias("fp_a"), F.col("b.fp").alias("fp_b"))
        .distinct()
    )
    cand = _observe_candidates("minhash", cand)

    # --- exact-Jaccard verification, candidates only -------------------
    ga = groups.select(F.col("fp").alias("fp_a"), F.col("toks").alias("toks_a"))
    gb = groups.select(F.col("fp").alias("fp_b"), F.col("toks").alias("toks_b"))
    verified = (
        cand.join(ga, "fp_a")
        .join(gb, "fp_b")
        .withColumn("inter", F.size(F.array_intersect("toks_a", "toks_b")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter").cast("double")
                / (
                    F.size("toks_a") + F.size("toks_b") - F.col("inter")
                ).cast("double"),
                6,
            ),
        )
        .filter(F.col("jaccard") >= F.lit(threshold))
        .select("fp_a", "fp_b", "jaccard")
    )
    return member_ids, groups, verified


def _minhash_signatures(groups: DataFrame, k: int) -> DataFrame:
    """(fp, h0..h{k-1}): the k MinHash slot minima of each group's
    ``toks`` set, as strings. Shared by the dedup operators and the
    estimator diagnostic (plans/llm_queries.dedup_minhash_estimate_error).

    Signatures via explode -> ONE codegen hash-aggregate (k min()
    columns in a single pass). The transform()-HOF formulation
    (k lambda passes per row) evaluates interpreted, outside
    whole-stage codegen, and was the next-largest cost after the join.
    One md5 per token; the k slot hashes are integer arithmetic
    (functions.text.minhash_slot_sql) — k md5 calls per token would be
    ~k/2x the CPU of the whole signature stage."""
    if k > MINHASH_K:
        raise ValueError(f"k={k} exceeds MINHASH_K={MINHASH_K}")
    tok = groups.select("fp", F.explode("toks").alias("t")).withColumn(
        "x", F.conv(F.substring(F.md5("t"), 1, 7), 16, 10).cast("long")
    )
    # The min() emits STRING: with 32 bigint agg outputs feeding the
    # bucket-explode Generate, whole-stage codegen emits a doConsume
    # method janino refuses to compile (interpreted fallback measured
    # 4x slower end-to-end); string outputs keep the Generate input
    # identical to a compiling shape.
    return tok.groupBy("fp").agg(
        *[
            F.min(F.expr(minhash_slot_sql(j, "x"))).cast("string").alias(f"h{j}")
            for j in range(k)
        ]
    )


def _expand_group_pairs(member_ids, groups, verified, threshold: float) -> DataFrame:
    """Stage 5 of minhash_lsh_pairs: verified group pairs -> doc pairs
    (cross-group expansion + within-group self-pairs)."""
    cross = (
        verified.join(member_ids.select(F.col("fp").alias("fp_a"), F.col("id").alias("ida")), "fp_a")
        .join(member_ids.select(F.col("fp").alias("fp_b"), F.col("id").alias("idb")), "fp_b")
        .select(
            F.least("ida", "idb").alias("id_a"),
            F.greatest("ida", "idb").alias("id_b"),
            "jaccard",
        )
    )

    # Within-group pairs always share every bucket (identical signature).
    # Self-Jaccard via the same expression so the empty-token-set group
    # (0/0 -> NULL -> dropped) behaves exactly as the direct formulation.
    # try_divide, not /: under ANSI a plain double 0/0 throws
    # DIVIDE_BY_ZERO the moment a duplicated empty-token group exists
    # (NULL/'' texts collapse into one), instead of the NULL the drop
    # semantics here depend on.
    self_j = F.round(
        F.try_divide(
            F.size("toks").cast("double"), F.size("toks").cast("double")
        ),
        6,
    )
    dup_groups = groups.filter(F.col("cnt") > 1).select(
        "fp", self_j.alias("jaccard")
    ).filter(F.col("jaccard") >= F.lit(threshold))
    within = (
        dup_groups.join(member_ids.withColumnRenamed("id", "ida"), "fp")
        .join(member_ids.withColumnRenamed("id", "idb"), "fp")
        .filter(F.col("ida") < F.col("idb"))
        .select(F.col("ida").alias("id_a"), F.col("idb").alias("id_b"), "jaccard")
    )

    return cross.unionByName(within)


def simhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunks: int = 4,
    max_hamming: int = 3,
    bits: int = 64,
) -> DataFrame:
    """SimHash near-duplicate pairs: candidates share at least one of
    ``chunks`` equal-width signature chunks (pigeonhole: any pair within
    hamming <= chunks-1 must share a chunk), verified by exact Hamming
    distance <= max_hamming. The banding, verification and expansion
    are ``_banded_hamming_pairs`` over the packed signature
    (``simhash_packed``). Returns (id_a, id_b, hamming).

    ``bits=128`` is the >10^6-distinct-signature scale option the
    round-6 audit documented: per-chunk bucket space goes 2^16 -> 2^32
    (4 chunks), so the birthday term — unrelated signatures colliding
    in a 16-bit chunk purely by bucket-space exhaustion — collapses and
    candidate growth returns to ~linear in corpus size. The Hamming
    semantics change with the width (128 sign-bits instead of 64), so
    the 64-bit form stays the oracle-checked default and 128 is opt-in.
    """
    _check_bands(bits, chunks, max_hamming)
    sigs = simhash_packed(df, text_col, id_col, bits=bits).select(
        F.col("doc_id").alias("id"), F.col("simhash").alias("words")
    )
    return _banded_hamming_pairs("simhash", sigs, bits, chunks, max_hamming)


def _check_bands(bits: int, chunks: int, max_hamming: int) -> None:
    """Guards of the banded-Hamming join; callers run them before
    touching their input frame."""
    if max_hamming > chunks - 1:
        raise ValueError(
            f"a {chunks}-chunk band join is complete only for max_hamming "
            f"<= {chunks - 1} (pigeonhole: a pair differing in one bit per "
            f"chunk shares no band); got max_hamming={max_hamming} — band "
            "with at least max_hamming + 1 chunks"
        )
    if bits % chunks:
        raise ValueError(
            f"chunks={chunks} does not divide the {bits}-bit signature: the "
            f"trailing {bits - chunks * (bits // chunks)} bits would be "
            "silently excluded from BOTH the candidate join and the "
            "Hamming verification (undercounted distances, phantom "
            f"duplicates differing only in the uncovered bits) — use a "
            f"divisor of {bits}"
        )
    if bits // chunks > 64:
        raise ValueError(
            f"chunk width {bits // chunks} exceeds 64 bits: each banding chunk must "
            "fit one packed 64-bit signature word — use at least "
            f"{-(-bits // 64)} chunks"
        )


def _banded_hamming_pairs(
    family: str,
    sigs: DataFrame,
    bits: int,
    chunks: int,
    max_hamming: int,
    emit: str = "pairs",
) -> DataFrame:
    """Near-duplicate pairs within Hamming distance ``max_hamming`` over
    packed ``bits``-wide signatures ``sigs(id, words: array<bigint>)``:
    word w holds signature bits 64w..64w+63, bit 0 = the sign bit of
    word 0. The one kernel behind SimHash-64/128 and image pHash;
    ``family`` is the ``CANDIDATE_OBSERVER`` key.

    Same scale design as minhash_lsh_pairs: ids collapse to DISTINCT
    signature groups first, the chunk band join and Hamming
    verification run group-level, and verified group pairs expand back
    to id pairs (plus hamming-0 pairs within identical-signature
    groups). ``emit="star"`` expands to canonical->member edges instead
    (see phash_near_dup_pairs). Returns (id_a, id_b, hamming)."""
    width = bits // chunks
    _release_caches()
    members = _cached(sigs)
    groups = _cached(
        members.groupBy("words").agg(
            F.count("*").alias("cnt"), F.min("id").alias("canon_id")
        )
    )

    # Chunk p is a bit-shift + mask on the packed word that holds it —
    # never a straddle: width divides bits, bits is a multiple of 64 and
    # width <= 64, so width always divides 64 (both are powers of two
    # times a common divisor chain for bits in {64, 128}).
    mask = F.lit((1 << width) - 1 if width < 64 else -1).cast("long")

    def _chunk(p: int):
        start = p * width
        widx, off = start // 64, start % 64
        word = F.col("words")[widx]
        if width == 64:  # chunk IS the word; shift-by-0 + all-ones mask
            return word
        return F.shiftrightunsigned(word, 64 - off - width).bitwiseAND(mask)

    chunk_arr = F.array(
        *[
            F.struct(F.lit(p).alias("pos"), _chunk(p).cast("long").alias("chunk"))
            for p in range(chunks)
        ]
    )
    banded = groups.select("words", F.explode(chunk_arr).alias("c")).select(
        "words", "c.pos", "c.chunk"
    )

    def hamming(x, y):
        return sum(F.bit_count(x[w].bitwiseXOR(y[w])) for w in range(bits // 64))

    # Exact-Hamming verification INSIDE the join condition (r12, guide
    # §2.3 shuffle fewer bytes): bit_count(xor) per packed word is a
    # handful of codegen instructions per probed row, while the chunk
    # pigeonhole alone passes mostly-false candidates whose only job is
    # to die at the verify filter — measured 98% false (497,918 of
    # 506,664 at sf0.1; 6.73M of 6.88M at 10x, growth exponent 1.13,
    # SCALING_AUDIT r11). Filtering at the join's consume kills them
    # before they are ever emitted into the distinct's exchange, so the
    # dedup shuffle carries only true near-dup pairs (~linear in corpus
    # size). Output is provably unchanged: the predicate is exactly the
    # verify filter, and a value-only filter commutes with distinct.
    # Hamming works directly on the packed words, bit_count(xor) per
    # word with no decode join — the signature IS the integer form (r8
    # verdict task 2: the 128-char string signature + substring/conv
    # decode was the dominant cost of the 128-bit query; packed words
    # cut both the compute and the exchange width several-fold). Packed
    # words are plain bit patterns, so xor/bit_count never overflow
    # under ANSI.
    cand = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.pos") == F.col("b.pos"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.words") < F.col("b.words"))
            & (hamming(F.col("a.words"), F.col("b.words")) <= F.lit(max_hamming)),
        )
        .select(F.col("a.words").alias("sh_a"), F.col("b.words").alias("sh_b"))
        .distinct()
    )
    # The observer sees candidates AFTER the in-join Hamming predicate,
    # so a Hamming family's false_candidate_pairs (tools/scaling_audit.py)
    # reads 0 by construction; its candidate count is the true-pair
    # count, not the banding's selectivity.
    cand = _observe_candidates(family, cand)
    # The verify filter is redundant with the join predicate (kept as
    # the declared verify stage — idempotent on the surviving pairs, and
    # the observer still sees a frame whose contract is "candidates
    # entering verification").
    verified = cand.withColumn(
        "hamming", hamming(F.col("sh_a"), F.col("sh_b")).cast("long")
    ).filter(F.col("hamming") <= F.lit(max_hamming))

    if emit == "star":
        # ONE row per member (to its group canonical) + ONE row per
        # verified distinct-signature pair (between the two canonicals):
        # output is O(members + distinct pairs), never C(n,2).
        ends = groups.select("words", F.col("canon_id").alias("id"))
        within = (
            groups.filter(F.col("cnt") > 1)
            .join(members, "words")
            .filter(F.col("id") != F.col("canon_id"))
            .select(F.col("canon_id").alias("id_a"), F.col("id").alias("id_b"))
        )
    else:
        ends = members
        within = (
            groups.filter(F.col("cnt") > 1)
            .join(members.withColumnRenamed("id", "ida"), "words")
            .join(members.withColumnRenamed("id", "idb"), "words")
            .filter(F.col("ida") < F.col("idb"))
            .select(F.col("ida").alias("id_a"), F.col("idb").alias("id_b"))
        )
    e_a = ends.select(F.col("words").alias("sh_a"), F.col("id").alias("ida"))
    e_b = ends.select(F.col("words").alias("sh_b"), F.col("id").alias("idb"))
    cross = verified.join(e_a, "sh_a").join(e_b, "sh_b").select(
        F.least("ida", "idb").alias("id_a"),
        F.greatest("ida", "idb").alias("id_b"),
        "hamming",
    )
    return cross.unionByName(
        within.withColumn("hamming", F.lit(0).cast("long"))
    )


def simhash_packed(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
) -> DataFrame:
    """``bits``-wide SimHash per document, PACKED into ``bits/64``
    signed 64-bit words (column ``simhash: array<bigint>``; word w
    holds signature bits 64w..64w+63, bit 0 of the signature = the
    sign/MSB of word 0 — two's complement, so all-ones packs to -1).

    bit_b = sign of sum over distinct tokens of (2*h_b(token) - 1) where
    h_b is bit b of md5(token): bit (3 - b%4) of hex nibble b//4. md5
    yields 128 bits, so both widths come from ONE hash per token; 64 is
    the default (and the oracle-checked query surface), 128 is the
    scale option — with 4 chunks the per-chunk bucket space grows from
    2^16 to 2^32, collapsing the birthday-collision candidate term the
    round-6 scale audit quantified (~10^6 distinct signatures is where
    2^16 buckets start pairing unrelated docs; 2^32 pushes that to
    ~10^14).

    The packed form is the near-dup work surface (r8 verdict task 2):
    banding = shift+mask on a word, Hamming = bit_count(xor) per word,
    group/join keys = 8/16 bytes instead of a 64/128-char string — the
    string signature previously dominated simhash128_near_dup's cost
    (per-bit string concat at build, string group/join keys on every
    exchange, substring+conv decode at verify).

    All bit-sums run in ONE whole-stage-codegen hash aggregate over
    exploded tokens (md5 computed once per token, decoded once, bit
    one-counts packed 3-per-long into ``ceil(bits/3)`` sum() columns —
    see the lane-packing comment in the body; r11/r12). The aggregate()-HOF
    formulation — 64 interpreted lambda passes over the token array per
    document — was ~20x slower at sf0.1. explode_outer keeps
    empty/null-token documents as all-zero-contribution rows, so they
    still get the all-zero signature.
    """
    if bits not in (64, 128):
        raise ValueError(
            f"simhash width must be 64 or 128 (md5 supplies 128 bits per "
            f"token — wider would need a second hash family); got {bits}"
        )
    # Repartition before the token explode + per-token md5: the scan is
    # one split at small SF and the amplified hash work must not run in
    # a single task (the map-side combine of the 64-sum aggregate then
    # keeps the shuffled volume one row per (doc, partition)).
    tok = (
        spread_small_scan(df, id_col)
        .select(
            F.col(id_col).alias("doc_id"),
            F.explode_outer(distinct_tokens(F.col(text_col))).alias("t"),
        )
        .withColumn("h", F.md5("t"))
    )
    # Decode the hex digest in 16-bit chunks (4 hex chars per conv), not
    # per-nibble: the substring+conv string work per token drops 4x
    # (bits/16 conv calls instead of bits/4) and the per-bit extraction
    # becomes a pure integer shift on the chunk. Bit b of the digest is
    # bit (3 - b%4) of hex char b//4, which inside chunk j = b//16 sits
    # at shift 15 - b%16 — algebraically identical to the nibble form,
    # so signatures are bit-for-bit unchanged (oracle untouched).
    chunks_ = [
        F.conv(F.substring("h", 4 * j + 1, 4), 16, 10).cast("long").alias(f"ch{j}")
        for j in range(bits // 16)
    ]
    nibbled = tok.select(
        "doc_id", F.col("t").isNotNull().cast("long").alias("one"), *chunks_
    )

    # r11: the bit-sums are aggregated as PACKED 16-bit lane counters
    # (one-counters sharing a 64-bit sum column instead of one column
    # per bit). The per-bit ±1 sum s_b relates to the packed form by
    # s_b = 2*ones_b - n (n = non-null token count, the explode_outer
    # NULL row contributes 0 on both sides), so the sign test s_b > 0 is
    # exactly 2*ones_b > n. Why packed: the one-column-per-bit aggregate
    # put 128 (resp. 64) sum columns in the hash-agg — past codegen's
    # 100-field limit, so the whole signature stage evaluated interpreted
    # (~8x the CPU, measured; the maxFields-200 A/B didn't recover it),
    # and every input row paid one buffer update per BIT.
    #
    # r12 (ADVICE r11): THREE lanes per column (shifts 0/16/32), not
    # four — with a 4th lane at shift 48 the per-row term reaches 2^48,
    # so a document with >32767 tokens setting that lane's bit pushed
    # the running SUM past 2^63 and threw a raw ANSI
    # ARITHMETIC_OVERFLOW *during aggregation*, before the intended
    # raise_error guard below could fire. With 3 lanes the per-row term
    # is < 2^33 and the sum stays < 2^63 for any document up to ~2^30
    # distinct tokens, so the loud guard is always the failure path for
    # the full guarded range (65535). ceil(bits/3) = 43 (resp. 22) agg
    # columns — still well under codegen's 100-field limit. Signatures
    # are bit-for-bit identical (the ones_b counts are unchanged; only
    # their column layout moved); lane width still bounds distinct
    # tokens per document at 65535, guarded loudly below (a counter
    # overflow past 16 bits would corrupt the neighboring lane's count
    # silently).
    def lane_pack(c: int):
        acc = None
        for i in range(3):
            b = 3 * c + i  # global digest bit packed at shift 16*i
            if b >= bits:
                break
            j, p = b // 16, b % 16  # bit p of chunk j = digest bit 16j+p
            term = F.shiftleft(
                F.shiftright(F.col(f"ch{j}"), 15 - p).bitwiseAND(F.lit(1)),
                16 * i,
            )
            acc = term if acc is None else acc + term
        return F.coalesce(acc, F.lit(0))

    ncols = -(-bits // 3)
    sums = nibbled.groupBy("doc_id").agg(
        F.sum("one").alias("ntok"),
        *[F.sum(lane_pack(c)).alias(f"p{c}") for c in range(ncols)],
    )
    guard = F.when(
        F.col("ntok") > 0xFFFF,
        F.expr(
            "raise_error('simhash_packed: more than 65535 distinct tokens "
            "in one document overflows the packed 16-bit lane counters — "
            "split the document or widen the lanes')"
        ).cast("long"),
    ).otherwise(F.lit(0))

    def word(w: int):
        # Left-to-right sum of shiftleft terms: the j=0 term (bit at the
        # word's sign position) is the ONLY possibly-negative term
        # (1<<63 wraps to Long.MIN_VALUE, a bitwise shift — never an
        # overflow error); every partial sum of {<=1 term >= -2^63} +
        # {positives totalling < 2^63} stays in signed-long range, so
        # the packing is ANSI-safe under any evaluation order.
        terms = []
        for j64 in range(64):
            b = 64 * w + j64
            c, i = b // 3, b % 3
            ones = F.shiftright(F.col(f"p{c}"), 16 * i).bitwiseAND(
                F.lit(0xFFFF)
            )
            terms.append(
                F.shiftleft(
                    F.when(ones * 2 > F.col("ntok"), F.lit(1))
                    .otherwise(F.lit(0))
                    .cast("long"),
                    63 - j64,
                )
            )
        acc = terms[0] + guard
        for t in terms[1:]:
            acc = acc + t
        return acc

    return sums.select(
        "doc_id", F.array(*[word(w) for w in range(bits // 64)]).alias("simhash")
    )


def simhash_sig(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
) -> DataFrame:
    """``bits``-wide SimHash per document as a bit STRING (64 or 128
    chars) — the human/oracle-facing rendering of ``simhash_packed``
    (bin() of each packed word is its two's-complement 64-bit binary
    text, zero-padded; concatenated big-endian this is exactly the
    per-bit character string the DuckDB oracle builds with CASE terms).
    The near-dup path consumes the packed form directly."""
    packed = simhash_packed(df, text_col, id_col, bits=bits)
    sig = F.concat(
        *[
            F.lpad(F.bin(F.col("simhash")[w]), 64, "0")
            for w in range(bits // 64)
        ]
    )
    return packed.select("doc_id", sig.alias("simhash"))


def simhash64(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash (the oracle-checked default width)."""
    return simhash_sig(df, text_col, id_col, bits=64)


def _unionfind_components(pairs: DataFrame, nodes: DataFrame) -> DataFrame:
    """Two-phase distributed union-find for graphs whose NODE set fits a
    single task (edges can be arbitrarily many; they stream through in
    Arrow batches and never accumulate).

    Phase 1 (parallel): each edge partition runs union-find with
    union-by-min + path compression locally, emitting one (node ->
    partition-local min root) row per distinct node it saw — a spanning
    contraction, <= |local nodes| rows regardless of edge count or
    duplication. Phase 2 (single task): the contractions are themselves
    edges; one more union-find pass merges them into global components.
    Union-by-min makes the final root the component's minimum id, the
    same label the Pregel loop converges to.

    vs the min-label-propagation loop: 2 jobs total instead of
    O(log diameter) rounds x (join + agg + checkpoint + probe) jobs —
    measured 4x faster on the sf0.1 minhash group graph (3.9k nodes,
    1.19M multigraph edges), where per-round fixed overhead, not data,
    dominates. Python-side work is a dict union-find over Arrow-batched
    columns — the §2.9 escape hatch, justified here because iterative
    connectivity has no built-in expression form.
    """
    import pandas as pd

    id_type = dict(pairs.dtypes)[pairs.columns[0]]
    out_schema = f"node {id_type}, label {id_type}"

    def _merge(batches):
        parent: dict = {}

        def find(x):
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != x:
                parent[x], x = r, parent[x]
            return r

        for pdf in batches:
            for a, b in zip(pdf.iloc[:, 0].tolist(), pdf.iloc[:, 1].tolist()):
                if a is None or b is None:
                    continue
                ra, rb = find(a), find(b)
                if ra == rb:
                    continue
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra
                parent.setdefault(ra, ra)
        if parent:
            ks = list(parent)
            yield pd.DataFrame({"node": ks, "label": [find(k) for k in ks]})

    # repartition(8), NOT coalesce(8): each task is one linear dict pass
    # over its edge stream (memory bounded by |nodes|, which the caller
    # guards), so 8-way is ample parallelism — and it caps Python-worker
    # spawn at 8 instead of one per upstream partition (64 workers x
    # pandas import was ~20 s of one-time cost; 8 in parallel is ~2 s).
    # coalesce would fuse the cap into the upstream stage — and when AQE
    # plans the candidate verify as broadcast joins there is no exchange
    # boundary to stop it, so the expensive exact-Jaccard stage itself
    # ran 8-wide (measured 2.6x slower end-to-end). The repartition's
    # round-robin exchange on ~1M narrow fp-pair rows is noise by
    # comparison and leaves the verify stage at full parallelism.
    contracted = pairs.repartition(8).mapInPandas(_merge, out_schema)
    merged = contracted.repartition(1).mapInPandas(_merge, out_schema)
    # Nodes with no edges (or only self-edges already at their root) are
    # their own singleton component. Eager checkpoint: downstream plans
    # see a |nodes|-row stat-known table (so label joins broadcast)
    # instead of an opaque-cardinality Python stage, and consumers that
    # reference the labels more than once don't re-run the pair plan.
    return (
        nodes.join(merged, "node", "left")
        .select("node", F.coalesce("label", "node").alias("label"))
        .localCheckpoint(eager=True)
    )


def connected_components(
    pairs: DataFrame,
    nodes: DataFrame,
    max_iter: int = 20,
    unionfind_max_nodes: int = 1_000_000,
) -> DataFrame:
    """Connected components over a near-duplicate pair graph by
    min-label propagation — the clustering step a real dedup pipeline
    runs after pair generation: every doc in a transitively-connected
    near-dup cluster gets the cluster's minimum doc id as its label, so
    "keep one per cluster" is a filter, not another join cascade.

    ``pairs``: (id_a, id_b) undirected edges. ``nodes``: one ``node``
    column covering every doc (isolated docs become singleton clusters).

    Scale shape: the classic Pregel/GraphX CC loop — each iteration is
    one shuffle (neighbor-min join + groupBy-min), converging in
    O(graph diameter) rounds; near-dup clusters are dense, so diameter
    is tiny (2-4 rounds in practice). ``localCheckpoint`` after each
    round cuts the lineage that iterative joins otherwise stack up
    (without it the plan doubles per round and the optimizer chokes
    long before the data does). Returns (node, label).

    Fast path: when the node set fits a single task
    (``unionfind_max_nodes``), dispatch to the two-phase union-find
    (:func:`_unionfind_components`) — identical output, 2 jobs instead
    of O(log diameter) rounds. The loop below is the scale path for
    billion-node graphs.
    """
    n_nodes = nodes.count()
    if n_nodes <= unionfind_max_nodes:
        return _unionfind_components(pairs, nodes)
    # Symmetrize in ONE pass over the (possibly expensive) pair plan:
    # a union of two selects executes the upstream tree twice inside the
    # checkpoint job, and min-label propagation is insensitive to
    # duplicate edges, so no distinct either (measured: 15.9s -> 6s for
    # the minhash group graph at sf0.1). Checkpoint because the loop
    # re-reads edges every round.
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
                    ),
                    F.struct(
                        F.col("id_b").alias("src"), F.col("id_a").alias("dst")
                    ),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .localCheckpoint(eager=True)
    )
    labels = nodes.select("node", F.col("node").alias("label"))
    # The label table has one row per node; the edge table is the dense
    # multigraph (hundreds of edges per node for near-dup clusters). A
    # shuffle join would move the full edge set every round; when the
    # node set is broadcast-sized (the common case — the loop runs on
    # the collapsed GROUP graph, not docs), ship labels to the edges
    # instead and the per-round cost drops to one edge scan + a partial-
    # aggregated exchange of <= |nodes| rows per partition. Guarded by a
    # one-off count so a genuinely huge graph still takes the shuffle
    # path rather than OOMing the driver.
    bc = F.broadcast if n_nodes <= 2_000_000 else (lambda df: df)
    for _ in range(max_iter):
        # Propagate: l(v) <- min(l(v), min over neighbors l(u)).
        nbr_min = edges.join(bc(labels), edges.dst == labels.node).select(
            F.col("src").alias("node"), "label"
        )
        # prop is scanned twice in the round's tree (as itself and as
        # the jump table); the lazy cache materializes it once inside
        # the checkpoint job and shares it between both scans.
        prop = _cached(
            labels.unionByName(nbr_min)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
        )
        # Pointer jump: l(v) <- l(l(v)). Plain propagation moves the min
        # one hop per round (O(diameter) rounds, each a fixed-overhead
        # job — the dominant cost on small-diameter graphs); jumping
        # roughly halves the remaining path per round -> O(log diameter).
        lab2 = prop.select(
            F.col("node").alias("label"), F.col("label").alias("jump")
        )
        jumped = prop.join(bc(lab2), "label", "left").select(
            "node", F.coalesce("jump", "label").alias("label")
        )
        # Fold the convergence flag into the checkpoint job: one
        # materialization per round, then the changed-probe reads the
        # in-memory checkpoint instead of re-joining two lineages.
        new_labels = (
            jumped.join(bc(labels.select("node", F.col("label").alias("old"))), "node")
            .select("node", "label", (F.col("label") != F.col("old")).alias("chg"))
            .localCheckpoint(eager=True)
        )
        changed = new_labels.filter("chg").limit(1).count()
        labels = new_labels.select("node", "label")
        if changed == 0:
            break
    else:
        # Loud, like the oracle's fixpoint sentinel: labels that are
        # still moving are transitively WRONG for some component, and
        # returning them would mis-cluster silently. Pointer jumping
        # roughly doubles reach per round, so the default budget covers
        # any plausible graph — hitting this means the budget was
        # overridden too low or the graph is adversarial.
        raise RuntimeError(
            f"connected_components: labels still moving after max_iter="
            f"{max_iter} rounds — rerun with a larger max_iter"
        )
    return labels


def minhash_cluster_labels(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    k: int = 32,
    bands: int = 8,
    rows: int = 4,
) -> DataFrame:
    """Near-dup clusters via connected components on the GROUP graph.

    Doc-level CC (connected_components over minhash_lsh_pairs output)
    propagates labels across every expanded doc pair — and duplicate-
    heavy corpora expand combinatorially (sf0.1 fixture: ~2.6M doc pairs
    from a few thousand group pairs), exactly when dedup matters most.
    Since every doc in a token-set group is pairwise-connected (self-
    Jaccard 1 >= threshold, except the empty token set whose 0/0 -> NULL
    self-Jaccard never links), components of the doc graph are exactly
    components of the GROUP graph with member docs attached. So: run the
    Pregel loop on group nodes/edges (orders of magnitude smaller),
    then one join maps docs to their group's component and a hash-agg
    picks min(doc_id) per component as the cluster id. Output is
    provably identical to doc-level CC; only the loop's working set
    shrinks.

    Returns (doc_id, cluster_id, cluster_size).
    """
    member_ids, groups, verified = _minhash_group_stage(
        df, text_col, id_col, k, bands, rows, threshold, None
    )
    g_labels = connected_components(
        verified.select(F.col("fp_a").alias("id_a"), F.col("fp_b").alias("id_b")),
        groups.select(F.col("fp").alias("node")),
    )
    # Docs of the empty-token-set group are NOT mutual near-dups (their
    # self-Jaccard is NULL); each is its own singleton cluster.
    doc_components = member_ids.join(
        groups.select("fp", "sz"), "fp"
    ).join(g_labels, member_ids.fp == g_labels.node).select(
        "id",
        F.when(
            F.col("sz") == 0, F.concat(F.lit("empty:"), F.col("id").cast("string"))
        )
        .otherwise(F.col("label"))
        .alias("component"),
    )
    sizes = doc_components.groupBy("component").agg(
        F.min("id").alias("cluster_id"),
        F.count("*").alias("cluster_size"),
    )
    return doc_components.join(sizes, "component").select(
        F.col("id").alias("doc_id"),
        "cluster_id",
        F.col("cluster_size").cast("long").alias("cluster_size"),
    )


def phash_near_dup_pairs(
    sig: DataFrame, max_hamming: int = 3, emit: str = "pairs"
) -> DataFrame:
    """Image near-duplicate pairs over a perceptual-hash frame
    ``(doc_id, h_lo, h_hi)`` (two uint32-valued longs = one 64-bit
    dHash, operators/multimodal.py:dhash_png). The dHash packs into one
    word ``shiftleft(h_hi, 32) | h_lo`` — same Hamming distance, same
    four 16-bit chunks — and runs through ``_banded_hamming_pairs``,
    the SimHash kernel: a 4x16-bit chunk pigeonhole band join (any pair
    within hamming <= 3 must agree on at least one chunk — never
    all-pairs), exact ``bit_count(xor)`` verification, expansion back
    to doc pairs. Returns (id_a, id_b, hamming).

    ``emit`` picks the output topology:

    - ``"pairs"`` (default, the oracle-checked demo surface): every
      qualifying pair — C(n,2) within an identical-hash group. The
      round-6 scale audit measured e(out)=2.0 here; a corpus of 10^6
      identical thumbnails would emit 5*10^11 rows. Inherent to a
      pairs LISTING, fine for diagnostics, a trap as a pipeline stage.
    - ``"star"``: canonical->member edges — within each identical-hash
      group the min-id member is canonical and every other member gets
      ONE edge to it; cross-group verified pairs are emitted once
      between the two groups' canonicals. Same connected components,
      O(members + distinct-hash pairs) output (e(out)~1) — the shape
      the edit-distance and keep-canonical paths already use, and the
      only sane topology at 100 TB."""
    if emit not in ("pairs", "star"):
        raise ValueError(f"emit must be 'pairs' or 'star', got {emit!r}")
    _check_bands(64, 4, max_hamming)
    word = F.shiftleft(F.col("h_hi").cast("long"), 32).bitwiseOR(
        F.col("h_lo").cast("long")
    )
    sigs = sig.select(F.col("doc_id").alias("id"), F.array(word).alias("words"))
    return _banded_hamming_pairs("phash", sigs, 64, 4, max_hamming, emit)


def containment_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    gram: int = 12,
    k_rare: int = 4,
) -> DataFrame:
    """Substring-containment dedup: pairs (inner_id, outer_id) where the
    inner document's full text is a strict character substring of the
    outer's (strictly shorter). Catches quote-and-extend duplication —
    a doc republished inside a larger page — which Jaccard-style
    near-dup can miss when the container is much longer.

    Scale shape (100 TB): never all-pairs. Char ``gram``-gram shingles
    imply a necessary condition — every shingle of a contained doc
    appears in its container — so it suffices to probe the ``k_rare``
    GLOBALLY RAREST shingles of each inner doc against the posting
    lists of all docs. Stages: (1) one explode -> distinct shingle set
    per doc (scan-side, no shuffle); (2) one hash-agg for global
    shingle document-frequency; (3) a bounded per-doc top-k window
    picks each doc's rarest shingles (k rows of state per doc); (4) the
    candidate join touches only the rare shingles' posting lists —
    short by construction of "rarest" — and a pair survives only if
    ALL k probes hit (count == k pigeonhole); (5) exact verification
    runs `instr(outer, inner)` on surviving candidates only. Shingles
    shuffle as xxhash64 longs (8 bytes, not 12-char strings) — the
    hash is engine-internal, never part of the verified result, so the
    md5 cross-engine contract doesn't apply to it.

    MINIMUM-LENGTH CONTRACT: a document shorter than ``gram`` characters
    has no shingles and is excluded from BOTH sides — a sub-``gram``
    snippet contained in a large page is NOT reported. That is a
    deliberate floor (at 12 chars, shorter strings match by coincidence
    far more than by duplication), but it means completeness holds only
    for inner docs of length >= ``gram``; lower ``gram`` if shorter
    containment matters, at the cost of denser posting lists.
    """
    from pyspark.sql import Window

    _release_caches()
    # Repartition the BASE rows before the per-char shingle explode —
    # the documents scan is one split at small SF, and an explode that
    # multiplies rows ~len(text)-fold must run after a redistribution
    # (shuffling pre-amplification is len-times cheaper than after).
    # base feeds three branches (the shingle explode plus both text
    # sides of the final instr verify) — cached so the scan + spread
    # shuffle of the full text runs once, not three times.
    base = _cached(
        spread_small_scan(docs.filter(F.length(text_col) >= gram), id_col)
        .select(
            F.col(id_col).alias("cid"),
            F.col(text_col).alias("ctext"),
            F.length(text_col).alias("clen"),
        )
    )
    shingles = _cached(
        base.select(
            "cid",
            "clen",
            # hash inside the lambda: the array holds 8-byte longs and
            # array_distinct dedupes hashes (same identity as grams
            # under the no-collision assumption every hash stage here
            # already makes)
            F.explode(
                F.array_distinct(
                    F.expr(
                        f"transform(sequence(1, length(ctext) - {gram - 1}),"
                        f" i -> xxhash64(substr(ctext, i, {gram})))"
                    )
                )
            ).alias("g"),
        )
    )
    dfreq = shingles.groupBy("g").agg(F.count("*").alias("df"))
    w = Window.partitionBy("cid").orderBy("df", "g")
    rare = _cached(
        shingles.join(dfreq, "g")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k_rare)
    )
    need = rare.groupBy("cid").agg(F.count("*").alias("need"))
    cand = (
        rare.select(
            F.col("cid").alias("inner_id"),
            F.col("clen").alias("inner_len"),
            "g",
        )
        .join(
            shingles.select(
                F.col("cid").alias("outer_id"),
                F.col("clen").alias("outer_len"),
                "g",
            ),
            "g",
        )
        .filter(F.col("inner_len") < F.col("outer_len"))
        .groupBy("inner_id", "inner_len", "outer_id", "outer_len")
        .agg(F.count("*").alias("matched"))
        .join(need.withColumnRenamed("cid", "inner_id"), "inner_id")
        .filter(F.col("matched") == F.col("need"))
    )
    cand = _observe_candidates("containment", cand)
    inner_txt = base.select(F.col("cid").alias("inner_id"), F.col("ctext").alias("itext"))
    outer_txt = base.select(F.col("cid").alias("outer_id"), F.col("ctext").alias("otext"))
    return (
        cand.join(inner_txt, "inner_id")
        .join(outer_txt, "outer_id")
        .filter(F.instr(F.col("otext"), F.col("itext")) > 0)
        .select(
            F.col("inner_id").cast("long").alias("inner_id"),
            F.col("outer_id").cast("long").alias("outer_id"),
            F.col("inner_len").cast("long").alias("inner_len"),
            F.col("outer_len").cast("long").alias("outer_len"),
        )
    )

"""Near-duplicate detection: MinHash + banded LSH, SimHash, n-gram Jaccard
(driver brief: dedup for LLM training data).

100 TB design rule: all-pairs comparison is never materialized. Candidate
generation shuffles on (band_index, band_hash) — two documents meet ONLY
if at least one of their MinHash bands collides, so bucket sizes track
real duplicate clusters, not corpus size. The exact-Jaccard verify runs
per candidate pair. An O(n²) crossJoin appears nowhere.

Signatures are built from ``xxhash64`` with literal seeds — deterministic
across runs, partitions, and cluster sizes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dynamic_etl_spark.ops.text import tokens
from dynamic_etl_spark.session import ensure_fanout_parallelism


def word_shingles(c: Column, k: int = 3) -> Column:
    """Distinct word k-grams (n-gram Jaccard's unit)."""
    return F.array_distinct(word_gram_seq(c, k))


def gram_seq_pretokenized(toks: Column, k: int) -> Column:
    """Ordered word k-grams over an already-tokenized array — the ONE
    gram-construction expression every token-positional operator shares
    (winnowing, Jaccard shingles, ExactSubstr span removal), so their
    DuckDB ``list_transform`` twins track a single definition. Callers
    must guarantee ``size(toks) >= k``: ``F.sequence`` DESCENDS when
    stop < start, so an unguarded short doc would emit negative indices
    (:func:`word_gram_seq` adds the short-doc clamp for raw text)."""

    def _gram(i: Column) -> Column:
        # helper, not a default-arg capture (PySpark lambda trap)
        return F.concat_ws(" ", F.slice(toks, i + 1, k))

    return F.transform(F.sequence(F.lit(0), F.size(toks) - k), _gram)


def word_gram_seq(c: Column, k: int) -> Column:
    """Word k-grams in document order, duplicates kept. Winnowing's input:
    position matters there, so no ``array_distinct`` — contrast
    ``word_shingles``, which is set-semantics for Jaccard. Documents
    shorter than ``k`` tokens emit ONE partial gram (the whole doc),
    value-identical to the historical ``greatest()``-clamped form."""
    toks = tokens(c)
    return F.when(
        F.size(toks) >= k, gram_seq_pretokenized(toks, k)
    ).otherwise(F.array(F.concat_ws(" ", toks)))


#: Driver union-find fast path for within-batch components: above this
#: many candidate pairs, fall back to distributed connected components.
#: Pairs track duplicate structure (not corpus size), so the bound is a
#: memory guard, not an expected limit.
_SMALL_CC_THRESHOLD = 200_000

#: Mersenne prime 2^31-1: the affine field for the MinHash family. Values
#: fit in 31 bits, so a*h+b stays within a long under ANSI arithmetic.
_MINHASH_P = 2_147_483_647


def _affine_params(i: int) -> tuple[int, int]:
    # Deterministic odd multiplier + offset per hash index (Knuth constant)
    a = (2_654_435_761 * (i + 1)) % _MINHASH_P or 1
    b = (40_503 * (i + 7) ** 2) % _MINHASH_P
    return a, b


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard over two (distinct-element) arrays."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def base_shingle_hash(s: Column, hash_mode: str = "xxhash") -> Column:
    """Per-shingle base hash folded into the affine field.

    - ``"xxhash"`` (default): one JVM xxhash64 — the fast production
      path, engine-specific (rows-only at the driver).
    - ``"md5"``: the first 8 hex chars of md5, the one hash family BOTH
      engines evaluate identically (Spark ``conv(substr(md5,..),16,10)``
      == DuckDB ``('0x'||substr)::BIGINT``, the Count-Min / winnowing
      precedent, ops/agg.cm_bucket) — signatures, bands, and the
      candidate-pair set become SQL-reproducible, so the LSH dedup
      family carries a DuckDB oracle outright (VERDICT r7 #2). ~2-3x
      the hash cost of xxhash64; same distribution quality for MinHash
      purposes (md5 is closer to uniform than the estimator needs).
    """
    if hash_mode == "xxhash":
        return F.pmod(F.xxhash64(s), F.lit(_MINHASH_P))
    if hash_mode == "md5":
        return F.pmod(
            F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long"),
            F.lit(_MINHASH_P),
        )
    raise ValueError(f"unknown hash_mode: {hash_mode!r}")


def band_hash_expr(slots: list[Column], b: int, hash_mode: str = "xxhash") -> Column:
    """One band's bucket key from its signature slots. xxhash mode emits
    a 64-bit long; md5 mode emits the md5 hex of the ':'-joined slots —
    a string key, but fixed 32 chars and exactly reproducible as DuckDB
    ``md5(concat_ws(':', b, m0, ...))`` (BIGINT-to-string rendering is
    identical on both engines)."""
    if hash_mode == "xxhash":
        return F.xxhash64(F.lit(b), *slots)
    if hash_mode == "md5":
        return F.md5(F.concat_ws(":", F.lit(b), *slots))
    raise ValueError(f"unknown hash_mode: {hash_mode!r}")


#: MinHash geometry of every near-dup tier: 32 hash slots in 8 bands of
#: 4, over 3-word shingles (registry/llm.py's DuckDB twins use the same).
NUM_HASHES, BANDS, SHINGLE_K = 32, 8, 3
#: The exact shingle Jaccard at which a candidate pair is a near-dup;
#: the registry's DuckDB twins read it too.
JACCARD_THRESHOLD = 0.5


def minhash_banded_rows(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    hash_mode: str = "xxhash",
) -> DataFrame:
    """(id, band_idx, band_hash) rows of a banded MinHash signature — the
    codegen hot path shared by ``minhash_near_dup_pairs`` and exposed for
    plan/fan-out inspection (tests/test_scale_stress.py).

    Shingles EXPLODE to rows and each signature slot is a codegen'd
    ``min(affine(h))`` aggregate with map-side partial aggregation — one
    shuffle of (doc, num_hashes mins), no interpreted array lambdas, and
    parallelism follows the data, not the input file count. Band hashes
    are 64-bit (xxhash64 over the band's slots), so buckets never
    saturate with corpus size — unlike fixed-width bit bands, collisions
    stay governed by the S-curve alone.
    """
    exploded = docs.select(
        F.col(id_col), F.explode(word_shingles(F.col(text_col), SHINGLE_K)).alias("__s")
    ).select(F.col(id_col), base_shingle_hash(F.col("__s"), hash_mode).alias("__h"))

    def slot(i: int) -> Column:
        a_i, b_i = _affine_params(i)
        return F.min(
            F.pmod(F.lit(a_i) * F.col("__h") + F.lit(b_i), F.lit(_MINHASH_P))
        ).alias(f"__mh{i}")

    sig_cols = exploded.groupBy(id_col).agg(*[slot(i) for i in range(NUM_HASHES)])
    rows = NUM_HASHES // BANDS
    bands_arr = F.array(
        *[
            band_hash_expr(
                [F.col(f"__mh{b * rows + j}") for j in range(rows)], b, hash_mode
            )
            for b in range(BANDS)
        ]
    )
    return sig_cols.select(
        F.col(id_col), F.posexplode(bands_arr).alias("band_idx", "band_hash")
    )


def minhash_near_dup_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    hash_mode: str = "xxhash",
) -> DataFrame:
    """Near-dup pipeline: word shingles -> MinHash -> banded LSH candidates
    -> exact-Jaccard verify >= JACCARD_THRESHOLD. Output (id_a, id_b,
    jaccard_sim).

    With 32 hashes / 8 bands (3-word shingles) the LSH S-curve crosses
    ~0.65 at sim=JACCARD_THRESHOLD 0.5.

    Plan shape — the signature is computed WITHOUT array lambdas:
    higher-order functions evaluate interpreted (outside whole-stage
    codegen), which makes the array formulation the bottleneck on a big
    corpus. Instead shingles EXPLODE to rows and each signature slot is a
    codegen'd ``min(affine(h))`` aggregate with map-side partial
    aggregation — one shuffle of (doc, 32 mins), fully vectorizable, and
    parallelism follows the data, not the input file count.

    The exact verify shingles the whole corpus once per join side and
    joins the candidates against it: the fewest stages, so the best
    single-execution latency for a run-once batch job (7.5s vs 12.4s at
    sf0.1 cold, measured r3 against persisting the candidate pairs and
    shingling only the docs that appear in one — which was 3.7x faster
    warm, 5.6s -> 1.5s, but only pays off when the pipeline re-runs in
    one session).

    Another strategy — computing shingles AFTER joining raw text to the
    pairs — is a trap, not an option: Catalyst pushes the jaccard filter
    down by SUBSTITUTING the shingle HOFs into the join condition (cost
    is not considered, only determinism), re-evaluating them per probed
    row: measured 4x slower than the verify above. Heavy expressions
    must sit below a join-input projection, never above the join.
    """
    # shingling + signatures dwarf a raw-row shuffle; no-op on well-split
    # inputs (see session.ensure_fanout_parallelism — measured 3.5x here)
    docs = ensure_fanout_parallelism(docs)
    banded = minhash_banded_rows(docs, id_col, text_col, hash_mode=hash_mode)
    pairs = (
        banded.select(F.col(id_col).alias("id_a"), "band_idx", "band_hash")
        .join(
            banded.select(F.col(id_col).alias("id_b"), "band_idx", "band_hash"),
            ["band_idx", "band_hash"],
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    # Shingles are computed in a projection BELOW the join inputs (once
    # per doc), never above the join — see the docstring for why the
    # post-join formulation is 4x slower. A counts-based verify
    # (join exploded shingle hashes per candidate pair) was also measured
    # 2x slower: the exploded relation is recomputed per join side
    # (different shuffle keys, no exchange reuse) and the intersection
    # join shuffles the full exploded corpus twice more.
    base = docs.select(F.col(id_col), word_shingles(F.col(text_col), SHINGLE_K).alias("__sh"))
    a = base.select(F.col(id_col).alias("id_a"), F.col("__sh").alias("__sh_a"))
    b = base.select(F.col(id_col).alias("id_b"), F.col("__sh").alias("__sh_b"))
    # threshold applies to the UNROUNDED jaccard (rounding only in the
    # output projection) — same boundary semantics as cosine_near_dup_pairs
    # and the brute-force truth in tests/test_llm.py (ADVICE r2)
    verified = (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("__j", jaccard(F.col("__sh_a"), F.col("__sh_b")))
        .filter(F.col("__j") >= JACCARD_THRESHOLD)
    )
    return verified.select("id_a", "id_b", F.round("__j", 6).alias("jaccard_sim"))


def simhash64(c: Column) -> Column:
    """64-bit SimHash over whitespace tokens: per bit, sum +1/-1 votes of
    each token's xxhash64; the sign becomes the bit. Near-duplicates land
    within small Hamming distance (use with F.bit_count(a ^ b)).

    Bit positions are Python-loop-unrolled (shift amounts must be
    literals); the whole expression stays in codegen.
    """
    toks = tokens(c)

    def bit_vote(b: int) -> Column:
        return F.aggregate(
            toks,
            F.lit(0),
            lambda acc, t: acc
            + F.when(F.shiftright(F.xxhash64(t), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1),
        )

    out = F.lit(0).cast("long")
    for b in range(64):
        # bit 63 is the sign bit in two's complement
        weight = (1 << b) if b < 63 else -(1 << 63)
        out = out + F.when(bit_vote(b) > 0, F.lit(weight).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return out


def simhash_md5_halves(
    docs: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """(id, fp_hi, fp_lo): the 64-bit SimHash fingerprint as two 32-bit
    halves, computed the oracle-checkable way (the md5-slice convention,
    ops/agg.cm_bucket): per-token bits come from two 8-hex md5 slices —
    chars 1-8 drive bits 32-63 (``fp_hi``), chars 9-16 drive bits 0-31
    (``fp_lo``) — so both engines derive IDENTICAL votes, and every vote
    is an integer sum (exact at any parallelism, unlike a float
    accumulation). Two deliberate differences from :func:`simhash64`:

    - tokens EXPLODE and the 64 bit-votes run as codegen conditional-sum
      aggregates (one shuffle on the id), where simhash64's per-row
      ``F.aggregate`` lambdas run INTERPRETED (SCALE.md higher-order
      rule) — at corpus scale the exploded form is the faster plan, not
      just the checkable one;
    - 32-bit halves avoid the BIGINT sign bit, so DuckDB reproduces the
      fingerprint without two's-complement juggling. Hamming distance is
      ``bit_count(hi^hi') + bit_count(lo^lo')``.

    Zero-token / null-text documents keep an all-zero fingerprint with NO
    join-back: ``explode_outer`` emits their one null-token row, the null
    slice votes -1 on every bit (``when(null, 1).otherwise(-1)``), and a
    negative vote sets no bit — the oracle's LEFT JOIN + COALESCE(0)
    reaches the same fingerprint.
    """
    tok = docs.select(
        F.col(id_col), F.explode_outer(tokens(F.col(text_col))).alias("__t")
    )
    md5 = F.md5(F.col("__t"))
    sliced = tok.select(
        F.col(id_col),
        F.conv(F.substring(md5, 1, 8), 16, 10).cast("long").alias("__hi"),
        F.conv(F.substring(md5, 9, 8), 16, 10).cast("long").alias("__lo"),
    )

    def vote(src: str, b: int) -> Column:
        bit_set = F.shiftright(F.col(src), b).bitwiseAND(F.lit(1)) == 1
        return F.sum(F.when(bit_set, 1).otherwise(-1)).alias(f"__v_{src}_{b}")

    voted = sliced.groupBy(id_col).agg(
        *[vote("__hi", b) for b in range(32)],
        *[vote("__lo", b) for b in range(32)],
    )

    def half(src: str) -> Column:
        out = F.lit(0).cast("long")
        for b in range(32):
            out = out + F.when(
                F.col(f"__v_{src}_{b}") > 0, F.lit(1 << b).cast("long")
            ).otherwise(F.lit(0).cast("long"))
        return out

    return voted.select(
        F.col(id_col), half("__hi").alias("fp_hi"), half("__lo").alias("fp_lo")
    )


def exact_dedup(
    docs: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Exact dedup on the md5 content fingerprint: one hash-shuffle
    groupBy, canonical = MIN(id). Output one row per distinct content:
    (fingerprint, canonical_id, dup_count)."""
    from dynamic_etl_spark.ops.text import fingerprint_md5

    return (
        docs.select(F.col(id_col), fingerprint_md5(F.col(text_col)).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def incremental_near_dup_merge(
    existing_docs: DataFrame,
    new_docs: DataFrame,
    id_col: str,
    text_col: str,
    existing_banded: DataFrame | None = None,
    hash_mode: str = "xxhash",
) -> dict[str, DataFrame]:
    """Incremental near-dup admission: check a NEW batch against an
    already-deduplicated corpus without re-LSHing the corpus.

    The batch pipelines the reference never needed (its feeds are keyed
    upserts) are exactly what a growing training corpus needs daily: at
    100 TB you cannot re-run ``minhash_near_dup_pairs`` over
    corpus ∪ batch per ingest — the corpus side's signatures never
    change, so they are STATE. Pass ``existing_banded`` (the signature
    store: the accumulated ``new_banded`` outputs, persisted via
    io/versioned or plain parquet) and only the batch is shingled +
    signed; candidates come from two banded joins — new×existing and
    new×new — and exact Jaccard verifies both (same zero-false-positive
    contract as the one-shot path). ``existing_docs`` is scanned only to
    verify candidate pairs (semi-joined down to candidate ids first —
    the ``verify_scope="candidates"`` shape).

    Admission rule (deterministic, order-free): within-batch matches
    form connected components (the repo's transitive near-dup
    convention, ops/graph); a component is rejected whole if ANY member
    near-matches the existing corpus, otherwise its MIN-id member is
    admitted (keep-first). Singleton batch docs with no matches admit
    directly.

    Returns ``{"accepted": (new_docs rows admitted), "dup_pairs":
    (id_new, id_matched, jaccard_sim, scope∈{existing,batch}),
    "new_banded": banded signature rows of the admitted docs — append
    them to the signature store for the next batch}``.

    ``hash_mode`` follows :func:`minhash_banded_rows`; a signature
    store is MODE-SPECIFIC — probing an xxhash store with md5 bands
    would silently collide on nothing (the join would null-cast the
    mismatched key types), so a passed ``existing_banded`` whose
    band_hash dtype disagrees with the mode is refused loudly.
    """
    from dynamic_etl_spark.ops.graph import admit_batch

    if existing_banded is not None:
        want = "string" if hash_mode == "md5" else "bigint"
        got = existing_banded.schema["band_hash"].dataType.simpleString()
        if got != want:
            raise ValueError(
                f"incremental_near_dup_merge: hash_mode={hash_mode!r} expects "
                f"a {want} band_hash store, got {got} — the signature store "
                "was built in a different hash mode"
            )
    new_docs = ensure_fanout_parallelism(new_docs)
    # r14: the candidate PAIR SET lands on one checkpointed leaf. The
    # r13 adjudication ("banded_new checkpoint is a wash —
    # ReusedExchange serves the three same-key consumers") was true of
    # the signature pass but missed where the duplication actually
    # compounds: the candidate frames were consumed by DIFFERENTLY-
    # KEYED consumers (the id-semijoin prefilters and the verify
    # joins), so the whole banded-join subtree — including the
    # CORPUS-side signature pass in bootstrap mode — was inlined into
    # every copy; the lazy dup_pairs plan measured 22 SortMergeJoins +
    # 42 BroadcastHashJoins at sf0.1 for what is logically 8 joins (the
    # winnowing r13 pathology, guide §5: cache when reused and
    # recompute is expensive). ONE delta-sized eager checkpoint of the
    # tagged union collapses that — inside this single action the three
    # banded_new consumers still share one signature pass via
    # ReusedExchange (same band key), and every downstream consumer
    # reads a leaf. (Still no persist: CacheManager pins plans until an
    # explicit unpersist the lazy outputs forbid — review r4.)
    banded_new = minhash_banded_rows(new_docs, id_col, text_col, hash_mode=hash_mode)
    if existing_banded is None:
        # the corpus-side signature pass is the merge's heaviest fan-out
        # when no store is passed (bootstrap); a single-row-group corpus
        # parquet would run it as ONE task (r13 — the sf0.1 scan is one
        # split). Per-doc min-aggregates are partition-invariant, and at
        # production split counts the wrapper is a no-op.
        existing_banded = minhash_banded_rows(
            ensure_fanout_parallelism(existing_docs), id_col, text_col, hash_mode=hash_mode
        )

    cand_cross_lazy = (
        banded_new.select(F.col(id_col).alias("id_new"), "band_idx", "band_hash")
        .join(
            existing_banded.select(F.col(id_col).alias("id_matched"), "band_idx", "band_hash"),
            ["band_idx", "band_hash"],
        )
        .select("id_new", "id_matched", F.lit("existing").alias("scope"))
    )
    cand_within_lazy = (
        banded_new.select(F.col(id_col).alias("id_a"), "band_idx", "band_hash")
        .join(
            banded_new.select(F.col(id_col).alias("id_b"), "band_idx", "band_hash"),
            ["band_idx", "band_hash"],
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            F.col("id_b").alias("id_new"),
            F.col("id_a").alias("id_matched"),
            F.lit("batch").alias("scope"),
        )
    )
    cand = (
        cand_cross_lazy.unionByName(cand_within_lazy).distinct().localCheckpoint()
    )
    cand_cross = cand.filter(F.col("scope") == "existing").select(
        "id_new", F.col("id_matched").alias("id_old")
    )
    cand_within = cand.filter(F.col("scope") == "batch").select(
        F.col("id_matched").alias("id_a"), F.col("id_new").alias("id_b")
    )

    def shingled(docs: DataFrame, ids: DataFrame, alias: str) -> DataFrame:
        base = docs.select(F.col(id_col), F.col(text_col)).join(
            ids, id_col, "leftsemi"
        )
        return base.select(
            F.col(id_col).alias(alias),
            word_shingles(F.col(text_col), SHINGLE_K).alias(f"__sh_{alias}"),
        )

    # No distincts on the shingle-prefilter id probes: cand is already a
    # deduped leaf and leftsemi tolerates duplicate probe rows
    new_ids = (
        cand_cross.select(F.col("id_new").alias(id_col))
        .union(cand_within.select(F.col("id_a").alias(id_col)))
        .union(cand_within.select(F.col("id_b").alias(id_col)))
    )
    old_ids = cand_cross.select(F.col("id_old").alias(id_col))
    sh_new = shingled(new_docs, new_ids, "id_new")
    sh_old = shingled(existing_docs, old_ids, "id_old")

    cross_pairs = (
        cand_cross.join(sh_new, "id_new")
        .join(sh_old, "id_old")
        .withColumn("__j", jaccard(F.col("__sh_id_new"), F.col("__sh_id_old")))
        .filter(F.col("__j") >= JACCARD_THRESHOLD)
        .select(
            "id_new",
            F.col("id_old").alias("id_matched"),
            F.round("__j", 6).alias("jaccard_sim"),
            F.lit("existing").alias("scope"),
        )
    )
    within_pairs = (
        cand_within.join(sh_new.select(F.col("id_new").alias("id_a"), F.col("__sh_id_new").alias("__sh_a")), "id_a")
        .join(sh_new.select(F.col("id_new").alias("id_b"), F.col("__sh_id_new").alias("__sh_b")), "id_b")
        .withColumn("__j", jaccard(F.col("__sh_a"), F.col("__sh_b")))
        .filter(F.col("__j") >= JACCARD_THRESHOLD)
        .select(
            F.col("id_b").alias("id_new"),
            F.col("id_a").alias("id_matched"),
            F.round("__j", 6).alias("jaccard_sim"),
            F.lit("batch").alias("scope"),
        )
    )
    # Lineage truncation, not just caching: every output of a STATEFUL
    # operator feeds the next batch's computation (new_banded → the
    # store → the next merge), so un-truncated plans COMPOUND per batch —
    # within two batches the nested CC-iteration lineage made Spark's
    # plan stringification alone OOM the driver. dup_pairs is delta-sized
    # (bounded by duplicate structure), so an eager localCheckpoint is
    # cheap and resets the plan to a leaf.
    dup_pairs = cross_pairs.unionByName(within_pairs).localCheckpoint()

    # The admission rule (within-batch components, reject-on-corpus-hit,
    # keep-MIN-id) is shared with the semantic tier — ops/graph.admit_batch
    # carries the hybrid driver-union-find/distributed-CC execution notes.
    accepted = admit_batch(
        new_docs, id_col, dup_pairs, small_cc_threshold=_SMALL_CC_THRESHOLD
    )
    new_banded = banded_new.join(
        accepted.select(id_col), id_col, "leftsemi"
    )
    return {"accepted": accepted, "dup_pairs": dup_pairs, "new_banded": new_banded}

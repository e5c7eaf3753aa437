"""Deduplication operators: exact, MinHash+LSH, n-gram Jaccard, SimHash,
over a documents table (doc_id, text).

All shingle/hash math is native Spark SQL (md5 + conv + higher-order
array functions) — no UDFs, whole-stage codegen end to end, and every
step reproducible in ANSI SQL for the DuckDB oracle.

Scale notes (100 TB):
  * exact: one hash aggregate on a 60-bit content key.
  * MinHash: shingle explode is the wide step; signatures reduce back to
    one row/doc; LSH banding turns all-pairs into per-bucket joins.
  * n-gram Jaccard: the classic sparse inverted-index join — pairs are
    generated per shared shingle, counted, then filtered by the
    |A∩B| / (|A|+|B|-|A∩B|) threshold; never materializes the n² grid.
  * SimHash: per-token bit votes aggregated per doc (32 sums), banded
    Hamming join for candidates.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# 60-bit integer from an md5 prefix — identical in DuckDB via
# ('0x' || substr(md5(x),1,15))::bigint
def md5_int(c: Column) -> Column:
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def md5_int_sql(x: str) -> str:
    return f"('0x' || substr(md5({x}), 1, 15))::bigint"


def normalize_text(c: Column) -> Column:
    return F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")


def tokens(text: Column) -> Column:
    """The words of the normalized text: the one tokenizer of the
    shingle, SimHash and text-analysis operators."""
    return F.split(normalize_text(text), " ")


# ------------------------------------------------------------------- exact
def exact_duplicates(docs: DataFrame) -> DataFrame:
    """(doc_id, content_hash, canonical_doc_id, is_duplicate): every doc
    mapped to the smallest doc id sharing its normalized content hash."""
    h = docs.select(
        "doc_id", md5_int(normalize_text(F.col("text"))).alias("content_hash")
    )
    canon = h.groupBy("content_hash").agg(F.min("doc_id").alias("canonical_doc_id"))
    return h.join(canon, "content_hash").select(
        "doc_id",
        "content_hash",
        "canonical_doc_id",
        (F.col("doc_id") != F.col("canonical_doc_id")).alias("is_duplicate"),
    )


# ----------------------------------------------------------------- shingles
# every shingle operator uses word 3-grams (shingle_sql mirrors them)
SHINGLE_N = 3


def shingles_from_words(words: Column) -> Column:
    """Sliding word ``SHINGLE_N``-grams over an ALREADY-MATERIALIZED
    words column.

    ``words`` must be a real column (attribute), not a composite
    expression: lambda bodies in higher-order functions are interpreted
    without common-subexpression elimination, so an inlined
    split(regexp_replace(...)) would re-run per element_at — O(words²)
    regex work per doc (measured 16 s for a 260k-shingle explode; <1 s
    materialized)."""
    m = F.size(words) - (SHINGLE_N - 1)
    return F.when(m <= 0, F.array(F.array_join(words, " "))).otherwise(
        F.transform(
            F.sequence(F.lit(0), m - 1),
            lambda i: F.concat_ws(" ", *[F.element_at(words, i + j + 1) for j in range(SHINGLE_N)]),
        )
    )


def word_shingles(text: Column) -> Column:
    """Array of word shingles of the normalized text.

    Convenience form over a raw text column; fine for single-pass use on
    small inputs. Hot paths should project the words array first and use
    shingles_from_words (see its docstring for why)."""
    return shingles_from_words(tokens(text))


def exploded_shingles(docs: DataFrame, distinct: bool = False) -> DataFrame:
    """(doc_id, sh): one row per (doc, shingle), words materialized once."""
    words = docs.select("doc_id", tokens(F.col("text")).alias("_w"))
    arr = shingles_from_words(F.col("_w"))
    if distinct:
        arr = F.array_distinct(arr)
    return words.select("doc_id", F.explode(arr).alias("sh"))


def shingle_sql(text: str) -> str:
    """DuckDB equivalent of word_shingles (list_transform over ranges)."""
    norm = f"regexp_replace(lower(trim({text})), '\\s+', ' ', 'g')"
    words = f"string_split({norm}, ' ')"
    joined = " || ' ' || ".join(f"w[i + {j}]" for j in range(SHINGLE_N))
    return (
        f"(CASE WHEN len({words}) < {SHINGLE_N} THEN [{norm}] ELSE "
        f"(SELECT list_transform(range(1, len(w) - {SHINGLE_N - 2}), i -> {joined}) FROM (SELECT {words} AS w)) END)"
    )


# ------------------------------------------------------------------ minhash
# One md5 per shingle, k slots by universal hashing: slot_i(x) =
# (a_i * h32(x) + b_i) mod (2^31 - 1), with h32 = the first 8 md5 hex
# digits (32-bit). The modulus must be far below a_i * h32 so the mod
# WRAPS many times — with a larger modulus the slots stay monotone in
# h32 and every slot picks the same argmin shingle (correlated
# signatures, measured as 0 shared slots on true near-dups). a_i < 2^28
# (odd) and h32 < 2^32 keep products < 2^60: no signed-64 overflow in
# either engine (Spark 4 ANSI would raise). The (a,b) coefficients are
# fixed md5-derived constants embedded as literals on both sides.
# Replaces k independent md5 calls per shingle (k=8 md5s was the
# measured hot spot of the LSH bench query).
_MERSENNE31 = (1 << 31) - 1

import hashlib as _hashlib


def minhash_coeffs(i: int) -> tuple[int, int]:
    a = (int(_hashlib.md5(f"mh:a:{i}".encode()).hexdigest()[:7], 16) | 1)
    b = int(_hashlib.md5(f"mh:b:{i}".encode()).hexdigest()[:7], 16)
    return a, b


def md5_int32(c: Column) -> Column:
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")


def md5_int32_sql(x: str) -> str:
    return f"('0x' || substr(md5({x}), 1, 8))::bigint"


def minhash_slot_expr(h32: Column, i: int) -> Column:
    a, b = minhash_coeffs(i)
    return (F.lit(a) * h32 + F.lit(b)) % F.lit(_MERSENNE31)


def minhash_slot_sql(h32_sql: str, i: int) -> str:
    a, b = minhash_coeffs(i)
    return f"(({a} * {h32_sql} + {b}) % {_MERSENNE31})"


def minhash_signatures(docs: DataFrame, num_hashes: int = 16) -> DataFrame:
    """(doc_id, sig: array<long>[num_hashes]): sig[i] = min over shingles
    of the i-th universal hash of one md5 per shingle (see above)."""
    sh = exploded_shingles(docs)
    # h32 as a real column first: fanning md5 into the k slot exprs
    # directly can re-evaluate it per slot (the inlining trap
    # hexgrid.with_cover avoids, BENCH.md optimization log)
    hashed = sh.select("doc_id", md5_int32(F.col("sh")).alias("h32")).select(
        "doc_id",
        *[minhash_slot_expr(F.col("h32"), i).alias(f"h{i}") for i in range(num_hashes)],
    )
    agg = hashed.groupBy("doc_id").agg(
        *[F.min(f"h{i}").alias(f"h{i}") for i in range(num_hashes)]
    )
    return agg.select("doc_id", F.array(*[f"h{i}" for i in range(num_hashes)]).alias("sig"))


def _banded_self_join(df: DataFrame, carry: list[str], bands: list[Column]) -> DataFrame:
    """Document pairs sharing a band: one (doc_id, *carry, band, v) row
    per entry of ``bands``, self-joined on (band, v, a.doc_id <
    b.doc_id); the sides are aliased ``a`` and ``b``.

    The banded frame is localCheckpointed (lazily): a self-join's two
    sides are otherwise two full computations of the upstream
    aggregation (signatures or fingerprints), since broadcast hash joins
    have no exchange for ReuseExchange to dedupe. Its blocks stay on the
    executors until the frame and every frame built on it are
    unreachable on the driver and a driver GC lets the ContextCleaner
    drop them (spark.cleaner.periodicGC.interval, 30 min by default), or
    until the session stops; spark.catalog.clearCache() does not release
    them. The lineage is cut, so a block lost with its executor cannot
    be recomputed: the job reading it fails."""
    banded = df.select(
        "doc_id",
        *carry,
        F.explode(
            F.array(*[F.struct(F.lit(b).alias("band"), v.alias("v")) for b, v in enumerate(bands)])
        ).alias("bb"),
    ).select("doc_id", *carry, "bb.band", "bb.v")
    banded = banded.localCheckpoint(eager=False)
    a = banded.alias("a")
    b = banded.alias("b")
    return a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.v") == F.col("b.v"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    )


def lsh_candidate_pairs(
    signatures: DataFrame, bands: int = 4, rows_per_band: int = 4
) -> DataFrame:
    """(doc_a, doc_b) candidate near-dup pairs: docs sharing any LSH
    band bucket (band hash over ``rows_per_band`` signature slots).

    Measured recall of exact-Jaccard >= 0.5 pairs on the seeded
    clustered corpus (tests/test_recall.py): 8 bands x 2 rows -> 0.985;
    4 x 4 -> 0.574. More, narrower bands raise recall (and candidate
    volume); the pipeline default is the 8x2 shape."""
    slots = [F.col("sig")[i].cast("string") for i in range(bands * rows_per_band)]
    buckets = [
        F.md5(F.concat_ws(",", *slots[b * rows_per_band : (b + 1) * rows_per_band])) for b in range(bands)
    ]
    return (
        _banded_self_join(signatures, [], buckets)
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


# ---------------------------------------------------------- postings join
def postings_pairs(postings: DataFrame, token: str, max_df: int | None) -> DataFrame:
    """(doc_a, doc_b, inter): for each pair of documents, the number of
    ``token`` values both post — the inverted-index self-join through
    the postings list (doc_id, <token>), never all-pairs.

    ``max_df`` drops tokens whose document frequency exceeds it from
    the join (a groupBy plus a left-semi join): a stop-token in k docs
    is a k²/2 pair burst with ~no signal, and a pair whose shared tokens
    were all dropped is missed (conservative). ``max_df=None`` joins
    every token. The postings feed both the df count and both join
    sides, so callers pass them localCheckpointed; those blocks live as
    long as ``_banded_self_join`` says, and a lost executor's blocks
    cannot be recomputed."""
    joinable = postings
    if max_df is not None:
        rare = postings.groupBy(token).agg(F.count("*").alias("df")).filter(F.col("df") <= max_df)
        joinable = postings.join(rare.select(token), token, "left_semi")
    a = joinable.alias("a")
    b = joinable.alias("b")
    return (
        a.join(b, (F.col(f"a.{token}") == F.col(f"b.{token}")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("inter"))
    )


# ------------------------------------------------------------ ngram jaccard
# Default stop-shingle cap: on Zipfian text a shingle appearing in k
# docs contributes ~k²/2 intermediate pairs; at web scale one stop
# phrase ("all rights reserved") goes quadratic. 10k bounds any single
# shingle's pair burst to ~5·10^7 rows spread across tasks while being
# far above the df of any shingle that still carries similarity signal.
DEFAULT_MAX_DF = 10_000


def ngram_jaccard_pairs(
    docs: DataFrame, threshold: float = 0.5, max_df: int | None = DEFAULT_MAX_DF
) -> DataFrame:
    """(doc_a, doc_b, jaccard) for pairs with shingle-set Jaccard >=
    threshold — inverted-index join, no n² blowup.

    ``max_df`` (default ``DEFAULT_MAX_DF``) drops shingles whose document
    frequency exceeds it from the JOIN side only (sizes keep every
    shingle): a stop-shingle appearing in thousands of docs contributes
    a quadratic pair burst while carrying ~no similarity signal. Exact
    Jaccard is preserved for any pair whose intersection isn't made
    solely of dropped shingles; pairs whose overlap includes dropped
    shingles get an UNDER-estimate (conservative: no false positives
    above the threshold, possible false negatives). ``max_df=None`` is
    the exact path (used by the oracle-parity query, where the corpus
    is known non-Zipfian).
    """
    # materialize the exploded distinct shingles once — they feed the
    # sizes agg, the df cap agg, and BOTH sides of the inverted-index
    # join (four consumers, each otherwise a full normalize+shingle
    # +explode recomputation)
    sh = exploded_shingles(docs, distinct=True).localCheckpoint(eager=False)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    shared = postings_pairs(sh, "sh", max_df)
    sa = sizes.selectExpr("doc_id as doc_a", "sz as sz_a")
    sb = sizes.selectExpr("doc_id as doc_b", "sz as sz_b")
    return (
        shared.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# ------------------------------------------------------------------ simhash
# Default fingerprint width is 64 bits (was 32). At web scale the banded
# candidate join keys on (band, band_value); with the derived
# bands = max_hamming + 1 (rounded up to a divisor of bits), 32-bit
# fingerprints leave 4-bit bands — 16 distinct values, so each bucket
# holds O(n/16) docs and the join degenerates toward all-pairs. At 64
# bits the same derivation gives 8-16-bit bands (256-65536 values):
# bucket population drops by the extra entropy, and uncorrelated docs
# land in the same bucket with probability 2^-width per band instead of
# 2^-4. Token bits come from two non-overlapping md5 words (hex chars
# 1-15 and 16-30, 60 bits each), so widths up to 120 bits need exactly
# the same two conv() calls both engines already do.
def _token_bit(b: int) -> Column:
    src, off = ("h1", b) if b < 60 else ("h2", b - 60)
    return F.shiftright(F.col(src), off).bitwiseAND(F.lit(1))


def simhash(docs: DataFrame, bits: int = 64) -> DataFrame:
    """(doc_id, simhash): per-token md5-derived bit votes, sign-summed.

    bit b of the fingerprint = 1 iff sum over tokens of
    (+1 if bit b of the token's md5 else -1) > 0. Bits 0-59 read the
    first md5 word (hex 1-15), bits 60+ the second (hex 16-30), so the
    32-bit fingerprints of earlier rounds are a strict truncation of
    the 64-bit ones. bits=64 stores bit 63 as the sign bit (adding
    -2^63), which both engines' two's-complement bigints represent
    exactly.
    """
    if not 1 <= bits <= 120:
        raise ValueError(f"bits must be in [1, 120] (two 60-bit md5 words); got {bits}")
    tok = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("t")
    ).withColumn("h1", md5_int(F.col("t")))
    if bits > 60:
        tok = tok.withColumn(
            "h2", F.conv(F.substring(F.md5(F.col("t")), 16, 15), 16, 10).cast("long")
        )
    votes = tok.groupBy("doc_id").agg(
        *[
            F.sum(F.when(_token_bit(b) == 1, 1).otherwise(-1)).alias(f"b{b}")
            for b in range(bits)
        ]
    )
    fp = F.lit(0).cast("long")
    for b in range(bits):
        weight = -(1 << 63) if b == 63 else (1 << b)
        fp = fp + F.when(F.col(f"b{b}") > 0, F.lit(weight).cast("long")).otherwise(0)
    # stamp the width into the column metadata so downstream banded
    # joins can't silently band with the wrong width (ADVICE r3: 32-bit
    # fps banded as-if-64 zero out bands 4-7 and every doc collides)
    return votes.select("doc_id", fp.alias("simhash")).withMetadata(
        "simhash", {"bits": bits}
    )


def simhash_near_pairs(
    fps: DataFrame, max_hamming: int = 6, bits: int | None = None, bands: int | None = None
) -> DataFrame:
    """Banded Hamming join, verified with bit_count.

    Recall contract: the pigeonhole guarantee (every pair within
    ``max_hamming`` shares >= 1 exact band) holds ONLY when
    ``max_hamming < bands``. ``bands=None`` (default) derives
    ``max_hamming + 1`` bands, so the default is complete. Passing fewer
    bands explicitly is an APPROXIMATION: pairs whose differing bits
    touch every band are missed (recall < 1, precision unaffected —
    candidates are still verified by exact Hamming distance).
    Measured at max_hamming=10 on the seeded clustered corpus
    (tests/test_recall.py): bands=8 -> 0.995 recall, bands=4 -> 0.594
    (documented as too lossy).

    Band extraction is (simhash >> b*width) & mask — for equal-width
    bands the mask width never exceeds 64 - shift, so arithmetic
    sign-fill bits are always masked off and Spark/DuckDB agree bit for
    bit even on negative (bit-63-set) fingerprints (probe-verified).

    Width resolution (ADVICE r3): ``simhash()`` stamps its width into
    the column metadata; ``bits=None`` (default) adopts it, and an
    explicit ``bits`` that CONTRADICTS the metadata raises — banding
    32-bit fingerprints as if 64 makes the high bands all-zero and the
    candidate join degenerates toward all-pairs. Fingerprints from
    elsewhere (no metadata) default to 64.
    """
    meta_bits = None
    if "simhash" in fps.columns:
        md = fps.schema["simhash"].metadata or {}
        meta_bits = int(md["bits"]) if "bits" in md else None
    if bits is None:
        bits = meta_bits if meta_bits is not None else 64
    elif meta_bits is not None and bits != meta_bits:
        raise ValueError(
            f"fingerprints were built with simhash(bits={meta_bits}) but "
            f"bits={bits} was passed; banding with the wrong width zeroes "
            f"the high bands and degenerates the candidate join"
        )
    if bands is None:
        bands = max_hamming + 1
    if not 1 <= bands <= bits:
        raise ValueError(
            f"need 1 <= bands <= bits for the banded join; got bands={bands} "
            f"(= max_hamming+1 when derived), bits={bits}"
        )
    if bits % bands != 0:
        # equal-width bands need bands | bits; round up to the next divisor
        bands = next(b for b in range(bands, bits + 1) if bits % b == 0)
    width = bits // bands

    def band_value(b: int) -> Column:
        if width >= 64:  # bands=1: the band IS the fingerprint
            return F.col("simhash")
        mask = (1 << width) - 1
        return F.shiftright(F.col("simhash"), b * width).bitwiseAND(F.lit(mask))

    return (
        _banded_self_join(fps, ["simhash"], [band_value(b) for b in range(bands)])
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


# ------------------------------------------------------- dedup clustering
# Pairwise near-dup output (LSH / simhash / jaccard pairs) is not yet a
# dedup decision: "keep one copy per duplicate GROUP" needs the
# transitive closure of the pair relation. The reference's whitelist/
# first-in-wins logic (duplicate_search.py) sidesteps this because its
# universe is one changeset's elements; a 100-TB corpus dedup cannot.


def connected_components(
    pairs: DataFrame, max_iter: int = 25, stats: dict | None = None
) -> DataFrame:
    """Duplicate groups from near-dup pairs (doc_a, doc_b): connected
    components by iterative min-label propagation, all DataFrame ops.

    Returns one row per document that appears in >= 1 pair:
    ``(doc_id, component, is_rep)`` where ``component`` is the smallest
    doc id reachable through the pair graph and ``is_rep`` marks the
    canonical keeper (docs in no pair are implicitly their own
    singleton groups — callers drop ``NOT is_rep`` rows only).

    Scale shape: each sweep is one shuffle (min over neighbor labels,
    map-side combined) + one broadcast-free join; sweeps needed =
    graph diameter, and near-dup components are band-collision cliques
    with tiny diameters (2-3 sweeps typical, bounded by ``max_iter``
    with a loud failure rather than a silent partial merge; a path
    graph of diameter d converges in exactly ceil(log2(d))-ish-to-d
    sweeps plus one observing sweep — set ``max_iter`` > diameter).
    Convergence is detected by a changed-label count folded into the
    same sweep that computes the update (a sum over 0/1 indicators:
    bounded by the vertex count, so overflow-proof where a sum over
    raw 2^60-sized labels is not — VERDICT r4), one cheap scalar agg
    per sweep, no extra join or pass. Lineage is truncated every sweep
    with localCheckpoint (iterative plans grow exponentially otherwise;
    same pattern GraphFrames uses). Each sweep's blocks live as long as
    ``_banded_self_join`` says, and a lost executor's blocks cannot be
    recomputed.

    ``stats``: optional dict the call fills with ``{"sweeps": n}`` so
    tests can pin sweep counts without a side channel.
    """
    # symmetrize with ONE pass over pairs (explode of the two
    # orientations) — union(pairs, pairs.swapped) computed the entire
    # upstream pair generation twice
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col("doc_a").alias("a"), F.col("doc_b").alias("b")),
                    F.struct(F.col("doc_b").alias("a"), F.col("doc_a").alias("b")),
                )
            ).alias("e")
        )
        .select("e.a", "e.b")
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = edges.select("a").distinct().select("a", F.col("a").alias("lbl"))
    converged = False
    sweeps = 0
    for _sweep in range(max_iter):
        nbr_min = (
            edges.join(labels.select(F.col("a").alias("b"), "lbl"), "b")
            .groupBy("a")
            .agg(F.min("lbl").alias("nbr"))
        )
        updated = (
            labels.join(nbr_min, "a", "left")
            .select(
                "a",
                F.least("lbl", F.coalesce("nbr", "lbl")).alias("lbl"),
                (F.coalesce("nbr", "lbl") < F.col("lbl")).cast("long").alias("_chg"),
            )
            .localCheckpoint(eager=True)
        )
        changed = updated.agg(F.sum("_chg")).collect()[0][0] or 0
        labels = updated.drop("_chg")
        sweeps += 1
        # a sweep that changed nothing IS the fixpoint — observed in the
        # same pass that would have applied it, so a graph converging on
        # the final allowed sweep is recognized, not spuriously failed
        # (ADVICE r4); changed==0 with an empty pair set is also done
        if changed == 0:
            converged = True
            break
    if stats is not None:
        stats["sweeps"] = sweeps
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} sweeps; "
            "raise max_iter (component diameter exceeds the bound)"
        )
    return labels.select(
        F.col("a").alias("doc_id"),
        F.col("lbl").alias("component"),
        (F.col("a") == F.col("lbl")).alias("is_rep"),
    )

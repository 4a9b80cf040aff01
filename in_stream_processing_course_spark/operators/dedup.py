"""Deduplication family over document tables (north-star X1/X2):
exact, MinHash+LSH, SimHash, n-gram Jaccard. All engine-portable
Column algebra (md5-based hashing — identical in DuckDB) so every
variant has an exact SQL oracle; pandas-UDF variants are not needed
because nothing here leaves the JVM.

Scale design: every near-dup variant is *blocked* — candidate pairs
come from an equi-join on a bucket key (LSH band signature, simhash
band, or cheap blocking key), never from a cross join. At 100 TB the
bucket join shuffles on the band key, AQE handles skewed buckets, and
per-bucket pair counts stay bounded by band tuning (bands x rows).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def exact_dedup(df: DataFrame, cols: list[str]) -> DataFrame:
    """X1 — exact dedup. dropDuplicates = groupBy(cols) keep-first;
    hash-shuffle on the dedup key, map-side partial dedup first.
    """
    return df.dropDuplicates(cols)


def shingles_col(text: Column, k: int = 5) -> Column:
    """Word k-shingles (distinct) of lowercased text."""
    toks = F.filter(F.split(F.lower(text), r"\s+"), lambda t: F.length(t) > 0)
    n = F.size(toks)
    idx = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.array_join(F.slice(toks, i, k), " "))
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    shingle_k: int = 5,
) -> DataFrame:
    """MinHash signatures, scale-shaped: explode shingles to rows, then
    ONE hash-aggregate with ``num_hashes`` min() accumulators over the
    standard affine hash family h_i = h1 + i*h2 — md5 runs ONCE per
    shingle (not once per hash index), partial aggregation runs
    map-side, and the only shuffle is the groupBy(id).

    h1 = first 60 bits of md5(shingle) (15 hex chars), h2 = 48 bits
    from hex chars 17-28; h1 + i*h2 stays < 2^61 for i < 2^12, so the
    arithmetic never overflows a signed 64-bit in either engine. Both
    md5 and the hex->bigint parse are bit-identical across engines
    (Spark ``conv(hex,16,10)``, DuckDB ``('0x'||hex)::BIGINT``), so the
    DuckDB oracle reproduces signatures exactly. Min over an affine
    family of a random oracle is the textbook MinHash estimator.

    (A nested array-lambda formulation — transform over hash indices of
    array_min over shingles — is semantically identical but Catalyst
    cannot CSE across lambda scopes, so shingle tokenization and md5
    get recomputed per hash index and per consumer: 60x slower at
    sf0.1. Exploding is the 100 TB shape.)
    """
    # overflow bound of the affine family (docstring): h1 + i*h2 only
    # stays inside signed 64-bit for i < 2^12 — fail fast instead of
    # silently wrapping
    assert num_hashes < 1 << 12, f"num_hashes={num_hashes} overflows h1 + i*h2"
    shingled = df.select(
        F.col(id_col),
        F.explode(shingles_col(F.col(text_col), shingle_k)).alias("shingle"),
    )
    hashed = shingled.selectExpr(
        id_col,
        "CAST(conv(substring(md5(shingle), 1, 15), 16, 10) AS BIGINT) AS h1",
        "CAST(conv(substring(md5(shingle), 17, 12), 16, 10) AS BIGINT) AS h2",
    )
    # one SQL string for all accumulators (same py4j-latency lesson as
    # simhash_table: per-Column composition costs ~1 ms/call on the
    # driver, dominating small-stage wall time)
    mins = ", ".join(f"min(h1 + {i} * h2)" for i in range(num_hashes))
    return hashed.groupBy(id_col).agg(F.expr(f"array({mins}) AS sig"))


def minhash_bands(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 5,
) -> DataFrame:
    """doc -> (band_id, band_key) rows for LSH bucketing.

    band_key = concat of the band's rows of the signature; two docs
    collide in a band iff that slice matches exactly.
    """
    sig = minhash_signatures(df, id_col, text_col, num_hashes, shingle_k)
    return _bands_of_sig(sig, id_col, num_hashes, bands)


def _bands_of_sig(
    sig: DataFrame, id_col: str, num_hashes: int, bands: int
) -> DataFrame:
    """Band explode over an existing signature table — split out (r14)
    so the banded self-join can checkpoint the NARROW 1-row-per-doc
    signature table and re-derive bands above the checkpoint (pure
    array slicing, no shuffle) instead of checkpointing the exploded
    band rows."""
    rows_per_band = num_hashes // bands
    band_structs = ", ".join(
        "struct(CAST({b} AS INT) AS band_id, concat_ws('|', {cols}) AS band_key)".format(
            b=b,
            cols=", ".join(
                f"sig[{i}]"
                for i in range(b * rows_per_band, (b + 1) * rows_per_band)
            ),
        )
        for b in range(bands)
    )
    return sig.select(
        F.col(id_col), F.expr(f"explode(array({band_structs})) AS band")
    ).select(id_col, "band.band_id", "band.band_key")


def minhash_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 5,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """LSH candidate pairs: self-equi-join banded docs on
    (band_id, band_key), distinct (a < b) pairs. The join is a plain
    shuffle-hash/sort-merge equi-join — no cross product anywhere.

    ``max_bucket_size`` is the quadratic-blowup guard for real corpora:
    a band key shared by B docs emits B^2/2 pairs, and AQE's skew
    handling splits partitions, not that pair count — one degenerate
    key (empty docs, boilerplate) can dominate the whole job. Capping
    drops buckets with more than ``max_bucket_size`` members before the
    join (the stop-shingle rationale: a key that common isn't
    discriminative, and its members still collide on their other
    bands). The cap is one extra count-aggregate on the band table —
    cheap relative to the join it bounds.
    """
    # materialize the signature table once: AQE never reuses the
    # exchange under a self-join (each side becomes its own query
    # stage), so without a checkpoint the whole shingle->minhash
    # pipeline — the expensive part — executes twice. r14: checkpoint
    # the NARROW signature table (1 row/doc) rather than the exploded
    # band rows (bands rows/doc) — the band explode above the
    # checkpoint is pure array slicing that re-runs per join side for
    # free, while the checkpointed blocks shrink by the band factor
    # (same trick on the simhash twin).
    # Checkpointing before a banded self-join is the standard LSH
    # shape at any scale (MEMORY_AND_DISK blocks, spillable).
    sig = minhash_signatures(
        df, id_col, text_col, num_hashes, shingle_k
    ).localCheckpoint(eager=False)
    banded = _bands_of_sig(sig, id_col, num_hashes, bands)
    if max_bucket_size is not None:
        sizes = banded.groupBy("band_id", "band_key").agg(
            F.count(F.lit(1)).alias("_bucket_n")
        )
        banded = (
            banded.join(sizes, ["band_id", "band_key"])
            .where(F.col("_bucket_n") <= max_bucket_size)
            .drop("_bucket_n")
        )
    left = banded.alias("l")
    # shuffle-hash beats the default broadcast plan here (the build side
    # is not small relative to the probe side — it IS the probe side),
    # and is also the only viable strategy at scale where neither side
    # of a banded self-join broadcasts.
    right = banded.hint("shuffle_hash").alias("r")
    pairs = (
        left.join(
            right,
            (F.col("l.band_id") == F.col("r.band_id"))
            & (F.col("l.band_key") == F.col("r.band_key"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("a"),
            F.col(f"r.{id_col}").alias("b"),
        )
        .distinct()
    )
    return pairs


def minhash_index_matches(
    index_bands: DataFrame,
    new_bands: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental dedup — the production shape at 100 TB: new data is
    checked against a PERSISTED corpus band index instead of re-LSHing
    the whole corpus per batch.

    For every doc in ``new_bands``, find its deterministic match in the
    index (min corpus id over all band collisions) or null if novel.
    The new batch's bands are broadcast; the index side is only ever
    SCANNED — no shuffle, no re-hash of corpus text — so the per-batch
    cost is O(index scan + |new| bands), independent of corpus band
    cardinality skew. Output: (id_col, matched_doc_id, is_novel).
    """
    idx = index_bands.select(
        F.col(id_col).alias("_corpus_id"), "band_id", "band_key"
    )
    new = new_bands.select(
        F.col(id_col).alias("_new_id"), "band_id", "band_key"
    )
    hits = (
        idx.join(F.broadcast(new), ["band_id", "band_key"])
        .groupBy("_new_id")
        .agg(F.min("_corpus_id").alias("matched_doc_id"))
    )
    all_new = new.select("_new_id").distinct()
    return (
        all_new.join(F.broadcast(hits), "_new_id", "left")
        .select(
            F.col("_new_id").alias(id_col),
            "matched_doc_id",
            F.col("matched_doc_id").isNull().alias("is_novel"),
        )
    )


def jaccard_col(a: Column, b: Column) -> Column:
    """Exact Jaccard over two distinct-element arrays (double)."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return inter / F.greatest(union, F.lit(1))


def containment_col(a: Column, b: Column) -> Column:
    """Exact containment |a ∩ b| / |a| over two distinct-element
    arrays. Asymmetric by design: a quote, excerpt, or wrapped copy of
    a document scores near 1.0 against its origin even though Jaccard
    is tiny (the union is dominated by the longer side). The dedup
    decision that Jaccard verification structurally misses — standard
    in web-corpus curation (containment-based near-dup detection,
    Broder's resemblance/containment pair)."""
    inter = F.size(F.array_intersect(a, b))
    return inter / F.greatest(F.size(a), F.lit(1))


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    threshold: float = 0.5,
    blocking: str = "source",
) -> DataFrame:
    """Exact n-gram Jaccard near-dup within blocking groups as a
    SET-SIMILARITY JOIN: explode distinct shingles to rows, equi-join
    on (block, shingle) to count intersections per pair, then
    J = c / (|A| + |B| - c). Aggregate-shaped end to end — no per-pair
    array intersects (which Catalyst would re-evaluate per consumer),
    map-side combine everywhere, and pairs sharing zero shingles never
    materialize (they cannot pass any threshold > 0). The 100 TB shape:
    shuffle keys are (block, shingle) then (a, b); hot shingles are the
    skew risk and AQE splits them.
    """
    sizes = df.select(
        F.col(id_col),
        F.size(shingles_col(F.col(text_col), shingle_k)).alias("_n"),
    )
    exploded = df.select(
        F.col(id_col),
        F.col(blocking).alias("_block"),
        F.explode(shingles_col(F.col(text_col), shingle_k)).alias("_shingle"),
    )
    l, r = exploded.alias("l"), exploded.alias("r")
    inter = (
        l.join(
            r,
            (F.col("l._block") == F.col("r._block"))
            & (F.col("l._shingle") == F.col("r._shingle"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .groupBy(
            F.col(f"l.{id_col}").alias("a"), F.col(f"r.{id_col}").alias("b")
        )
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    # plain equi-joins on the id columns: `sizes` is one row per document,
    # i.e. unbounded at scale — forcing broadcast here would OOM on 100 TB.
    # AQE still picks a broadcast strategy at runtime whenever the side is
    # actually small, so small-SF runs lose nothing.
    with_sizes = (
        inter.join(sizes.withColumnRenamed(id_col, "a")
                   .withColumnRenamed("_n", "_na"), "a")
        .join(sizes.withColumnRenamed(id_col, "b")
              .withColumnRenamed("_n", "_nb"), "b")
    )
    jac = F.round(
        F.col("_c") / (F.col("_na") + F.col("_nb") - F.col("_c")), 6
    )
    return (
        with_sizes.select("a", "b", jac.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def embedding_cosine_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    blocking: str | list[str] = "label",
    threshold: float = 0.3,
) -> DataFrame:
    """X2 — embedding-cosine near-dup: exact cosine over all pairs
    *within blocking groups*, the within-block exact tier of embedding
    dedup. Candidate generation is an equi-join on the block key — the
    same no-cross-product discipline as the hash-based variants.
    ``blocking`` is one column name or a LIST of names (composite
    block key: every component must match — e.g. (label, policy cell),
    where the cell bounds block size and the label preserves a
    domain-semantic constraint). Cosine is a fixed-order double fold
    rounded to 6 dp, so the threshold filter is deterministic and
    engine-portable.

    At 100 TB: shuffles once on the block key; per-block pair counts
    are the skew risk (quadratic in block size), so at least one
    blocking component must have corpus-proportional cardinality —
    ``operators.clustering.policy_cell_assignment`` (r11) supplies a
    policy-sized one; a FIXED-cardinality key alone (label, k=8 seeds)
    is the ×19–21-on-×10-data pathology SCALE_TREND_r10_sf1.txt
    measured. AQE splits residual stragglers.
    """
    from ..functions.vectors import dot_col, norm_col

    blocks = [blocking] if isinstance(blocking, str) else list(blocking)
    # norms precomputed per ROW, not per pair: inside a block of m
    # vectors the join evaluates m^2/2 cosines, and recomputing both
    # operand norms there makes each one three O(d) interpreted folds
    # instead of one fold + one multiply. Same doubles (identical fold
    # on identical data), so the 6-dp rounded cosine — and the oracle
    # hash — are unchanged.
    b = df.select(
        F.col(id_col),
        *[F.col(c).alias(f"_block{i}") for i, c in enumerate(blocks)],
        F.col(vec_col).alias("_v"),
        norm_col(F.col(vec_col)).alias("_n"),
    )
    # shuffle-hash over broadcast: see minhash_candidates
    l, r = b.alias("l"), b.hint("shuffle_hash").alias("r")
    cond = F.col(f"l.{id_col}") < F.col(f"r.{id_col}")
    for i in range(len(blocks)):
        cond = (F.col(f"l._block{i}") == F.col(f"r._block{i}")) & cond
    return (
        l.join(r, cond)
        .select(
            F.col(f"l.{id_col}").alias("a"),
            F.col(f"r.{id_col}").alias("b"),
            F.round(
                dot_col(F.col("l._v"), F.col("r._v"))
                / (F.col("l._n") * F.col("r._n")),
                6,
            ).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


def simhash_table(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_bits: int = 48,
) -> DataFrame:
    """SimHash over whitespace tokens, scale-shaped like
    :func:`minhash_signatures`: explode tokens, parse the first
    ``n_bits/4`` hex chars of md5(token) into ONE bigint per token,
    then a single hash-aggregate with ``n_bits`` sum() vote
    accumulators reading bits via shiftright/&1; bit set in the
    fingerprint iff the +1/-1 vote sum is positive. md5 + hex parse +
    bit ops are engine-portable (DuckDB ``>>``/``&``), so the oracle
    reproduces fingerprints bit-for-bit.

    Output: (id_col, simhash bigint).
    """
    # bounds (docstring): the 1<<i fingerprint literals and the hex
    # parse only fit signed 64-bit for n_bits <= 60 (Spark 4 ANSI mode
    # errors rather than wraps, but far from the cause), and the md5
    # nibble slice needs n_bits divisible by 4 — fail fast here
    assert n_bits <= 60 and n_bits % 4 == 0, (
        f"n_bits={n_bits} must be a multiple of 4 and <= 60"
    )
    n_nibbles = n_bits // 4
    toks = df.select(
        F.col(id_col),
        F.explode(
            F.filter(F.split(F.lower(F.col(text_col)), r"\s+"), lambda t: F.length(t) > 0)
        ).alias("tok"),
    ).selectExpr(
        id_col,
        # one md5 + one hex->bigint parse per token row; the n_bits vote
        # expressions then only shift/mask this single integer
        f"CAST(conv(substring(md5(tok), 1, {n_nibbles}), 16, 10) AS BIGINT) AS h",
    )

    # the n_bits vote aggregates and the n_bits-term fingerprint sum are
    # built as TWO SQL strings (one py4j call each via F.expr) —
    # composing them Column-by-Column costs ~400 py4j round-trips,
    # which measured ~1.4 s of driver-side DataFrame-construction
    # latency alone (execution of the same plan: 0.15 s)
    # vote accumulators as plain 0/1 bit-count sums (cheaper per token
    # row than the equivalent ±1 CASE): +1/-1 vote sum > 0 over n
    # tokens  <=>  2 * bitcount > n, so the fingerprint is unchanged
    def vote(i: int) -> str:
        return f"sum(shiftright(h, {i}) & 1)"

    votes = toks.groupBy(id_col).agg(
        F.expr("count(1) AS n"),
        F.expr("array(" + ", ".join(vote(i) for i in range(n_bits)) + ") AS votes"),
    )
    fingerprint = " + ".join(
        f"(CASE WHEN 2 * votes[{i}] > n THEN {1 << i} ELSE 0 END)"
        for i in range(n_bits)
    )
    return votes.select(
        F.col(id_col), F.expr(f"CAST({fingerprint} AS BIGINT) AS simhash")
    )


def simhash_dedup_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_bits: int = 48,
    band_bits: int = 12,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """SimHash near-dup candidates: split the fingerprint into
    ``n_bits/band_bits`` bands; docs agreeing on any band are
    candidates (Hamming-distance blocking); report exact Hamming
    distance via xor bit count. ``max_bucket_size`` is the same
    quadratic-blowup guard as :func:`minhash_candidates` — drop
    over-common band values before the self-join.
    """
    n_bands = n_bits // band_bits
    # materialized once before the self-join: see minhash_candidates —
    # AQE's per-stage planning never reuses the exchange, so the
    # token-explode + n_bits-vote aggregate would otherwise run twice.
    # r14: the checkpoint moved from the exploded band rows down to the
    # NARROW fingerprint table (1 row/doc vs n_bands rows/doc) — the
    # band explode above it is shift/mask column algebra that re-runs
    # per join side for free, while the checkpointed blocks shrink by
    # the band factor (identical rows).
    sh = (
        simhash_table(df, id_col, text_col, n_bits)
        .withColumnRenamed("simhash", "_sh")
        .localCheckpoint(eager=False)
    )
    mask = (1 << band_bits) - 1
    band_structs = ", ".join(
        f"struct(CAST({b} AS INT) AS band_id,"
        f" (shiftright(_sh, {b * band_bits}) & {mask}) AS band_val)"
        for b in range(n_bands)
    )
    bands = sh.select(
        F.col(id_col),
        F.col("_sh"),
        F.expr(f"explode(array({band_structs})) AS band"),
    ).select(id_col, "_sh", "band.band_id", "band.band_val")
    if max_bucket_size is not None:
        sizes = bands.groupBy("band_id", "band_val").agg(
            F.count(F.lit(1)).alias("_bucket_n")
        )
        bands = (
            bands.join(sizes, ["band_id", "band_val"])
            .where(F.col("_bucket_n") <= max_bucket_size)
            .drop("_bucket_n")
        )
    # shuffle-hash over broadcast: see minhash_candidates
    l, r = bands.alias("l"), bands.hint("shuffle_hash").alias("r")
    pairs = (
        l.join(
            r,
            (F.col("l.band_id") == F.col("r.band_id"))
            & (F.col("l.band_val") == F.col("r.band_val"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("a"),
            F.col(f"r.{id_col}").alias("b"),
            F.bit_count(F.col("l._sh").bitwiseXOR(F.col("r._sh"))).cast("long").alias(
                "hamming"
            ),
        )
        .distinct()
    )
    return pairs

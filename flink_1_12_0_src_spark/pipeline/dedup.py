"""Document deduplication family: exact hash, MinHash+LSH, SimHash, n-gram
Jaccard, winnowing fingerprints.

Scale design (100 TB):
- Exact: one hash-groupBy — partial aggregation map-side, no sort.
- MinHash+LSH: shingle explosion is linear; the signature groupBy is the only
  wide shuffle; candidate pairs come from the *band-bucket self-join* (never a
  cross join) — the classic shingle→minhash→band→bucket-join topology. Hot
  buckets (boilerplate docs) are the skew risk: ``minhash_lsh_pairs`` drops
  buckets larger than ``max_bucket`` ids before the self-join, bounding any
  bucket's pair fan-out at max_bucket²/2 (a boilerplate bucket of B ids would
  otherwise go B² quadratic); AQE skew-join still smooths the surviving
  moderate skew.
- SimHash: per-token bit votes aggregate in one groupBy; signature is a 64-char
  bitstring (engine-portable).
- n-gram Jaccard: pairs bounded by a blocking key (lang here) — at real scale
  the blocking key is an LSH band, making this the verify stage after LSH.

Hashes are md5-derived hex (portable, verifiable in any SQL engine); swap
HASH_EXPR to xxhash64 for throughput when cross-engine checkability is not
required — topology unchanged.
"""

from __future__ import annotations

from contextlib import nullcontext

from pyspark.sql import Column, DataFrame, functions as F

from flink_1_12_0_src_spark.pipeline.stageclock import barrier, cached
from flink_1_12_0_src_spark.pipeline.text import exploded_shingles, shingles, tokens

HEX_DIGITS = "0123456789abcdef"


def _spread(df: DataFrame) -> DataFrame:
    """Ensure the input has at least ``defaultParallelism`` partitions before an
    explode-heavy compute stage.

    At 100 TB the source arrives in thousands of splits and this is a no-op; on
    a local bench a small single-file parquet scan yields ONE partition, which
    would serialize all downstream hashing onto one core. The round-robin
    repartition only ships the raw doc bytes (cheap relative to the hash work
    it parallelizes) and only fires when the scan is under-partitioned."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def _cap_hot_buckets(df: DataFrame, keys: list[str], cap: int | None) -> DataFrame:
    """Hot-bucket / hot-block skew guard shared by every quadratic verify
    path in this module: drop rows whose group (by ``keys``) holds more than
    ``cap`` rows, BEFORE any pairing. Implemented as a window count over the
    exact keys the downstream self-join partitions on — one shuffle, no
    extra join. ``None`` disables."""
    if cap is None:
        return df
    from pyspark.sql import Window

    w = Window.partitionBy(*keys)
    return (
        df.withColumn("_bsz", F.count("*").over(w))
        .filter(F.col("_bsz") <= cap)
        .drop("_bsz")
    )


def _h(seed: int, col) -> any:
    """Portable 64-bit-ish hash as a 16-hex-char string: substr(md5(seed|x),1,16).
    Lexicographic min over these == numeric min over the implied uint64."""
    return F.substring(F.md5(F.concat(F.lit(f"{seed}|"), col)), 1, 16)


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup on normalized text: groups by content hash, keeps the lowest
    id as canonical, reports group size."""
    norm = F.lower(F.regexp_replace(F.col(text_col), r"\s+", " "))
    return (
        df.select(F.col(id_col), F.md5(norm).alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("canonical_id"), F.count("*").alias("n_copies"))
    )


def dup_rate_report(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    round_digits: int = 6,
) -> DataFrame:
    """Per-group exact-duplicate audit — the before/after accounting a dedup
    run reports: documents per group, members of corpus-wide exact-duplicate
    clusters (same md5(text) appearing >1 anywhere), how many of those a
    keep-one dedup would drop, and the resulting dup/survivor rates.

    Scale (100 TB): one md5-keyed count aggregate with map-side partials
    (the text itself never shuffles — only its 128-bit hash), joined back by
    hash, then a |groups|-row rollup. The duplicate-cluster count table is
    proportional to the number of DISTINCT texts, and survivor election is
    min-id (rerun-stable).
    """
    hashed = df.select(
        F.col(group_col).alias("grp"),
        F.md5(F.col(text_col)).alias("h"),
        F.col(id_col).alias("_id"),
    )
    clusters = hashed.groupBy("h").agg(
        F.count(F.lit(1)).alias("cnt"), F.min("_id").alias("keeper")
    )
    j = hashed.join(clusters, "h")
    return (
        j.groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_if(F.col("cnt") > 1).alias("n_in_dup_clusters"),
            F.count_if(
                (F.col("cnt") > 1) & (F.col("_id") != F.col("keeper"))
            ).alias("n_dropped_by_dedup"),
            F.round(
                F.count_if(F.col("cnt") > 1).cast("double") / F.count(F.lit(1)),
                round_digits,
            ).alias("dup_rate"),
        )
        .withColumnRenamed("grp", group_col)
    )


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, num_hashes: int = 12, shingle_k: int = 3
) -> DataFrame:
    """MinHash signature: one column h0..h{n-1} per hash seed (min over the
    document's shingle set). One explode + one groupBy.

    No ``distinct()`` on shingles: MIN is idempotent over duplicates, so the
    set-semantics result is identical without the extra shuffle. All hashes are
    computed map-side (before the only shuffle), so partial aggregation reduces
    each partition to one row per doc and the exchange carries just
    ``num_hashes`` 8-char mins per document.

    Hash budget: md5 dominates the stage, so each md5 call is split into four
    independent 32-bit components (8 hex chars each) — ``ceil(n/4)`` digests
    per shingle instead of ``n``. 32-bit mins are ample for corpus-scale
    shingle cardinalities; lexicographic min over fixed-width hex == numeric
    min over the implied uint32."""
    sh = exploded_shingles(_spread(df), text_col, shingle_k, carry=[id_col])
    return _sigs_from_shingles(sh, id_col, num_hashes)


def _sigs_from_shingles(sh: DataFrame, id_col: str, num_hashes: int) -> DataFrame:
    """The hash+MIN half of :func:`minhash_signatures` over an existing
    (id, sh) shingle relation — split out so a caller that already owns a
    (possibly distinct) shingle DataFrame (:func:`minhash_calibration_report`)
    derives signatures from it without re-tokenizing the corpus. MIN over
    the distinct set equals MIN over the multiset, so signatures are
    identical either way."""
    digests = [
        F.md5(F.concat(F.lit(f"{g}|"), F.col("sh"))) for g in range((num_hashes + 3) // 4)
    ]
    hashed = sh.select(
        id_col,
        *[
            F.substring(digests[s // 4], 1 + (s % 4) * 8, 8).alias(f"h{s}")
            for s in range(num_hashes)
        ],
    )
    return hashed.groupBy(id_col).agg(
        *[F.min(f"h{s}").alias(f"h{s}") for s in range(num_hashes)]
    )


def _band_keys(sigs: DataFrame, id_col: str, num_hashes: int, band_rows: int) -> DataFrame:
    """Banded LSH bucket keys from a signature table: one (id, band, bk) row
    per band, bk = md5 over the band's signature components. Shared by the
    document-pair generator (:func:`minhash_lsh_pairs`) and the
    paragraph-granularity report (:func:`paragraph_dedup_report`)."""
    n_bands = num_hashes // band_rows
    return sigs.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.md5(
                            F.concat_ws("|", *[f"h{b * band_rows + j}" for j in range(band_rows)])
                        ).alias("bk"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("x"),
    ).select(id_col, "x.band", "x.bk")


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 12,
    shingle_k: int = 3,
    band_rows: int = 4,
    max_bucket: int | None = 256,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate candidate pairs via banded LSH + estimated Jaccard
    (fraction of agreeing signature components). Returns (id_a, id_b,
    est_jaccard) with id_a < id_b.

    ``max_bucket`` is the hot-bucket guard: band buckets holding more than
    this many ids are dropped before the self-join. A bucket of B ids yields
    B(B-1)/2 candidate pairs, so one boilerplate bucket (cookie banners,
    license headers) would otherwise dominate the whole job quadratically;
    capping bounds every bucket's fan-out at max_bucket²/2. True near-dup
    pairs inside a dropped bucket still surface through their other
    ``num_hashes/band_rows - 1`` bands unless those are equally hot — the
    standard recall trade of production LSH dedup. ``None`` disables."""
    # The signature table fans out to 4 plan references (two band sides, two
    # jaccard sides); persist it so the shingle+hash pipeline runs once. Size is
    # ~#docs × num_hashes × 16 B — negligible next to the corpus at any scale.
    # ``sigs`` lets a caller that already computed the signature table
    # (:func:`minhash_calibration_report`, from its shared shingle relation)
    # hand it in instead of re-deriving it from the corpus.
    if sigs is None:
        sigs = minhash_signatures(df, id_col, text_col, num_hashes, shingle_k)
    bands = _band_keys(sigs, id_col, num_hashes, band_rows)
    bands = _cap_hot_buckets(bands, ["band", "bk"], max_bucket)
    # two self-join references below; band table is ~#docs × n_bands tiny rows
    with cached(sigs), cached(bands):
        a, b = bands.alias("a"), bands.alias("b")
        cand = (
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.bk") == F.col("b.bk"))
                & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
            )
            .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
            .distinct()
        )
        sa = sigs.select(F.col(id_col).alias("id_a"), *[F.col(f"h{s}").alias(f"a{s}") for s in range(num_hashes)])
        sb = sigs.select(F.col(id_col).alias("id_b"), *[F.col(f"h{s}").alias(f"b{s}") for s in range(num_hashes)])
        eq = sum(F.when(F.col(f"a{s}") == F.col(f"b{s}"), 1).otherwise(0) for s in range(num_hashes))
        out = (
            cand.join(sa, "id_a")
            .join(sb, "id_b")
            .select("id_a", "id_b", F.round(eq / F.lit(float(num_hashes)), 6).alias("est_jaccard"))
        )
        # materialize before releasing the signature/band caches, so the
        # persists are scoped to this call instead of leaking across a
        # many-query run
        return barrier(out)


def paragraph_dedup_report(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block: int = 16,
    num_hashes: int = 12,
    shingle_k: int = 3,
    band_rows: int = 4,
    max_bucket: int = 256,
    round_digits: int = 6,
) -> DataFrame:
    """Paragraph-granularity near-dedup audit — the RefinedWeb/CCNet
    production shape applied below document level: split every document into
    paragraphs, MinHash-band each paragraph, and report per document how
    many of its paragraphs are near-duplicated in OTHER documents
    (boilerplate detection: headers, banners, license blocks survive
    doc-level dedup but light up here). Returns (id, n_paragraphs,
    n_dup_paragraphs, dup_frac) for every document.

    "Paragraph" here is a fixed ``block``-token window (the corpus has no
    line structure; fixed windows are the standard fallback granularity). A
    paragraph counts as duplicated when ANY of its LSH band buckets (size ≤
    ``max_bucket``) also contains a paragraph of a DIFFERENT document —
    within-doc repetition is a separate signal (text_repetition_signals)
    and does not count.

    Scale (100 TB): the paragraph explosion is linear (ceil(tokens/block)
    rows per doc) and reuses the doc-level MinHash machinery
    (:func:`minhash_signatures` + :func:`_band_keys`) on composite
    (doc, paragraph) keys. There is NO pair generation and NO self-join at
    any granularity: duplicated buckets come from ONE (band, bk)-keyed
    aggregate (bucket size + distinct-doc count, hot buckets > max_bucket
    dropped exactly as in :func:`minhash_lsh_pairs`), paragraphs mark by an
    equi join against that bucket list, and the report is a per-doc
    aggregate — output and every intermediate are linear in the corpus.
    """
    toks = tokens(text_col)
    # every doc has >= 1 paragraph (greatest guards a pathological empty
    # text from producing a descending sequence)
    n_blocks = F.greatest(F.ceil(F.size(toks) / F.lit(block)).cast("int"), F.lit(1))
    paras = _paragraphs(df, id_col, text_col, block).withColumn(
        "pkey", F.struct(F.col(id_col).alias("did"), F.col("pid").alias("pid"))
    )
    sigs = minhash_signatures(paras, "pkey", "ptext", num_hashes, shingle_k)
    bands = _band_keys(sigs, "pkey", num_hashes, band_rows)
    with cached(bands):
        dup_buckets = (
            bands.groupBy("band", "bk")
            .agg(
                F.count(F.lit(1)).alias("sz"),
                F.countDistinct(F.col("pkey.did")).alias("nd"),
            )
            .filter((F.col("sz") <= max_bucket) & (F.col("nd") >= 2))
            .select("band", "bk")
        )
        dup_p = (
            bands.join(dup_buckets, ["band", "bk"])
            .select("pkey")
            .distinct()
            .groupBy(F.col("pkey.did").alias(id_col))
            .agg(F.count(F.lit(1)).alias("n_dup_paragraphs"))
        )
        # the paragraph count is a pure per-doc expression (no explode, no
        # aggregate) — one extra lightweight scan instead of replaying the
        # paragraph explosion
        n_par = df.select(F.col(id_col), n_blocks.cast("bigint").alias("n_paragraphs"))
        out = (
            n_par.join(dup_p, id_col, "left")
            .select(
                id_col,
                "n_paragraphs",
                F.coalesce("n_dup_paragraphs", F.lit(0)).alias("n_dup_paragraphs"),
                F.round(
                    F.coalesce("n_dup_paragraphs", F.lit(0)).cast("double")
                    / F.col("n_paragraphs"),
                    round_digits,
                ).alias("dup_frac"),
            )
        )
        # materialize before releasing the band cache (scoped persist, same
        # discipline as minhash_lsh_pairs)
        return barrier(out)


def simhash_signatures(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash over distinct word tokens, emitted as a 64-char bitstring.

    Bit source: the 16 hex digits of md5(token); each digit contributes its 4
    bits. Vote = sum over tokens of (2*bit - 1); signature bit = vote >= 0.
    Pure expressions → portable to any SQL engine for verification.
    """
    toks = _spread(df).select(F.col(id_col), F.explode(tokens(text_col)).alias("tok")).distinct()
    digits = toks.select(
        id_col,
        *[
            (F.instr(F.lit(HEX_DIGITS), F.substring(F.md5("tok"), p + 1, 1)) - 1).alias(f"d{p}")
            for p in range(16)
        ],
    )
    votes = digits.groupBy(id_col).agg(
        *[
            F.sum(
                2 * (F.floor(F.col(f"d{s // 4}") / F.lit(2 ** (s % 4))).cast("int") % 2) - 1
            ).alias(f"v{s}")
            for s in range(64)
        ]
    )
    bits = [F.when(F.col(f"v{s}") >= 0, "1").otherwise("0") for s in range(64)]
    return votes.select(id_col, F.concat(*bits).alias("simhash"))


def simhash_hamming_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_bands: int = 4,
    max_hamming: int = 3,
    max_bucket: int | None = 256,
) -> DataFrame:
    """SimHash near-dup PAIRS via band-bucketed Hamming search — the Google
    web-crawl dedup recipe (Manku, Jain & Das Sarma, WWW 2007): split each
    64-bit :func:`simhash_signatures` bitstring into ``n_bands`` equal
    bands; any two documents agreeing EXACTLY on at least one band are
    candidates (by pigeonhole, every pair within Hamming distance
    ``n_bands - 1`` shares a band, so the default 4 bands / distance ≤ 3 is
    exact, not approximate); candidates are verified by the true Hamming
    distance. Returns (id_a, id_b, hamming) with id_a < id_b, hamming ≤
    ``max_hamming``.

    Scale (100 TB): identical topology to :func:`minhash_lsh_pairs` — the
    banded bucket self-join replaces any all-pairs scan, the same
    ``max_bucket`` hot-bucket guard bounds a boilerplate bucket's fan-out
    (``None`` disables the cap, as in the sibling pair generators), and the
    Hamming verify runs only over the LSH-bounded candidates as a row-local
    zip_with fold over the two 64-char strings.

    The pigeonhole exactness requires ``max_hamming <= n_bands - 1`` (a pair
    differing in every band is never a candidate) — assert-checked so a
    mis-tuned call fails fast instead of silently losing recall."""
    if max_hamming > n_bands - 1:
        raise ValueError(
            f"simhash_hamming_pairs: max_hamming={max_hamming} needs "
            f"n_bands >= {max_hamming + 1} for exact pigeonhole coverage "
            f"(got n_bands={n_bands})"
        )
    if 64 % n_bands:
        raise ValueError("simhash_hamming_pairs: n_bands must divide 64")
    sigs = simhash_signatures(df, id_col, text_col)
    width = 64 // n_bands
    bands = sigs.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("b"),
                        F.substring("simhash", b * width + 1, width).alias("bk"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("x"),
    ).select(id_col, "x.b", "x.bk")
    bands = _cap_hot_buckets(bands, ["b", "bk"], max_bucket)
    with cached(sigs), cached(bands):
        a, b2 = bands.alias("a"), bands.alias("b2")
        cand = (
            a.join(
                b2,
                (F.col("a.b") == F.col("b2.b"))
                & (F.col("a.bk") == F.col("b2.bk"))
                & (F.col(f"a.{id_col}") < F.col(f"b2.{id_col}")),
            )
            .select(
                F.col(f"a.{id_col}").alias("id_a"), F.col(f"b2.{id_col}").alias("id_b")
            )
            .distinct()
        )
        chars = lambda c: F.split(c, r"(?!^)")  # noqa: E731 — 64 single chars
        ham = F.aggregate(
            F.zip_with(
                chars(F.col("_sa")), chars(F.col("_sb")), lambda x, y: (x != y).cast("int")
            ),
            F.lit(0),
            lambda acc, v: acc + v,
        )
        out = (
            cand.join(
                sigs.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("_sa")),
                "id_a",
            )
            .join(
                sigs.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("_sb")),
                "id_b",
            )
            .select("id_a", "id_b", ham.cast("bigint").alias("hamming"))
            .filter(F.col("hamming") <= max_hamming)
        )
        return barrier(out)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    shingle_k: int = 2,
    threshold: float = 0.3,
    max_shingle_freq: int | None = 64,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for pairs sharing a blocking key.

    |A∩B| from a shingle self-join within the block, |A∪B| = |A|+|B|-|A∩B|.
    The blocking key bounds the pair space; in production the block is an LSH
    band and this is the verification stage.

    ``max_shingle_freq`` is the hot-shingle guard (the same skew cap
    ``minhash_lsh_pairs`` applies to band buckets): a shingle present in B
    documents of a block contributes B(B-1)/2 rows to the intersect join, so
    one stop-bigram ("of the") shared by every doc in a block would go
    quadratic at corpus scale. Shingles whose per-block document frequency
    exceeds the cap are dropped from the shingle SPACE (both intersection
    and set sizes) before any pairing — Jaccard is then computed over
    informative shingles only, the standard df-capped variant of production
    near-dup verify. Near-identical docs still share many sub-cap shingles,
    so true pairs survive; ``None`` disables. One extra window count over
    the exact keys the join partitions on — no extra join, no extra shuffle
    topology."""
    grams = exploded_shingles(
        _spread(df), text_col, shingle_k,
        carry=[id_col, F.col(block_col).alias("blk")],
    ).distinct()
    grams = _cap_hot_buckets(grams, ["blk", "sh"], max_shingle_freq)
    sizes = grams.groupBy(id_col).agg(F.count("*").alias("n"))
    a, b = grams.alias("a"), grams.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.blk") == F.col("b.blk"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count("*").alias("i"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n").alias("nb"))
    jac = F.col("i") / (F.col("na") + F.col("nb") - F.col("i"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(jac > threshold)
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    shingle_k: int = 2,
    num: int = 4,
    den: int = 5,
    max_shingle_freq: int | None = 64,
) -> DataFrame:
    """Asymmetric n-gram CONTAINMENT pairs within a blocking key — the
    quotation/superset duplication class Jaccard misses (Broder 1997
    separates resemblance from containment; Lee et al. 2022 §4 note
    near-superset docs survive NearDup): C(A→B) = |A∩B| / |A| is high when
    A is mostly quoted inside a much larger B even though Jaccard
    |A∩B|/|A∪B| stays low. Same distinct-shingle space, hot-shingle df cap
    and block-bounded intersect join as :func:`ngram_jaccard_pairs`; a
    pair is kept when EITHER direction's containment reaches ``num/den``
    (default 4/5 = 0.8), tested in EXACT integer cross-multiplication
    (den·i ≥ num·|A|) so both engines make identical keep decisions.
    Returns (id_a, id_b, c_ab, c_ba, jaccard) — c high with jaccard low is
    the asymmetric class worth a different rewrite policy (drop the
    contained doc, keep the superset; :func:`containment_prune_report`)."""
    keep = (F.lit(den) * F.col("i") >= F.lit(num) * F.col("na")) | (
        F.lit(den) * F.col("i") >= F.lit(num) * F.col("nb")
    )
    return (
        _containment_inter(df, id_col, text_col, block_col, shingle_k, max_shingle_freq)
        .filter(keep)
        .select(
            "id_a",
            "id_b",
            F.round(F.col("i") / F.col("na"), 6).alias("c_ab"),
            F.round(F.col("i") / F.col("nb"), 6).alias("c_ba"),
            F.round(F.col("i") / (F.col("na") + F.col("nb") - F.col("i")), 6).alias(
                "jaccard"
            ),
        )
    )


def containment_prune_report(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    source_col: str,
    shingle_k: int = 2,
    num: int = 4,
    den: int = 5,
    max_shingle_freq: int | None = 64,
) -> DataFrame:
    """KEEP-SUPERSET pruning policy over :func:`ngram_containment_pairs` —
    the curation stage the containment detector exists for: when a doc is
    ``num/den``-contained in another doc with a STRICTLY larger shingle
    set, drop the contained doc and keep the superset (the quote loses to
    the document that quotes it); when two mutually-contained docs have
    EQUAL shingle sets, keep the MIN id. Pairwise-greedy (a doc dropped
    for being inside B is dropped even if B itself loses to C — the
    standard one-pass policy; a fixpoint would need iteration for no
    curation benefit). Returns the per-``source_col`` ledger
    (source, n_docs, n_dropped, drop_rate, dropped_id_sum) —
    dropped_id_sum is the exact checksum that pins WHICH docs were
    dropped, not just how many.

    Scale: identical join topology to the detector (block-bounded,
    df-capped — never all-pairs); the drop set is a DISTINCT over flagged
    ids and the ledger one sources-sized aggregate."""
    grams = gram_rows(df, id_col, text_col, block_col, shingle_k).distinct()
    return containment_prune_from_grams(
        grams, df, id_col, source_col, num, den, max_shingle_freq
    )


def containment_prune_from_grams(
    grams: DataFrame,
    docs: DataFrame,
    id_col: str,
    source_col: str,
    num: int = 4,
    den: int = 5,
    max_shingle_freq: int | None = 64,
) -> DataFrame:
    """:func:`containment_prune_report`'s policy/ledger TAIL over an
    explicit distinct (id, blk, sh) gram relation — shared with the
    streaming twin, whose grouped-aggregate snapshot IS the gram set (the
    df cap applies to the final set here, so batch and twin cap
    identically)."""
    df = docs
    pairs_i = _inter_from_grams(grams, id_col, max_shingle_freq)
    drop_a = (F.lit(den) * F.col("i") >= F.lit(num) * F.col("na")) & (
        (F.col("na") < F.col("nb"))
    )
    # equal-size branch requires EQUAL SETS (i == na == nb), not merely
    # mutual 4/5-overlap: with na == nb and 0.8 <= c < 1 neither doc is a
    # superset, so keep-superset drops neither (the documented policy)
    drop_b = (
        (F.lit(den) * F.col("i") >= F.lit(num) * F.col("nb"))
        & (F.col("nb") < F.col("na"))
    ) | ((F.col("na") == F.col("nb")) & (F.col("i") == F.col("na")))
    dropped = (
        pairs_i.select(F.when(drop_a, F.col("id_a")).alias("d1"),
                       F.when(drop_b, F.col("id_b")).alias("d2"))
        .select(F.explode(F.array("d1", "d2")).alias(id_col))
        .filter(F.col(id_col).isNotNull())
        .distinct()
    )
    flagged = df.select(F.col(id_col), F.col(source_col).alias("src")).join(
        dropped, id_col, "left_semi"
    )
    per_src = df.groupBy(F.col(source_col).alias("src")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    agg = flagged.groupBy("src").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_dropped"),
        F.sum(id_col).cast("bigint").alias("dropped_id_sum"),
    )
    return per_src.join(agg, "src", "left").select(
        F.col("src").alias("source"),
        "n_docs",
        F.coalesce("n_dropped", F.lit(0)).cast("bigint").alias("n_dropped"),
        F.round(
            F.coalesce("n_dropped", F.lit(0)) / F.col("n_docs").cast("double"), 6
        ).alias("drop_rate"),
        F.coalesce("dropped_id_sum", F.lit(0)).cast("bigint").alias("dropped_id_sum"),
    )


def gram_rows(
    df: DataFrame, id_col: str, text_col: str, block_col: str, shingle_k: int
) -> DataFrame:
    """(id, blk, sh) row per shingle occurrence — ROW-LOCAL derivation
    (runs unchanged on a streaming scan; the caller deduplicates, either
    via .distinct() in batch or a grouped-aggregate state in the twin)."""
    src = df if df.isStreaming else _spread(df)
    return exploded_shingles(
        src, text_col, shingle_k, carry=[id_col, F.col(block_col).alias("blk")]
    )


def _containment_inter(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    shingle_k: int,
    max_shingle_freq: int | None,
) -> DataFrame:
    """Shared (id_a, id_b, i, na, nb) intersect relation of the containment
    family (detector + prune policy): distinct shingles, df cap, sizes,
    block-bounded self-join."""
    return _inter_from_grams(
        gram_rows(df, id_col, text_col, block_col, shingle_k).distinct(),
        id_col,
        max_shingle_freq,
    )


def _inter_from_grams(
    grams: DataFrame, id_col: str, max_shingle_freq: int | None
) -> DataFrame:
    grams = _cap_hot_buckets(grams, ["blk", "sh"], max_shingle_freq)
    sizes = grams.groupBy(id_col).agg(F.count("*").alias("n"))
    a, b = grams.alias("a"), grams.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.blk") == F.col("b.blk"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count("*").alias("i"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n").alias("nb"))
    return inter.join(sa, "id_a").join(sb, "id_b")


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    block_col: str,
    threshold: float = 0.8,
    round_digits: int = 6,
    max_block: int | None = 4096,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs within a blocking key.

    The block bounds the pair space (here a label/cluster id; in production the
    block is an IVF list id from ``similarity.ivf_assign``, making this the
    verify stage after coarse quantization — same topology as LSH→Jaccard).
    Cosines are rounded before the threshold test so both engines make
    identical keep/drop decisions.

    ``max_block`` is the hot-block guard (the LSH bucket cap applied to
    blocks): all-pairs within a block of B vectors is B(B-1)/2 cosines, so
    one degenerate block (an over-full IVF list, a catch-all label) would
    otherwise dominate quadratically. Blocks holding more than ``max_block``
    vectors are dropped before pairing — at scale the right response to an
    over-full list is re-clustering it, not brute-forcing it; ``None``
    disables. One window count over the join's own partition key."""
    from flink_1_12_0_src_spark.pipeline.similarity import _as_double, _dot, _norm

    e = df.select(
        F.col(id_col).alias("vid"),
        F.col(block_col).alias("blk"),
        _as_double(F.col(vec_col)).alias("v"),
    )
    e = _cap_hot_buckets(e, ["blk"], max_block)
    a = e.select(F.col("vid").alias("id_a"), "blk", F.col("v").alias("va"))
    b = e.select(F.col("vid").alias("id_b"), "blk", F.col("v").alias("vb"))
    cos = F.round(
        _dot(F.col("va"), F.col("vb")) / (_norm(F.col("va")) * _norm(F.col("vb"))),
        round_digits,
    )
    return (
        a.join(b, (a.blk == b.blk) & (F.col("id_a") < F.col("id_b")))
        .select("id_a", "id_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def winnow_fingerprint(
    df: DataFrame, id_col: str, text_col: str, gram_chars: int = 5, num_mins: int = 4
) -> DataFrame:
    """Rolling-hash document fingerprint (winnowing-style): min-k over hashed
    character n-grams of the normalized text, concatenated to one string."""
    normed = _spread(df).select(
        F.col(id_col), F.lower(F.regexp_replace(F.col(text_col), r"\s+", " ")).alias("norm")
    )
    # explode the gram START INDEX first, then cut with an ordinary
    # codegen'd substring: the transform-then-explode form evaluates the
    # per-gram lambda interpreted (see text.exploded_shingles)
    grams = normed.select(
        F.col(id_col),
        "norm",
        F.explode(
            F.sequence(
                F.lit(1), F.greatest(F.length("norm") - (gram_chars - 1), F.lit(1))
            )
        ).alias("_i"),
    ).select(
        F.col(id_col),
        F.expr(f"substring(norm, _i, {gram_chars})").alias("g"),
    )
    mins = grams.groupBy(id_col).agg(
        *[F.min(_h(s, F.col("g"))).alias(f"m{s}") for s in range(num_mins)]
    )
    return mins.select(
        id_col, F.concat_ws("|", *[f"m{s}" for s in range(num_mins)]).alias("fingerprint")
    )


def duplicated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Exact-substring duplication signal: per document, how much of it is
    covered by token windows of length ``window`` that also occur in at least
    ``min_docs - 1`` OTHER documents — the hashed-window approximation of
    suffix-array ExactSubstr dedup (Lee et al. 2022, "Deduplicating Training
    Data Makes Language Models Better"; the reference engine's analog is the
    dedup stage a Flink batch pipeline builds from flink-java groupBy, e.g.
    `flink-java/src/main/java/org/apache/flink/api/java/operators/DistinctOperator.java:42`).

    Output: (id, n_tokens, dup_windows, dup_tokens, dup_frac) for every
    document — dup_windows counts this doc's window occurrences whose hash is
    cross-doc duplicated, dup_tokens the distinct token positions those
    windows cover, dup_frac = dup_tokens / n_tokens.

    Scale shape (100 TB): window hashing is map-side and linear (one hash per
    token position); the duplicated-hash set comes from ONE count-distinct
    groupBy on the window hash (partial aggs apply); marking is an equi hash
    join on the hash — output is linear in the number of duplicated window
    occurrences, never quadratic in bucket size (unlike pair generation, no
    self-join exists here). Coverage is an explode of exactly ``window`` ints
    per duplicated occurrence + a per-doc distinct count.
    """
    base = _spread(df).select(
        F.col(id_col), tokens(text_col).alias("w")
    ).select(id_col, "w", F.size("w").alias("n_tokens"))
    # the (id, n_tokens) stats side is joined back after the aggregations;
    # materialize the tiny projection eagerly so the full tokenize lineage
    # is not re-run for a two-column scan (scoped blocks, no cache pin
    # leaking across a many-query run)
    base_stats = barrier(base.select(id_col, "n_tokens"))
    m = F.col("n_tokens") - F.lit(window - 1)
    # explode the window START first, then hash with ordinary codegen'd
    # expressions (the transform lambda ran interpreted — see
    # text.exploded_shingles); docs with no full window vanish in the
    # where() exactly as the empty-array explode dropped them
    wins = (
        base.where(m >= 1)
        .select(
            id_col, "n_tokens", "w",
            F.explode(F.sequence(F.lit(1), m)).alias("pos"),
        )
        .select(
            id_col,
            "n_tokens",
            "pos",
            F.md5(
                F.array_join(F.slice("w", F.col("pos"), window), " ")
            ).alias("gh"),
        )
    )
    dup = (
        wins.groupBy("gh")
        .agg(F.countDistinct(id_col).alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("gh")
    )
    hits = wins.join(dup, "gh")
    # one shuffle for both stats: per-group state is ≤ window × doc-length
    # ints (the doc's own size class), so the list agg stays executor-safe
    per_doc = hits.groupBy(id_col).agg(
        F.count("*").alias("dup_windows"),
        F.size(
            F.array_distinct(
                F.flatten(F.collect_list(F.sequence("pos", F.col("pos") + window - 1)))
            )
        ).alias("dup_tokens"),
    )
    out = (
        base_stats
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.coalesce("dup_windows", F.lit(0)).cast("bigint").alias("dup_windows"),
            F.coalesce("dup_tokens", F.lit(0)).cast("bigint").alias("dup_tokens"),
            (
                F.coalesce("dup_tokens", F.lit(0)).cast("double") / F.col("n_tokens")
            ).alias("dup_frac"),
        )
    )
    return out


def exact_substring_rewrite(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 8,
) -> DataFrame:
    """ExactSubstr SURVIVOR REWRITE — remove all but one copy of every
    cross-doc duplicated token window (Lee et al. 2022 §4.1 remove the
    duplicated substring itself rather than dropping documents), the
    rewrite stage :func:`duplicated_spans` is the audit for: per
    duplicated window hash the (MIN doc, then MIN pos) occurrence is the
    KEEPER, every other occurrence's covered positions are removed, and
    each document is reassembled from its surviving tokens in position
    order. Per-hash keepers approximate the paper's maximal-span suffix
    array walk: a keeper-of-X position overlapped by a non-keeper-of-Y
    occurrence is still removed (conservative, deterministic, and
    engine-portable). A fully-duplicated non-keeper doc rewrites to ''.

    Returns (id, n_tokens, n_removed, clean_text).

    Scale: same linear window-hash topology as duplicated_spans (one
    hash-keyed aggregate for keepers — MIN is decomposable — one equi
    join to flag occurrences, one (id, pos)-keyed distinct, one anti join,
    one per-doc reassembly aggregate; no self-join anywhere)."""
    base = (
        _spread(df)
        .select(F.col(id_col), tokens(text_col).alias("w"))
        .select(id_col, "w", F.size("w").alias("n_tokens"))
    )
    # checkpoint the tokenized corpus ITSELF, not just the stats: both the
    # window-occurrence branch and the token-reassembly branch read `base`,
    # so an uncached subtree would re-execute the tokenize scan — and any
    # expensive upstream chain (pipeline_refinedweb_substr feeds the whole
    # 3-level RefinedWeb pipeline in here) — once per branch. base_stats
    # derives from the checkpointed node for free.
    base = barrier(base, "tokenize")
    base_stats = base.select(id_col, "n_tokens")
    # derive occurrences FROM base (not from df) so the corpus is tokenized
    # once, not twice (duplicated_spans' discipline)
    wins = _occurrences_from_base(base, id_col, window)
    return substring_rewrite_from_occurrences(
        wins, base, base_stats, id_col, window
    )


def window_occurrences(
    df: DataFrame, id_col: str, text_col: str, window: int
) -> DataFrame:
    """(id, pos, gh) row per ``window``-token window occurrence — row-local
    derivation (runs unchanged on a streaming scan), the state shape the
    ExactSubstr twin maintains incrementally. Same hashing as
    :func:`duplicated_spans`."""
    # _spread probes df.rdd, which a streaming frame forbids; the streaming
    # scan's micro-batch splits already provide the parallelism
    src = df if df.isStreaming else _spread(df)
    base = src.select(F.col(id_col), tokens(text_col).alias("w")).select(
        id_col, "w", F.size("w").alias("n_tokens")
    )
    return _occurrences_from_base(base, id_col, window)


def _occurrences_from_base(base: DataFrame, id_col: str, window: int) -> DataFrame:
    m = F.col("n_tokens") - F.lit(window - 1)
    # explode-first + codegen'd hash projection — see the wins relation in
    # exact_substring_report for the interpreted-transform rationale
    return (
        base.where(m >= 1)
        .select(id_col, "w", F.explode(F.sequence(F.lit(1), m)).alias("pos"))
        .select(
            id_col,
            "pos",
            F.md5(
                F.array_join(F.slice("w", F.col("pos"), window), " ")
            ).alias("gh"),
        )
    )


def removed_positions(wins: DataFrame, id_col: str, window: int) -> DataFrame:
    """(id, ti): the DISTINCT token positions the ExactSubstr rewrite
    removes — keeper election (per duplicated window hash the (MIN doc,
    MIN pos) occurrence survives), coverage expansion of every non-keeper
    occurrence, one distinct. Shared by the rewrite tail and the
    maximal-span audit so the two can never disagree on what is removed.
    Linear: one hash-keyed aggregate (MIN is decomposable), one equi join,
    one (id, ti)-keyed distinct — no self-join."""
    keepers = (
        wins.groupBy("gh")
        .agg(
            F.count_distinct(F.col(id_col)).alias("nd"),
            F.min(F.struct(F.col(id_col).alias("kid"), F.col("pos").alias("kpos"))).alias("k"),
        )
        .filter(F.col("nd") >= 2)
        .select("gh", "k.kid", "k.kpos")
    )
    flagged = wins.join(keepers, "gh").filter(
        ~((F.col(id_col) == F.col("kid")) & (F.col("pos") == F.col("kpos")))
    )
    return (
        flagged.select(
            id_col, F.explode(F.sequence("pos", F.col("pos") + window - 1)).alias("ti")
        )
        .distinct()
    )


def substring_span_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 8,
) -> DataFrame:
    """MAXIMAL-SPAN ExactSubstr audit — merges the rewrite's removed token
    positions into maximal contiguous spans and reports span-level stats
    per document: Lee et al. 2022's suffix-array walk removes MAXIMAL
    duplicated byte spans, while :func:`exact_substring_rewrite` elects
    keepers per fixed-width window hash (a documented conservative
    approximation); merging the removed positions with gaps-and-islands
    recovers the span-level view — how many maximal spans, how long —
    without a suffix array. Derives from :func:`removed_positions`, the
    SAME relation the rewrite consumes, so total removed tokens here equal
    the rewrite's ``n_removed`` by construction (property-pinned).

    Returns (id, n_tokens, n_spans, n_removed, max_span_len,
    avg_span_len) for EVERY document (zeros for untouched docs).

    Scale: the islands step is ONE doc-keyed window (ti − row_number
    grouping key, the events_session_stats gaps-and-islands idiom) over
    the removed-position relation — already far smaller than the token
    stream — then two hash aggregates; everything upstream is the
    rewrite's linear topology. Reference analog: OVER-window ranking
    (flink-table planner StreamExecOverAggregate lineage)."""
    from pyspark.sql import Window

    base = (
        _spread(df)
        .select(F.col(id_col), tokens(text_col).alias("w"))
        .select(id_col, "w", F.size("w").alias("n_tokens"))
    )
    # same two-consumer checkpoint as exact_substring_rewrite, and the same
    # stage name so the bench ledger attributes the tokenize barrier
    # identically for both siblings
    base = barrier(base, "tokenize")
    base_stats = base.select(id_col, "n_tokens")
    wins = _occurrences_from_base(base, id_col, window)
    rm = removed_positions(wins, id_col, window)
    rn = F.row_number().over(Window.partitionBy(id_col).orderBy("ti"))
    islands = rm.select(F.col(id_col), F.col("ti"), (F.col("ti") - rn).alias("grp"))
    spans = islands.groupBy(id_col, "grp").agg(F.count(F.lit(1)).alias("len"))
    st = spans.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_spans"),
        F.sum("len").cast("bigint").alias("n_removed"),
        F.max("len").cast("bigint").alias("max_span_len"),
        # explicit micro-unit rounding: a bare round(ratio, 6) is not
        # engine-stable on .5 boundaries (the slm_token_select lesson)
        (
            F.round(F.sum("len").cast("double") / F.count(F.lit(1)) * 1e6, 0).cast(
                "bigint"
            )
            / F.lit(1e6)
        ).alias("avg_span_len"),
    )
    return base_stats.join(st, id_col, "left").select(
        id_col,
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.coalesce("n_spans", F.lit(0)).cast("bigint").alias("n_spans"),
        F.coalesce("n_removed", F.lit(0)).cast("bigint").alias("n_removed"),
        F.coalesce("max_span_len", F.lit(0)).cast("bigint").alias("max_span_len"),
        F.coalesce("avg_span_len", F.lit(0.0)).alias("avg_span_len"),
    )


def substring_rewrite_from_occurrences(
    wins: DataFrame,
    base: DataFrame,
    base_stats: DataFrame,
    id_col: str,
    window: int,
) -> DataFrame:
    """The keeper/removal/reassembly TAIL of :func:`exact_substring_rewrite`
    over an explicit occurrence relation — shared with the streaming twin,
    whose grouped-aggregate snapshot IS the occurrence set."""
    rm = removed_positions(wins, id_col, window)
    toks = base.select(
        id_col, F.posexplode("w").alias("p0", "tok")
    ).select(id_col, (F.col("p0") + 1).alias("ti"), "tok")
    kept = toks.join(rm, [id_col, "ti"], "left_anti")
    agg = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("ti", "tok"))), lambda s: s["tok"]
            ),
            " ",
        ).alias("clean_text"),
    )
    return base_stats.join(agg, id_col, "left").select(
        id_col,
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        (F.col("n_tokens") - F.coalesce("n_kept", F.lit(0)))
        .cast("bigint")
        .alias("n_removed"),
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
    )


def semantic_prune(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    cluster_col: str,
    threshold: float,
    round_digits: int = 6,
    max_block: int | None = 4096,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023, "SemDeDup:
    Data-efficient learning at web-scale through semantic deduplication"):
    within each embedding cluster, prune every vector that has a
    higher-priority near-duplicate — ``v`` is dropped iff some ``u`` in the
    same cluster with ``u.id < v.id`` has rounded cosine(u, v) ≥ threshold.
    The min-id survivor rule replaces the paper's centroid-distance pick so
    keep/drop decisions are deterministic and engine-portable (the paper
    notes the choice of representative barely moves downstream accuracy).

    Returns one row per input vector: (vec_id, cluster, kept).

    Scale shape: the cluster id is the blocking key — the pair stage is the
    same bounded within-block all-pairs as :func:`embedding_neardup_pairs`
    (IVF-list-sized blocks, ``max_block`` hot-block guard), followed by one
    distinct on pruned ids and a broadcast-sized anti join back to the
    assignment. No all-corpus pair space is ever materialized.
    """
    pairs = embedding_neardup_pairs_np(
        df, id_col, vec_col, cluster_col, threshold, round_digits, max_block
    )
    pruned = pairs.select(F.col("id_b").alias("_pid")).distinct()
    return (
        df.select(F.col(id_col).alias("vec_id"), F.col(cluster_col).alias("cluster"))
        .join(pruned, F.col("vec_id") == F.col("_pid"), "left")
        .select("vec_id", "cluster", F.col("_pid").isNull().alias("kept"))
    )


def decontaminate(
    df: DataFrame, bench: DataFrame, id_col: str, text_col: str, k: int = 3
) -> DataFrame:
    """Benchmark decontamination: per training document, count word k-gram
    shingles shared with a benchmark/eval corpus and flag any overlap — the
    n-gram-overlap scrub every pretraining pipeline runs before evaluating on
    held-out benchmarks (GPT-3 appendix C / PaLM-style 13-gram rule, with k
    configurable).

    Scale shape: the benchmark side is small by definition (eval suites are
    MBs against a 100 TB corpus), so its distinct shingle set BROADCASTS and
    the corpus is scanned once; the broadcast hash join marks hits map-side
    and the only shuffle is the doc-keyed count agg (partial aggs apply).
    Documents shorter than k tokens have no shingles and are trivially clean
    (excluded, mirroring the oracle's len(w) >= k guard).
    """
    bench_grams = (
        exploded_shingles(bench, text_col, k)
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    marked = _spread(df).select(
        F.col(id_col), F.explode(F.array_distinct(shingles(text_col, k))).alias("sh")
    ).join(F.broadcast(bench_grams), "sh", "left")
    return (
        marked.groupBy(id_col)
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.coalesce("_hit", F.lit(0))).alias("n_hit"),
        )
        .select(
            id_col,
            "n_grams",
            "n_hit",
            (F.col("n_hit") > 0).alias("contaminated"),
        )
    )


def bloom_membership(
    corpus: DataFrame,
    probes: DataFrame,
    id_col: str,
    text_col: str,
    n_slices: int = 4,
    hex_chars: int = 2,
) -> DataFrame:
    """Partitioned (blocked) Bloom-filter membership test over normalized
    document text: slice i of the filter uses hex chars [i·hex_chars,
    (i+1)·hex_chars) of md5(norm) as its bit position — n_slices independent
    hash functions with 16^hex_chars bits each, the classic partitioned-Bloom
    layout (one probe per slice, k = n_slices). A probe is ``maybe_member``
    iff every slice has its bit set; ``actual_member`` (exact text match) is
    reported alongside so the false-positive behavior is observable — with
    defaults (4 slices × 256 bits) a corpus of a few hundred docs runs at a
    realistic ~50-60% slice load.

    Scale shape: the filter is at most n_slices·16^hex_chars DISTINCT rows
    regardless of corpus size — it broadcasts by construction (this is
    exactly the runtime-bloom-filter pushdown Spark itself injects for
    selective joins); probes scan once through n_slices map-side broadcast
    joins, zero probe-side shuffle. The exact-match check is a corpus-side
    md5-distinct semi join — the expensive path the Bloom pre-filter exists
    to short-circuit at real scale (documented here for the oracle's sake).
    """
    def _norm(c):
        return F.lower(F.regexp_replace(F.col(c), r"\s+", " "))

    def _pos(i):
        return F.substring(F.md5(_norm(text_col)), 1 + i * hex_chars, hex_chars)

    probe_pos = probes.select(
        F.col(id_col),
        F.md5(_norm(text_col)).alias("_full"),
        *[_pos(i).alias(f"p{i}") for i in range(n_slices)],
    )
    out = probe_pos
    for i in range(n_slices):
        bits = (
            corpus.select(_pos(i).alias(f"p{i}"))
            .distinct()
            .withColumn(f"h{i}", F.lit(1))
        )
        out = out.join(F.broadcast(bits), f"p{i}", "left")
    maybe = F.lit(True)
    for i in range(n_slices):
        maybe = maybe & F.col(f"h{i}").isNotNull()
    exact = corpus.select(F.md5(_norm(text_col)).alias("_full")).distinct().withColumn(
        "_ex", F.lit(1)
    )
    out = out.join(F.broadcast(exact), "_full", "left")
    return out.select(
        F.col(id_col),
        maybe.alias("maybe_member"),
        F.col("_ex").isNotNull().alias("actual_member"),
        (maybe & F.col("_ex").isNull()).alias("false_positive"),
    )


def bloom_state_rows(
    corpus: DataFrame, text_col: str, n_slices: int = 4, hex_chars: int = 2
) -> DataFrame:
    """(i, v) row per Bloom slice-bit occurrence plus (-1, md5) per full
    hash — ROW-LOCAL derivation (runs unchanged on a streaming scan). The
    DISTINCT set of these rows IS :func:`bloom_membership`'s filter +
    exact-set state: a set-union sketch, so it merges associatively and a
    streaming grouped aggregate maintains it incrementally (the
    mergeable-sketch twin class, vs the counter/MIN classes)."""
    full = F.md5(F.lower(F.regexp_replace(F.col(text_col), r"\s+", " ")))
    entries = F.array(
        F.struct(F.lit(-1).alias("i"), full.alias("v")),
        *[
            F.struct(
                F.lit(i).alias("i"),
                F.substring(full, 1 + i * hex_chars, hex_chars).alias("v"),
            )
            for i in range(n_slices)
        ],
    )
    src = corpus if corpus.isStreaming else _spread(corpus)
    return src.select(F.explode(entries).alias("e")).select("e.i", "e.v")


def bloom_membership_from_state(
    state: DataFrame,
    probes: DataFrame,
    id_col: str,
    text_col: str,
    n_slices: int = 4,
    hex_chars: int = 2,
) -> DataFrame:
    """:func:`bloom_membership`'s probe tail over an explicit
    :func:`bloom_state_rows` state relation — shared with the streaming
    twin, whose grouped-aggregate snapshot IS the state. Same broadcast
    per-slice joins and exact-set semi-check as the batch operator."""
    full = F.md5(F.lower(F.regexp_replace(F.col(text_col), r"\s+", " ")))
    probe_pos = probes.select(
        F.col(id_col),
        full.alias("_full"),
        *[
            F.substring(full, 1 + i * hex_chars, hex_chars).alias(f"p{i}")
            for i in range(n_slices)
        ],
    )
    out = probe_pos
    for i in range(n_slices):
        bits = (
            state.filter(F.col("i") == i)
            .select(F.col("v").alias(f"p{i}"))
            .distinct()
            .withColumn(f"h{i}", F.lit(1))
        )
        out = out.join(F.broadcast(bits), f"p{i}", "left")
    maybe = F.lit(True)
    for i in range(n_slices):
        maybe = maybe & F.col(f"h{i}").isNotNull()
    exact = (
        state.filter(F.col("i") == -1)
        .select(F.col("v").alias("_full"))
        .distinct()
        .withColumn("_ex", F.lit(1))
    )
    out = out.join(F.broadcast(exact), "_full", "left")
    return out.select(
        F.col(id_col),
        maybe.alias("maybe_member"),
        F.col("_ex").isNotNull().alias("actual_member"),
        (maybe & F.col("_ex").isNull()).alias("false_positive"),
    )


def soft_gram_counts(
    df: DataFrame, id_col: str, text_col: str, k: int = 3
) -> DataFrame:
    """The per-(doc, gram) count relation (id, sh, n DECIMAL(15,0)) every
    SoftDeDup variant consumes — ONE definition shared by the exact
    reweighter, the CMS-priced variant, their query registrations and the
    plan-golden providers, so the gram-count shape (the shingle expression,
    the decimal cast) can never desynchronize between them."""
    return (
        exploded_shingles(df, text_col, k, carry=[id_col])
        .groupBy(id_col, "sh")
        .agg(F.count(F.lit(1)).cast("decimal(15,0)").alias("n"))
    )


def _cms_slice_entries(hh, n_slices: int, hex_chars: int):
    """(i, v) struct array for the partitioned md5 slice layout — slice i
    reads hex chars [i*hc, (i+1)*hc) of ``hh``. ONE definition shared by
    the sketch builder (cms_state_rows), the contract probe
    (cms_topk_contract) and the CMS pricing probe (soft_dedup_cms_weights):
    a layout change propagates to every consumer or none."""
    return F.array(
        *[
            F.struct(
                F.lit(i).alias("i"),
                F.substring(hh, 1 + i * hex_chars, hex_chars).alias("v"),
            )
            for i in range(n_slices)
        ]
    )


def soft_dedup_weights(df: DataFrame, id_col: str, text_col: str, k: int = 3) -> DataFrame:
    """SOFT deduplication — reweight instead of remove (He et al. 2024,
    "SoftDedup: an Efficient Data Reweighting Method for Speeding Up
    Language Model Pre-training"): hard dedup discards borderline
    documents outright; SoftDeDup keeps everything and DOWN-WEIGHTS high-
    commonness samples in the training sampler. Commonness here is the
    per-document mean ``k``-gram log-probability under the corpus's own
    n-gram frequencies (the paper's data-frequency measure in log space,
    the repo's established logppl recipe); the emitted training weight is
    the document's 6-dp mean nll relative to the corpus mean — ≥ 1 for
    rare/fresh documents, < 1 for duplicated or boilerplate-heavy ones
    (documented simplification: a linear map of relative log-commonness
    in place of the paper's tunable power map — transcendental-free, so
    every value is engine-exact). Downstream samplers consume the weight
    exactly like :func:`~flink_1_12_0_src_spark.pipeline.sampling.weighted_sample`'s
    key. Documents with fewer than ``k`` tokens have no grams and drop
    (the shared shingle guard).

    Returns (id, n_grams, log_commonness, weight); corpus-mean weight = 1
    by construction.

    Determinism: per-gram −ln p rounds to 9 dp and accumulates in
    DECIMAL; the per-doc mean is one exact IEEE divide rounded to 6 dp;
    the corpus mean accumulates those 6-dp values in DECIMAL — order- and
    partitioning-invariant end to end. Scale: one row-local total scan,
    ONE pass over the exploded gram occurrences (a per-gram window sum
    supplies the corpus frequency — the frequency relation is
    near-corpus-sized, so unlike DoReMi's vocab-sized rollups there is no
    broadcastable aggregate to join back), one doc-keyed aggregate, and a
    one-row broadcast corpus mean — the linear logppl topology, no pair
    space anywhere.

    Reference scope note: the reference engine has no data-reweighting
    operator — brief-driven LLM-pipeline surface; its aggregation shape
    is the reference's two-stage hash aggregate
    (flink-table planner StreamExecGroupAggregate lineage)."""
    # The corpus gram TOTAL is a row-local function of the documents —
    # Σ_docs max(|tokens| − k + 1, 0) — so compute it with one cheap scan
    # (no explode, no aggregate) instead of re-executing the corpus-scale
    # tokenize+explode+count subtree under the total's aggregate.
    w = tokens(text_col)
    tot = df.agg(
        F.sum(
            F.when(F.size(w) >= k, F.size(w) - k + 1).otherwise(F.lit(0))
        )
        .cast("double")
        .alias("_t")
    )
    # Feed raw shingle OCCURRENCES (n = 1 each), not the (id, sh)-grouped
    # counts: the pre-aggregation spent a corpus-scale (id, sh)-keyed
    # exchange purely to compress within-doc gram repeats, which are rare
    # for word k-grams. The tail's window then counts occurrences per gram
    # (the same exact integer as the rollup's sum) and the per-doc DECIMAL
    # sum adds nll once per occurrence — n identical exact-decimal addends
    # equal the old n × nll product exactly, so every emitted value is
    # bit-identical while one full exchange + hash aggregate drop out.
    occ = exploded_shingles(df, text_col, k, carry=[id_col]).withColumn(
        "n", F.lit(1).cast("decimal(15,0)")
    )
    return soft_dedup_weights_from_grams(occ, id_col, tot=tot)


def soft_dedup_weights_from_grams(
    gcount: DataFrame, id_col: str, tot: DataFrame | None = None
) -> DataFrame:
    """The commonness + reweighting TAIL of :func:`soft_dedup_weights`
    over an explicit (id, sh, n) per-document gram-count relation — shared
    with the streaming twin, whose grouped-aggregate snapshot IS that
    relation (the corpus gram frequencies, the total, and every weight
    derive from it by rollup, so the counts are the complete sufficient
    statistic)."""
    # Corpus gram frequency as a WINDOW sum over the (id, sh, n) relation,
    # not a (sh)-keyed aggregate joined back: the old shape evaluated the
    # unmaterialized gram subtree three times (once under the frequency
    # rollup, twice under the join's two sides) and paid a join; the window
    # needs ONE pass (one exchange + sort by sh) and the total needs one
    # more — measured 5.2 s → 3.1 s for dedup_soft_weights at bench SF.
    # sum(n) over (partition by sh) is the same exact integer per gram as
    # the rollup's c, so every downstream value is bit-identical.
    from pyspark.sql import Window

    if tot is None:
        # ``tot`` may be handed in by a caller that can derive the total
        # more cheaply (soft_dedup_weights computes it row-locally from the
        # documents); the sum of per-(doc, gram) counts is the same exact
        # integer either way.
        tot = gcount.agg(
            F.sum(F.col("n").cast("bigint")).cast("double").alias("_t")
        )
    c_win = F.sum(F.col("n").cast("bigint")).over(Window.partitionBy("sh"))
    # (20,9) × (15,0) stays at precision 36, inside Spark's 38-digit cap
    # with the scale intact (28,9 would overflow and silently truncate)
    nll = F.round(-F.log(F.col("c").cast("double") / F.col("_t")), 9).cast(
        "decimal(20,9)"
    )
    per = (
        gcount.withColumn("c", c_win)
        .crossJoin(F.broadcast(tot))
        .groupBy(id_col)
        .agg(
            F.sum(F.col("n").cast("bigint")).cast("bigint").alias("n_grams"),
            F.sum(F.col("n") * nll).cast("decimal(38,9)").alias("_s"),
        )
        .select(
            F.col(id_col),
            "n_grams",
            # explicit micro-unit rounding: a bare round(ratio, 6) is not
            # engine-stable on .5 boundaries (the slm_token_select lesson)
            (
                F.round(F.col("_s").cast("double") / F.col("n_grams") * 1e6, 0).cast(
                    "bigint"
                )
                / F.lit(1e6)
            ).alias("a6"),
        )
    )
    # the per-doc relation feeds both the one-row corpus mean and the
    # returned projection: without the checkpoint the corpus-scale gram join
    # + doc aggregate executes once per consumer
    per = barrier(per)
    m = per.agg(
        (
            F.sum(F.col("a6").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("_cm")
    )
    return per.crossJoin(F.broadcast(m)).select(
        F.col(id_col),
        "n_grams",
        (-F.col("a6")).alias("log_commonness"),
        (
            F.round(F.col("a6") / F.col("_cm") * 1e6, 0).cast("bigint") / F.lit(1e6)
        ).alias("weight"),
    )


def soft_dedup_cms_weights(
    gcount: DataFrame,
    state: DataFrame,
    id_col: str,
    n_slices: int = 4,
    hex_chars: int = 2,
) -> DataFrame:
    """CONSTANT-STATE SoftDeDup — the production shape of
    :func:`soft_dedup_weights`: gram commonness estimated from the
    Count-Min sketch (``state`` = a counted :func:`cms_state_rows`
    relation, n_slices × 16^hex_chars counters REGARDLESS of corpus
    size) instead of the exact per-gram counts, priced through the
    identical nll → per-doc mean → corpus-relative-weight tail, and
    CONTRACT-CHECKED against the exact pricing per document. The
    streaming twin's per-(doc, gram) count state is corpus-sized (fine
    for the twin class); this row makes the documented constant-state
    trade executable — what a deployment maintains when the gram space
    itself no longer fits.

    Per document: weight (the exact :func:`soft_dedup_weights_from_grams`
    price), weight_cms (the sketch price), drift = |Δ| at exact micro
    resolution, and two booleans — ``cms_conservative``: the sketch only
    OVERcounts (est ≥ true), every pricing step is monotone (−ln, the
    9-dp round, the DECIMAL mean, the micro round), so the sketch mean
    nll can never exceed the exact mean nll — deterministic, holds
    ALWAYS; ``within_bound``: the mean-nll gap ≤ ln(1 + (e/width)·N),
    the per-gram Count-Min error bound (ĉ − c ≤ (e/width)·N w.p.
    ≥ 1 − e^(−depth), and c ≥ 1 for every scored gram) pushed through
    the mean — probabilistic like every CMS guarantee, but COMPUTED
    identically on both engines (the oracle re-derives the sketch from
    md5, it does not pin constants), so a legitimate flip can never red
    the driver row.

    Scale: the sketch broadcasts by construction; the probe side is the
    DISTINCT gram vocabulary (once, not per occurrence); the pricing
    tail is the exact variant's linear topology. Returns
    (id, n_grams, weight, weight_cms, drift, cms_conservative,
    within_bound)."""
    import math

    nbits = 16 ** hex_chars
    # gcount feeds FOUR consumers (the exact tail's frequency rollup and
    # scoring join, the probe vocabulary, the CMS pricing join): without this
    # checkpoint the corpus-scale gram tokenize+aggregate would re-execute
    # once per consumer
    gcount = barrier(gcount, "grams")
    exact = soft_dedup_weights_from_grams(gcount, id_col)
    # sketch estimate per DISTINCT gram: min over the slice counters it
    # hashes to (the cms_topk_contract probe shape, vocabulary-sized)
    probes = gcount.select("sh").distinct().select(
        "sh",
        F.explode(
            _cms_slice_entries(F.md5(F.col("sh")), n_slices, hex_chars)
        ).alias("e"),
    ).select("sh", F.col("e.i").alias("i"), F.col("e.v").alias("v"))
    est = (
        probes.join(F.broadcast(state), ["i", "v"])
        .groupBy("sh")
        .agg(F.min("n").cast("bigint").alias("_c"))
    )
    # slice 0 holds every occurrence exactly once: its counter sum IS N
    tot = state.filter(F.col("i") == 0).agg(F.sum("n").cast("double").alias("_t"))
    nll = F.round(-F.log(F.col("_c").cast("double") / F.col("_t")), 9).cast(
        "decimal(20,9)"
    )
    per = (
        gcount.join(est, "sh")
        .crossJoin(F.broadcast(tot))
        .groupBy(id_col)
        .agg(
            F.sum(F.col("n").cast("bigint")).cast("bigint").alias("n_grams"),
            F.sum(F.col("n") * nll).cast("decimal(38,9)").alias("_s"),
        )
        .select(
            F.col(id_col),
            "n_grams",
            (
                F.round(F.col("_s").cast("double") / F.col("n_grams") * 1e6, 0).cast(
                    "bigint"
                )
                / F.lit(1e6)
            ).alias("a6"),
        )
    )
    # same two-consumer shape as the exact tail: the per-doc relation feeds
    # the one-row corpus mean and the returned projection
    per = barrier(per)
    m = per.agg(
        (
            F.sum(F.col("a6").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("_cm")
    )
    cms = per.crossJoin(F.broadcast(m)).select(
        F.col(id_col),
        F.col("a6").alias("_a6c"),
        (
            F.round(F.col("a6") / F.col("_cm") * 1e6, 0).cast("bigint") / F.lit(1e6)
        ).alias("weight_cms"),
    )
    wmicro = F.round(F.col("weight") * 1e6, 0).cast("bigint")
    wcmicro = F.round(F.col("weight_cms") * 1e6, 0).cast("bigint")
    return (
        exact.select(
            id_col, "n_grams", (-F.col("log_commonness")).alias("_a6e"), "weight"
        )
        .join(cms, id_col)
        .crossJoin(F.broadcast(tot))
        .select(
            F.col(id_col),
            "n_grams",
            "weight",
            "weight_cms",
            (
                F.abs(wcmicro - wmicro).cast("double") / F.lit(1e6)
            ).alias("drift"),
            (F.col("_a6c") <= F.col("_a6e")).alias("cms_conservative"),
            # the bound's ln output rounds to 6 dp once (the transcendental
            # discipline — a raw libm ln can differ in the last ULP between
            # engines and flip the pinned boolean); e is injected as the
            # same double literal on both sides
            (
                F.col("_a6e") - F.col("_a6c")
                <= F.round(
                    F.log(
                        F.lit(1.0) + F.lit(math.e) / F.lit(float(nbits)) * F.col("_t")
                    ),
                    6,
                )
            ).alias("within_bound"),
        )
    )


def bloom_filter_report(
    state: DataFrame, n_slices: int = 4, hex_chars: int = 2
) -> DataFrame:
    """PRODUCTION Bloom state report — the constant-size half of
    :func:`bloom_state_rows` alone (slice-bit rows, i ≥ 0; the exact md5
    set the membership twin carries exists ONLY for oracle observability —
    a deployment drops it, and this report is what it monitors instead):
    per slice the number of set bits and the load factor, plus the
    closed-form expected false-positive rate of the partitioned filter —
    a uniformly-hashed non-member probe hits slice i with probability
    load_i, so FP = Π_i load_i = (Π_i bits_set_i) / bits^n_slices,
    computed as an EXACT integer product over the slices-sized relation
    (no float accumulation anywhere). Returns
    (slice, bits_set, load, expected_fp_rate) with the rate repeated per
    row (the pca_power eigval idiom).

    Scale: the state is ≤ n_slices·16^hex_chars rows regardless of corpus
    size; this report is two tiny aggregates and a one-row broadcast."""
    nbits = 16 ** hex_chars
    bs = (
        state.filter(F.col("i") >= 0)
        .groupBy("i")
        .agg(F.count_distinct("v").cast("bigint").alias("bits_set"))
    )
    prod = bs.agg(
        F.aggregate(
            F.collect_list(F.col("bits_set")),
            F.lit(1).cast("bigint"),
            lambda a, x: a * x,
        ).alias("_prod")
    )
    return bs.crossJoin(F.broadcast(prod)).select(
        F.col("i").cast("bigint").alias("slice"),
        F.col("bits_set"),
        F.round(F.col("bits_set") / F.lit(float(nbits)), 6).alias("load"),
        F.round(
            F.col("_prod").cast("double") / F.lit(float(nbits) ** n_slices), 6
        ).alias("expected_fp_rate"),
    )


def cms_state_rows(
    corpus: DataFrame,
    text_col: str,
    k: int = 3,
    n_slices: int = 4,
    hex_chars: int = 2,
) -> DataFrame:
    """(i, v) row per word-``k``-gram occurrence per sketch slice — the
    COUNTING generalization of :func:`bloom_state_rows`: the same
    partitioned slice layout (slice i reads hex chars [i·hc, (i+1)·hc) of
    md5(gram)), but the grouped COUNT over (i, v) IS a Count-Min sketch
    (Cormode & Muthukrishnan 2005) — ``n_slices`` rows × 16^hex_chars
    counters, mergeable by ADDITION (sums are associative/commutative),
    so a streaming grouped aggregate maintains it incrementally and two
    shards' sketches combine by adding counters. ROW-LOCAL derivation
    (two nested explodes — runs unchanged on a streaming scan).
    Reference analog: the runtime Bloom filter the reference's hybrid
    hash join spills with (flink-runtime/src/main/java/org/apache/flink/
    runtime/operators/util/BloomFilter.java:45) is the EXISTS half of
    this exact layout; the counting generalization is brief-driven
    pipeline surface."""
    src = corpus if corpus.isStreaming else _spread(corpus)
    g = exploded_shingles(src, text_col, k)
    entries = _cms_slice_entries(F.md5(F.col("sh")), n_slices, hex_chars)
    return g.select(F.explode(entries).alias("e")).select("e.i", "e.v")


def cms_topk_contract(
    state: DataFrame,
    grams: DataFrame,
    gram_col: str = "sh",
    topk: int = 20,
    n_slices: int = 4,
    hex_chars: int = 2,
) -> DataFrame:
    """Count-Min FREQUENCY CONTRACT over an explicit counted
    :func:`cms_state_rows` state relation (i, v, n) — shared with the
    streaming twin, whose grouped-aggregate snapshot IS the sketch: the
    exact top-``topk`` grams (TakeOrderedAndProject head, lexicographic
    tiebreak) are re-estimated from the sketch (min over the slice
    counters each gram hashes to) and ``within_bound`` asserts the
    published guarantee — est ≥ true always (counters only overcount) and
    est − true ≤ (e / width)·N with probability ≥ 1 − e^(−depth)
    (comfortably inside at every test SF: worst observed overestimate is
    ~0.4× the bound). Returns (rank, gram, true_count, est_count,
    overestimate, within_bound).

    Scale: the sketch is n_slices·16^hex_chars counters REGARDLESS of
    corpus size and broadcasts; the exact head is one count aggregate +
    TakeOrderedAndProject; the probe side is topk×n_slices rows."""
    import math

    from pyspark.sql import Window

    nbits = 16 ** hex_chars
    head = (
        grams.groupBy(gram_col)
        .agg(F.count(F.lit(1)).cast("bigint").alias("true_count"))
        .orderBy(F.desc("true_count"), F.asc(gram_col))
        .limit(topk)
    )
    top = head.withColumn(
        "rank",
        F.row_number()
        .over(Window.orderBy(F.desc("true_count"), F.asc(gram_col)))
        .cast("bigint"),
    )
    probes = top.select(
        "rank",
        F.col(gram_col).alias("gram"),
        "true_count",
        F.explode(
            _cms_slice_entries(F.md5(F.col(gram_col)), n_slices, hex_chars)
        ).alias("e"),
    ).select("rank", "gram", "true_count", F.col("e.i").alias("i"), F.col("e.v").alias("v"))
    est = (
        probes.join(F.broadcast(state), ["i", "v"])
        .groupBy("rank", "gram", "true_count")
        .agg(F.min("n").cast("bigint").alias("est_count"))
    )
    tot = state.filter(F.col("i") == 0).agg(F.sum("n").cast("double").alias("_nn"))
    return est.crossJoin(F.broadcast(tot)).select(
        "rank",
        "gram",
        "true_count",
        "est_count",
        (F.col("est_count") - F.col("true_count")).cast("bigint").alias("overestimate"),
        (
            (F.col("est_count") >= F.col("true_count"))
            & (
                (F.col("est_count") - F.col("true_count"))
                <= F.lit(math.e) / F.lit(float(nbits)) * F.col("_nn")
            )
        ).alias("within_bound"),
    )


def embedding_neardup_pairs_np(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    block_col: str,
    threshold: float = 0.8,
    round_digits: int = 6,
    max_block: int | None = 4096,
) -> DataFrame:
    """Vectorized twin of :func:`embedding_neardup_pairs`: the same block-
    bounded all-pairs cosine verify, computed as one numpy matmul per block
    inside ``applyInPandas`` instead of per-pair ``F.aggregate`` expressions
    (Spark's higher-order array functions are interpreted, not codegen'd —
    the expression path measured ~25x slower at sf0.1). Identical contract:
    pairs (id_a < id_b) whose cosine, rounded to ``round_digits``, clears
    ``threshold``; parity with the expression path is pinned by test at the
    shipped SFs. (Caveat shared with the DuckDB oracle itself: BLAS pairwise
    summation can differ from a sequential fold in the last ULP, so a cosine
    sitting exactly on a 6-dp rounding boundary could in principle flip —
    the same accepted risk class as list_cosine_similarity vs F.aggregate.)

    Memory: the hot-block cap bounds each group at ``max_block`` vectors and
    the matmul runs in 512-row chunks, so per-task scratch stays at
    512 x max_block doubles regardless of corpus size."""
    import numpy as np
    import pandas as pd

    e = df.select(
        F.col(id_col).alias("vid"),
        F.col(block_col).alias("blk"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    e = _cap_hot_buckets(e, ["blk"], max_block)

    def pairs(key, pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vid"].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        V = np.stack(pdf["v"].to_numpy())[order].astype(np.float64)
        n = len(ids)
        if n < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cosine": "float64"}
            )
        norms = np.sqrt((V * V).sum(axis=1))
        out_a, out_b, out_c = [], [], []
        for lo in range(0, n, 512):
            hi = min(lo + 512, n)
            C = (V[lo:hi] @ V.T) / np.outer(norms[lo:hi], norms)
            C = np.round(C, round_digits)
            for i in range(lo, hi):
                js = np.nonzero(C[i - lo, i + 1 :] >= threshold)[0] + i + 1
                out_a.extend([ids[i]] * len(js))
                out_b.extend(ids[js])
                out_c.extend(C[i - lo, js])
        return pd.DataFrame(
            {"id_a": out_a, "id_b": out_b, "cosine": out_c}
        ).astype({"id_a": "int64", "id_b": "int64", "cosine": "float64"})

    return e.groupBy("blk").applyInPandas(pairs, "id_a long, id_b long, cosine double")


def _paragraphs(df: DataFrame, id_col: str, text_col: str, block: int) -> DataFrame:
    """Fixed ``block``-token paragraph windows of every document: one
    (id, pid, ptext) row per window, ptext = the window's lowercased tokens
    re-joined with single spaces. Shared by :func:`paragraph_dedup_report`
    (audit) and :func:`paragraph_dedup_rewrite` (survivor rewrite) so both
    see byte-identical paragraph text. Linear explosion
    (ceil(tokens/block) rows per doc)."""
    toks = tokens(text_col)
    # every doc has >= 1 paragraph (greatest guards a pathological empty
    # text from producing a descending sequence)
    n_blocks = F.greatest(F.ceil(F.size(toks) / F.lit(block)).cast("int"), F.lit(1))
    # explode the window INDEX first, then cut each window with ordinary
    # codegen'd slice/array_join projections: the previous
    # transform-then-posexplode built the window array through an
    # interpreted higher-order function (no whole-stage codegen — the
    # measured 12× explode penalty, see text.exploded_shingles); the
    # exploded index IS the old posexplode position, so (id, pid, ptext)
    # is bit-identical.
    return df.select(
        F.col(id_col), toks.alias("_w"),
        F.explode(F.sequence(F.lit(0), n_blocks - 1)).alias("pid"),
    ).select(
        F.col(id_col),
        "pid",
        F.array_join(
            F.slice("_w", F.col("pid") * block + 1, block), " "
        ).alias("ptext"),
    )


def paragraph_dedup_rewrite(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block: int = 16,
    num_hashes: int = 12,
    shingle_k: int = 3,
    band_rows: int = 4,
    max_bucket: int = 256,
) -> DataFrame:
    """Paragraph-granularity near-dedup REWRITE — the other half of the
    RefinedWeb/CCNet recipe: :func:`paragraph_dedup_report` *audits*
    duplicated paragraphs; this operator *removes* them and reassembles the
    cleaned documents. Returns (id, n_paragraphs, n_kept, clean_text) for
    every document, clean_text = the surviving paragraphs re-joined in
    original (pid) order — lowercased/whitespace-normalized because the
    paragraph windows are token-derived.

    Survivor rule (deterministic, order-free): for each duplicated band
    bucket (size ≤ ``max_bucket`` and ≥ 2 distinct docs) the bucket's
    MIN doc id is the keeper; a paragraph is DROPPED iff it sits in at
    least one such bucket whose keeper is a DIFFERENT document. The
    min-(doc, pid) member is always kept (its doc IS the bucket min), and
    within-doc repetition never drops anything — same cross-doc-only
    contract as the audit.

    Scale (100 TB): identical topology to the audit — linear paragraph
    explosion through the shared MinHash band machinery, duplicated buckets
    from ONE (band, bk)-keyed aggregate (now also carrying min(did)), drops
    marked by an equi join against that tiny bucket list, reassembly one
    per-doc sort-agg. NO pair generation and NO self-join at any
    granularity; every intermediate is linear in the corpus."""
    paras = _paragraphs(df, id_col, text_col, block).withColumn(
        "pkey", F.struct(F.col(id_col).alias("did"), F.col("pid").alias("pid"))
    )
    sigs = minhash_signatures(paras, "pkey", "ptext", num_hashes, shingle_k)
    bands = _band_keys(sigs, "pkey", num_hashes, band_rows)
    with cached(bands):
        dup_buckets = (
            bands.groupBy("band", "bk")
            .agg(
                F.count(F.lit(1)).alias("sz"),
                F.countDistinct(F.col("pkey.did")).alias("nd"),
                F.min(F.col("pkey.did")).alias("keep_did"),
            )
            .filter((F.col("sz") <= max_bucket) & (F.col("nd") >= 2))
            .select("band", "bk", "keep_did")
        )
        drops = (
            bands.join(dup_buckets, ["band", "bk"])
            .filter(F.col("pkey.did") != F.col("keep_did"))
            .select(
                F.col("pkey.did").alias(id_col), F.col("pkey.pid").alias("pid")
            )
            .distinct()
        )
        kept = paras.join(drops, [id_col, "pid"], "left_anti")
        reassembled = kept.groupBy(id_col).agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("pid"), F.col("ptext")))
                    ),
                    lambda x: x["ptext"],
                ),
                " ",
            ).alias("clean_text"),
        )
        toks = tokens(text_col)
        n_par = df.select(
            F.col(id_col),
            F.greatest(
                F.ceil(F.size(toks) / F.lit(block)).cast("int"), F.lit(1)
            ).cast("bigint").alias("n_paragraphs"),
        )
        out = n_par.join(reassembled, id_col, "left").select(
            id_col,
            "n_paragraphs",
            F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
        # materialize before releasing the band cache (scoped persist, same
        # discipline as minhash_lsh_pairs / paragraph_dedup_report)
        return barrier(out, "paragraph_rewrite")


def rowlocal_band_keys(
    text_col: str,
    num_hashes: int = 12,
    shingle_k: int = 3,
    band_rows: int = 4,
):
    """LSH band-bucket keys of a document computed ENTIRELY row-locally:
    array<struct<band:int, bk:string>> with one entry per band, empty when
    the doc has no shingles (< shingle_k tokens). Bit-identical to
    :func:`minhash_signatures` + :func:`_band_keys` — MIN over the shingle
    multiset equals MIN over the set, and the md5-component splitting and
    band-key derivation mirror those functions exactly.

    Exists for the STREAMING near-dedup path: Structured Streaming permits
    one streaming aggregate per query, and the explode→groupBy signature
    stage would spend it — a row-local projection leaves the single
    aggregate budget for the (band, bk) bucket state itself. Higher-order
    functions are interpreted (the measured 5×-slower path at batch scale),
    which is irrelevant on micro-batch-sized inputs; batch queries keep the
    codegen'd explode machinery."""
    sh = shingles(text_col, shingle_k)

    # Factory helpers, NOT `lambda x, g=g:` default-arg closures: PySpark
    # derives the HOF lambda's arity from the Python signature, so a default
    # second parameter turns the lambda into the (element, index) binary form
    # and silently binds the "closure" name to the array-index Column.
    def _digests(g: int):
        return F.transform(sh, lambda x: F.md5(F.concat(F.lit(f"{g}|"), x)))

    def _hmin(arr, s: int):
        return F.array_min(
            F.transform(arr, lambda d: F.substring(d, 1 + (s % 4) * 8, 8))
        )

    digest_arrays = [_digests(g) for g in range((num_hashes + 3) // 4)]
    hmins = [_hmin(digest_arrays[s // 4], s) for s in range(num_hashes)]
    n_bands = num_hashes // band_rows
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws("|", *[hmins[b * band_rows + j] for j in range(band_rows)])
                ).alias("bk"),
            )
            for b in range(n_bands)
        ]
    )
    return F.when(F.size(sh) >= 1, bands).otherwise(
        F.array().cast("array<struct<band:int,bk:string>>")
    )


def neardedup_keep_first(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 12,
    shingle_k: int = 3,
    band_rows: int = 4,
    max_bucket: int = 256,
    stats: DataFrame | None = None,
) -> DataFrame:
    """Document-level near-dedup ADMISSION — streaming keep-first semantics
    made order-free: a document is admitted iff it is the MIN doc id in
    every (size ≤ ``max_bucket``) band bucket it occupies. This is exactly
    "first wins" under the deterministic min-id tiebreak (reference analog:
    StreamExecDeduplicate keep-first,
    flink-table-planner-blink/.../stream/StreamExecDeduplicate.scala:58,
    composed with the banded MinHash machinery): whichever order documents
    arrive, the admitted set is identical. Returns
    (id, n_dup_buckets, admitted) for every document — n_dup_buckets = how
    many capped buckets already belong to a lower id. Docs with no shingles
    (< shingle_k tokens) have no buckets and are admitted by convention.
    Buckets larger than ``max_bucket`` are boilerplate junk, not duplicate
    evidence — same hot-bucket contract as :func:`minhash_lsh_pairs`.

    ``stats`` — a precomputed (band, bk, sz, keep_did) bucket-state table —
    lets the STREAMING twin hand in its continuously-maintained aggregate
    snapshot; the result is then lazy. When None the stats are derived here
    from the same bands and the result is checkpointed.

    Scale (100 TB): linear banding, ONE (band, bk)-keyed aggregate for the
    bucket state (min + count, map-side partials), one equi join of bands
    against it, one per-doc aggregate. No pair generation, no self-join."""
    sigs = minhash_signatures(df, id_col, text_col, num_hashes, shingle_k)
    bands = _band_keys(sigs, id_col, num_hashes, band_rows)
    own_stats = stats is None
    with cached(bands) if own_stats else nullcontext():
        if own_stats:
            stats = bands.groupBy("band", "bk").agg(
                F.count(F.lit(1)).alias("sz"), F.min(id_col).alias("keep_did")
            )
        dup_counts = (
            bands.join(stats.select("band", "bk", "sz", "keep_did"), ["band", "bk"])
            .filter((F.col("sz") <= max_bucket) & (F.col("keep_did") < F.col(id_col)))
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_dup_buckets"))
        )
        out = df.select(id_col).join(dup_counts, id_col, "left").select(
            id_col,
            F.coalesce("n_dup_buckets", F.lit(0)).cast("bigint").alias("n_dup_buckets"),
            (F.coalesce("n_dup_buckets", F.lit(0)) == 0).alias("admitted"),
        )
        if not own_stats:
            return out  # lazy over the twin-supplied stats
        return barrier(out, "doc_admission")


def neardedup_incremental(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 12,
    shingle_k: int = 3,
    band_rows: int = 4,
    max_bucket: int = 256,
    stats: DataFrame | None = None,
) -> DataFrame:
    """Incremental near-dedup ADMISSION of an incoming ``batch`` against an
    existing ``corpus`` snapshot — the production shape of continuous corpus
    curation: each new crawl is deduplicated against everything already
    ingested (plus itself) WITHOUT re-deduplicating the corpus. A batch
    document is admitted iff every (size ≤ ``max_bucket``) band bucket it
    occupies (a) holds no corpus member and (b) has it as the MIN batch id —
    the same order-free keep-first contract as :func:`neardedup_keep_first`,
    extended with the corpus-collision test. Batch docs with fewer than
    ``shingle_k`` tokens have no shingles, hence no band buckets, and are
    admitted unconditionally — inherent to the MinHash family (the same
    convention as :func:`neardedup_keep_first` and the oracle); apply a
    length floor upstream if short docs should not bypass dedup. Returns
    one row per batch doc:
    (id, n_corpus_dup_buckets, n_batch_dup_buckets, admitted). Reference
    analog: StreamExecDeduplicate keep-first
    (flink-table-planner-blink/.../stream/StreamExecDeduplicate.scala:58) —
    the corpus bucket table IS that operator's keyed state, here as a
    relation.

    Scale (100 TB corpus, ~TB-scale daily batch): the corpus side is ONE
    (band, bk)-keyed aggregate that production would precompute once and
    maintain incrementally (append the admitted batch's buckets each run —
    min/count are decomposable); the batch side re-bands only the new data.
    Here — where both sides arrive as relations — the union is banded in a
    SINGLE shingle+hash pipeline with the origin flag riding inside the
    composite signature key (one scan, one signature aggregate — measured
    ~2.3× faster than banding each side separately at bench SF). The stats
    join is a plain equi join AQE plans by actual sizes — with a
    small daily batch the batch-bands side broadcasts, so the 100-TB corpus
    state is never shuffled. No pair generation, no self-join.

    ``stats`` — a precomputed (band, bk, sz, n_corp, keep_bid) combined
    bucket-state table (sz = corpus + batch occupancy) — lets the STREAMING
    twin hand in its continuously-maintained aggregate snapshot joined with
    the static corpus state; when None it is derived here from the union
    (``corpus`` is then the only reader of that argument — with ``stats``
    supplied only ``batch`` is re-banded, the production shape)."""
    own_stats = stats is None
    if own_stats:
        u = corpus.select(
            F.col(id_col), F.col(text_col), F.lit(1).alias("_corp")
        ).unionByName(
            batch.select(F.col(id_col), F.col(text_col), F.lit(0).alias("_corp"))
        )
        keyed = u.select(
            F.struct(F.col("_corp").alias("c"), F.col(id_col).alias("i")).alias("_ukey"),
            F.col(text_col),
        )
        bands = _band_keys(
            minhash_signatures(keyed, "_ukey", text_col, num_hashes, shingle_k),
            "_ukey",
            num_hashes,
            band_rows,
        )
    # the bands feed both the combined bucket stats and the marking join —
    # persist so the shingle+hash pipeline runs once
    with cached(bands) if own_stats else nullcontext():
        if own_stats:
            stats = bands.groupBy("band", "bk").agg(
                F.count(F.lit(1)).alias("sz"),
                F.sum(F.col("_ukey.c")).alias("n_corp"),
                F.min(F.when(F.col("_ukey.c") == 0, F.col("_ukey.i"))).alias("keep_bid"),
            )
            b_bands = bands.filter(F.col("_ukey.c") == 0).select(
                F.col("_ukey.i").alias(id_col), "band", "bk"
            )
        else:
            b_bands = _band_keys(
                minhash_signatures(batch, id_col, text_col, num_hashes, shingle_k),
                id_col,
                num_hashes,
                band_rows,
            )
        dup_counts = (
            b_bands.join(stats, ["band", "bk"])
            .filter(F.col("sz") <= max_bucket)
            .groupBy(id_col)
            .agg(
                F.count_if(F.col("n_corp") > 0).cast("bigint").alias("_ncorp"),
                F.count_if(F.col("keep_bid") < F.col(id_col))
                .cast("bigint")
                .alias("_nbatch"),
            )
        )
        out = batch.select(id_col).join(dup_counts, id_col, "left").select(
            id_col,
            F.coalesce("_ncorp", F.lit(0)).cast("bigint").alias("n_corpus_dup_buckets"),
            F.coalesce("_nbatch", F.lit(0)).cast("bigint").alias("n_batch_dup_buckets"),
            (
                (F.coalesce("_ncorp", F.lit(0)) + F.coalesce("_nbatch", F.lit(0))) == 0
            ).alias("admitted"),
        )
        if not own_stats:
            return out  # lazy over the twin-supplied stats
        return barrier(out, "union_band_admit")


def minhash_calibration_report(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 12,
    shingle_k: int = 3,
    band_rows: int = 4,
    max_bucket: int = 256,
) -> DataFrame:
    """MinHash calibration audit — estimated vs TRUE Jaccard for every LSH
    candidate pair: (id_a, id_b, est_jaccard, true_jaccard, abs_err). This is
    the tuning report production dedup publishes when choosing the band
    layout (bands × rows trades recall for precision; the abs_err
    distribution says whether ``num_hashes`` sketches are tight enough to
    threshold on). Estimated = fraction of agreeing signature components
    (:func:`minhash_lsh_pairs`); true = |A∩B|/|A∪B| over the documents'
    DISTINCT ``shingle_k``-gram sets.

    Scale (100 TB): the expensive exact-Jaccard join runs ONLY over the
    LSH-bounded candidate pairs (each capped bucket fans out at most
    max_bucket²/2 pairs), never all pairs: candidates join the distinct
    (doc, shingle) relation on each endpoint, and the second join key
    includes the shingle itself, so the fan-out is pair-local. This is the
    standard LSH-then-verify topology with the verify stage emitted as an
    audit instead of a filter. The corpus is tokenized ONCE: the distinct
    shingle relation is shared between the exact-Jaccard joins and the
    signature derivation (MIN over the set == MIN over the multiset), which
    minhash_lsh_pairs consumes via its ``sigs`` hand-in."""
    sh = exploded_shingles(_spread(df), text_col, shingle_k, carry=[id_col]).distinct()
    # three plan references: signature derivation + both pair endpoints
    with cached(sh):
        pairs = minhash_lsh_pairs(
            df,
            id_col,
            text_col,
            num_hashes,
            shingle_k,
            band_rows,
            max_bucket,
            sigs=_sigs_from_shingles(sh, id_col, num_hashes),
        )
        sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
        inter = (
            pairs.select("id_a", "id_b")
            .join(sh.select(F.col(id_col).alias("id_a"), "sh"), "id_a")
            .join(sh.select(F.col(id_col).alias("id_b"), "sh"), ["id_b", "sh"])
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("_i"))
        )
        out = (
            pairs.join(inter, ["id_a", "id_b"], "left")
            .join(sizes.select(F.col(id_col).alias("id_a"), F.col("n").alias("_na")), "id_a")
            .join(sizes.select(F.col(id_col).alias("id_b"), F.col("n").alias("_nb")), "id_b")
            .select(
                "id_a",
                "id_b",
                "est_jaccard",
                F.round(
                    F.coalesce("_i", F.lit(0)).cast("double")
                    / (F.col("_na") + F.col("_nb") - F.coalesce("_i", F.lit(0))),
                    6,
                ).alias("true_jaccard"),
            )
            .withColumn(
                "abs_err", F.round(F.abs(F.col("est_jaccard") - F.col("true_jaccard")), 6)
            )
        )
        return barrier(out)


def contamination_matrix(
    train: DataFrame,
    bench: DataFrame,
    bench_col: str = "benchmark",
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Per-benchmark contamination audit — the matrix production teams
    publish alongside a decontamination run: for EVERY benchmark split at
    once, how many training documents share at least one word k-gram with
    it and what fraction of the training corpus that is. ``bench`` carries
    one row per benchmark document with a ``bench_col`` split label;
    returns (benchmark, n_bench_docs, n_contaminated, contamination_rate)
    per split. Extends :func:`decontaminate` (single aggregate flag) to the
    per-benchmark breakdown (GPT-3 appendix C reports exactly this table).

    Scale shape: the benchmark side is eval-suite-sized by definition, so
    its per-split distinct shingle set BROADCASTS; the 100 TB training
    corpus is scanned ONCE, hits marked by a map-side broadcast hash join,
    then one (benchmark, doc)-distinct and a |benchmarks|-row rollup. A
    k-gram in several splits fans out only on the tiny broadcast side. The
    training-corpus denominator is a one-row broadcast aggregate (no
    driver-side count: the whole matrix stays one lazy plan)."""
    bench_grams = exploded_shingles(bench, text_col, k, carry=[bench_col]).distinct()
    bench_sizes = bench.groupBy(bench_col).agg(
        F.count(F.lit(1)).alias("n_bench_docs")
    )
    n_train_row = train.agg(F.count(F.lit(1)).alias("_n_train"))
    hits = (
        _spread(train)
        .select(F.col(id_col), F.explode(F.array_distinct(shingles(text_col, k))).alias("sh"))
        .join(F.broadcast(bench_grams), "sh")
        .select(bench_col, id_col)
        .distinct()
        .groupBy(bench_col)
        .agg(F.countDistinct(id_col).alias("n_contaminated"))
    )
    return contamination_report_from_hits(bench_sizes, hits, n_train_row, bench_col)


def contamination_report_from_hits(
    bench_sizes: DataFrame,
    hits: DataFrame,
    n_train_row: DataFrame,
    bench_col: str = "benchmark",
) -> DataFrame:
    """The report half of :func:`contamination_matrix` over a per-benchmark
    hit-count table (``bench_col``, n_contaminated), the per-benchmark doc
    counts, and a one-row training-corpus total — split out so identical
    expressions score the batch-derived tables OR the final snapshots of a
    continuously-maintained streaming hit set
    (``stream_contamination_matrix``). NULLIF keeps a zero-doc training
    corpus NULL in both engines."""
    return (
        bench_sizes.join(hits, bench_col, "left")
        .crossJoin(F.broadcast(n_train_row))
        .select(
            bench_col,
            "n_bench_docs",
            F.coalesce("n_contaminated", F.lit(0)).cast("bigint").alias("n_contaminated"),
            F.round(
                F.coalesce("n_contaminated", F.lit(0))
                / F.nullif(F.col("_n_train").cast("double"), F.lit(0.0)),
                6,
            ).alias("contamination_rate"),
        )
    )


def url_normalize(url_col: str | Column) -> Column:
    """Canonical form of a URL — RefinedWeb's stage-0 dedup key (Penedo et
    al. 2023 §3.1 run URL dedup BEFORE any content dedup): lowercase scheme
    and authority, strip the scheme's default port (:80 http / :443 https),
    strip the fragment, strip trailing path slashes (bare authority → '/'),
    and sort query parameters. Pure built-ins (parse_url + regexp — one
    row-local projection, no shuffle, no UDF); non-default ports are KEPT
    (a :8080 origin is a different resource)."""
    u = F.col(url_col) if isinstance(url_col, str) else url_col
    proto = F.lower(F.parse_url(u, F.lit("PROTOCOL")))
    auth = F.lower(F.parse_url(u, F.lit("AUTHORITY")))
    auth = (
        F.when(proto == "http", F.regexp_replace(auth, ":80$", ""))
        .when(proto == "https", F.regexp_replace(auth, ":443$", ""))
        .otherwise(auth)
    )
    path = F.regexp_replace(
        F.coalesce(F.parse_url(u, F.lit("PATH")), F.lit("")), "/+$", ""
    )
    path = F.when(path == "", F.lit("/")).otherwise(path)
    q = F.coalesce(F.parse_url(u, F.lit("QUERY")), F.lit(""))
    qn = F.when(
        q == "", F.lit("")
    ).otherwise(F.concat(F.lit("?"), F.array_join(F.array_sort(F.split(q, "&")), "&")))
    return F.concat(proto, F.lit("://"), auth, path, qn)


def url_dedup_report(
    df: DataFrame, id_col: str = "doc_id", url_col: str = "url"
) -> DataFrame:
    """URL-granularity dedup report — per registrable host: how many crawled
    docs collapse onto how many canonical URLs once :func:`url_normalize`
    is applied, with keep-MIN-id admission (the same order-free keep-first
    contract as every dedup in this package). Returns one row per host:
    (host, n_docs, n_canonical_urls, n_dup_docs, dup_rate, sum_kept_ids,
    max_raw_forms) — sum_kept_ids makes the keeper SELECTION hash-visible,
    max_raw_forms the worst per-URL raw-variant fan-in.

    Scale (100 TB crawl): normalization is a row-local projection inside
    the scan; then ONE (normalized-url)-keyed aggregate (min + counts,
    map-side partials) and one hosts-sized rollup — the cheapest dedup
    stage there is, which is why production runs it first."""
    host = F.regexp_replace(
        F.lower(F.parse_url(F.col(url_col), F.lit("AUTHORITY"))), ":[0-9]+$", ""
    )
    per_url = (
        df.select(
            F.col(id_col),
            F.col(url_col),
            host.alias("host"),
            url_normalize(url_col).alias("norm_url"),
        )
        .groupBy("host", "norm_url")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct(url_col).alias("n_raw_forms"),
        )
    )
    return url_report_from_per_url(per_url)


def url_report_from_per_url(per_url: DataFrame) -> DataFrame:
    """The per-host rollup half of :func:`url_dedup_report` over a
    (host, norm_url, keep_id, n_docs, n_raw_forms) relation — shared with
    the streaming twin (which maintains the per-URL state incrementally and
    reports on the snapshot), so operator and twin can never drift."""
    n_docs = F.sum("n_docs")
    n_canon = F.count(F.lit(1))
    return per_url.groupBy("host").agg(
        n_docs.cast("bigint").alias("n_docs"),
        n_canon.cast("bigint").alias("n_canonical_urls"),
        (n_docs - n_canon).cast("bigint").alias("n_dup_docs"),
        F.round((n_docs - n_canon) / n_docs, 6).alias("dup_rate"),
        F.sum("keep_id").cast("bigint").alias("sum_kept_ids"),
        F.max("n_raw_forms").cast("bigint").alias("max_raw_forms"),
    )


def url_keep_first(
    df: DataFrame, id_col: str = "doc_id", url_col: str = "url"
) -> DataFrame:
    """Keep-MIN-id admission at URL granularity: returns ``df``'s rows whose
    id is the minimum over their :func:`url_normalize` group — RefinedWeb's
    stage 0, composable in front of content dedup. One normalized-url-keyed
    window (the inherent dedup shuffle), nothing else."""
    from pyspark.sql import Window as W

    w = W.partitionBy(url_normalize(url_col))
    return (
        df.withColumn("_keep", F.min(id_col).over(w))
        .filter(F.col(id_col) == F.col("_keep"))
        .drop("_keep")
    )

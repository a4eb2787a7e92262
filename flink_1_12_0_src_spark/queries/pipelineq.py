"""LLM-data-pipeline queries (dedup / similarity / text analysis / multimodal)
over the documents + embeddings tables, each verified against a DuckDB oracle
built from the SAME algorithm constants (hash seeds, shingle sizes, band
layout) — two independent implementations of one spec.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, functions as F

from flink_1_12_0_src_spark.catalog import table
from flink_1_12_0_src_spark.pipeline import (
    attach_blob,
    cosine_topk,
    exact_dedup,
    extract_blob_features,
    language_id,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    quality_score,
    simhash_signatures,
    token_stats,
    winnow_fingerprint,
)
from flink_1_12_0_src_spark.pipeline.stageclock import barrier, cached
from flink_1_12_0_src_spark.pipeline.text import BPE_ISH_RE, LANG_MARKERS
from flink_1_12_0_src_spark.queries import register

# ---------------------------------------------------------------------------
# shared algorithm constants (Spark impl + oracle read these)
# ---------------------------------------------------------------------------
MH_NUM_HASHES, MH_SHINGLE_K, MH_BAND_ROWS = 12, 3, 4
MH_MAX_BUCKET = 256  # hot-bucket cap: drop band buckets with more ids than this
NJ_SHINGLE_K, NJ_THRESHOLD = 2, 0.3
# Hot-shingle / hot-block skew caps, mirrored verbatim in the oracles (the
# Spark side applies them in pipeline/dedup.py): shingles in more docs of a
# block than NJ_MAX_DF carry ~zero Jaccard signal but quadratic join cost;
# blocks larger than ND_MAX_BLOCK indicate a degenerate IVF list.
NJ_MAX_DF = 64
ND_MAX_BLOCK = 4096
FP_GRAM_CHARS, FP_NUM_MINS = 5, 4
ANN_K, ANN_QUERY_MAX = 5, 20


PACK_BUDGET = 512  # tokens per pack (sequence packing)
QUOTA_PER_LANG = 40  # data-mixing cap per source


@register(
    "dataset_split_hash",
    oracle="""
SELECT doc_id,
       CASE WHEN substr(md5('42|' || CAST(doc_id AS VARCHAR)), 1, 8) < 'e6666666' THEN 'train'
            WHEN substr(md5('42|' || CAST(doc_id AS VARCHAR)), 1, 8) < 'f3333333' THEN 'val'
            ELSE 'test' END AS split
FROM documents ORDER BY doc_id
""",
    tags=("pipeline", "sampling"),
    doc="Deterministic 90/5/5 train/val/test split by id hash "
    "(pipeline/sampling.py hash_split): stateless md5-bucket projection, so "
    "a document's split never changes across re-runs, repartitioning, or "
    "incremental ingestion — the leakage-safe dataset-assembly primitive.",
)
def dataset_split_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.pipeline.sampling import hash_split

    docs = table(spark, sf_dir, "documents")
    return hash_split(docs, "doc_id").select("doc_id", "split").orderBy("doc_id")


@register(
    "dataset_quota_sample",
    oracle=f"""
SELECT doc_id, lang FROM (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY length(text) DESC, doc_id) AS rk
  FROM documents
) WHERE rk <= {QUOTA_PER_LANG}
ORDER BY doc_id
""",
    tags=("pipeline", "sampling"),
    doc=f"Per-source quota sampling (data mixing): keep the top "
    f"{QUOTA_PER_LANG} documents per lang by length, ties by id — one "
    "window rank per source partition (pipeline/sampling.py quota_sample), "
    "output bounded at quota × sources.",
)
def dataset_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.pipeline.sampling import quota_sample

    docs = table(spark, sf_dir, "documents").withColumn("_len", F.length("text"))
    return (
        quota_sample(docs, "lang", QUOTA_PER_LANG, "_len", "doc_id")
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


@register(
    "dataset_pack_sequences",
    oracle=f"""
SELECT doc_id, lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       CAST(SUM(len(string_split(text, ' '))) OVER w
            - len(string_split(text, ' ')) AS BIGINT) AS start_offset,
       CAST(floor((SUM(len(string_split(text, ' '))) OVER w
                   - len(string_split(text, ' '))) / {PACK_BUDGET}) AS BIGINT) AS pack_id
FROM documents
WINDOW w AS (PARTITION BY lang ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
ORDER BY doc_id
""",
    tags=("pipeline", "sampling"),
    doc=f"Sequence packing, concat-then-chunk model (pipeline/sampling.py "
    f"pack_sequences): per-lang streams concatenated in id order and chunked "
    f"every {PACK_BUDGET} whitespace tokens; a document joins the pack its "
    "start offset falls into — the pretraining pack-writer layout as one "
    "window cumsum, no sequential loop.",
)
def dataset_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.pipeline.sampling import pack_sequences

    docs = table(spark, sf_dir, "documents")
    return pack_sequences(
        docs, "doc_id", "lang", F.size(F.split(F.col("text"), " ")), PACK_BUDGET
    ).orderBy("doc_id")


# Shared with the streaming twin (stream_pack_efficiency) — one definition.
PACK_EFFICIENCY_ORACLE = f"""
WITH h AS (SELECT lang, len(string_split(text, ' ')) AS nt,
                  CAST(('0x' || substr(md5('77|' || CAST(doc_id AS VARCHAR)), 1, 1))::BIGINT
                       AS INTEGER) AS shard_id
           FROM documents),
s AS (SELECT lang, shard_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(nt) AS BIGINT) AS total_tokens
      FROM h GROUP BY lang, shard_id)
SELECT lang, shard_id, n_docs, total_tokens,
       CAST(ceil(total_tokens / {PACK_BUDGET}.0) AS BIGINT) AS n_packs,
       round(CAST(total_tokens AS DOUBLE)
             / NULLIF(CAST(CAST(ceil(total_tokens / {PACK_BUDGET}.0) AS BIGINT)
                           * {PACK_BUDGET} AS DOUBLE), 0.0), 6)
           AS fill_frac
FROM s ORDER BY lang, shard_id
"""


@register(
    "dataset_pack_efficiency",
    oracle=PACK_EFFICIENCY_ORACLE,
    tags=("pipeline", "sampling"),
    doc=f"Packing-efficiency audit (pipeline/sampling.py "
    f"pack_efficiency_report): per (lang stream, writer shard), doc/token "
    f"volumes, {PACK_BUDGET}-token pack count, and fill fraction under the "
    "concat-then-chunk writer — 1 - fill_frac is exactly the per-shard TAIL "
    "waste, the quantity that grows with shard fan-out (more parallel "
    "writers = more tails); this report prices that trade before choosing "
    "the fan-out. Scale: one keyed aggregate with map-side partials, token "
    "counts map-side, output |streams|x|shards| rows.",
)
def dataset_pack_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.pipeline.sampling import (
        _salted_hash,
        pack_efficiency_report,
    )

    docs = table(spark, sf_dir, "documents")
    # same salted-hash shard as shuffle_shard (seed 77, first md5 nibble) —
    # derived through the package's single salt-layout definition
    h = _salted_hash("doc_id", 77)
    sharded = docs.withColumn(
        "shard_id", F.conv(F.substring(h, 1, 1), 16, 10).cast("int")
    )
    return pack_efficiency_report(
        sharded,
        "lang",
        F.size(F.split(F.col("text"), " ")),
        PACK_BUDGET,
        "shard_id",
    ).orderBy("lang", "shard_id")


TB_BUDGET = 2000  # tokens per source
TB_BLOCK = 256  # ids per prefix-sum block (small so sf0.01 spans ~20 blocks)


@register(
    "dataset_token_budget",
    oracle=f"""
WITH t AS (SELECT doc_id, source, len(string_split(text, ' ')) AS n FROM documents),
c AS (
  SELECT doc_id, source, n,
         CAST(COALESCE(SUM(n) OVER (PARTITION BY source ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
  FROM t)
SELECT doc_id, source, CAST(n AS BIGINT) AS n_tokens, cum_before,
       cum_before < {TB_BUDGET} AS selected
FROM c ORDER BY doc_id
""",
    tags=("pipeline", "sampling", "bench"),
    doc=f"Per-source TOKEN-budget fill (pipeline/sampling.py "
    f"token_budget_select): documents fill each source's {TB_BUDGET}-token "
    "budget in ascending-id order; selected while the start offset is "
    "inside the budget (prefix truncation, the pack-writer convention). "
    "The Spark plan is an exact TWO-PHASE distributed prefix sum — "
    f"intra-block running sums over {TB_BLOCK}-id blocks plus a cumsum of "
    "the tiny per-(source, block) subtotal table joined back — so no "
    "source-wide serial window task exists at any corpus size; the oracle "
    "is the equivalent single-window formulation.",
)
def dataset_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.pipeline.sampling import token_budget_select

    docs = table(spark, sf_dir, "documents")
    return token_budget_select(
        docs,
        "doc_id",
        "source",
        F.size(F.split(F.col("text"), " ")),
        TB_BUDGET,
        block=TB_BLOCK,
    ).orderBy("doc_id")


def _minhash_oracle(ordered: bool = True) -> str:
    nh, k, rows = MH_NUM_HASHES, MH_SHINGLE_K, MH_BAND_ROWS
    bands = nh // rows
    # mirrors minhash_signatures' digest splitting: 4 × 32-bit components per md5
    hcols = ", ".join(
        f"MIN(substr(md5('{s // 4}|' || sh), {1 + (s % 4) * 8}, 8)) AS h{s}"
        for s in range(nh)
    )
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, md5({key}) AS bk FROM sigs".format(
            b=b, key=" || '|' || ".join(f"h{b * rows + j}" for j in range(rows))
        )
        for b in range(bands)
    )
    eqs = " + ".join(f"(CASE WHEN a.h{s} = b.h{s} THEN 1 ELSE 0 END)" for s in range(nh))
    return f"""
WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
shingles AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(0, len(w)-{k}),
                               g -> array_to_string(w[g+1:g+{k}], ' '))) AS sh
  FROM toks WHERE len(w) >= {k}
),
sigs AS (SELECT doc_id, {hcols} FROM shingles GROUP BY doc_id),
bands0 AS ({band_selects}),
kept AS (SELECT band, bk FROM bands0 GROUP BY band, bk HAVING COUNT(*) <= {MH_MAX_BUCKET}),
bands AS (SELECT bands0.* FROM bands0 JOIN kept USING (band, bk)),
cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM bands a JOIN bands b ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id)
SELECT id_a, id_b, round(({eqs}) / {nh}.0, 6) AS est_jaccard
FROM cand JOIN sigs a ON a.doc_id = id_a JOIN sigs b ON b.doc_id = id_b
{"ORDER BY id_a, id_b" if ordered else ""}
"""


@register(
    "dedup_minhash_lsh",
    oracle=_minhash_oracle(),
    tags=("pipeline", "dedup", "bench"),
    doc="Near-dup detection: shingle→MinHash→band→bucket-join LSH "
    f"({MH_NUM_HASHES} hashes, {MH_SHINGLE_K}-shingles, {MH_BAND_ROWS}-row bands, "
    f"buckets > {MH_MAX_BUCKET} ids dropped) + estimated Jaccard. Candidate "
    "pairs come only from capped band buckets — no cross join and no "
    "quadratic boilerplate bucket at any scale.",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(
        docs, "doc_id", "text", MH_NUM_HASHES, MH_SHINGLE_K, MH_BAND_ROWS, MH_MAX_BUCKET
    ).withColumnsRenamed({"doc_id": "doc_id"}).orderBy("id_a", "id_b")


PARA_BLOCK = 16  # tokens per synthetic paragraph (the corpus has no line breaks)


def _paragraph_bands_cte(src: str = "documents", lead: str = "WITH ") -> str:
    """Shared WITH-prefix of the paragraph-granularity oracles: paragraph
    windows → per-paragraph shingles → MinHash sigs → banded bucket keys
    (bands0: doc_id, pid, band, bk) plus the per-doc paragraph counts
    (npar). The audit (dedup_paragraph_minhash), the survivor rewrite
    (pipeline_refinedweb_clean), and the composed curation flagship
    (pipeline_refinedweb_corpus, ``src='admitted'``/``lead=','``) append
    different tails to the SAME prefix, so the oracles can never drift on
    the banding machinery."""
    nh, k, rows = MH_NUM_HASHES, MH_SHINGLE_K, MH_BAND_ROWS
    bands = nh // rows
    hcols = ", ".join(
        f"MIN(substr(md5('{s // 4}|' || sh), {1 + (s % 4) * 8}, 8)) AS h{s}"
        for s in range(nh)
    )
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, pid, {b} AS band, md5({key}) AS bk FROM sigs".format(
            b=b, key=" || '|' || ".join(f"h{b * rows + j}" for j in range(rows))
        )
        for b in range(bands)
    )
    return f"""
{lead}toks AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM {src}),
paras AS (
  SELECT doc_id, pid,
         array_to_string(w[pid*{PARA_BLOCK}+1:pid*{PARA_BLOCK}+{PARA_BLOCK}], ' ') AS ptext
  FROM (SELECT doc_id, w,
               unnest(generate_series(0,
                 GREATEST(CAST(ceil(len(w) / {PARA_BLOCK}.0) AS INT) - 1, 0))) AS pid
        FROM toks)
),
pshingles AS (
  SELECT doc_id, pid,
         unnest(list_transform(generate_series(0, len(pw)-{k}),
                               g -> array_to_string(pw[g+1:g+{k}], ' '))) AS sh
  FROM (SELECT doc_id, pid, string_split(ptext, ' ') AS pw FROM paras)
  WHERE len(pw) >= {k}
),
sigs AS (SELECT doc_id, pid, {hcols} FROM pshingles GROUP BY doc_id, pid),
bands0 AS ({band_selects}),
npar AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_paragraphs FROM paras GROUP BY doc_id)"""


def _paragraph_dedup_oracle() -> str:
    return f"""{_paragraph_bands_cte()},
dup AS (SELECT band, bk FROM bands0 GROUP BY band, bk
        HAVING COUNT(*) <= {MH_MAX_BUCKET} AND COUNT(DISTINCT doc_id) >= 2),
dupp AS (SELECT DISTINCT doc_id, pid FROM bands0 JOIN dup USING (band, bk))
SELECT n.doc_id, n.n_paragraphs,
       CAST(COALESCE(d.nd, 0) AS BIGINT) AS n_dup_paragraphs,
       round(CAST(COALESCE(d.nd, 0) AS DOUBLE) / n.n_paragraphs, 6) AS dup_frac
FROM npar n
LEFT JOIN (SELECT doc_id, COUNT(*) AS nd FROM dupp GROUP BY doc_id) d USING (doc_id)
ORDER BY n.doc_id
"""


def _rewrite_tail(where: str = "") -> str:
    """Survivor-rewrite tail over the paragraph-bands prefix: duplicated
    buckets carrying their MIN-doc keeper, cross-doc drops, pid-ordered
    reassembly. Shared verbatim by the standalone rewrite and the composed
    curation flagship (which appends a minimum-content WHERE)."""
    return f""",
dup AS (SELECT band, bk, MIN(doc_id) AS keep_did FROM bands0 GROUP BY band, bk
        HAVING COUNT(*) <= {MH_MAX_BUCKET} AND COUNT(DISTINCT doc_id) >= 2),
drops AS (SELECT DISTINCT b.doc_id, b.pid
          FROM bands0 b JOIN dup d USING (band, bk) WHERE b.doc_id <> d.keep_did),
kept AS (SELECT p.doc_id, p.pid, p.ptext
         FROM paras p LEFT JOIN drops d ON d.doc_id = p.doc_id AND d.pid = p.pid
         WHERE d.pid IS NULL),
reasm AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
                 string_agg(ptext, ' ' ORDER BY pid) AS clean_text
          FROM kept GROUP BY doc_id)
SELECT n.doc_id, n.n_paragraphs,
       CAST(COALESCE(r.n_kept, 0) AS BIGINT) AS n_kept,
       COALESCE(r.clean_text, '') AS clean_text
FROM npar n LEFT JOIN reasm r USING (doc_id)
{where}
ORDER BY n.doc_id
"""


def _refinedweb_clean_oracle() -> str:
    return _paragraph_bands_cte() + _rewrite_tail()


@register(
    "dedup_paragraph_minhash",
    oracle=_paragraph_dedup_oracle(),
    tags=("pipeline", "dedup", "bench"),
    doc="Paragraph-granularity near-dedup audit (pipeline/dedup.py "
    "paragraph_dedup_report) — the RefinedWeb/CCNet production shape below "
    f"document level: {PARA_BLOCK}-token paragraph windows, each MinHash-"
    f"banded ({MH_NUM_HASHES} hashes, {MH_BAND_ROWS}-row bands), a paragraph "
    "flagged when any of its capped band buckets also holds a paragraph of "
    "a DIFFERENT doc; per-doc duplicated-paragraph fraction. NO pair "
    "generation and NO self-join at any granularity: duplicated buckets "
    "come from one (band, bk)-keyed aggregate, marking is an equi join — "
    "everything stays linear in the corpus.",
)
def dedup_paragraph_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.pipeline.dedup import paragraph_dedup_report

    docs = table(spark, sf_dir, "documents")
    return paragraph_dedup_report(
        docs,
        "doc_id",
        "text",
        block=PARA_BLOCK,
        num_hashes=MH_NUM_HASHES,
        shingle_k=MH_SHINGLE_K,
        band_rows=MH_BAND_ROWS,
        max_bucket=MH_MAX_BUCKET,
    ).orderBy("doc_id")


@register(
    "pipeline_refinedweb_clean",
    oracle=_refinedweb_clean_oracle(),
    tags=("pipeline", "dedup", "bench"),
    doc="Paragraph-granularity near-dedup REWRITE (pipeline/dedup.py "
    "paragraph_dedup_rewrite) — the other half of the RefinedWeb/CCNet "
    "recipe: dedup_paragraph_minhash AUDITS duplicated paragraphs, this "
    "REMOVES them and reassembles clean documents. Survivor rule is "
    "deterministic and order-free (per duplicated capped band bucket the "
    "MIN doc id keeps its paragraph; cross-doc members of other docs are "
    "dropped), mirrored verbatim in the oracle via the SHARED paragraph-"
    "bands CTE prefix. Same linear topology as the audit: banded buckets "
    "from ONE (band, bk) aggregate (now also carrying min doc), drops via "
    "equi join, reassembly one per-doc sort-agg — NO pair generation, NO "
    "self-join.",
)
def pipeline_refinedweb_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.pipeline.dedup import paragraph_dedup_rewrite

    docs = table(spark, sf_dir, "documents")
    return paragraph_dedup_rewrite(
        docs,
        "doc_id",
        "text",
        block=PARA_BLOCK,
        num_hashes=MH_NUM_HASHES,
        shingle_k=MH_SHINGLE_K,
        band_rows=MH_BAND_ROWS,
        max_bucket=MH_MAX_BUCKET,
    ).orderBy("doc_id")


def _keepfirst_cte_body(src: str = "documents") -> str:
    """Doc-level keep-first CTE chain (d-prefixed names so it composes with
    the paragraph CTEs without collision): dtoks → dshingles → dsigs →
    dbands0 → dstats → ddupc (per-doc count of capped buckets already owned
    by a lower id). Shared by the standalone admission oracle and the
    composed curation flagships; ``src`` swaps the input relation (e.g. the
    URL-kept subset in pipeline_refinedweb_url)."""
    nh, k, rows = MH_NUM_HASHES, MH_SHINGLE_K, MH_BAND_ROWS
    bands = nh // rows
    hcols = ", ".join(
        f"MIN(substr(md5('{s // 4}|' || sh), {1 + (s % 4) * 8}, 8)) AS h{s}"
        for s in range(nh)
    )
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, md5({key}) AS bk FROM dsigs".format(
            b=b, key=" || '|' || ".join(f"h{b * rows + j}" for j in range(rows))
        )
        for b in range(bands)
    )
    return f"""dtoks AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM {src}),
dshingles AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(0, len(w)-{k}),
                               g -> array_to_string(w[g+1:g+{k}], ' '))) AS sh
  FROM dtoks WHERE len(w) >= {k}
),
dsigs AS (SELECT doc_id, {hcols} FROM dshingles GROUP BY doc_id),
dbands0 AS ({band_selects}),
dstats AS (SELECT band, bk, COUNT(*) AS sz, MIN(doc_id) AS keep_did
           FROM dbands0 GROUP BY band, bk),
ddupc AS (SELECT b.doc_id, COUNT(*) AS n_dup_buckets
          FROM dbands0 b JOIN dstats s USING (band, bk)
          WHERE s.sz <= {MH_MAX_BUCKET} AND s.keep_did < b.doc_id
          GROUP BY b.doc_id)"""


def _neardedup_keepfirst_oracle() -> str:
    return f"""
WITH {_keepfirst_cte_body()}
SELECT d.doc_id,
       CAST(COALESCE(c.n_dup_buckets, 0) AS BIGINT) AS n_dup_buckets,
       COALESCE(c.n_dup_buckets, 0) = 0 AS admitted
FROM documents d LEFT JOIN ddupc c USING (doc_id)
ORDER BY d.doc_id
"""


# ONE constant shared by the batch admission operator (dedup_keepfirst_admit)
# and its streaming twin (stream_neardedup_keepfirst, queries/streamingq.py)
# — same pattern as RETENTION/FUNNEL/ZIPF/SOURCE_MIX/PACK_EFFICIENCY_ORACLE,
# so operator and twin can never drift.
NEARDEDUP_KEEPFIRST_ORACLE = _neardedup_keepfirst_oracle()


@register(
    "dedup_keepfirst_admit",
    oracle=NEARDEDUP_KEEPFIRST_ORACLE,
    tags=("pipeline", "dedup"),
    doc="Document-level near-dedup ADMISSION (pipeline/dedup.py "
    "neardedup_keep_first): streaming keep-first semantics made order-free "
    "— a doc is admitted iff it is the MIN id in every capped band bucket "
    "it occupies (first-wins under the deterministic min-id tiebreak; "
    "reference analog StreamExecDeduplicate keep-first composed with the "
    "banded MinHash machinery). ONE (band, bk)-keyed aggregate for the "
    "bucket state, one equi join, one per-doc count — no pair generation, "
    "no self-join.",
)
def dedup_keepfirst_admit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.pipeline.dedup import neardedup_keep_first

    docs = table(spark, sf_dir, "documents")
    return neardedup_keep_first(
        docs, "doc_id", "text", MH_NUM_HASHES, MH_SHINGLE_K, MH_BAND_ROWS, MH_MAX_BUCKET
    ).orderBy("doc_id")


RW_MIN_KEPT = 2  # curation floor: drop docs left with < 2 surviving paragraphs


def _refinedweb_corpus_oracle() -> str:
    return (
        f"\nWITH {_keepfirst_cte_body()},\n"
        "admitted AS (SELECT d.doc_id, d.text FROM documents d\n"
        "             LEFT JOIN ddupc c USING (doc_id)\n"
        "             WHERE COALESCE(c.n_dup_buckets, 0) = 0),"
        + _paragraph_bands_cte(src="admitted", lead="")
        + _rewrite_tail(where=f"WHERE COALESCE(r.n_kept, 0) >= {RW_MIN_KEPT}")
    )


@register(
    "pipeline_refinedweb_corpus",
    oracle=_refinedweb_corpus_oracle(),
    tags=("pipeline", "dedup", "bench"),
    doc="Composed RefinedWeb-style curation FLAGSHIP — the full two-level "
    "production recipe in one plan: (1) doc-level keep-first near-dedup "
    "admission (drop whole near-dup documents, MIN-id keeper), (2) "
    "paragraph-survivor rewrite on the ADMITTED set only (cross-doc "
    "boilerplate paragraphs removed, text reassembled), (3) a minimum-"
    f"content floor (≥ {RW_MIN_KEPT} surviving paragraphs). The oracle "
    "composes the SAME shared CTE constants (_keepfirst_cte_body + "
    "_paragraph_bands_cte + _rewrite_tail) so flagship and building blocks "
    "can never drift. Scale: two linear banded-MinHash passes (doc-level "
    "then paragraph-level over the survivors), one doc_id-keyed semi join "
    "between them, no pair generation or self-join anywhere.",
)
def pipeline_refinedweb_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.pipeline.dedup import (
        neardedup_keep_first,
        paragraph_dedup_rewrite,
    )

    docs = table(spark, sf_dir, "documents")
    adm = neardedup_keep_first(
        docs, "doc_id", "text", MH_NUM_HASHES, MH_SHINGLE_K, MH_BAND_ROWS, MH_MAX_BUCKET
    )
    # Scoped persist (MEMORY_AND_DISK, spill-safe): the rewrite references
    # its input three times (signatures, kept paragraphs, paragraph counts)
    # and would re-run the admission semi join for each — the stage barrier
    # a production pipeline realizes by writing the admitted set to storage
    # between the two passes. The rewrite checkpoints its output, so the
    # cache can be released before returning.
    survivors = docs.join(
        adm.filter(F.col("admitted")).select("doc_id"), "doc_id", "left_semi"
    )
    with cached(survivors):
        cleaned = paragraph_dedup_rewrite(
            survivors,
            "doc_id",
            "text",
            block=PARA_BLOCK,
            num_hashes=MH_NUM_HASHES,
            shingle_k=MH_SHINGLE_K,
            band_rows=MH_BAND_ROWS,
            max_bucket=MH_MAX_BUCKET,
        )
    return cleaned.filter(F.col("n_kept") >= RW_MIN_KEPT).orderBy("doc_id")


@register(
    "dedup_exact_hash",
    oracle="""
SELECT content_hash, canonical_id, n_copies FROM (
  SELECT md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS content_hash,
         MIN(doc_id) AS canonical_id, COUNT(*) AS n_copies
  FROM documents GROUP BY 1
) ORDER BY canonical_id
""",
    tags=("pipeline", "dedup"),
    doc="Exact dedup: hash-groupBy on normalized text, lowest id canonical. "
    "One two-phase hash aggregation.",
)
def dedup_exact_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(table(spark, sf_dir, "documents"), "doc_id", "text").orderBy(
        "canonical_id"
    )


def _simhash_oracle() -> str:
    digit = (
        lambda p: f"(position(substr(md5(tok), {p + 1}, 1) IN '0123456789abcdef') - 1)"
    )
    votes = ", ".join(
        f"SUM(2 * (CAST(floor({digit(s // 4)} / {2 ** (s % 4)}) AS INTEGER) % 2) - 1) AS v{s}"
        for s in range(64)
    )
    bits = " || ".join(f"(CASE WHEN v{s} >= 0 THEN '1' ELSE '0' END)" for s in range(64))
    return f"""
WITH toks AS (
  SELECT DISTINCT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents
),
votes AS (SELECT doc_id, {votes} FROM toks GROUP BY doc_id)
SELECT doc_id, {bits} AS simhash FROM votes ORDER BY doc_id
"""


@register(
    "dedup_simhash",
    oracle=_simhash_oracle(),
    tags=("pipeline", "dedup"),
    doc="64-bit SimHash signatures from md5-digit bit votes over distinct tokens, "
    "emitted as a portable bitstring; near-dups = small Hamming distance "
    "(pair scan tested in tests/test_pipeline.py).",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_signatures(table(spark, sf_dir, "documents"), "doc_id", "text").orderBy(
        "doc_id"
    )


def _ngram_base_cte() -> str:
    """Shared WITH-body of the exact lang-blocked n-gram machinery
    (toks/grams0/freq/grams/sizes/inter) — one definition feeds the
    Jaccard oracle, the containment oracle, and (nested) the
    family-agreement audit."""
    return f"""toks AS (SELECT doc_id, lang, string_split(lower(text), ' ') AS w FROM documents),
grams0 AS (
  SELECT DISTINCT doc_id, lang,
         unnest(list_transform(generate_series(0, len(w)-{NJ_SHINGLE_K}),
                               g -> array_to_string(w[g+1:g+{NJ_SHINGLE_K}], ' '))) AS sh
  FROM toks WHERE len(w) >= {NJ_SHINGLE_K}
),
freq AS (SELECT lang, sh, COUNT(*) AS c FROM grams0 GROUP BY 1, 2),
grams AS (SELECT g.doc_id, g.lang, g.sh FROM grams0 g
          JOIN freq f ON f.lang = g.lang AND f.sh = g.sh WHERE f.c <= {NJ_MAX_DF}),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
  FROM grams a JOIN grams b ON a.sh = b.sh AND a.lang = b.lang AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)"""


def _ngram_jaccard_oracle() -> str:
    """Exact lang-blocked n-gram Jaccard pairs — shared by
    dedup_ngram_jaccard and the family-agreement audit."""
    return f"""
WITH {_ngram_base_cte()}
SELECT id_a, id_b, round(i / (sa.n + sb.n - i), 6) AS jaccard
FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
WHERE i / (sa.n + sb.n - i) > {NJ_THRESHOLD}
ORDER BY id_a, id_b
"""


@register(
    "dedup_ngram_jaccard",
    oracle=_ngram_jaccard_oracle(),
    tags=("pipeline", "dedup"),
    doc=f"Exact {NJ_SHINGLE_K}-gram Jaccard pairs above {NJ_THRESHOLD}, blocked by "
    "lang (at scale the block is an LSH band; this is the verify stage). "
    f"Shingles in more than {NJ_MAX_DF} docs of a block are dropped from the "
    "shingle space before pairing (hot-shingle skew guard, mirrored in the "
    "oracle).",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(
        docs, "doc_id", "text", "lang", NJ_SHINGLE_K, NJ_THRESHOLD, NJ_MAX_DF
    ).orderBy("id_a", "id_b")


CONTAIN_NUM, CONTAIN_DEN = 4, 5  # keep when either containment >= 4/5


def _ngram_containment_oracle() -> str:
    """Containment-pair oracle over the shared n-gram CTE body — reused by
    the family-agreement audit as its fourth detector."""
    return f"""
WITH {_ngram_base_cte()}
SELECT id_a, id_b,
       round(i / CAST(sa.n AS DOUBLE), 6) AS c_ab,
       round(i / CAST(sb.n AS DOUBLE), 6) AS c_ba,
       round(i / CAST(sa.n + sb.n - i AS DOUBLE), 6) AS jaccard
FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
WHERE {CONTAIN_DEN} * i >= {CONTAIN_NUM} * sa.n
   OR {CONTAIN_DEN} * i >= {CONTAIN_NUM} * sb.n
ORDER BY id_a, id_b
"""


@register(
    "dedup_ngram_containment",
    oracle=_ngram_containment_oracle(),
    tags=("pipeline", "dedup"),
    doc=f"Asymmetric n-gram CONTAINMENT pairs (pipeline/dedup.py "
    "ngram_containment_pairs; Broder 1997 separates resemblance from "
    "containment) — the quotation/superset duplication class Jaccard "
    "misses: C(A->B) = |A∩B|/|A| is high when a small doc is mostly "
    "quoted inside a much larger one even though |A∩B|/|A∪B| stays low, "
    "so such pairs survive NearDup-style filters (Lee et al. 2022). Same "
    f"lang-blocked distinct {NJ_SHINGLE_K}-gram space, hot-shingle df cap "
    "and block-bounded intersect join as dedup_ngram_jaccard (one shared "
    f"oracle CTE body); keep when either direction reaches "
    f"{CONTAIN_NUM}/{CONTAIN_DEN}, tested in EXACT integer "
    "cross-multiplication so both engines make identical keep decisions. "
    "Output (id_a, id_b, c_ab, c_ba, jaccard) — c high with jaccard low "
    "marks drop-the-contained-doc candidates.",
)
def dedup_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.pipeline.dedup import ngram_containment_pairs

    docs = table(spark, sf_dir, "documents")
    return ngram_containment_pairs(
        docs, "doc_id", "text", "lang", NJ_SHINGLE_K, CONTAIN_NUM, CONTAIN_DEN,
        NJ_MAX_DF,
    ).orderBy("id_a", "id_b")


# ONE constant shared by the batch prune ledger (dedup_containment_prune)
# and its streaming twin (stream_containment_prune, queries/streamingq.py):
# the distinct gram set is a pure function of the corpus, so the twin's
# snapshot ledger equals the batch ledger exactly.
CONTAINMENT_PRUNE_ORACLE = f"""
WITH {{body}},
pr AS (SELECT id_a, id_b, i, sa.n AS na, sb.n AS nb
       FROM inter JOIN sizes sa ON sa.doc_id = id_a
                  JOIN sizes sb ON sb.doc_id = id_b),
dropped AS (
  SELECT DISTINCT did FROM (
    SELECT CASE WHEN {CONTAIN_DEN} * i >= {CONTAIN_NUM} * na AND na < nb
                THEN id_a END AS did FROM pr
    UNION ALL
    SELECT CASE WHEN ({CONTAIN_DEN} * i >= {CONTAIN_NUM} * nb AND nb < na)
                  OR (na = nb AND i = na)
                THEN id_b END FROM pr)
  WHERE did IS NOT NULL),
psrc AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents GROUP BY source),
pdrop AS (SELECT s.source, CAST(COUNT(*) AS BIGINT) AS n_dropped,
                 CAST(SUM(dr.did) AS BIGINT) AS dropped_id_sum
          FROM dropped dr JOIN documents s ON s.doc_id = dr.did GROUP BY s.source)
SELECT psrc.source, psrc.n_docs,
       CAST(COALESCE(pdrop.n_dropped, 0) AS BIGINT) AS n_dropped,
       round(COALESCE(pdrop.n_dropped, 0) / CAST(psrc.n_docs AS DOUBLE), 6) AS drop_rate,
       CAST(COALESCE(pdrop.dropped_id_sum, 0) AS BIGINT) AS dropped_id_sum
FROM psrc LEFT JOIN pdrop USING (source) ORDER BY psrc.source
""".replace("{body}", "%s") % _ngram_base_cte()


@register(
    "dedup_containment_prune",
    oracle=CONTAINMENT_PRUNE_ORACLE,
    tags=("pipeline", "dedup", "composed"),
    doc="KEEP-SUPERSET pruning policy over the containment detector "
    "(pipeline/dedup.py containment_prune_report) — the curation stage "
    "dedup_ngram_containment exists for: a doc 4/5-contained in another "
    "doc with a STRICTLY larger shingle set is dropped (the quote loses "
    "to the document that quotes it); mutually-contained docs with equal "
    "shingle sets keep the MIN id. Pairwise-greedy one-pass policy "
    "(documented; a fixpoint would need iteration for no curation "
    "benefit). Per-source ledger (n_docs, n_dropped, drop_rate, "
    "dropped_id_sum) — the exact id-sum checksum pins WHICH docs were "
    "dropped, not just how many. Same block-bounded df-capped join "
    "topology as the detector; oracle shares the same CTE body, drop "
    "decisions in exact integer cross-multiplication.",
)
def dedup_containment_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.pipeline.dedup import containment_prune_report

    docs = table(spark, sf_dir, "documents")
    return containment_prune_report(
        docs, "doc_id", "text", "lang", "source", NJ_SHINGLE_K, CONTAIN_NUM,
        CONTAIN_DEN, NJ_MAX_DF,
    ).orderBy("source")


def _fingerprint_oracle() -> str:
    mins = ", ".join(
        f"MIN(substr(md5('{s}|' || g), 1, 16)) AS m{s}" for s in range(FP_NUM_MINS)
    )
    cat = " || '|' || ".join(f"m{s}" for s in range(FP_NUM_MINS))
    return f"""
WITH normed AS (
  SELECT doc_id, lower(regexp_replace(text, '\\s+', ' ', 'g')) AS norm FROM documents
),
grams AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, greatest(length(norm)-{FP_GRAM_CHARS - 1}, 1)),
                               i -> substr(norm, i, {FP_GRAM_CHARS}))) AS g
  FROM normed
),
mins AS (SELECT doc_id, {mins} FROM grams GROUP BY doc_id)
SELECT doc_id, {cat} AS fingerprint FROM mins ORDER BY doc_id
"""


@register(
    "doc_fingerprint",
    oracle=_fingerprint_oracle(),
    tags=("pipeline", "text"),
    doc=f"Winnowing-style fingerprint: min-{FP_NUM_MINS} hashed char "
    f"{FP_GRAM_CHARS}-grams of normalized text.",
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return winnow_fingerprint(
        table(spark, sf_dir, "documents"), "doc_id", "text", FP_GRAM_CHARS, FP_NUM_MINS
    ).orderBy("doc_id")


@register(
    "embedding_cosine_topk",
    oracle=f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
q AS (SELECT * FROM e WHERE vec_id < {ANN_QUERY_MAX})
SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
       round(list_cosine_similarity(q.v, e.v), 6) AS cosine
FROM q JOIN e ON e.vec_id <> q.vec_id
QUALIFY row_number() OVER (PARTITION BY q.vec_id
                           ORDER BY round(list_cosine_similarity(q.v, e.v), 6) DESC, e.vec_id) <= {ANN_K}
ORDER BY query_id, cosine DESC, neighbor_id
""",
    tags=("pipeline", "similarity", "bench"),
    doc=f"Brute-force cosine top-{ANN_K} for {ANN_QUERY_MAX} query vectors: "
    "broadcast queries × one corpus scan, JVM fold dot products, rounded-cosine "
    "ranking for cross-engine determinism. The IVF scale path is knn_ivf_topk.",
)
def embedding_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < ANN_QUERY_MAX)
    return cosine_topk(emb, q, "vec_id", "embedding", ANN_K).orderBy(
        "query_id", F.desc("cosine"), "neighbor_id"
    )


def _langid_cte(key: str) -> str:
    """Shared marker-lexicon language-ID CTE chain (toks/hits/lpred with the
    argmax CASE), keyed by ``key`` — doc_id for the per-document report,
    lang for the confusion matrix. ONE definition of the lexicon + argmax
    spec feeds every langid oracle, so report and matrix can never drift."""
    langs = sorted(LANG_MARKERS)
    hits = {
        lg: f"len(list_intersect(w, {LANG_MARKERS[lg]!r}))".replace("'", "'")
        for lg in langs
    }
    hit_cols = ", ".join(f"{hits[lg]} AS hits_{lg}" for lg in langs)
    best = "greatest(" + ", ".join(f"hits_{lg}" for lg in langs) + ")"
    pred = "CASE WHEN " + best + " <= 0 THEN 'unknown' " + " ".join(
        f"WHEN hits_{lg} = {best} THEN '{lg}'" for lg in langs
    ) + " END"
    return f"""toks AS (SELECT {key}, string_split(lower(text), ' ') AS w FROM documents),
hits AS (SELECT {key}, {hit_cols} FROM toks),
lpred AS (SELECT {key}, hits_de, hits_en, hits_es, hits_fr, {pred} AS predicted_lang FROM hits)"""


def _langid_oracle() -> str:
    return f"""
WITH {_langid_cte("doc_id")}
SELECT doc_id, hits_de, hits_en, hits_es, hits_fr, predicted_lang
FROM lpred ORDER BY doc_id
"""


@register(
    "text_language_id",
    oracle=_langid_oracle(),
    tags=("pipeline", "text"),
    doc="Marker-lexicon language ID (n-gram-heuristic family): distinct stopword "
    "hits per language, deterministic argmax.",
)
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return language_id(table(spark, sf_dir, "documents"), "doc_id", "text").orderBy("doc_id")


# ONE constant shared by the batch confusion matrix (text_langid_confusion)
# and its streaming twin (stream_langid_confusion, queries/streamingq.py):
# the matrix is a pure function of per-(lang, predicted) counts, so the
# continuously-maintained twin matches it exactly.
LANGID_CONFUSION_ORACLE = f"""
WITH {_langid_cte("lang")},
cm AS (SELECT lang, predicted_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
       FROM lpred GROUP BY 1, 2)
SELECT lang, predicted_lang, n_docs,
       round(n_docs / CAST(SUM(n_docs) OVER (PARTITION BY lang) AS DOUBLE), 6)
         AS lang_frac
FROM cm ORDER BY lang, predicted_lang
"""


@register(
    "text_langid_confusion",
    oracle=LANGID_CONFUSION_ORACLE,
    tags=("pipeline", "text"),
    doc="Language-ID CONFUSION MATRIX vs the corpus ground-truth lang column "
    "— the accuracy audit a curation team runs before trusting the "
    "classifier's routing (CCNet routes documents to per-language LMs, so "
    "a confusable pair silently contaminates a monolingual corpus): per "
    "(true lang, predicted lang) cell, the document count and the "
    "row-normalized fraction (the per-language recall diagonal). The "
    "classifier is the SAME row-local marker-argmax as text_language_id "
    "(pipeline/text.py language_id keyed by lang instead of doc_id — no "
    "join needed), collapsed to a |langs| x (|langs|+1) histogram; the "
    "row-normalizing window runs over that histogram, never the corpus. "
    "Oracle shares the langid CTE with the per-doc report.",
)
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = table(spark, sf_dir, "documents")
    pred = language_id(docs.select("lang", "text"), "lang", "text")
    cm = pred.groupBy("lang", "predicted_lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    return cm.select(
        "lang",
        "predicted_lang",
        "n_docs",
        F.round(
            F.col("n_docs")
            / F.sum("n_docs").over(W.partitionBy("lang")).cast("double"),
            6,
        ).alias("lang_frac"),
    ).orderBy("lang", "predicted_lang")


_EN = LANG_MARKERS["en"]


# shared with the streaming twin (stream_text_quality) — identical semantics
TEXT_QUALITY_ORACLE = f"""
WITH t AS (
  SELECT doc_id, text, string_split(lower(text), ' ') AS w,
         length(text) AS n_chars, len(string_split(lower(text), ' ')) AS n_words,
         len(regexp_extract_all(text, '[^a-zA-Z0-9 \\t\\n]')) AS punct,
         len(list_intersect(w, {_EN!r})) AS stop
  FROM documents
)
SELECT doc_id, n_chars, n_words,
       round((n_chars - n_words + 1) / n_words, 6) AS mean_word_len,
       round(punct / n_chars, 6) AS punct_ratio,
       round(stop / n_words, 6) AS stopword_ratio,
       round(least(n_words / 50.0, 1.0) * 0.4
             + (1 - least(round(punct / n_chars, 6) * 5, 1.0)) * 0.3
             + least(round(stop / n_words, 6) * 10, 1.0) * 0.3, 6) AS quality
FROM t ORDER BY doc_id
"""


@register(
    "text_quality_score",
    oracle=TEXT_QUALITY_ORACLE,
    tags=("pipeline", "text", "bench"),
    doc="Heuristic quality scoring (C4/Gopher-rule shape): length, punctuation "
    "ratio, stopword ratio, mean word length → [0,1] score.",
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_score(table(spark, sf_dir, "documents"), "doc_id", "text").orderBy("doc_id")


def _gopher_oracle() -> str:
    from flink_1_12_0_src_spark.pipeline.text import (
        GOPHER_MAX_MEAN_WLEN,
        GOPHER_MAX_SYMBOL_RATIO,
        GOPHER_MAX_WORDS,
        GOPHER_MIN_ALPHA_RATIO,
        GOPHER_MIN_MEAN_WLEN,
        GOPHER_MIN_STOPWORD_HITS,
        GOPHER_MIN_WORDS,
        GOPHER_STOPWORDS,
    )

    stop_list = ", ".join(f"'{s}'" for s in GOPHER_STOPWORDS)
    return f"""
WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
m AS (
  SELECT doc_id,
         CAST(len(w) AS BIGINT) AS n_words,
         round(list_aggregate(list_transform(w, x -> len(x)), 'sum') / len(w), 6) AS mean_word_len,
         round(len(list_filter(w, x -> contains(x, '#') OR contains(x, '...'))) / len(w), 6) AS symbol_ratio,
         round(len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) / len(w), 6) AS alpha_ratio,
         CAST(len(list_filter(w, x -> x IN ({stop_list}))) AS BIGINT) AS stopword_hits
  FROM t)
SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_ratio, stopword_hits,
       n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS} AS word_count_ok,
       mean_word_len BETWEEN {GOPHER_MIN_MEAN_WLEN} AND {GOPHER_MAX_MEAN_WLEN} AS mean_word_len_ok,
       symbol_ratio <= {GOPHER_MAX_SYMBOL_RATIO} AS symbol_ratio_ok,
       alpha_ratio >= {GOPHER_MIN_ALPHA_RATIO} AS alpha_ratio_ok,
       stopword_hits >= {GOPHER_MIN_STOPWORD_HITS} AS stopword_ok,
       (n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS})
         AND (mean_word_len BETWEEN {GOPHER_MIN_MEAN_WLEN} AND {GOPHER_MAX_MEAN_WLEN})
         AND symbol_ratio <= {GOPHER_MAX_SYMBOL_RATIO}
         AND alpha_ratio >= {GOPHER_MIN_ALPHA_RATIO}
         AND stopword_hits >= {GOPHER_MIN_STOPWORD_HITS} AS gopher_pass
FROM m ORDER BY doc_id
"""


@register(
    "text_gopher_rules",
    oracle=_gopher_oracle(),
    tags=("pipeline", "text", "bench"),
    doc="Gopher quality rules (Rae et al. 2021 Appendix A; pipeline/text.py "
    "gopher_rules): the published rule set — word-count bounds, "
    "mean-word-length bounds, symbol-to-word ratio, alphabetic-word "
    "fraction, ≥2 stop words — each rule its own boolean plus the "
    "conjunction, so mixing recipes can ablate rules individually. Pure "
    "per-row array expressions, zero shuffle at any corpus size (the "
    "line-based bullet/ellipsis rules need line structure the corpus "
    "schema doesn't carry — documented out).",
)
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.pipeline.text import gopher_rules

    return gopher_rules(table(spark, sf_dir, "documents"), "doc_id", "text").orderBy("doc_id")


@register(
    "text_token_count",
    oracle=f"""
WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS w,
                  regexp_extract_all(text, '{BPE_ISH_RE}') AS bpe
           FROM documents)
SELECT doc_id, len(w) AS ws_tokens, len(bpe) AS bpe_tokens,
       len(list_distinct(w)) AS distinct_tokens,
       round(len(list_distinct(w)) / len(w), 6) AS distinct_ratio
FROM t ORDER BY doc_id
""",
    tags=("pipeline", "text"),
    doc="Token counting: whitespace tokens + BPE-ish pre-tokenizer regex + "
    "distinct-token ratio.",
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_stats(table(spark, sf_dir, "documents"), "doc_id", "text").orderBy("doc_id")


@register(
    "multimodal_features",
    oracle="""
SELECT doc_id,
       octet_length(encode(text)) AS n_bytes,
       CAST(ascii(substring(text, 1, 1)) AS INTEGER) AS first_byte,
       CAST(octet_length(encode(text)) % 7 AS INTEGER) AS bucket,
       'text/plain' AS mime
FROM documents ORDER BY doc_id
""",
    tags=("pipeline", "multimodal"),
    doc="Multimodal plumbing: binary blob column + metadata struct through a "
    "mapInPandas Arrow feature extractor (decode stubbed — no codecs in image; "
    "schema/batching/binary round-trip are real).",
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return extract_blob_features(attach_blob(docs, "doc_id", "text")).orderBy("doc_id")


# Shared CTE prefix for the two header-parse oracles: re-SYNTHESIZE the same
# container bytes the Spark fixture builds (PNG signature+IHDR / GIF89a LSD /
# BMP BITMAPFILEHEADER+INFOHEADER / JPEG SOI+segment-chain+SOFn from doc_id),
# then re-PARSE them from the hex rendering of a bounded 256-byte blob prefix
# (mirroring the parser's IMG_SCAN_BYTES discipline) — a genuine second
# implementation of both the byte layout and the fixed-offset/endianness
# decode, meeting at the bytes. The JPEG branch re-implements the
# marker-segment walk as a chain of eight absorbing-step CTEs (w1..w8), the
# SQL rendering of the unrolled data-dependent jump.


def _jpeg_walk_ctes(n: int) -> str:
    """w1..wN: each step sits on a SOF marker or a non-FF byte (absorbs), or
    hops over one length-prefixed segment. Linear CTE chain — each referenced
    exactly once, so DuckDB's CTE inlining cannot re-execute subtrees."""
    steps = ["w0 AS (SELECT doc_id, blob, hx, CAST(2 AS BIGINT) AS j0 FROM hx)"]
    for i in range(n):
        steps.append(
            f"""w{i + 1} AS (
  SELECT doc_id, blob, hx,
    CASE WHEN substring(hx, 2*j{i} + 1, 4) IN ('FFC0','FFC1','FFC2')
           OR substring(hx, 2*j{i} + 1, 2) <> 'FF' THEN j{i}
         ELSE j{i} + 2 + ('0x' || substring(hx, 2*j{i} + 5, 4))::BIGINT END AS j{i + 1}
  FROM w{i})"""
        )
    return ",\n".join(steps)


_MM_HEADER_PARSED_CTES = f"""
params AS (
  SELECT doc_id,
         16 + (doc_id * 37) % 2048 AS w,
         16 + (doc_id * 53) % 2048 AS h,
         doc_id % 5 AS fmtc,
         1 + (doc_id // 4) % 4 AS nseg,
         CASE WHEN doc_id % 3 = 1 THEN 'FFC2' ELSE 'FFC0' END AS sofmk,
         CASE WHEN doc_id % 9 < 3 THEN 1 ELSE 3 END AS ncomp,
         (doc_id // 5) % 3 AS wvar,
         doc_id % 2 AS walpha
  FROM documents),
be AS (
  SELECT doc_id, fmtc, nseg, sofmk, ncomp, wvar, walpha, w, h,
         lpad(to_hex(w), 8, '0') AS wbe,
         lpad(to_hex(h), 8, '0') AS hbe,
         lpad(to_hex((w*3 + 3 - (w*3 + 3) % 4) * h), 8, '0') AS ibe,
         lpad(to_hex((w*3 + 3 - (w*3 + 3) % 4) * h + 54), 8, '0') AS fbe,
         'FFE0' || lpad(to_hex(4 + (doc_id * 13) % 29), 4, '0')
                || repeat('4A', 2 + (doc_id * 13) % 29) AS s0,
         CASE WHEN 1 + (doc_id // 4) % 4 >= 2
              THEN 'FFE1' || lpad(to_hex(4 + (doc_id * 13 + 7) % 29), 4, '0')
                   || repeat('4A', 2 + (doc_id * 13 + 7) % 29) ELSE '' END AS s1,
         CASE WHEN 1 + (doc_id // 4) % 4 >= 3
              THEN 'FFFE' || lpad(to_hex(4 + (doc_id * 13 + 14) % 29), 4, '0')
                   || repeat('4A', 2 + (doc_id * 13 + 14) % 29) ELSE '' END AS s2,
         CASE WHEN 1 + (doc_id // 4) % 4 >= 4
              THEN 'FFED' || lpad(to_hex(4 + (doc_id * 13 + 21) % 29), 4, '0')
                   || repeat('4A', 2 + (doc_id * 13 + 21) % 29) ELSE '' END AS s3,
         lpad(to_hex(w), 4, '0') AS w2be,
         lpad(to_hex(h), 4, '0') AS h2be,
         lpad(to_hex((w - 1) + (h - 1) * 16384 + walpha * 268435456), 8, '0') AS wlpk,
         lpad(to_hex(w - 1), 6, '0') AS w3be,
         lpad(to_hex(h - 1), 6, '0') AS h3be,
         lpad(to_hex(16 * walpha), 2, '0') AS wflag
  FROM params),
blobs AS (
  SELECT doc_id, unhex(CASE
    WHEN fmtc = 0 THEN '89504E470D0A1A0A' || '0000000D' || '49484452'
         || wbe || hbe || '0806000000' || '5AA5C3D2'
    WHEN fmtc = 1 THEN '474946383961'
         || substring(wbe, 7, 2) || substring(wbe, 5, 2)
         || substring(hbe, 7, 2) || substring(hbe, 5, 2) || 'F70000'
    WHEN fmtc = 2 THEN '424D'
         || substring(fbe, 7, 2) || substring(fbe, 5, 2) || substring(fbe, 3, 2) || substring(fbe, 1, 2)
         || '00000000' || '36000000' || '28000000'
         || substring(wbe, 7, 2) || substring(wbe, 5, 2) || substring(wbe, 3, 2) || substring(wbe, 1, 2)
         || substring(hbe, 7, 2) || substring(hbe, 5, 2) || substring(hbe, 3, 2) || substring(hbe, 1, 2)
         || '0100' || '1800' || '00000000'
         || substring(ibe, 7, 2) || substring(ibe, 5, 2) || substring(ibe, 3, 2) || substring(ibe, 1, 2)
         || '130B0000' || '130B0000' || '00000000' || '00000000'
    WHEN fmtc = 3 THEN 'FFD8' || s0 || s1 || s2 || s3 || sofmk
         || lpad(to_hex(8 + 3 * ncomp), 4, '0') || '08'
         || substring(hbe, 5, 4) || substring(wbe, 5, 4)
         || lpad(to_hex(ncomp), 2, '0')
         || CASE WHEN ncomp = 1 THEN '011100' ELSE '011100021100031100' END
    ELSE '52494646'
         || CASE wvar WHEN 1 THEN '11000000' ELSE '16000000' END
         || '57454250'
         || CASE wvar
            WHEN 0 THEN '56503820' || '0A000000' || '300100' || '9D012A'
                 || substring(w2be, 3, 2) || substring(w2be, 1, 2)
                 || substring(h2be, 3, 2) || substring(h2be, 1, 2)
            WHEN 1 THEN '5650384C' || '05000000' || '2F'
                 || substring(wlpk, 7, 2) || substring(wlpk, 5, 2)
                 || substring(wlpk, 3, 2) || substring(wlpk, 1, 2)
            ELSE '56503858' || '0A000000' || wflag || '000000'
                 || substring(w3be, 5, 2) || substring(w3be, 3, 2) || substring(w3be, 1, 2)
                 || substring(h3be, 5, 2) || substring(h3be, 3, 2) || substring(h3be, 1, 2)
            END
  END) AS blob
  FROM be),
hx AS (SELECT doc_id, blob, substring(hex(blob), 1, 512) AS hx FROM blobs),
{_jpeg_walk_ctes(8)},
parsed AS (
  SELECT doc_id,
    CASE WHEN substring(hx, 1, 16) = '89504E470D0A1A0A' THEN 'png'
         WHEN substring(hx, 1, 12) = '474946383961' THEN 'gif'
         WHEN substring(hx, 1, 4) = '424D' THEN 'bmp'
         WHEN substring(hx, 1, 6) = 'FFD8FF' THEN 'jpeg'
         WHEN substring(hx, 1, 8) = '52494646'
              AND substring(hx, 17, 8) = '57454250' THEN 'webp'
         ELSE 'unknown' END AS fmt,
    CASE WHEN substring(hx, 1, 16) = '89504E470D0A1A0A'
           THEN ('0x' || substring(hx, 33, 8))::BIGINT
         WHEN substring(hx, 1, 12) = '474946383961'
           THEN ('0x' || substring(hx, 15, 2) || substring(hx, 13, 2))::BIGINT
         WHEN substring(hx, 1, 4) = '424D'
           THEN ('0x' || substring(hx, 43, 2) || substring(hx, 41, 2)
                 || substring(hx, 39, 2) || substring(hx, 37, 2))::BIGINT
         WHEN substring(hx, 1, 6) = 'FFD8FF'
              AND substring(hx, 2*j8 + 1, 4) IN ('FFC0','FFC1','FFC2')
           THEN ('0x' || substring(hx, 2*j8 + 15, 4))::BIGINT
         WHEN substring(hx, 1, 8) = '52494646' AND substring(hx, 17, 8) = '57454250'
           THEN CASE
             WHEN substring(hx, 25, 8) = '56503820' AND substring(hx, 47, 6) = '9D012A'
               THEN ('0x' || substring(hx, 55, 2) || substring(hx, 53, 2))::BIGINT & 16383
             WHEN substring(hx, 25, 8) = '5650384C' AND substring(hx, 41, 2) = '2F'
               THEN (('0x' || substring(hx, 49, 2) || substring(hx, 47, 2)
                      || substring(hx, 45, 2) || substring(hx, 43, 2))::BIGINT & 16383) + 1
             WHEN substring(hx, 25, 8) = '56503858'
               THEN ('0x' || substring(hx, 53, 2) || substring(hx, 51, 2)
                     || substring(hx, 49, 2))::BIGINT + 1
           END
    END AS width,
    CASE WHEN substring(hx, 1, 16) = '89504E470D0A1A0A'
           THEN ('0x' || substring(hx, 41, 8))::BIGINT
         WHEN substring(hx, 1, 12) = '474946383961'
           THEN ('0x' || substring(hx, 19, 2) || substring(hx, 17, 2))::BIGINT
         WHEN substring(hx, 1, 4) = '424D'
           THEN ('0x' || substring(hx, 51, 2) || substring(hx, 49, 2)
                 || substring(hx, 47, 2) || substring(hx, 45, 2))::BIGINT
         WHEN substring(hx, 1, 6) = 'FFD8FF'
              AND substring(hx, 2*j8 + 1, 4) IN ('FFC0','FFC1','FFC2')
           THEN ('0x' || substring(hx, 2*j8 + 11, 4))::BIGINT
         WHEN substring(hx, 1, 8) = '52494646' AND substring(hx, 17, 8) = '57454250'
           THEN CASE
             WHEN substring(hx, 25, 8) = '56503820' AND substring(hx, 47, 6) = '9D012A'
               THEN ('0x' || substring(hx, 59, 2) || substring(hx, 57, 2))::BIGINT & 16383
             WHEN substring(hx, 25, 8) = '5650384C' AND substring(hx, 41, 2) = '2F'
               THEN ((('0x' || substring(hx, 49, 2) || substring(hx, 47, 2)
                       || substring(hx, 45, 2) || substring(hx, 43, 2))::BIGINT >> 14)
                     & 16383) + 1
             WHEN substring(hx, 25, 8) = '56503858'
               THEN ('0x' || substring(hx, 59, 2) || substring(hx, 57, 2)
                     || substring(hx, 55, 2))::BIGINT + 1
           END
    END AS height,
    CASE WHEN substring(hx, 1, 16) = '89504E470D0A1A0A'
           THEN ('0x' || substring(hx, 49, 2))::BIGINT
                * (CASE ('0x' || substring(hx, 51, 2))::BIGINT
                   WHEN 2 THEN 3 WHEN 4 THEN 2 WHEN 6 THEN 4 ELSE 1 END)
         WHEN substring(hx, 1, 12) = '474946383961'
           THEN ('0x' || substring(hx, 21, 2))::BIGINT % 8 + 1
         WHEN substring(hx, 1, 4) = '424D'
           THEN ('0x' || substring(hx, 59, 2) || substring(hx, 57, 2))::BIGINT
         WHEN substring(hx, 1, 6) = 'FFD8FF'
              AND substring(hx, 2*j8 + 1, 4) IN ('FFC0','FFC1','FFC2')
           THEN ('0x' || substring(hx, 2*j8 + 9, 2))::BIGINT
                * ('0x' || substring(hx, 2*j8 + 19, 2))::BIGINT
         WHEN substring(hx, 1, 8) = '52494646' AND substring(hx, 17, 8) = '57454250'
           THEN CASE
             WHEN substring(hx, 25, 8) = '56503820' AND substring(hx, 47, 6) = '9D012A'
               THEN 24
             WHEN substring(hx, 25, 8) = '5650384C' AND substring(hx, 41, 2) = '2F'
               THEN 24 + 8 * ((('0x' || substring(hx, 49, 2) || substring(hx, 47, 2)
                                || substring(hx, 45, 2) || substring(hx, 43, 2))::BIGINT >> 28)
                              & 1)
             WHEN substring(hx, 25, 8) = '56503858'
               THEN 24 + 8 * ((('0x' || substring(hx, 41, 2))::BIGINT >> 4) & 1)
           END
    END AS bpp,
    CAST(octet_length(blob) AS BIGINT) AS n_bytes
  FROM w8)
"""


def _mm_parsed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.pipeline.multimodal import (
        parse_image_headers,
        synth_image_blobs,
    )

    docs = table(spark, sf_dir, "documents").select("doc_id")
    return parse_image_headers(synth_image_blobs(docs))


@register(
    "multimodal_header_parse",
    oracle=f"""
WITH {_MM_HEADER_PARSED_CTES}
SELECT doc_id, fmt, width, height, bpp, n_bytes,
       (width * 1000) // height AS aspect_milli,
       (width * height * bpp) // 8 AS pixel_bytes
FROM parsed ORDER BY doc_id
""",
    tags=("pipeline", "multimodal"),
    doc="Codec-free image metadata: sniff PNG/GIF/BMP magic bytes and parse "
    "width/height/bpp from the real header layouts (IHDR big-endian, GIF "
    "LSD + BMP INFOHEADER little-endian) with pure JVM binary built-ins "
    "over BinaryType — the triage pass a 100 TB crawl runs BEFORE paying "
    "any decode. pipeline/multimodal.py parse_image_headers.",
)
def multimodal_header_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    parsed = _mm_parsed(spark, sf_dir)
    return parsed.select(
        "doc_id",
        "fmt",
        "width",
        "height",
        "bpp",
        "n_bytes",
        F.expr("width * 1000 DIV nullif(height, 0)").alias("aspect_milli"),
        F.expr("width * height * bpp DIV 8").alias("pixel_bytes"),
    ).orderBy("doc_id")


# ONE constant shared by the batch audit and its streaming twin
# (stream_multimodal_audit, queries/streamingq.py): the maintained
# (fmt, mp_bucket) count/min/max/sum state is a pure function of the data,
# so the twin's snapshot report equals the batch row's.
MM_AUDIT_ORACLE = f"""
WITH {_MM_HEADER_PARSED_CTES}
SELECT fmt,
       (width * height) // 250000 AS mp_bucket,
       CAST(count(*) AS BIGINT) AS n_images,
       min(width) AS min_width, max(width) AS max_width,
       min(height) AS min_height, max(height) AS max_height,
       CAST(round(CAST(sum((width * 1000) // height) AS BIGINT) * 1000000.0
                  / count(*), 0) AS BIGINT) / 1000000.0 AS avg_aspect_milli,
       CAST(sum((width * height * bpp) // 8) AS BIGINT) AS total_pixel_bytes
FROM parsed
GROUP BY fmt, mp_bucket
ORDER BY fmt, mp_bucket NULLS LAST
"""


@register(
    "multimodal_resolution_audit",
    oracle=MM_AUDIT_ORACLE,
    tags=("pipeline", "multimodal"),
    doc="Resolution-histogram audit over parsed container headers: images "
    "per (format, quarter-megapixel bucket) with width/height ranges, mean "
    "aspect (milli-units, micro-rounded), and decoded-size accounting — the "
    "corpus-shape report that sizes a decode fleet. One grouped aggregate "
    "over the per-row header parse; ~3 formats x ~18 buckets of state.",
)
def multimodal_resolution_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.pipeline.multimodal import (
        resolution_audit_from_state,
        resolution_audit_state,
    )

    return resolution_audit_from_state(resolution_audit_state(_mm_parsed(spark, sf_dir)))


# WAV construct-and-reparse CTE chain, shared by the audio-header oracle and
# the cross-modality media-catalog oracle (CTE names w-prefixed so they
# compose with the image and MP4 chains in one WITH clause).
_MM_WAV_PARSED_CTES = """
wparams AS (
  SELECT doc_id,
         1 + doc_id % 2 AS ch,
         8 * (1 + doc_id % 3) AS bits,
         ([8000, 16000, 22050, 44100, 48000])[CAST(doc_id % 5 AS INTEGER) + 1] AS rate,
         1000 + (doc_id * 31) % 50000 AS nf
  FROM documents),
wd AS (
  SELECT doc_id, ch, bits, rate, nf,
         (ch * bits) // 8 AS ba,
         rate * ((ch * bits) // 8) AS br,
         nf * ((ch * bits) // 8) AS ds
  FROM wparams),
wbe AS (
  SELECT doc_id,
         lpad(to_hex(ds + 36), 8, '0') AS csbe,
         lpad(to_hex(ch), 4, '0') AS chbe,
         lpad(to_hex(rate), 8, '0') AS ratebe,
         lpad(to_hex(br), 8, '0') AS brbe,
         lpad(to_hex(ba), 4, '0') AS babe,
         lpad(to_hex(bits), 4, '0') AS bitsbe,
         lpad(to_hex(ds), 8, '0') AS dsbe
  FROM wd),
wblobs AS (
  SELECT doc_id, unhex('52494646'
    || substring(csbe, 7, 2) || substring(csbe, 5, 2) || substring(csbe, 3, 2) || substring(csbe, 1, 2)
    || '57415645' || '666D7420' || '10000000' || '0100'
    || substring(chbe, 3, 2) || substring(chbe, 1, 2)
    || substring(ratebe, 7, 2) || substring(ratebe, 5, 2) || substring(ratebe, 3, 2) || substring(ratebe, 1, 2)
    || substring(brbe, 7, 2) || substring(brbe, 5, 2) || substring(brbe, 3, 2) || substring(brbe, 1, 2)
    || substring(babe, 3, 2) || substring(babe, 1, 2)
    || substring(bitsbe, 3, 2) || substring(bitsbe, 1, 2)
    || '64617461'
    || substring(dsbe, 7, 2) || substring(dsbe, 5, 2) || substring(dsbe, 3, 2) || substring(dsbe, 1, 2)) AS blob
  FROM wbe),
whx AS (SELECT doc_id, blob, hex(blob) AS hx FROM wblobs),
wparsed AS (
  SELECT doc_id,
    CASE WHEN substring(hx, 1, 8) = '52494646'
          AND substring(hx, 17, 16) = '57415645666D7420'
         THEN 'wav' ELSE 'unknown' END AS fmt,
    ('0x' || substring(hx, 47, 2) || substring(hx, 45, 2))::BIGINT AS channels,
    ('0x' || substring(hx, 55, 2) || substring(hx, 53, 2)
          || substring(hx, 51, 2) || substring(hx, 49, 2))::BIGINT AS sample_rate,
    ('0x' || substring(hx, 71, 2) || substring(hx, 69, 2))::BIGINT AS bits_per_sample,
    ('0x' || substring(hx, 87, 2) || substring(hx, 85, 2)
          || substring(hx, 83, 2) || substring(hx, 81, 2))::BIGINT AS data_size,
    ('0x' || substring(hx, 63, 2) || substring(hx, 61, 2)
          || substring(hx, 59, 2) || substring(hx, 57, 2))::BIGINT AS byte_rate,
    ('0x' || substring(hx, 67, 2) || substring(hx, 65, 2))::BIGINT AS block_align,
    CAST(octet_length(blob) AS BIGINT) AS n_bytes
  FROM whx)
"""


@register(
    "multimodal_audio_header",
    oracle=f"""
WITH {_MM_WAV_PARSED_CTES}
SELECT doc_id, fmt, channels, sample_rate, bits_per_sample,
       data_size // block_align AS n_frames,
       (data_size * 1000) // byte_rate AS duration_ms,
       n_bytes
FROM wparsed ORDER BY doc_id
""",
    tags=("pipeline", "multimodal"),
    doc="Codec-free AUDIO metadata: verify the RIFF/WAVE magic and read the "
    "canonical PCM WAV header's little-endian fmt-chunk fields (channels, "
    "sample rate, bit width, block align) plus the data-chunk size; frame "
    "count and duration derive by integer division — the sub-second-clip / "
    "rate-bucket triage an audio pipeline runs before decoding samples. "
    "pipeline/multimodal.py parse_wav_headers; same whole-stage-codegen "
    "hex/substring/conv shape as the image parse.",
)
def multimodal_audio_header(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.pipeline.multimodal import (
        parse_wav_headers,
        synth_wav_blobs,
    )

    docs = table(spark, sf_dir, "documents").select("doc_id")
    return parse_wav_headers(synth_wav_blobs(docs)).orderBy("doc_id")


# MP4 construct-and-box-walk CTE chain, shared by the video-header oracle and
# the cross-modality media-catalog oracle (CTE names v-prefixed).
_MM_MP4_PARSED_CTES = """
vparams AS (
  SELECT doc_id,
         1 + doc_id % 3 AS nc,
         CAST(doc_id % 3 AS INTEGER) AS bi,
         (CASE doc_id % 4 WHEN 0 THEN 600 WHEN 1 THEN 1000
                          WHEN 2 THEN 24000 ELSE 90000 END) AS ts
  FROM documents),
vd AS (
  SELECT doc_id, nc, bi, ts, ts + (doc_id * 773) % 100000 AS dur
  FROM vparams),
vblobs AS (
  SELECT doc_id, unhex(
    lpad(to_hex(16 + 4 * nc), 8, '0') || '66747970'
    || (['69736F6D', '6D703432', '61766331'])[bi + 1]
    || '00000200'
    || '69736F6D'
    || CASE WHEN nc >= 2 THEN '6D703432' ELSE '' END
    || CASE WHEN nc >= 3 THEN '61766331' ELSE '' END
    || '00000074' || '6D6F6F76'
    || '0000006C' || '6D766864' || '00000000' || '00000000' || '00000000'
    || lpad(to_hex(ts), 8, '0')
    || lpad(to_hex(dur), 8, '0')
    || '00010000' || '0100' || '0000'
    || repeat('00000000', 2)
    || '00010000' || repeat('00000000', 3) || '00010000' || repeat('00000000', 3)
    || '40000000'
    || repeat('00000000', 6)
    || '00000002') AS blob
  FROM vd),
vhx AS (SELECT doc_id, blob, hex(blob) AS hx FROM vblobs),
vp1 AS (SELECT doc_id, blob, hx, ('0x' || substring(hx, 1, 8))::BIGINT AS s1 FROM vhx),
vparsed AS (
  SELECT doc_id,
    CASE WHEN substring(hx, 9, 8) = '66747970'
          AND substring(hx, 2 * s1 + 9, 8) = '6D6F6F76'
          AND substring(hx, 2 * s1 + 25, 8) = '6D766864'
         THEN 'mp4' ELSE 'unknown' END AS fmt,
    CASE substring(hx, 17, 8) WHEN '69736F6D' THEN 'isom'
         WHEN '6D703432' THEN 'mp42' WHEN '61766331' THEN 'avc1' END AS major_brand,
    (s1 - 16) // 4 AS n_compat_brands,
    ('0x' || substring(hx, 2 * s1 + 57, 8))::BIGINT AS timescale,
    ('0x' || substring(hx, 2 * s1 + 65, 8))::BIGINT AS duration_ticks,
    CAST(octet_length(blob) AS BIGINT) AS n_bytes
  FROM vp1)
"""


@register(
    "multimodal_video_header",
    oracle=f"""
WITH {_MM_MP4_PARSED_CTES}
SELECT doc_id, fmt, major_brand, n_compat_brands, timescale, duration_ticks,
       (duration_ticks * 1000) // timescale AS duration_ms, n_bytes
FROM vparsed ORDER BY doc_id
""",
    tags=("pipeline", "multimodal"),
    doc="Codec-free VIDEO metadata via a real size-directed ISO-BMFF box "
    "walk: read the ftyp box size at offset 0, JUMP to that data-dependent "
    "offset (the fixture varies ftyp length per row, so a fixed-offset "
    "cheat cannot pass), verify moov/mvhd there, and read the movie "
    "header's big-endian timescale/duration — wall-clock duration by "
    "integer division. Dynamic substring starts are plain expressions in "
    "both engines; no Python in the hot path. pipeline/multimodal.py "
    "parse_mp4_headers.",
)
def multimodal_video_header(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.pipeline.multimodal import (
        parse_mp4_headers,
        synth_mp4_blobs,
    )

    docs = table(spark, sf_dir, "documents").select("doc_id")
    return parse_mp4_headers(synth_mp4_blobs(docs)).orderBy("doc_id")


@register(
    "multimodal_media_catalog",
    oracle=f"""
WITH {_MM_HEADER_PARSED_CTES},
{_MM_WAV_PARSED_CTES},
{_MM_MP4_PARSED_CTES},
un AS (
  SELECT 'image' AS modality, fmt, n_bytes,
         (width * height * bpp) // 8 AS pixel_bytes,
         CAST(NULL AS BIGINT) AS duration_ms
  FROM parsed
  UNION ALL
  SELECT 'audio', fmt, n_bytes, CAST(NULL AS BIGINT),
         (data_size * 1000) // byte_rate
  FROM wparsed
  UNION ALL
  SELECT 'video', fmt, n_bytes, CAST(NULL AS BIGINT),
         (duration_ticks * 1000) // timescale
  FROM vparsed
)
SELECT modality,
       CAST(count(*) AS BIGINT) AS n_assets,
       CAST(count(DISTINCT fmt) AS BIGINT) AS n_formats,
       CAST(sum(n_bytes) AS BIGINT) AS total_header_bytes,
       CAST(sum(pixel_bytes) AS BIGINT) AS total_pixel_bytes,
       CAST(sum(duration_ms) AS BIGINT) AS total_duration_ms
FROM un GROUP BY modality ORDER BY modality
""",
    tags=("pipeline", "multimodal"),
    doc="Cross-modality MEDIA CATALOG — the manifest a multimodal "
    "training-data pipeline publishes before provisioning decoders: all "
    "three codec-free header parsers (PNG/GIF/BMP, WAV, MP4 box walk) run "
    "in ONE plan, union row-locally, and aggregate per modality to asset "
    "counts, distinct container formats, header byte totals, decoded-pixel "
    "bytes (images) and wall-clock duration (audio/video). Scale: three "
    "parallel row-local scans -> unionByName -> one 3-group aggregate; no "
    "join, no corpus-sized state.",
)
def multimodal_media_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.pipeline.multimodal import (
        parse_image_headers,
        parse_mp4_headers,
        parse_wav_headers,
        synth_image_blobs,
        synth_mp4_blobs,
        synth_wav_blobs,
    )

    docs = table(spark, sf_dir, "documents").select("doc_id")
    nul = F.lit(None).cast("bigint")
    img = parse_image_headers(synth_image_blobs(docs)).select(
        F.lit("image").alias("modality"),
        "fmt",
        "n_bytes",
        F.expr("width * height * bpp DIV 8").alias("pixel_bytes"),
        nul.alias("duration_ms"),
    )
    wav = parse_wav_headers(synth_wav_blobs(docs)).select(
        F.lit("audio").alias("modality"),
        "fmt",
        "n_bytes",
        nul.alias("pixel_bytes"),
        "duration_ms",
    )
    mp4 = parse_mp4_headers(synth_mp4_blobs(docs)).select(
        F.lit("video").alias("modality"),
        "fmt",
        "n_bytes",
        nul.alias("pixel_bytes"),
        "duration_ms",
    )
    return (
        img.unionByName(wav)
        .unionByName(mp4)
        .groupBy("modality")
        .agg(
            F.count(F.lit(1)).alias("n_assets"),
            F.count_distinct("fmt").cast("bigint").alias("n_formats"),
            F.sum("n_bytes").alias("total_header_bytes"),
            F.sum("pixel_bytes").alias("total_pixel_bytes"),
            F.sum("duration_ms").alias("total_duration_ms"),
        )
        .orderBy("modality")
    )


# ---------------------------------------------------------------------------
# chunking / PII masking / embedding near-dup
# ---------------------------------------------------------------------------
CHUNK_TOKENS, CHUNK_OVERLAP = 50, 10
ND_THRESHOLD = 0.3  # calibrated to the synthetic embeddings (max in-block cosine ≈ 0.47)


@register(
    "doc_chunking",
    oracle=f"""
WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
           WHERE len(text) > 0),
s AS (SELECT doc_id, w, unnest(generate_series(0, len(w) - 1, {CHUNK_TOKENS - CHUNK_OVERLAP})) AS s
      FROM t)
SELECT doc_id, CAST(s / {CHUNK_TOKENS - CHUNK_OVERLAP} AS BIGINT) AS chunk_id,
       array_to_string(w[s + 1 : s + {CHUNK_TOKENS}], ' ') AS chunk,
       CAST(len(w[s + 1 : s + {CHUNK_TOKENS}]) AS INTEGER) AS n_tokens
FROM s ORDER BY doc_id, chunk_id
""",
    tags=("pipeline", "text", "chunking"),
    doc=f"Training-data chunking: overlapping {CHUNK_TOKENS}-token windows "
    f"(stride {CHUNK_TOKENS - CHUNK_OVERLAP}) via one explode — no shuffle, "
    "embarrassingly parallel per document at any corpus scale.",
)
def doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.pipeline.text import chunk_documents

    return chunk_documents(
        table(spark, sf_dir, "documents"), "doc_id", "text", CHUNK_TOKENS, CHUNK_OVERLAP
    ).orderBy("doc_id", "chunk_id")


@register(
    "text_pii_mask",
    oracle="""
SELECT doc_id,
       regexp_replace(regexp_replace(regexp_replace(text,
         '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
         '\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b', '<ID>', 'g'),
         '\\+?[0-9][0-9 -]{7,}[0-9]', '<PHONE>', 'g') AS masked_text,
       CAST(len(regexp_extract_all(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}')) AS INTEGER) AS n_emails,
       CAST(len(regexp_extract_all(text, '\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b')) AS INTEGER) AS n_ssns,
       CAST(len(regexp_extract_all(text, '\\+?[0-9][0-9 -]{7,}[0-9]')) AS INTEGER) AS n_phones
FROM documents ORDER BY doc_id
""",
    tags=("pipeline", "text", "pii"),
    doc="PII scrubbing: email / SSN-shaped / long-digit-run masking + match "
    "counts, pure JVM regex (RE2-compatible patterns so any engine verifies).",
)
def text_pii_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.pipeline.text import pii_mask

    return pii_mask(table(spark, sf_dir, "documents"), "doc_id", "text").orderBy("doc_id")


@register(
    "dedup_embedding_cosine",
    oracle=f"""
WITH e0 AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings),
bsz AS (SELECT label, COUNT(*) AS c FROM e0 GROUP BY 1),
e AS (SELECT e0.* FROM e0 JOIN bsz USING (label) WHERE c <= {ND_MAX_BLOCK})
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(a.v, b.v), 6) AS cosine
FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(a.v, b.v), 6) >= {ND_THRESHOLD}
ORDER BY id_a, id_b
""",
    tags=("pipeline", "dedup", "similarity"),
    doc="Embedding-cosine near-dup pairs within a blocking key (label here; an "
    "IVF list id in production — the verify stage after coarse quantization, "
    "same topology as LSH→Jaccard). Rounded cosine ⇒ identical keep/drop "
    f"decisions across engines. Blocks larger than {ND_MAX_BLOCK} vectors are "
    "dropped before the all-pairs stage (hot-block skew guard, mirrored in "
    "the oracle).",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.pipeline.dedup import embedding_neardup_pairs_np

    return embedding_neardup_pairs_np(
        table(spark, sf_dir, "embeddings"), "vec_id", "embedding", "label",
        ND_THRESHOLD, max_block=ND_MAX_BLOCK,
    ).orderBy("id_a", "id_b")


SEM_THRESHOLD = 0.3  # same calibration as ND_THRESHOLD (max in-cluster cosine ≈ 0.51)


@register(
    "dedup_semantic_prune",
    oracle=f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 4),
a AS (
  SELECT e.vec_id, c.cid AS cluster, e.v,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY round(list_cosine_similarity(e.v, c.cv), 6) DESC, c.cid) AS rn
  FROM e CROSS JOIN c),
asg AS (SELECT vec_id, cluster, v FROM a WHERE rn = 1),
bsz AS (SELECT cluster, COUNT(*) AS csz FROM asg GROUP BY 1),
blk AS (SELECT asg.* FROM asg JOIN bsz USING (cluster) WHERE csz <= {ND_MAX_BLOCK}),
pru AS (SELECT DISTINCT y.vec_id
        FROM blk x JOIN blk y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
        WHERE round(list_cosine_similarity(x.v, y.v), 6) >= {SEM_THRESHOLD})
SELECT asg.vec_id, CAST(asg.cluster AS BIGINT) AS cluster,
       (pru.vec_id IS NULL) AS kept
FROM asg LEFT JOIN pru USING (vec_id) ORDER BY asg.vec_id
""",
    tags=("pipeline", "dedup", "similarity", "clustering"),
    doc="SemDeDup semantic deduplication (Abbas et al. 2023; pipeline.dedup."
    "semantic_prune): assign every embedding to its nearest of 4 fixed "
    "centroids (lowest-id vectors — the seed convention of kmeans_fit_exact), "
    "then within each cluster prune any vector having a lower-id "
    f"near-duplicate at rounded cosine ≥ {SEM_THRESHOLD}. Min-id survivor "
    "replaces the paper's centroid-distance pick for engine portability. "
    "Pair stage = the same hot-block-capped within-cluster matmul as "
    "dedup_embedding_cosine; assignment is a broadcast cross join (map-side); "
    "the prune set joins back broadcast-sized. No corpus-wide pair space.",
)
def dedup_semantic_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.pipeline.dedup import semantic_prune

    emb = table(spark, sf_dir, "embeddings")
    assign = _centroid_assign(emb).select("vec_id", "cluster")
    blocked = emb.join(assign, "vec_id").select("vec_id", "embedding", "cluster")
    return semantic_prune(
        blocked, "vec_id", "embedding", "cluster", SEM_THRESHOLD, max_block=ND_MAX_BLOCK
    ).orderBy("vec_id")


@register(
    "multimodal_frame_sample",
    oracle="""
WITH t AS (SELECT doc_id, text, octet_length(encode(text)) AS n FROM documents),
f AS (SELECT doc_id, text, n,
             unnest(generate_series(0, CAST(ceil(n / 100.0) AS INT) - 1, 2)) AS k
      FROM t)
SELECT doc_id, CAST(k AS INTEGER) AS frame_idx, CAST(k * 100 AS BIGINT) AS byte_offset,
       CAST(least(n - k * 100, 100) AS INTEGER) AS frame_len,
       CAST(list_sum([ascii(text[p]) FOR p IN generate_series(k * 100 + 1, least(n, (k + 1) * 100))]) % 997 AS INTEGER) AS checksum
FROM f ORDER BY doc_id, frame_idx
""",
    tags=("pipeline", "multimodal"),
    doc="Frame sampling over binary media blobs (decode stubbed — no ffmpeg in "
    "env): every 2nd 100-byte frame summarized (offset/len/checksum) inside "
    "mapInPandas, so the one-row→many-frames explode happens Arrow-side. "
    "Oracle: byte arithmetic over the ASCII text the blob was encoded from.",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.pipeline.multimodal import sample_frames

    docs = table(spark, sf_dir, "documents")
    return sample_frames(attach_blob(docs, "doc_id", "text"), "doc_id", 100, 2).orderBy(
        "doc_id", "frame_idx"
    )


# Recursive-CTE connected-components closure over the n-gram-Jaccard pair
# graph — the shared oracle prefix for the per-doc cluster assignment and
# the cluster-size histogram.
_CLUSTER_CC_SQL = f"""
WITH RECURSIVE toks AS (SELECT doc_id, lang, string_split(lower(text), ' ') AS w FROM documents),
grams0 AS (
  SELECT DISTINCT doc_id, lang,
         unnest(list_transform(generate_series(0, len(w)-{NJ_SHINGLE_K}),
                               g -> array_to_string(w[g+1:g+{NJ_SHINGLE_K}], ' '))) AS sh
  FROM toks WHERE len(w) >= {NJ_SHINGLE_K}
),
freq AS (SELECT lang, sh, COUNT(*) AS c FROM grams0 GROUP BY 1, 2),
grams AS (SELECT g.doc_id, g.lang, g.sh FROM grams0 g
          JOIN freq f ON f.lang = g.lang AND f.sh = g.sh WHERE f.c <= {NJ_MAX_DF}),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM grams a JOIN grams b ON a.sh = b.sh AND a.lang = b.lang AND a.doc_id < b.doc_id
  GROUP BY 1, 2
  HAVING COUNT(*) / ((SELECT n FROM sizes WHERE doc_id = a.doc_id)
                     + (SELECT n FROM sizes WHERE doc_id = b.doc_id) - COUNT(*)) > {NJ_THRESHOLD}
),
ud AS (SELECT id_a AS src, id_b AS dst FROM pairs UNION SELECT id_b, id_a FROM pairs),
verts AS (SELECT DISTINCT src AS v FROM ud),
reach(v, r) AS (
  SELECT v, v FROM verts
  UNION
  SELECT reach.v, ud.dst FROM reach JOIN ud ON ud.src = reach.r
),
cc AS (SELECT v, MIN(r) AS component FROM reach GROUP BY v)
"""


def _cluster_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, cluster_id) for every document — near-dup pairs → connected
    components, singletons keep their own id. Shared by the per-doc
    assignment query and the cluster-size histogram."""
    from flink_1_12_0_src_spark.operators.graph import connected_components

    docs = table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        docs, "doc_id", "text", "lang", NJ_SHINGLE_K, NJ_THRESHOLD, NJ_MAX_DF
    ).select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    cc = connected_components(pairs)
    return (
        docs.select("doc_id")
        .join(cc, docs.doc_id == cc.v, "left")
        .select("doc_id", F.coalesce("component", "doc_id").alias("cluster_id"))
    )


@register(
    "dedup_cluster_docs",
    oracle=_CLUSTER_CC_SQL
    + """
SELECT d.doc_id,
       COALESCE(cc.component, d.doc_id) AS cluster_id,
       d.doc_id = COALESCE(cc.component, d.doc_id) AS is_canonical
FROM documents d LEFT JOIN cc ON cc.v = d.doc_id
ORDER BY d.doc_id
""",
    tags=("pipeline", "dedup", "graph"),
    doc="Near-duplicate CLUSTERING — the full pipeline dedup step: n-gram "
    "Jaccard pairs (> threshold, lang-blocked) become an undirected graph, "
    "connected components assign one cluster id per duplicate group "
    "(min doc_id = canonical survivor), singletons keep their own id. "
    "Composes pipeline.ngram_jaccard_pairs with operators.graph."
    "connected_components; at 100 TB the pair graph is tiny relative to the "
    "corpus, so the CC loop converges on a DataFrame orders of magnitude "
    "smaller than the input. Oracle: pair SQL + recursive-CTE closure.",
)
def dedup_cluster_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _cluster_assignment(spark, sf_dir)
        .select(
            "doc_id",
            "cluster_id",
            (F.col("doc_id") == F.col("cluster_id")).alias("is_canonical"),
        )
        .orderBy("doc_id")
    )


@register(
    "dedup_cluster_size_histogram",
    oracle=_CLUSTER_CC_SQL
    + """,
asg AS (SELECT COALESCE(cc.component, d.doc_id) AS cluster_id
        FROM documents d LEFT JOIN cc ON cc.v = d.doc_id),
s AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
      FROM asg GROUP BY cluster_id)
SELECT cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs
FROM s GROUP BY cluster_size ORDER BY cluster_size
""",
    tags=("pipeline", "dedup", "graph"),
    doc="Near-dup CLUSTER-SIZE distribution — the audit production dedup "
    "reports publish (how much of the corpus sits in duplicate groups of "
    "size 2, 3, ... vs singletons): cluster assignments from "
    "dedup_cluster_docs' shared pipeline rolled up to (cluster_size, "
    "n_clusters, n_docs). A heavy tail here flags boilerplate families "
    "before the survivors are cut. Scale: two tiny aggregations over the "
    "|docs|-row assignment table; the pair graph and CC loop are shared "
    "machinery, orders of magnitude smaller than the corpus.",
)
def dedup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    sizes = (
        _cluster_assignment(spark, sf_dir)
        .groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters")).alias("n_docs"),
        )
        .orderBy("cluster_size")
    )


@register(
    "text_tfidf_topk",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks WHERE term <> '' GROUP BY 1, 2),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
scored AS (
  SELECT tf.doc_id, tf.term,
         round(tf.tf * ln((SELECT COUNT(*) FROM documents) * 1.0 / df.df), 6) AS score
  FROM tf JOIN df USING (term)
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rk
  FROM scored
)
SELECT doc_id, CAST(rk AS INTEGER) AS rk, term, score
FROM ranked WHERE rk <= 3
ORDER BY doc_id, rk
""",
    tags=("pipeline", "text"),
    doc="TF-IDF top-3 terms per document (pipeline.text.tfidf_topk): "
    "explode→tf agg→df agg→score→per-doc top-k window; scores rounded to 6dp "
    "before ranking with term tiebreak for cross-engine determinism.",
)
def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.pipeline.text import tfidf_topk

    docs = table(spark, sf_dir, "documents")
    return tfidf_topk(docs, "doc_id", "text", 3).orderBy("doc_id", "rk")


def _centroid_assign(emb: DataFrame, n_cents: int = 4) -> DataFrame:
    """Nearest-of-the-lowest-id-centroids assignment with the CENTROIDS
    broadcast (the corpus side stays distributed — cosine_topk broadcasts
    its query side, which here would be the whole corpus). Rounded cosine +
    centroid-id tiebreak, mirroring the oracle's QUALIFY top-1 exactly.
    Returns (vec_id, cluster, cosine)."""
    from pyspark.sql import Window as W

    from flink_1_12_0_src_spark.pipeline.similarity import _as_double, _dot, _norm

    cents = emb.filter(F.col("vec_id") < n_cents).select(
        F.col("vec_id").alias("cid"), _as_double(F.col("embedding")).alias("cv")
    )
    e = emb.select("vec_id", _as_double(F.col("embedding")).alias("v"))
    cos = F.round(
        _dot(F.col("v"), F.col("cv")) / (_norm(F.col("v")) * _norm(F.col("cv"))), 6
    )
    w = W.partitionBy("vec_id").orderBy(F.desc("cosine"), F.asc("cid"))
    return (
        e.crossJoin(F.broadcast(cents))
        .select("vec_id", F.col("cid"), cos.alias("cosine"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", F.col("cid").alias("cluster"), "cosine")
    )


@register(
    "embedding_kmeans_assign",
    oracle="""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 4)
SELECT e.vec_id, CAST(c.cid AS BIGINT) AS cluster,
       round(list_cosine_similarity(e.v, c.cv), 6) AS cosine
FROM e CROSS JOIN c
QUALIFY row_number() OVER (PARTITION BY e.vec_id
                           ORDER BY round(list_cosine_similarity(e.v, c.cv), 6) DESC, c.cid) = 1
ORDER BY e.vec_id
""",
    tags=("pipeline", "similarity", "clustering"),
    doc="K-means assignment step (the per-round kernel of pipeline.similarity."
    "kmeans_fit_exact's Lloyd iteration, here oracle-checked on its own): "
    "4 fixed centroids (lowest-id vectors) broadcast against the corpus, "
    "argmax of rounded cosine with centroid-id tiebreak — a map-side argmin, "
    "no corpus shuffle. Oracle: cross join + QUALIFY top-1.",
)
def embedding_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _centroid_assign(table(spark, sf_dir, "embeddings")).orderBy("vec_id")


# ---------------------------------------------------------------------------
# round 4: decontamination / repetition signals / BM25 retrieval / Bloom
# ---------------------------------------------------------------------------
DC_GRAM_K = 3  # decontamination n-gram size (the 13-gram rule, scaled to data)
BM25_TERMS = ("spark", "window", "join")
BM25_K = 10


@register(
    "text_decontaminate",
    oracle=f"""
WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
grams AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(0, len(w)-{DC_GRAM_K}),
                               g -> array_to_string(w[g+1:g+{DC_GRAM_K}], ' '))) AS sh
  FROM toks WHERE len(w) >= {DC_GRAM_K}
),
bench AS (SELECT DISTINCT sh FROM grams WHERE doc_id % 41 = 0),
marked AS (
  SELECT g.doc_id, (b.sh IS NOT NULL) AS hit
  FROM grams g LEFT JOIN bench b ON g.sh = b.sh
  WHERE g.doc_id % 41 <> 0
)
SELECT doc_id, COUNT(*) AS n_grams,
       CAST(SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       SUM(CASE WHEN hit THEN 1 ELSE 0 END) > 0 AS contaminated
FROM marked GROUP BY doc_id ORDER BY doc_id
""",
    tags=("pipeline", "text", "dedup"),
    doc=f"Benchmark decontamination (pipeline.dedup.decontaminate): flag "
    f"training docs sharing any word {DC_GRAM_K}-gram with the benchmark "
    "split (doc_id % 41 = 0 stands in for the eval suite). The benchmark "
    "shingle set broadcasts (eval suites are MBs vs a 100 TB corpus); one "
    "corpus scan, map-side hash join, doc-keyed count agg.",
)
def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.pipeline.dedup import decontaminate

    docs = table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 41 == 0)
    train = docs.filter(F.col("doc_id") % 41 != 0)
    return decontaminate(train, bench, "doc_id", "text", DC_GRAM_K).orderBy("doc_id")


# ONE constant shared by the batch matrix (text_contamination_matrix) and
# its streaming twin (stream_contamination_matrix, queries/streamingq.py).
CONTAMINATION_MATRIX_ORACLE = f"""
WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
grams AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(0, len(w)-{DC_GRAM_K}),
                               g -> array_to_string(w[g+1:g+{DC_GRAM_K}], ' '))) AS sh
  FROM toks WHERE len(w) >= {DC_GRAM_K}
),
bgrams AS (SELECT DISTINCT 'bench_' || CAST(doc_id % 3 AS VARCHAR) AS benchmark, sh
           FROM grams WHERE doc_id % 41 = 0),
bsizes AS (SELECT 'bench_' || CAST(doc_id % 3 AS VARCHAR) AS benchmark,
                  CAST(COUNT(*) AS BIGINT) AS n_bench_docs
           FROM documents WHERE doc_id % 41 = 0 GROUP BY 1),
ntrain AS (SELECT COUNT(*) AS n FROM documents WHERE doc_id % 41 <> 0),
hits AS (SELECT b.benchmark, COUNT(DISTINCT g.doc_id) AS n_contaminated
         FROM grams g JOIN bgrams b USING (sh)
         WHERE g.doc_id % 41 <> 0 GROUP BY 1)
SELECT s.benchmark, s.n_bench_docs,
       CAST(COALESCE(h.n_contaminated, 0) AS BIGINT) AS n_contaminated,
       round(CAST(COALESCE(h.n_contaminated, 0) AS DOUBLE)
             / NULLIF(CAST((SELECT n FROM ntrain) AS DOUBLE), 0.0), 6)
           AS contamination_rate
FROM bsizes s LEFT JOIN hits h USING (benchmark)
ORDER BY benchmark
"""


@register(
    "text_contamination_matrix",
    oracle=CONTAMINATION_MATRIX_ORACLE,
    tags=("pipeline", "text", "dedup"),
    doc=f"Per-benchmark contamination matrix (pipeline.dedup."
    f"contamination_matrix): the audit production teams publish alongside a "
    f"decontamination run — for EVERY benchmark split at once (doc_id % 41 "
    f"= 0 stands in for the eval suite, split into 3 benchmarks by id), how "
    f"many training docs share a word {DC_GRAM_K}-gram with it and what "
    "fraction of the corpus that is (GPT-3 appendix C reports exactly this "
    "table). The per-split shingle set BROADCASTS; one corpus scan, "
    "map-side broadcast hash join, |benchmarks|-row rollup; the train-count "
    "denominator is a one-row broadcast aggregate (fully lazy plan).",
)
def text_contamination_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.pipeline.dedup import contamination_matrix

    docs = table(spark, sf_dir, "documents")
    bench = contam_bench_of(docs)
    train = contam_train_of(docs)
    return contamination_matrix(
        train, bench, "benchmark", "doc_id", "text", DC_GRAM_K
    ).orderBy("benchmark")


def contam_bench_of(docs: DataFrame) -> DataFrame:
    """The synthetic eval suite both contamination queries use: doc_id % 41
    = 0 stands in for benchmark docs, split into 3 benchmarks by id —
    shared between the batch matrix and its streaming twin (applied to the
    batch table there; the benchmark side of an audit is static by nature)."""
    return docs.filter(F.col("doc_id") % 41 == 0).withColumn(
        "benchmark", F.concat(F.lit("bench_"), (F.col("doc_id") % 3).cast("string"))
    )


def contam_train_of(docs: DataFrame) -> DataFrame:
    """The training-corpus complement of :func:`contam_bench_of` — applied
    to the batch table here and to the document STREAM in the twin."""
    return docs.filter(F.col("doc_id") % 41 != 0)


@register(
    "text_repetition_signals",
    oracle="""
WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
base AS (SELECT doc_id, w FROM toks WHERE len(w) >= 2),
bi AS (
  SELECT doc_id, len(w) AS n,
         list_transform(generate_series(0, len(w)-2),
                        g -> array_to_string(w[g+1:g+2], ' ')) AS b
  FROM base
),
tok AS (SELECT doc_id, unnest(w) AS t FROM base),
tc AS (SELECT doc_id, t, COUNT(*) AS c FROM tok WHERE t <> '' GROUP BY 1, 2),
top AS (SELECT doc_id, MAX(c) AS top_c FROM tc GROUP BY 1)
SELECT bi.doc_id, CAST(bi.n AS INTEGER) AS n_tokens,
       round(top.top_c / bi.n, 6) AS top_token_frac,
       round(1 - len(list_distinct(bi.b)) / len(bi.b), 6) AS dup_bigram_frac,
       (round(top.top_c / bi.n, 6) > 0.2 OR
        round(1 - len(list_distinct(bi.b)) / len(bi.b), 6) > 0.2) AS repetitive
FROM bi JOIN top USING (doc_id) ORDER BY doc_id
""",
    tags=("pipeline", "text", "quality"),
    doc="Gopher-style repetition/boilerplate signals (pipeline.text."
    "repetition_signals): top-token fraction + duplicate-bigram fraction, "
    "flagging keyword-stuffed/generated docs. Bigram stats are per-row array "
    "expressions (zero shuffle); top-token is one explode + two-level "
    "hash-agg with map-side partials.",
)
def text_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.pipeline.text import repetition_signals

    return repetition_signals(
        table(spark, sf_dir, "documents"), "doc_id", "text"
    ).orderBy("doc_id")


@register(
    "text_bm25_topk",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents
),
tok2 AS (SELECT * FROM tok WHERE term <> ''),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok2 GROUP BY 1),
stats AS (SELECT COUNT(*) AS n, SUM(dl) AS sum_dl FROM dl),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok2
       WHERE term IN ('spark', 'window', 'join') GROUP BY 1, 2),
dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
idf AS (
  SELECT term,
         round(ln(((SELECT n FROM stats) - df + 0.5e0) / (df + 0.5e0) + 1), 6) AS idf
  FROM dfq
),
sc AS (
  SELECT tf.doc_id,
         CAST(round(idf.idf * round((tf.tf * (1.2e0 + 1)) /
              (tf.tf + 1.2e0 * (1 - 0.75e0 + 0.75e0 * dl.dl * (SELECT n FROM stats)
                                / (SELECT sum_dl FROM stats))), 6), 6)
              AS DECIMAL(18,6)) AS s
  FROM tf JOIN idf USING (term) JOIN dl USING (doc_id)
),
agg AS (SELECT doc_id, CAST(SUM(s) AS DOUBLE) AS score FROM sc GROUP BY 1)
SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INTEGER) AS rk,
       doc_id, score
FROM agg ORDER BY score DESC, doc_id LIMIT {BM25_K}
""",
    tags=("pipeline", "text", "retrieval"),
    doc="Okapi BM25 top-10 (pipeline.text.bm25_topk) for the query "
    f"{BM25_TERMS}: the lexical-retrieval half of a RAG/training-data "
    "pipeline. Query terms broadcast as an IN-filter inside the explode scan "
    "(only matching doc-term rows shuffle); dl/avgdl in exact-integer form "
    "dl·N/Σdl; per-term scores rounded to 6dp and summed in DECIMAL — "
    "order-independent, digit-for-digit verifiable.",
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.pipeline.text import bm25_topk

    return bm25_topk(
        table(spark, sf_dir, "documents"), "doc_id", "text", list(BM25_TERMS), BM25_K
    )


# ONE constant shared by the batch membership test (dedup_bloom_membership)
# and its streaming twin (stream_bloom_membership, queries/streamingq.py):
# the Bloom filter is a set-union sketch, so the twin's snapshot state
# equals the batch filter exactly.
BLOOM_MEMBERSHIP_ORACLE = """
WITH n AS (
  SELECT doc_id, md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS h
  FROM documents
),
slices AS (SELECT unnest(generate_series(0, 3)) AS i),
bits AS (
  SELECT DISTINCT s.i, substr(n.h, 1 + s.i * 2, 2) AS p
  FROM n, slices s WHERE n.doc_id % 2 = 0
),
probe AS (SELECT doc_id, h FROM n WHERE doc_id % 2 = 1),
hits AS (
  SELECT p.doc_id, COUNT(*) AS k
  FROM probe p JOIN bits b ON substr(p.h, 1 + b.i * 2, 2) = b.p
  GROUP BY 1
),
exact AS (SELECT DISTINCT h FROM n WHERE doc_id % 2 = 0)
SELECT p.doc_id,
       COALESCE(hits.k, 0) = 4 AS maybe_member,
       (e.h IS NOT NULL) AS actual_member,
       (COALESCE(hits.k, 0) = 4 AND e.h IS NULL) AS false_positive
FROM probe p LEFT JOIN hits USING (doc_id) LEFT JOIN exact e ON p.h = e.h
ORDER BY p.doc_id
"""


SOFT_K = 3

# ONE constant shared by the batch reweighter (dedup_soft_weights) and its
# streaming twin (stream_soft_weights): the per-doc gram counts are a pure
# function of the corpus, so the twin's snapshot weights equal the batch
# weights exactly.
SOFT_DEDUP_ORACLE = f"""
WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
g AS (SELECT doc_id,
             unnest(list_transform(generate_series(0, len(w)-{SOFT_K}),
                                   i -> array_to_string(w[i+1:i+{SOFT_K}], ' '))) AS sh
      FROM toks WHERE len(w) >= {SOFT_K}),
gc AS (SELECT sh, COUNT(*) AS c FROM g GROUP BY sh),
tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS t FROM gc),
per AS (SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
               CAST(SUM(CAST(round(-ln(c / (SELECT t FROM tot)), 9) AS DECIMAL(28,9)))
                    AS DOUBLE) / COUNT(*) AS avg_nll
        FROM g JOIN gc USING (sh) GROUP BY g.doc_id),
p6 AS (SELECT doc_id, n_grams,
             CAST(round(avg_nll * 1000000.0, 0) AS BIGINT) / 1000000.0 AS a6
      FROM per),
m AS (SELECT CAST(SUM(CAST(a6 AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS cm FROM p6)
SELECT doc_id, n_grams, -a6 AS log_commonness,
       CAST(round(a6 / cm * 1000000.0, 0) AS BIGINT) / 1000000.0 AS weight
FROM p6, m ORDER BY doc_id
"""


@register(
    "dedup_soft_weights",
    oracle=SOFT_DEDUP_ORACLE,
    tags=("pipeline", "dedup", "sampling", "bench"),
    doc="SOFT deduplication (He et al. 2024, SoftDedup; pipeline/dedup.py "
    f"soft_dedup_weights) — reweight instead of remove: per-doc mean "
    f"{SOFT_K}-gram log-probability under the corpus's own gram "
    "frequencies measures commonness, and the emitted training weight is "
    "the doc's 6-dp mean nll relative to the corpus mean — < 1 for "
    "duplicated/boilerplate docs, ≥ 1 for rare ones, corpus-mean 1 by "
    "construction (linear map of relative log-commonness in place of the "
    "paper's power map — transcendental-free, documented). The sampling "
    "complement of the hard-removal family: downstream consumes the "
    "weight like dataset_weighted_sample's key. Scale: one gram-count "
    "aggregate + one equi-join scoring scan + two one-row broadcasts — "
    "the linear logppl topology, no pair space.",
)
def dedup_soft_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.pipeline.dedup import soft_dedup_weights

    return soft_dedup_weights(
        table(spark, sf_dir, "documents"), "doc_id", "text", k=SOFT_K
    ).orderBy("doc_id")


SLM_THR = 0.2


@register(
    "text_slm_select",
    oracle=f"""
WITH btoks AS (SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS w
               FROM documents),
bg AS (SELECT doc_id, w[g+1] AS w1, w[g+2] AS w2
       FROM (SELECT doc_id, w, unnest(generate_series(0, len(w)-2)) AS g
             FROM btoks WHERE len(w) >= 2)),
uni AS (SELECT term, COUNT(*) AS cu
        FROM (SELECT unnest(w) AS term FROM btoks) GROUP BY term),
tot AS (SELECT CAST(SUM(cu) AS DOUBLE) AS t FROM uni),
v AS (SELECT CAST(COUNT(*) AS DOUBLE) AS vs FROM uni),
cbg AS (SELECT w1, w2, COUNT(*) AS cb FROM bg GROUP BY 1, 2),
scored AS (
  SELECT bg.doc_id,
         CAST(round(-ln(u2.cu / (SELECT t FROM tot)), 6) AS DECIMAL(20,6))
         - CAST(round(-ln((cb + 1.0) / (u1.cu + (SELECT vs FROM v))), 6) AS DECIMAL(20,6)) AS ex
  FROM bg JOIN cbg USING (w1, w2)
       JOIN uni u1 ON u1.term = bg.w1
       JOIN uni u2 ON u2.term = bg.w2
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_scored,
       CAST(SUM(CASE WHEN ex >= CAST({SLM_THR} AS DECIMAL(20,6)) THEN 1 ELSE 0 END) AS BIGINT)
           AS n_selected,
       CAST(round(CAST(SUM(CASE WHEN ex >= CAST({SLM_THR} AS DECIMAL(20,6)) THEN 1 ELSE 0 END) AS DOUBLE)
                  / COUNT(*) * 1000000.0, 0) AS BIGINT) / 1000000.0 AS selected_frac,
       CAST(round(CAST(SUM(CAST(ex AS DECIMAL(28,9))) AS DOUBLE) / COUNT(*) * 1000000.0, 0) AS BIGINT)
           / 1000000.0 AS mean_excess
FROM scored GROUP BY doc_id ORDER BY doc_id
""",
    tags=("pipeline", "text", "sampling"),
    doc="Selective Language Modeling token triage (Lin et al. 2024, Rho-1; "
    "pipeline/text.py slm_token_select) — not every token deserves a "
    "gradient: per position the EXCESS LOSS between the weak unigram "
    "proxy and the stronger bigram reference (how many nats one token of "
    f"context buys) selects tokens at excess ≥ {SLM_THR}; the per-doc "
    "ledger (scored/selected counts, selected fraction, mean excess) is "
    "what a Rho-1-style run uses to budget its token-level loss mask. "
    "The doremi_weights scorer pairing at token granularity. 6-dp nll "
    "terms, exact DECIMAL differences and threshold compares, "
    "DECIMAL-accumulated means. Scale: row-local bigrams, "
    "vocabulary-sized equi joins, one doc-keyed ledger aggregate.",
)
def text_slm_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.pipeline.text import slm_token_select

    return slm_token_select(
        table(spark, sf_dir, "documents"), "doc_id", "text", threshold=SLM_THR
    ).orderBy("doc_id")


CMS_K = 3
CMS_SLICES = 4
CMS_HEX = 2
CMS_TOPK = 20

# ONE constant shared by the batch contract (text_heavy_hitters_cms) and its
# streaming twin (stream_heavy_hitters_cms): the sketch is a pure function of
# the corpus (counters sum associatively), so the twin's snapshot contract
# equals the batch contract exactly.
HEAVY_HITTERS_CMS_ORACLE = f"""
WITH grams AS (SELECT unnest(list_transform(generate_series(0, len(w)-{CMS_K}),
                                            i -> array_to_string(w[i+1:i+{CMS_K}], ' '))) AS sh
               FROM (SELECT string_split(lower(text), ' ') AS w FROM documents)
               WHERE len(w) >= {CMS_K}),
h AS (SELECT sh, md5(sh) AS hh FROM grams),
state AS (SELECT s.i, substr(hh, 1 + s.i * {CMS_HEX}, {CMS_HEX}) AS v, COUNT(*) AS n
          FROM h CROSS JOIN (VALUES {", ".join(f"({i})" for i in range(CMS_SLICES))}) s(i)
          GROUP BY 1, 2),
tot AS (SELECT CAST(SUM(n) AS DOUBLE) AS nn FROM state WHERE i = 0),
top AS (SELECT sh, CAST(COUNT(*) AS BIGINT) AS true_count
        FROM grams GROUP BY sh ORDER BY COUNT(*) DESC, sh LIMIT {CMS_TOPK}),
rk AS (SELECT sh, true_count,
              CAST(ROW_NUMBER() OVER (ORDER BY true_count DESC, sh) AS BIGINT) AS rank
       FROM top),
est AS (SELECT t.sh, CAST(MIN(st.n) AS BIGINT) AS est_count
        FROM rk t CROSS JOIN (VALUES {", ".join(f"({i})" for i in range(CMS_SLICES))}) s(i)
        JOIN state st ON st.i = s.i AND st.v = substr(md5(t.sh), 1 + s.i * {CMS_HEX}, {CMS_HEX})
        GROUP BY t.sh)
SELECT t.rank, t.sh AS gram, t.true_count, e.est_count,
       CAST(e.est_count - t.true_count AS BIGINT) AS overestimate,
       (e.est_count >= t.true_count
        AND (e.est_count - t.true_count) <= exp(1) / {float(16 ** CMS_HEX)} * (SELECT nn FROM tot))
           AS within_bound
FROM rk t JOIN est e USING (sh) ORDER BY t.rank
"""


@register(
    "text_heavy_hitters_cms",
    oracle=HEAVY_HITTERS_CMS_ORACLE,
    tags=("pipeline", "text", "dedup"),
    doc="Count-Min heavy-hitter CONTRACT (Cormode & Muthukrishnan 2005; "
    "pipeline/dedup.py cms_state_rows + cms_topk_contract) — the third "
    "mergeable-sketch contract row after Bloom (membership) and "
    f"approx_percentile (quantiles), closing the frequency corner: the "
    f"most-repeated {CMS_K}-gram PHRASES (boilerplate headers, license "
    "blocks — what a crawl-curation team hunts with constant memory) "
    f"estimated from a {CMS_SLICES}×{16 ** CMS_HEX}-counter sketch that "
    "uses the partitioned Bloom slice layout with COUNT in place of "
    "EXISTS. within_bound asserts the published guarantee per row: "
    "est ≥ true (counters only overcount) and est − true ≤ (e/width)·N; "
    "worst observed overestimate is ~0.4× the bound at every test SF. "
    "Scale: the sketch is constant-size regardless of corpus and "
    "broadcasts; one count aggregate + TakeOrderedAndProject for the "
    "exact head; the probe side is topk×slices rows.",
)
def text_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.pipeline.dedup import (
        cms_state_rows,
        cms_topk_contract,
    )
    from flink_1_12_0_src_spark.pipeline.text import exploded_shingles

    docs = table(spark, sf_dir, "documents")
    state = (
        cms_state_rows(docs, "text", CMS_K, CMS_SLICES, CMS_HEX)
        .groupBy("i", "v")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    grams = exploded_shingles(docs, "text", CMS_K)
    return cms_topk_contract(
        state, grams, "sh", CMS_TOPK, CMS_SLICES, CMS_HEX
    ).orderBy("rank")


_CMS_VALUES = ", ".join(f"({i})" for i in range(CMS_SLICES))

# CMS-priced SoftDeDup: the same gram space and pricing tail as
# SOFT_DEDUP_ORACLE, with commonness estimated from the Count-Min sketch
# (HEAVY_HITTERS_CMS_ORACLE's state idiom) and the exact price kept
# alongside for the drift contract. The oracle RE-DERIVES the sketch from
# md5 — nothing is pinned, so a probabilistic bound can never red the row.
SOFT_CMS_ORACLE = f"""
WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
g AS (SELECT doc_id,
             unnest(list_transform(generate_series(0, len(w)-{SOFT_K}),
                                   i -> array_to_string(w[i+1:i+{SOFT_K}], ' '))) AS sh
      FROM toks WHERE len(w) >= {SOFT_K}),
gc AS (SELECT sh, COUNT(*) AS c FROM g GROUP BY sh),
tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS t FROM gc),
per AS (SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
               CAST(SUM(CAST(round(-ln(c / (SELECT t FROM tot)), 9) AS DECIMAL(28,9)))
                    AS DOUBLE) / COUNT(*) AS avg_nll
        FROM g JOIN gc USING (sh) GROUP BY g.doc_id),
p6 AS (SELECT doc_id, n_grams,
             CAST(round(avg_nll * 1000000.0, 0) AS BIGINT) / 1000000.0 AS a6
      FROM per),
m AS (SELECT CAST(SUM(CAST(a6 AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS cm FROM p6),
we AS (SELECT doc_id, n_grams, a6 AS a6e,
              CAST(round(a6 / cm * 1000000.0, 0) AS BIGINT) / 1000000.0 AS weight
       FROM p6, m),
stt AS (SELECT s.i, substr(md5(sh), 1 + s.i * {CMS_HEX}, {CMS_HEX}) AS v, COUNT(*) AS n
        FROM g CROSS JOIN (VALUES {_CMS_VALUES}) s(i)
        GROUP BY 1, 2),
nn AS (SELECT CAST(SUM(n) AS DOUBLE) AS t FROM stt WHERE i = 0),
vocabg AS (SELECT DISTINCT sh FROM g),
est AS (SELECT h.sh, CAST(MIN(st.n) AS BIGINT) AS ec
        FROM vocabg h CROSS JOIN (VALUES {_CMS_VALUES}) s(i)
        JOIN stt st ON st.i = s.i
                   AND st.v = substr(md5(h.sh), 1 + s.i * {CMS_HEX}, {CMS_HEX})
        GROUP BY h.sh),
perc AS (SELECT g.doc_id,
                CAST(SUM(CAST(round(-ln(ec / (SELECT t FROM nn)), 9) AS DECIMAL(28,9)))
                     AS DOUBLE) / COUNT(*) AS avg_nll
         FROM g JOIN est USING (sh) GROUP BY g.doc_id),
pc6 AS (SELECT doc_id,
               CAST(round(avg_nll * 1000000.0, 0) AS BIGINT) / 1000000.0 AS a6
        FROM perc),
mc AS (SELECT CAST(SUM(CAST(a6 AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS cm FROM pc6),
wc AS (SELECT doc_id, a6 AS a6c,
              CAST(round(a6 / cm * 1000000.0, 0) AS BIGINT) / 1000000.0 AS weight_cms
       FROM pc6, mc)
SELECT we.doc_id, we.n_grams, we.weight, wc.weight_cms,
       CAST(ABS(CAST(round(wc.weight_cms * 1000000.0, 0) AS BIGINT)
                - CAST(round(we.weight * 1000000.0, 0) AS BIGINT)) AS DOUBLE)
           / 1000000.0 AS drift,
       (wc.a6c <= we.a6e) AS cms_conservative,
       ((we.a6e - wc.a6c)
        <= round(ln(1.0 + {math.e!r} / {float(16 ** CMS_HEX)} * (SELECT t FROM nn)), 6))
           AS within_bound
FROM we JOIN wc USING (doc_id) ORDER BY we.doc_id
"""


@register(
    "dedup_soft_weights_cms",
    oracle=SOFT_CMS_ORACLE,
    tags=("pipeline", "dedup", "sampling"),
    doc="CONSTANT-STATE SoftDeDup (pipeline/dedup.py soft_dedup_cms_weights) "
    "— the production shape of dedup_soft_weights: gram commonness "
    f"estimated from the {CMS_SLICES}×{16 ** CMS_HEX}-counter Count-Min "
    "sketch (constant regardless of corpus size — what a deployment "
    "maintains when the gram space no longer fits) through the identical "
    "nll → per-doc mean → corpus-relative-weight tail, with the exact "
    "price alongside and the drift CONTRACT per document: "
    "cms_conservative pins the deterministic direction (the sketch only "
    "overcounts and every pricing step is monotone, so the sketch can "
    "only make a doc look MORE common), within_bound the per-gram "
    "(e/width)·N Count-Min bound pushed through the mean. The sketch "
    "side of the trade stream_soft_weights documents. Scale: the sketch "
    "broadcasts; the probe is the distinct gram vocabulary; the pricing "
    "tail is the exact variant's linear topology.",
)
def dedup_soft_weights_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.pipeline.dedup import (
        cms_state_rows,
        soft_dedup_cms_weights,
        soft_gram_counts,
    )

    docs = table(spark, sf_dir, "documents")
    state = (
        cms_state_rows(docs, "text", SOFT_K, CMS_SLICES, CMS_HEX)
        .groupBy("i", "v")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return soft_dedup_cms_weights(
        soft_gram_counts(docs, "doc_id", "text", SOFT_K),
        state,
        "doc_id",
        CMS_SLICES,
        CMS_HEX,
    ).orderBy("doc_id")


# The production Bloom variant's report half — shared constant so the
# streaming filter-only row (queries/streamingq.py) and any batch audit can
# never drift. Same corpus (even doc_ids), same 4×256 partitioned layout.
BLOOM_FILTER_ONLY_ORACLE = """
WITH n AS (
  SELECT md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS h
  FROM documents WHERE doc_id % 2 = 0
),
slices AS (SELECT unnest(generate_series(0, 3)) AS i),
bits AS (SELECT DISTINCT s.i, substr(n.h, 1 + s.i * 2, 2) AS p FROM n, slices s),
bs AS (SELECT i, CAST(COUNT(*) AS BIGINT) AS bits_set FROM bits GROUP BY i),
pr AS (SELECT product(bits_set) AS prod FROM bs)
SELECT CAST(bs.i AS BIGINT) AS slice, bs.bits_set,
       round(bs.bits_set / 256.0, 6) AS load,
       round(pr.prod / 4294967296.0, 6) AS expected_fp_rate
FROM bs, pr ORDER BY slice
"""


@register(
    "dedup_bloom_membership",
    oracle=BLOOM_MEMBERSHIP_ORACLE,
    tags=("pipeline", "dedup"),
    doc="Partitioned Bloom-filter membership (pipeline.dedup.bloom_membership): "
    "4 slices × 256 bits from md5 hex slices of normalized text; even doc_ids "
    "build the filter, odd ones probe. The filter is ≤ n_slices·256 distinct "
    "rows REGARDLESS of corpus size — broadcasts by construction (the "
    "runtime-bloom-pushdown shape Spark injects for selective joins); the "
    "exact-match column exposes the false-positive rate at a realistic "
    "~60% slice load.",
)
def dedup_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.pipeline.dedup import bloom_membership

    docs = table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    probes = docs.filter(F.col("doc_id") % 2 == 1)
    return bloom_membership(corpus, probes, "doc_id", "text", 4, 2).orderBy("doc_id")


@register(
    "pipeline_clean_corpus",
    oracle=f"""
WITH q AS (
  SELECT doc_id, text,
         len(string_split(lower(text), ' ')) AS n_words,
         round(least(len(string_split(lower(text), ' ')) / 50.0, 1.0) * 0.4
               + (1 - least(round(len(regexp_extract_all(text, '[^a-zA-Z0-9 \\t\\n]'))
                                  / length(text), 6) * 5, 1.0)) * 0.3
               + least(round(len(list_intersect(string_split(lower(text), ' '), {_EN!r}))
                             / len(string_split(lower(text), ' ')), 6) * 10, 1.0) * 0.3,
               6) AS quality
  FROM documents
  WHERE doc_id % 41 <> 0 AND lang = 'en'
),
cand AS (SELECT * FROM q WHERE quality >= 0.5),
surv AS (
  SELECT * FROM (
    SELECT doc_id, text, n_words, quality,
           MIN(doc_id) OVER (PARTITION BY md5(lower(regexp_replace(text, '\\s+', ' ', 'g')))) AS canon
    FROM cand)
  WHERE doc_id = canon
),
toks AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
grams AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(0, len(w)-3),
                               g -> array_to_string(w[g+1:g+3], ' '))) AS sh
  FROM toks WHERE len(w) >= 3
),
bench AS (SELECT DISTINCT sh FROM grams WHERE doc_id % 41 = 0)
SELECT s.doc_id, CAST(s.n_words AS INTEGER) AS n_words, s.quality
FROM surv s
WHERE NOT EXISTS (
  SELECT 1 FROM grams g JOIN bench b ON g.sh = b.sh WHERE g.doc_id = s.doc_id)
ORDER BY s.doc_id
""",
    tags=("pipeline", "text", "dedup", "composed", "bench"),
    doc="The composed C4-style cleaning pipeline — the flagship LLM-data "
    "query: English docs outside the benchmark split → quality >= 0.5 "
    "(per-row JVM expressions, zero shuffle) → exact-dedup survivors "
    "(min-id per content hash, ONE window shuffle) → drop any doc sharing "
    "a 3-gram with the benchmark (broadcast anti-semi-join). Filter order "
    "is cheap-per-row first, so the expensive stages see the smallest "
    "surviving set — the shape a 100 TB cleaning job must have.",
)
def pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from flink_1_12_0_src_spark.pipeline.text import exploded_shingles, quality_score, shingles

    docs = table(spark, sf_dir, "documents")
    scored = quality_score(
        docs.filter((F.col("doc_id") % 41 != 0) & (F.col("lang") == "en")),
        "doc_id",
        "text",
        keep=["text"],
    )
    cand = scored.filter(F.col("quality") >= 0.5)
    h = F.md5(F.lower(F.regexp_replace(F.col("text"), r"\s+", " ")))
    surv = (
        cand.withColumn("_canon", F.min("doc_id").over(W.partitionBy(h)))
        .filter(F.col("doc_id") == F.col("_canon"))
    )
    bench_grams = (
        exploded_shingles(docs.filter(F.col("doc_id") % 41 == 0), "text", 3)
        .distinct()
    )
    hits = (
        surv.select("doc_id", F.explode(F.array_distinct(shingles("text", 3))).alias("sh"))
        .join(F.broadcast(bench_grams), "sh", "left_semi")
        .select("doc_id")
        .distinct()
    )
    return (
        surv.join(hits, "doc_id", "left_anti")
        .select("doc_id", F.col("n_words").cast("int").alias("n_words"), "quality")
        .orderBy("doc_id")
    )


@register(
    "dataset_shuffle_shard",
    oracle="""
WITH h AS (
  SELECT doc_id, md5('77|' || CAST(doc_id AS VARCHAR)) AS hh FROM documents
)
SELECT doc_id,
       CAST(('0x' || substr(hh, 1, 1))::BIGINT AS INTEGER) AS shard_id,
       CAST(ROW_NUMBER() OVER (
           PARTITION BY substr(hh, 1, 1) ORDER BY hh, doc_id) AS BIGINT)
         AS position
FROM h ORDER BY doc_id
""",
    tags=("pipeline", "sampling"),
    doc="Deterministic global shuffle + sharding (pipeline/sampling.py "
    "shuffle_shard): the pre-training writer layout — shard = first md5 hex "
    "nibble (16 shards), within-shard order = rank of the salted id hash. "
    "Stateless and seed-stable: a document's (shard, position) never "
    "changes across re-runs or repartitioning; ONE window shuffle keyed by "
    "shard, no global sort.",
)
def dataset_shuffle_shard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.pipeline.sampling import shuffle_shard

    return shuffle_shard(table(spark, sf_dir, "documents"), "doc_id", seed=77).orderBy(
        "doc_id"
    )


SPAN_WINDOW = 8  # token-window length for the exact-substring duplication signal


@register(
    "dedup_exact_substring",
    oracle=f"""
WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
base AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens, w FROM t),
wp AS (
  SELECT doc_id, n_tokens,
         unnest(generate_series(1, greatest(len(w) - {SPAN_WINDOW - 1}, 0))) AS pos,
         unnest(list_transform(generate_series(1, greatest(len(w) - {SPAN_WINDOW - 1}, 0)),
                i -> md5(array_to_string(w[i:i+{SPAN_WINDOW - 1}], ' ')))) AS gh
  FROM base
),
dup AS (SELECT gh FROM wp GROUP BY gh HAVING COUNT(DISTINCT doc_id) >= 2),
hits AS (SELECT wp.doc_id, wp.pos FROM wp JOIN dup USING (gh)),
stats AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dup_windows FROM hits GROUP BY doc_id),
cov AS (
  SELECT doc_id, CAST(COUNT(DISTINCT ti) AS BIGINT) AS dup_tokens
  FROM (SELECT doc_id, unnest(generate_series(pos, pos + {SPAN_WINDOW - 1})) AS ti FROM hits)
  GROUP BY doc_id
)
SELECT b.doc_id, b.n_tokens,
       COALESCE(s.dup_windows, 0) AS dup_windows,
       COALESCE(c.dup_tokens, 0) AS dup_tokens,
       CAST(COALESCE(c.dup_tokens, 0) AS DOUBLE) / b.n_tokens AS dup_frac
FROM (SELECT doc_id, n_tokens FROM base) b
LEFT JOIN stats s USING (doc_id) LEFT JOIN cov c USING (doc_id)
ORDER BY doc_id
""",
    tags=("pipeline", "dedup", "bench"),
    doc=f"Exact-substring duplication signal (hashed {SPAN_WINDOW}-token windows "
    "shared across ≥2 docs; Lee et al. 2022 ExactSubstr approximated for "
    "map-side hashing): per-doc duplicated-window count, distinct covered "
    "token positions, and coverage fraction. One window-hash groupBy + one "
    "equi join — linear in duplicated occurrences, never a self-join.",
)
def dedup_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.pipeline.dedup import duplicated_spans

    return duplicated_spans(
        table(spark, sf_dir, "documents"), "doc_id", "text", window=SPAN_WINDOW
    ).orderBy("doc_id")


def _substring_cte_body(src: str = "documents", text: str = "text") -> str:
    """WITH-body of the ExactSubstr rewrite chain (t/base/wp/dgh/occ/keep1/
    keep2/flag/rm/toks/keptt/agg) over relation ``src``'s ``text`` column —
    shared by the standalone rewrite oracle, its streaming twin, and the
    composed RefinedWeb+substring capstone."""
    return f"""t AS (SELECT doc_id, string_split(lower({text}), ' ') AS w FROM {src}),
base AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens, w FROM t),
wp AS (
  SELECT doc_id,
         unnest(generate_series(1, greatest(len(w) - {SPAN_WINDOW - 1}, 0))) AS pos,
         unnest(list_transform(generate_series(1, greatest(len(w) - {SPAN_WINDOW - 1}, 0)),
                i -> md5(array_to_string(w[i:i+{SPAN_WINDOW - 1}], ' ')))) AS gh
  FROM base
),
dgh AS (SELECT gh FROM wp GROUP BY gh HAVING COUNT(DISTINCT doc_id) >= 2),
occ AS (SELECT wp.* FROM wp JOIN dgh USING (gh)),
keep1 AS (SELECT gh, MIN(doc_id) AS kid FROM occ GROUP BY gh),
keep2 AS (SELECT o.gh, k.kid, MIN(o.pos) AS kpos
          FROM occ o JOIN keep1 k ON o.gh = k.gh AND o.doc_id = k.kid
          GROUP BY 1, 2),
flag AS (SELECT o.doc_id, o.pos FROM occ o JOIN keep2 k USING (gh)
         WHERE NOT (o.doc_id = k.kid AND o.pos = k.kpos)),
rm AS (SELECT DISTINCT doc_id, ti
       FROM (SELECT doc_id, unnest(generate_series(pos, pos + {SPAN_WINDOW - 1})) AS ti
             FROM flag)),
toks AS (SELECT doc_id, unnest(w) AS tok, generate_subscripts(w, 1) AS ti FROM base),
keptt AS (SELECT t.doc_id, t.ti, t.tok FROM toks t
          LEFT JOIN rm ON rm.doc_id = t.doc_id AND rm.ti = t.ti
          WHERE rm.ti IS NULL),
agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
               string_agg(tok, ' ' ORDER BY ti) AS clean_text
        FROM keptt GROUP BY doc_id)"""


# ONE constant shared by the batch rewrite (dedup_substring_rewrite) and its
# streaming twin (stream_substring_rewrite, queries/streamingq.py): the
# occurrence set is a pure function of the corpus, so the twin's snapshot
# rewrite equals the batch rewrite exactly.
SUBSTRING_REWRITE_ORACLE = f"""
WITH {_substring_cte_body()}
SELECT b.doc_id, b.n_tokens,
       CAST(b.n_tokens - COALESCE(a.n_kept, 0) AS BIGINT) AS n_removed,
       COALESCE(a.clean_text, '') AS clean_text
FROM base b LEFT JOIN agg a USING (doc_id) ORDER BY b.doc_id
"""


@register(
    "dedup_substring_rewrite",
    oracle=SUBSTRING_REWRITE_ORACLE,
    tags=("pipeline", "dedup", "composed", "bench"),
    doc=f"ExactSubstr SURVIVOR REWRITE (pipeline/dedup.py "
    "exact_substring_rewrite; Lee et al. 2022 §4.1 remove the duplicated "
    "substring itself, not the document) — the rewrite stage "
    "dedup_exact_substring is the audit for: per cross-doc duplicated "
    f"{SPAN_WINDOW}-token window hash, the (MIN doc, MIN pos) occurrence "
    "is the KEEPER; every other occurrence's covered positions are "
    "removed and each document reassembles from its surviving tokens in "
    "position order (a fully-duplicated non-keeper doc rewrites to ''). "
    "Per-hash keepers approximate the paper's maximal-span suffix-array "
    "walk — conservative, deterministic, engine-portable. Linear "
    "topology: one hash-keyed keeper aggregate (MIN is decomposable), "
    "one flag join, one coverage distinct, one anti join, one per-doc "
    "reassembly — no self-join anywhere.",
)
def dedup_substring_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.pipeline.dedup import exact_substring_rewrite

    return exact_substring_rewrite(
        table(spark, sf_dir, "documents"), "doc_id", "text", window=SPAN_WINDOW
    ).orderBy("doc_id")


@register(
    "dedup_substring_spans",
    oracle=f"""
WITH {_substring_cte_body()},
isl AS (SELECT doc_id, ti,
               ti - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY ti) AS grp
        FROM rm),
spans AS (SELECT doc_id, grp, COUNT(*) AS len FROM isl GROUP BY 1, 2),
st AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
              CAST(SUM(len) AS BIGINT) AS n_removed,
              CAST(MAX(len) AS BIGINT) AS max_span_len,
              CAST(round(CAST(SUM(len) AS DOUBLE) / COUNT(*) * 1000000.0, 0) AS BIGINT)
                  / 1000000.0 AS avg_span_len
       FROM spans GROUP BY doc_id)
SELECT b.doc_id, CAST(b.n_tokens AS BIGINT) AS n_tokens,
       CAST(COALESCE(st.n_spans, 0) AS BIGINT) AS n_spans,
       CAST(COALESCE(st.n_removed, 0) AS BIGINT) AS n_removed,
       CAST(COALESCE(st.max_span_len, 0) AS BIGINT) AS max_span_len,
       COALESCE(st.avg_span_len, 0.0) AS avg_span_len
FROM base b LEFT JOIN st USING (doc_id) ORDER BY b.doc_id
""",
    tags=("pipeline", "dedup", "composed"),
    doc="MAXIMAL-SPAN ExactSubstr audit (pipeline/dedup.py "
    "substring_span_stats) — merges the rewrite's removed token positions "
    "into maximal contiguous spans via gaps-and-islands (ti − row_number "
    "over one doc-keyed window, the events_session_stats idiom) and "
    "reports per-doc span counts and lengths: the span-level view of Lee "
    "et al. 2022's suffix-array semantics, recovered without a suffix "
    "array. Shares removed_positions with dedup_substring_rewrite (the "
    "oracle nests the same CTE body), so total removed tokens equal the "
    "rewrite's n_removed by construction — property-pinned. Scale: the "
    "islands window runs over the removed-position relation (already far "
    "below the token stream); everything upstream is the rewrite's linear "
    "topology.",
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.pipeline.dedup import substring_span_stats

    return substring_span_stats(
        table(spark, sf_dir, "documents"), "doc_id", "text", window=SPAN_WINDOW
    ).orderBy("doc_id")


@register(
    "dataset_temperature_mix",
    oracle="""
WITH n AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM documents GROUP BY lang),
mn AS (SELECT MIN(n) AS mn FROM n),
thr AS (
  SELECT lang,
         CASE WHEN n <= mn THEN 'g'
              ELSE lpad(lower(to_hex(least(CAST(floor(sqrt(CAST(mn AS DOUBLE) / n) * 4294967296.0) AS BIGINT),
                                           4294967295))), 8, '0') END AS t
  FROM n, mn
)
SELECT d.doc_id, d.lang FROM documents d JOIN thr USING (lang)
WHERE substr(md5('7|' || CAST(d.doc_id AS VARCHAR)), 1, 8) < t
ORDER BY doc_id
""",
    tags=("pipeline", "sampling"),
    doc="Temperature-based domain mixing at α=0.5: deterministic per-language "
    "downsampling with keep_p = sqrt(min_n/n_lang) (mBERT/XLM-R-style "
    "exponential smoothing normalized to the smallest group). Per-group "
    "thresholds come from one tiny count agg broadcast back; membership is a "
    "fixed-width hex-hash comparison — no floating SUM, no RNG state, "
    "identical row set on any engine and any partitioning.",
)
def dataset_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.pipeline.sampling import temperature_sample

    return temperature_sample(
        table(spark, sf_dir, "documents"), "doc_id", "lang", seed=7
    ).select("doc_id", "lang").orderBy("doc_id")


@register(
    "text_unigram_logppl",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents
),
t AS (SELECT doc_id, term FROM toks WHERE term <> ''),
vocab AS (SELECT term, COUNT(*) AS c FROM t GROUP BY term),
total AS (SELECT COUNT(*) AS n FROM t),
scored AS (
  SELECT t.doc_id,
         CAST(round(-ln(CAST(c AS DOUBLE) / (SELECT CAST(n AS DOUBLE) FROM total)), 9)
              AS DECIMAL(28,9)) AS nll
  FROM t JOIN vocab USING (term)
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(nll) AS DOUBLE) / COUNT(*) AS avg_nll
FROM scored GROUP BY doc_id ORDER BY doc_id
""",
    tags=("pipeline", "text"),
    doc="Perplexity-proxy quality filter: per-document average unigram "
    "negative log-probability under the corpus's own unigram LM (the "
    "CCNet/RedPajama KenLM-filter shape without external models). Per-token "
    "-ln(p) rounded to 9 dp and DECIMAL-accumulated — partitioning-invariant; "
    "one vocab scan + one equi-join scoring scan, no UDFs.",
)
def text_unigram_logppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.pipeline.text import unigram_logprob

    return unigram_logprob(table(spark, sf_dir, "documents"), "doc_id", "text").orderBy(
        "doc_id"
    )


@register(
    "dataset_split_leakage",
    oracle=f"""
WITH mh AS (
  SELECT * FROM ({_minhash_oracle(ordered=False)})
),
sp AS (
  SELECT doc_id,
         CASE WHEN substr(md5('42|' || CAST(doc_id AS VARCHAR)), 1, 8) < 'e6666666' THEN 'train'
              WHEN substr(md5('42|' || CAST(doc_id AS VARCHAR)), 1, 8) < 'f3333333' THEN 'val'
              ELSE 'test' END AS split
  FROM documents
)
SELECT mh.id_a, mh.id_b, sa.split AS split_a, sb.split AS split_b, mh.est_jaccard
FROM mh JOIN sp sa ON sa.doc_id = mh.id_a JOIN sp sb ON sb.doc_id = mh.id_b
WHERE sa.split <> sb.split AND mh.est_jaccard >= 0.5
ORDER BY id_a, id_b
""",
    tags=("pipeline", "dedup", "sampling"),
    doc="Cross-split leakage audit — the eval-integrity check every dataset "
    "assembly needs: near-duplicate pairs (banded MinHash-LSH, est Jaccard "
    ">= 0.5) whose endpoints landed in DIFFERENT hash_split partitions, i.e. "
    "eval documents with a near-copy in train. Pure composition of the "
    "shipped primitives (minhash_lsh_pairs x hash_split) — the pair table "
    "is tiny, and the split of each endpoint is a pure hash expression on "
    "it — no join against the corpus-sized split table at all.",
)
def dataset_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.pipeline.sampling import (
        SPLIT_TRAIN_BOUND,
        SPLIT_VAL_BOUND,
        _salted_hash,
    )

    def split_of(id_col: str) -> F.Column:
        # hash_split is a pure stateless projection of the id, so the split
        # of each pair endpoint computes as an EXPRESSION on the tiny pair
        # table — no join against (and no broadcast of) the corpus-sized
        # split assignment at all
        h = F.substring(_salted_hash(id_col, 42), 1, 8)
        return (
            F.when(h < SPLIT_TRAIN_BOUND, "train")
            .when(h < SPLIT_VAL_BOUND, "val")
            .otherwise("test")
        )

    docs = table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        docs, "doc_id", "text", MH_NUM_HASHES, MH_SHINGLE_K, MH_BAND_ROWS, MH_MAX_BUCKET
    ).filter(F.col("est_jaccard") >= 0.5)
    return (
        pairs.withColumn("split_a", split_of("id_a"))
        .withColumn("split_b", split_of("id_b"))
        .filter(F.col("split_a") != F.col("split_b"))
        .select("id_a", "id_b", "split_a", "split_b", "est_jaccard")
        .orderBy("id_a", "id_b")
    )


@register(
    "text_token_entropy",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents
),
t AS (SELECT doc_id, term FROM toks WHERE term <> ''),
tf AS (SELECT doc_id, term, COUNT(*) AS c FROM t GROUP BY doc_id, term),
wn AS (SELECT doc_id, term, c, SUM(c) OVER (PARTITION BY doc_id) AS n FROM tf),
h AS (
  SELECT doc_id, n,
         CAST(round(-(CAST(c AS DOUBLE) / n) * ln(CAST(c AS DOUBLE) / n), 9)
              AS DECIMAL(28,9)) AS th
  FROM wn
)
SELECT doc_id, CAST(MAX(n) AS BIGINT) AS n_tokens,
       CAST(SUM(th) AS DOUBLE) AS entropy
FROM h GROUP BY doc_id ORDER BY doc_id
""",
    tags=("pipeline", "text"),
    doc="Per-document Shannon token entropy H = sum -(c/n)ln(c/n) — the "
    "low-entropy boilerplate/keyword-stuffing signal complementing "
    "repetition_signals (whole-distribution vs head-of-distribution). "
    "9-dp-rounded terms, DECIMAL accumulation, two doc-keyed shuffles, no "
    "UDFs.",
)
def text_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.pipeline.text import token_entropy

    return token_entropy(table(spark, sf_dir, "documents"), "doc_id", "text").orderBy(
        "doc_id"
    )


SAMPLE_K = 100


@register(
    "dataset_uniform_sample",
    oracle=f"""
SELECT doc_id, lang FROM documents
ORDER BY md5('11|' || CAST(doc_id AS VARCHAR)), doc_id
LIMIT {SAMPLE_K}
""",
    tags=("pipeline", "sampling"),
    doc=f"Deterministic fixed-size uniform sample (k={SAMPLE_K}): the "
    "smallest-k salted id hashes — rerun-stable reservoir-sampling "
    "equivalent; one TakeOrderedAndProject, no full sort, no RNG state "
    "(pipeline/sampling.py uniform_sample).",
)
def dataset_uniform_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.pipeline.sampling import uniform_sample

    return uniform_sample(
        table(spark, sf_dir, "documents"), "doc_id", SAMPLE_K, seed=11
    ).select("doc_id", "lang")


DSIR_HEX = 2  # 256 hashed-unigram buckets (16^2)


@register(
    "dataset_dsir_weights",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, lang, substr(md5(t), 1, {DSIR_HEX}) AS bucket
  FROM (SELECT doc_id, lang, unnest(string_split_regex(lower(text), '\\s+')) AS t
        FROM documents)
  WHERE t <> ''
),
tc AS (SELECT bucket, COUNT(*) AS ct FROM tok WHERE lang = 'en' GROUP BY 1),
rc AS (SELECT bucket, COUNT(*) AS cr FROM tok WHERE lang <> 'en' GROUP BY 1),
tt AS (SELECT SUM(ct)::DOUBLE AS t FROM tc),
tr AS (SELECT SUM(cr)::DOUBLE AS t FROM rc),
ratio AS (
  SELECT bucket,
         CAST(round(ln(((COALESCE(ct, 0) + 1) / (tt.t + {16 ** DSIR_HEX}))
                       / ((COALESCE(cr, 0) + 1) / (tr.t + {16 ** DSIR_HEX}))), 6)
              AS DECIMAL(28,9)) AS lr
  FROM rc FULL JOIN tc USING (bucket) CROSS JOIN tt CROSS JOIN tr
),
db AS (SELECT doc_id, bucket, COUNT(*) AS n FROM tok WHERE lang <> 'en' GROUP BY 1, 2)
SELECT db.doc_id, CAST(SUM(db.n) AS BIGINT) AS n_tokens,
       CAST(SUM(CAST(db.n AS DECIMAL(28,9)) * ratio.lr) AS DOUBLE) AS log_weight,
       SUM(CAST(db.n AS DECIMAL(28,9)) * ratio.lr) > 0 AS selected
FROM db JOIN ratio USING (bucket)
GROUP BY db.doc_id ORDER BY db.doc_id
""",
    tags=("pipeline", "sampling", "text"),
    doc="DSIR importance weights (Xie et al. 2023; pipeline/sampling.py "
    "dsir_weights): score raw-pool documents (lang <> 'en') by hashed-unigram "
    "log-likelihood ratio against the target domain (lang = 'en'), add-1 "
    f"smoothing over {16 ** DSIR_HEX} md5-prefix buckets. Per-bucket log-ratio "
    "rounded to 6 dp once (keeps ln() safely inside cross-libm agreement — "
    "defensive hardening), DECIMAL-accumulated per doc. The actual r05/r06 "
    "driver reds were the oracle's uncast SUM(db.n) typing as DuckDB "
    "HUGEINT, whose rendering diverges from Spark's BIGINT under the "
    "driver's rendered-value hash — fixed in r07 by CAST(... AS BIGINT), "
    "guarded by tests/test_oracle_types.py. Partitioning- and "
    "engine-invariant. The ratio table broadcasts; two raw scans + one "
    "target scan, no corpus-size shuffle beyond the doc-keyed sum.",
)
def dataset_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.pipeline.sampling import dsir_weights

    docs = table(spark, sf_dir, "documents")
    return dsir_weights(
        docs.filter(F.col("lang") != "en"),
        docs.filter(F.col("lang") == "en"),
        "doc_id",
        "text",
        hex_chars=DSIR_HEX,
    ).orderBy("doc_id")


DOREMI_ROUNDS = 4
DOREMI_ETA = 0.5
DOREMI_SMOOTH = 0.02


def _doremi_oracle(rounds: int = DOREMI_ROUNDS) -> str:
    """Unrolled-round DuckDB twin of pipeline/sampling.py doremi_weights —
    COUPLED rounds (round-12): each round retrains the proxy unigram LM on
    the previous iterate's mixture (pico-unit exact-integer mixture
    probabilities, 6-dp ln rounding) before the exponentiated-gradient
    step with exact nano-unit integer normalizers (the dsir_weights libm
    discipline). One CTE chain per round: mixture LM → per-domain loss →
    excess/step → normalize."""
    steps = []
    prev = "r0"
    for t in range(1, rounds + 1):
        steps.append(f"""
p{t} AS MATERIALIZED (SELECT term,
               GREATEST(SUM(CAST(round(alpha * CAST(n AS DOUBLE) / CAST(ntok AS DOUBLE)
                                        * 1000000000000000.0, 0) AS BIGINT)), 1) AS pm
         FROM dtn JOIN {prev} USING (domain) GROUP BY term),
lp{t} AS MATERIALIZED (SELECT domain,
                CAST(SUM(CAST(n AS DECIMAL(15,0)) *
                         CAST(round(-ln(CAST(pm AS DOUBLE) / 1000000000000000.0), 6)
                              AS DECIMAL(20,6))) AS DOUBLE)
                / CAST(SUM(n) AS DOUBLE) AS lp
          FROM dtn JOIN p{t} USING (term) GROUP BY domain),
s{t} AS (SELECT r.domain, r.n_docs, r.lr, r.k, r.alpha, r.acc, l.lp,
                CAST(round(greatest(0.0, l.lp - r.lr) * 1000000.0, 0) AS BIGINT)
                    / 1000000.0 AS excess
         FROM {prev} r JOIN lp{t} l USING (domain)),
e{t} AS (SELECT *, round(exp({DOREMI_ETA} * excess), 6) AS e FROM s{t}),
r{t}n AS (SELECT *, CAST(round(alpha * e * 1000000000.0, 0) AS BIGINT) AS numn FROM e{t}),
r{t}z AS (SELECT SUM(numn) AS z FROM r{t}n),
r{t} AS MATERIALIZED (SELECT domain, n_docs, lp, lr, excess, e, k,
               CAST(round(CAST(numn AS DOUBLE) / z * 1000000.0, 0) AS BIGINT)
                   / 1000000.0 AS alpha,
               CAST(acc + CAST(CAST(round(CAST(numn AS DOUBLE) / z * 1000000.0, 0) AS BIGINT)
                               / 1000000.0 AS DECIMAL(28,9))
                    AS DECIMAL(28,9)) AS acc
         FROM r{t}n, r{t}z)""")
        prev = f"r{t}"
    return f"""
WITH toks AS (
  SELECT source AS domain,
         unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS term
  FROM documents
),
dterm AS (SELECT domain, term, COUNT(*) AS n FROM toks GROUP BY 1, 2),
ntokd AS (SELECT domain, CAST(SUM(n) AS BIGINT) AS ntok FROM dterm GROUP BY domain),
dtn AS MATERIALIZED (SELECT domain, term, n, ntok FROM dterm JOIN ntokd USING (domain)),
vocab AS (SELECT term, CAST(SUM(n) AS BIGINT) AS c FROM dterm GROUP BY term),
btoks AS (SELECT source AS domain,
                 list_filter(string_split(lower(text), ' '), x -> x <> '') AS w
          FROM documents),
bg AS (SELECT domain, w[g+1] AS w1, w[g+2] AS w2
       FROM (SELECT domain, w, unnest(generate_series(0, len(w)-2)) AS g
             FROM btoks WHERE len(w) >= 2)),
dbg AS (SELECT domain, w1, w2, COUNT(*) AS n FROM bg GROUP BY 1, 2, 3),
cbg AS (SELECT w1, w2, CAST(SUM(n) AS BIGINT) AS cb FROM dbg GROUP BY 1, 2),
v AS (SELECT CAST(COUNT(*) AS DOUBLE) AS vs FROM vocab),
lrd AS (SELECT domain,
               CAST(SUM(CAST(n AS DECIMAL(15,0)) *
                        CAST(round(-ln((cb + 1.0) / (c + (SELECT vs FROM v))), 6) AS DECIMAL(20,6))) AS DOUBLE)
               / CAST(SUM(n) AS DOUBLE) AS lr
        FROM dbg JOIN cbg USING (w1, w2) JOIN vocab ON vocab.term = dbg.w1
        GROUP BY domain),
nd AS (SELECT source AS domain, CAST(COUNT(*) AS BIGINT) AS n_docs
       FROM documents GROUP BY 1),
dom AS (SELECT nd.domain, nd.n_docs, lrd.lr
        FROM nd JOIN lrd USING (domain)),
kk AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM dom),
r0 AS MATERIALIZED (SELECT domain, n_docs, CAST(0.0 AS DOUBLE) AS lp, lr,
              CAST(0.0 AS DOUBLE) AS excess, CAST(0.0 AS DOUBLE) AS e, k,
              CAST(round(1.0 / k * 1000000000.0, 0) AS BIGINT) / 1000000000.0 AS alpha,
              CAST(0 AS DECIMAL(28,9)) AS acc
       FROM dom, kk),{",".join(steps)}
SELECT domain, n_docs,
       CAST(round(lp * 1000000.0, 0) AS BIGINT) / 1000000.0 AS proxy_nll,
       CAST(round(lr * 1000000.0, 0) AS BIGINT) / 1000000.0 AS ref_nll,
       excess AS excess_loss,
       CAST(round(({1.0 - DOREMI_SMOOTH} * (CAST(acc AS DOUBLE) / {float(rounds)})
                   + {DOREMI_SMOOTH} * (1.0 / k)) * 1000000.0, 0) AS BIGINT)
           / 1000000.0 AS weight
FROM {prev} ORDER BY domain
"""


# ONE constant shared by the batch trainer (dataset_doremi_weights) and its
# streaming twin (stream_doremi_weights, queries/streamingq.py): the
# sufficient statistics are a pure function of the corpus, so the twin's
# snapshot training run equals the batch run exactly.
DOREMI_ORACLE = _doremi_oracle()


@register(
    "dataset_doremi_weights",
    oracle=DOREMI_ORACLE,
    tags=("pipeline", "sampling", "iterative", "bench"),
    doc="DoReMi domain-weight training (Xie et al. 2023, Algorithm 1; "
    "pipeline/sampling.py doremi_weights) — the fifth unrolled "
    "iterative-training member: per-domain excess loss = "
    "max(0, unigram-LM loss − bigram-LM loss) from the repo's two "
    f"engine-exact perplexity scorers, then {DOREMI_ROUNDS} "
    "exponentiated-gradient rounds α ∝ α·exp(η·excess) normalized by "
    "exact nano-unit integer sums, returning the SMOOTHED ITERATE "
    "AVERAGE (the paper's output step, not the last iterate). Composes "
    "with dataset_temperature_mix / dataset_dsir_weights as the third "
    "published mixing recipe. Scale: two LM scoring passes collapse the "
    "corpus to domains-sized relations before any weight math; every "
    "round runs over the K-row domain relation with one-row exact "
    "normalizers — the corpus never shuffles on rounds.",
)
def dataset_doremi_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.pipeline.sampling import doremi_weights

    return doremi_weights(
        table(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        "source",
        rounds=DOREMI_ROUNDS,
        eta=DOREMI_ETA,
        smoothing=DOREMI_SMOOTH,
    ).orderBy("domain")


DOREMI_SEED = 13


@register(
    "dataset_doremi_sample",
    oracle=f"""
WITH w AS (SELECT domain, n_docs, weight FROM ({_doremi_oracle()})),
mx AS (SELECT MAX(weight / n_docs) AS mx FROM w),
thr AS (SELECT domain,
               CASE WHEN weight / n_docs >= mx THEN 'g'
                    ELSE lpad(lower(to_hex(least(CAST(floor(weight / n_docs / mx * 4294967296.0) AS BIGINT),
                                                 4294967295))), 8, '0') END AS t
        FROM w, mx)
SELECT d.doc_id, d.source AS domain
FROM documents d JOIN thr ON thr.domain = d.source
WHERE substr(md5('{DOREMI_SEED}|' || CAST(d.doc_id AS VARCHAR)), 1, 8) < t
ORDER BY d.doc_id
""",
    tags=("pipeline", "sampling", "composed"),
    doc="APPLY the DoReMi mixture (pipeline/sampling.py doremi_sample) — "
    "the train-time half dataset_doremi_weights exists for: per-domain "
    "keep probability proportional to weight/n_docs, normalized so the "
    "bottleneck domain keeps everything, realized with the package's "
    "deterministic fixed-width hex-threshold idiom (temperature_sample's "
    "no-replacement rule with the LEARNED weights in place of the sqrt "
    "law). The oracle nests the unrolled-round DoReMi oracle verbatim, so "
    "the sampler can never drift from the trainer. Scale: the threshold "
    "table is K rows and broadcasts; the keep decision is a stateless "
    "filter inside the scan — no corpus shuffle beyond the trainer's two "
    "LM passes.",
)
def dataset_doremi_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.pipeline.sampling import doremi_sample

    return doremi_sample(
        table(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        "source",
        rounds=DOREMI_ROUNDS,
        eta=DOREMI_ETA,
        smoothing=DOREMI_SMOOTH,
        seed=DOREMI_SEED,
    ).orderBy("doc_id")



MIXCMP_SEED = 7


@register(
    "dataset_mix_compare",
    oracle=f"""
WITH dw AS (SELECT domain, n_docs, weight FROM ({DOREMI_ORACLE})),
tn AS (SELECT source AS domain, COUNT(*) AS n FROM documents GROUP BY 1),
tmn AS (SELECT MIN(n) AS mn FROM tn),
tthr AS (SELECT domain,
                CASE WHEN n <= mn THEN 'g'
                     ELSE lpad(lower(to_hex(least(CAST(floor(sqrt(CAST(mn AS DOUBLE) / n) * 4294967296.0) AS BIGINT),
                                                  4294967295))), 8, '0') END AS t
         FROM tn, tmn),
tkept AS (SELECT d.source AS domain, CAST(COUNT(*) AS BIGINT) AS kept
          FROM documents d JOIN tthr ON tthr.domain = d.source
          WHERE substr(md5('{MIXCMP_SEED}|' || CAST(d.doc_id AS VARCHAR)), 1, 8) < t
          GROUP BY 1),
tot AS (SELECT (SELECT CAST(SUM(kept) AS DOUBLE) FROM tkept) AS tk,
               (SELECT CAST(COUNT(*) AS DOUBLE) FROM dw) AS k)
SELECT dw.domain, dw.n_docs,
       CAST(round(1.0 / (SELECT k FROM tot) * 1000000.0, 0) AS BIGINT) / 1000000.0
           AS share_uniform,
       CAST(round(CAST(COALESCE(tkept.kept, 0) AS DOUBLE) / (SELECT tk FROM tot) * 1000000.0, 0) AS BIGINT)
           / 1000000.0 AS share_temperature,
       dw.weight AS share_doremi
FROM dw LEFT JOIN tkept USING (domain) ORDER BY dw.domain
""",
    tags=("pipeline", "sampling", "composed"),
    doc="MIXING-RECIPE comparison — the 'which mixture do we ship' table a "
    "data team builds before a pretraining run: per domain the realized "
    "share under (a) uniform, (b) temperature sampling at α=0.5 "
    "(temperature_sample's sqrt law, the mBERT/XLM-R recipe, realized on "
    "the source axis with the shared hex-threshold idiom), and (c) the "
    "trained DoReMi weights (dataset_doremi_weights' smoothed iterate "
    "average) — three published recipes side by side on one axis. The "
    "oracle nests the DoReMi oracle verbatim and mirrors the "
    "temperature threshold CTE, so neither column can drift from its "
    "standalone operator. Scale: both recipes collapse the corpus to "
    "domains-sized relations before any share math; the kept-count pass "
    "is one broadcast-threshold filter + one aggregate.",
)
def dataset_mix_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mix_compare_report(table(spark, sf_dir, "documents"), rounds=DOREMI_ROUNDS)


def mix_compare_report(docs: DataFrame, rounds: int = DOREMI_ROUNDS) -> DataFrame:
    """The dataset_mix_compare plan — ONE builder shared by the registered
    query and its golden-plan provider (tests/plan_fp.py), so the pinned
    plan can never drift from what ships. LEFT join from the trained
    weights: a domain whose temperature sample keeps zero docs must still
    appear (share_temperature 0), and the uniform share divides by the
    weight-table domain count, not the kept-domain count."""
    from flink_1_12_0_src_spark.pipeline.sampling import (
        doremi_weights,
        temperature_sample,
    )

    dw = doremi_weights(
        docs, "doc_id", "text", "source",
        rounds=rounds, eta=DOREMI_ETA, smoothing=DOREMI_SMOOTH,
    ).select("domain", "n_docs", F.col("weight").alias("share_doremi"))
    tkept = (
        temperature_sample(docs, "doc_id", "source", seed=MIXCMP_SEED)
        .groupBy(F.col("source").alias("domain"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("kept"))
    )
    tot = tkept.agg(F.sum("kept").cast("double").alias("_tk")).crossJoin(
        dw.agg(F.count(F.lit(1)).cast("double").alias("_k"))
    )

    def micro(c):
        return F.round(c * F.lit(1e6), 0).cast("bigint") / F.lit(1e6)

    return (
        dw.join(tkept, "domain", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "domain",
            "n_docs",
            micro(F.lit(1.0) / F.col("_k")).alias("share_uniform"),
            micro(
                F.coalesce("kept", F.lit(0)).cast("double") / F.col("_tk")
            ).alias("share_temperature"),
            F.col("share_doremi"),
        )
        .orderBy("domain")
    )


def _ensemble_oracle() -> str:
    sigs = ("quality", "dup_bigram_frac", "entropy", "avg_nll")
    stat_cols = ", ".join(
        f"CAST(SUM(CAST({s} AS DECIMAL(18,6))) AS DOUBLE) AS s_{s}, "
        f"CAST(SUM(CAST({s} AS DECIMAL(18,6)) * CAST({s} AS DECIMAL(18,6))) AS DOUBLE) AS q_{s}"
        for s in sigs
    )

    def z(s):
        mu = f"(st.s_{s} / st.n)"
        var = f"(st.q_{s} / st.n - {mu} * {mu})"
        sd = f"sqrt(greatest({var}, 0.0))"
        return f"CASE WHEN {sd} > 0 THEN round((j.{s} - {mu}) / {sd}, 6) ELSE 0.0 END"

    comp = (
        f"round({z('quality')} * 0.4 + {z('entropy')} * 0.2"
        f" - {z('dup_bigram_frac')} * 0.2 - {z('avg_nll')} * 0.2, 6)"
    )
    return f"""
WITH t0 AS (SELECT doc_id, text, string_split(lower(text), ' ') AS w FROM documents),
q AS (
  SELECT doc_id,
         round(least(len(w) / 50.0, 1.0) * 0.4
               + (1 - least(round(len(regexp_extract_all(text, '[^a-zA-Z0-9 \\t\\n]')) / length(text), 6) * 5, 1.0)) * 0.3
               + least(round(len(list_intersect(w, {_EN!r})) / len(w), 6) * 10, 1.0) * 0.3, 6) AS quality
  FROM t0),
rep AS (
  SELECT doc_id, round(1 - len(list_distinct(b)) / len(b), 6) AS dup_bigram_frac
  FROM (SELECT doc_id, list_transform(generate_series(0, len(w)-2),
                                      g -> array_to_string(w[g+1:g+2], ' ')) AS b
        FROM t0 WHERE len(w) >= 2)),
t AS (SELECT doc_id, unnest(w) AS term FROM t0),
tt AS (SELECT doc_id, term FROM t WHERE term <> ''),
tf AS (SELECT doc_id, term, COUNT(*) AS c FROM tt GROUP BY doc_id, term),
wn AS (SELECT doc_id, term, c, SUM(c) OVER (PARTITION BY doc_id) AS n FROM tf),
ent AS (
  SELECT doc_id, CAST(SUM(CAST(round(-(CAST(c AS DOUBLE) / n) * ln(CAST(c AS DOUBLE) / n), 9)
                              AS DECIMAL(28,9))) AS DOUBLE) AS entropy
  FROM wn GROUP BY doc_id),
vocab AS (SELECT term, COUNT(*) AS c FROM tt GROUP BY term),
total AS (SELECT COUNT(*) AS n FROM tt),
nll AS (
  SELECT tt.doc_id,
         CAST(SUM(CAST(round(-ln(CAST(vocab.c AS DOUBLE) / (SELECT CAST(n AS DOUBLE) FROM total)), 9)
                       AS DECIMAL(28,9))) AS DOUBLE) / COUNT(*) AS avg_nll
  FROM tt JOIN vocab USING (term) GROUP BY tt.doc_id),
j AS (
  SELECT q.doc_id, round(q.quality, 6) AS quality,
         round(rep.dup_bigram_frac, 6) AS dup_bigram_frac,
         round(ent.entropy, 6) AS entropy, round(nll.avg_nll, 6) AS avg_nll
  FROM q JOIN rep USING (doc_id) JOIN ent USING (doc_id) JOIN nll USING (doc_id)),
st AS (SELECT COUNT(*)::DOUBLE AS n, {stat_cols} FROM j)
SELECT j.doc_id,
       {z('quality')} AS z_quality,
       {z('dup_bigram_frac')} AS z_dup_bigram,
       {z('entropy')} AS z_entropy,
       {z('avg_nll')} AS z_nll,
       {comp} AS composite,
       {comp} > 0 AS keep
FROM j CROSS JOIN st ORDER BY j.doc_id
"""


@register(
    "text_quality_ensemble",
    oracle=_ensemble_oracle(),
    tags=("pipeline", "text", "quality"),
    doc="Multi-signal quality ensemble (FineWeb/Dolma shape; pipeline.text."
    "quality_ensemble): z-standardized combination of heuristic quality, "
    "duplicate-bigram fraction, token entropy, and unigram NLL — composite "
    "= 0.4 z(quality) + 0.2 z(entropy) − 0.2 z(dup_bigram) − 0.2 z(nll), "
    "keep if positive. Σx/Σx² in DECIMAL, z-ops IEEE-exact (no "
    "transcendentals past the signals) ⇒ engine-identical. One tiny stats "
    "aggregate broadcast back; three doc-keyed joins.",
)
def text_quality_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.pipeline.text import quality_ensemble

    return quality_ensemble(table(spark, sf_dir, "documents"), "doc_id", "text").orderBy(
        "doc_id"
    )


MIX_PACK_BUDGET = 512


@register(
    "pipeline_training_mix",
    oracle=f"""
WITH q AS (
  SELECT doc_id, text, source,
         len(string_split(lower(text), ' ')) AS n_words,
         round(least(len(string_split(lower(text), ' ')) / 50.0, 1.0) * 0.4
               + (1 - least(round(len(regexp_extract_all(text, '[^a-zA-Z0-9 \\t\\n]'))
                                  / length(text), 6) * 5, 1.0)) * 0.3
               + least(round(len(list_intersect(string_split(lower(text), ' '), {_EN!r}))
                             / len(string_split(lower(text), ' ')), 6) * 10, 1.0) * 0.3,
               6) AS quality
  FROM documents
  WHERE doc_id % 41 <> 0 AND lang = 'en'
),
cand AS (SELECT * FROM q WHERE quality >= 0.5),
surv AS (
  SELECT * FROM (
    SELECT doc_id, text, source, n_words,
           MIN(doc_id) OVER (PARTITION BY md5(lower(regexp_replace(text, '\\s+', ' ', 'g')))) AS canon
    FROM cand)
  WHERE doc_id = canon
),
toks AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
grams AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(0, len(w)-3),
                               g -> array_to_string(w[g+1:g+3], ' '))) AS sh
  FROM toks WHERE len(w) >= 3
),
bench AS (SELECT DISTINCT sh FROM grams WHERE doc_id % 41 = 0),
clean AS (
  SELECT s.doc_id, s.source, s.n_words FROM surv s
  WHERE NOT EXISTS (
    SELECT 1 FROM grams g JOIN bench b ON g.sh = b.sh WHERE g.doc_id = s.doc_id)
),
tr AS (
  SELECT *, substr(md5('77|' || CAST(doc_id AS VARCHAR)), 1, 1) AS shard_id
  FROM clean
  WHERE substr(md5('42|' || CAST(doc_id AS VARCHAR)), 1, 8) < 'e6666666'
)
SELECT doc_id, source, shard_id, CAST(n_words AS BIGINT) AS n_tokens,
       CAST(SUM(n_words) OVER w - n_words AS BIGINT) AS start_offset,
       CAST(floor((SUM(n_words) OVER w - n_words) / {MIX_PACK_BUDGET}) AS BIGINT) AS pack_id
FROM tr
WINDOW w AS (PARTITION BY source, shard_id ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
ORDER BY doc_id
""",
    tags=("pipeline", "sampling", "composed", "bench"),
    doc="End-to-end dataset assembly — the second composed flagship: the "
    "C4-style clean corpus (quality filter → exact dedup → benchmark "
    "decontamination), then the leakage-safe 90% train hash-split, then "
    f"per-(source, shard) sequence packing at {MIX_PACK_BUDGET} tokens "
    "(concat-then-chunk window cumsum). The pack stage shards each source "
    "16 ways by a deterministic md5-nibble of the doc id (shuffle_shard's "
    "shard derivation, seed 77) so no source ever packs in ONE window "
    "partition — at 100 TB a dominant source parallelizes across shards "
    "instead of serializing on a single sorted task; pack ids are "
    "shard-local, exactly how production pack writers split a stream "
    "across output files. Every stage is the already-verified primitive; "
    "the composition proves they chain without re-materialization — one "
    "lazy plan end to end, cheap-per-row filters first.",
)
def pipeline_training_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from flink_1_12_0_src_spark.pipeline.sampling import (
        _salted_hash,
        hash_split,
        pack_sequences,
    )
    from flink_1_12_0_src_spark.pipeline.text import exploded_shingles, quality_score, shingles

    docs = table(spark, sf_dir, "documents")
    scored = quality_score(
        docs.filter((F.col("doc_id") % 41 != 0) & (F.col("lang") == "en")),
        "doc_id",
        "text",
        keep=["text", "source"],
    )
    cand = scored.filter(F.col("quality") >= 0.5)
    h = F.md5(F.lower(F.regexp_replace(F.col("text"), r"\s+", " ")))
    surv = cand.withColumn("_canon", F.min("doc_id").over(W.partitionBy(h))).filter(
        F.col("doc_id") == F.col("_canon")
    )
    bench_grams = (
        exploded_shingles(docs.filter(F.col("doc_id") % 41 == 0), "text", 3)
        .distinct()
    )
    hits = (
        surv.select("doc_id", F.explode(F.array_distinct(shingles("text", 3))).alias("sh"))
        .join(F.broadcast(bench_grams), "sh", "left_semi")
        .select("doc_id")
        .distinct()
    )
    clean = surv.join(hits, "doc_id", "left_anti").select("doc_id", "source", "n_words")
    tr = (
        hash_split(clean, "doc_id", seed=42)
        .filter(F.col("split") == "train")
        .withColumn("shard_id", F.substring(_salted_hash("doc_id", 77), 1, 1))
    )
    return pack_sequences(
        tr, "doc_id", "source", F.col("n_words"), MIX_PACK_BUDGET, shard_col="shard_id"
    ).orderBy("doc_id")


@register(
    "multimodal_audio_energy",
    oracle="""
WITH t AS (SELECT doc_id, text, octet_length(encode(text)) AS n FROM documents),
w AS (SELECT doc_id, text, n,
             unnest(generate_series(0, CAST(ceil(n / 32.0) AS INT) - 1)) AS w
      FROM t)
SELECT doc_id, CAST(w AS INTEGER) AS window_idx, CAST(w * 32 AS BIGINT) AS sample_offset,
       CAST(least(n - w * 32, 64) AS INTEGER) AS window_len,
       round(sqrt(list_avg([pow(ascii(text[p]), 2)
                            FOR p IN generate_series(w * 32 + 1, least(n, w * 32 + 64))])),
             6) AS rms_energy,
       round(sqrt(list_avg([pow(ascii(text[p]), 2)
                            FOR p IN generate_series(w * 32 + 1, least(n, w * 32 + 64))])),
             6) >= 64.0 AS active
FROM w ORDER BY doc_id, window_idx
""",
    tags=("pipeline", "multimodal"),
    doc="Sliding-window RMS energy over audio-like blobs (pipeline.multimodal"
    ".windowed_energy) — the VAD/silence-trim primitive: 64-sample windows "
    "at hop 32 (50% overlap), energy per window + an activity flag; the "
    "decode is stubbed (bytes as PCM samples — no audio codecs in env) but "
    "the Arrow windowing plumbing, schema, and one-row→many-windows "
    "Python-side explode are real and exactly mirrored by the oracle.",
)
def multimodal_audio_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.pipeline.multimodal import attach_blob, windowed_energy

    docs = table(spark, sf_dir, "documents")
    return windowed_energy(attach_blob(docs, "doc_id", "text"), "doc_id").orderBy(
        "doc_id", "window_idx"
    )


@register(
    "embedding_centroid_by_label",
    oracle="""
SELECT label, CAST(ord - 1 AS INTEGER) AS dim,
       round(CAST(SUM(CAST(round(CAST(v AS DOUBLE), 6) AS DECIMAL(18,6))) AS DOUBLE)
             / COUNT(*), 6) AS centroid,
       CAST(COUNT(*) AS BIGINT) AS n_vectors
FROM (SELECT label, unnest(embedding) AS v, generate_subscripts(embedding, 1) AS ord
      FROM embeddings)
GROUP BY label, dim
ORDER BY label, dim
""",
    tags=("pipeline", "similarity"),
    doc="Per-label mean embedding (pipeline.similarity.label_centroids) — "
    "the classifier-centroid step of FineWeb-edu-style quality/topic "
    "filtering: average a labeled seed set's embeddings, then score the "
    "corpus by cosine to the centroid. Long-form (label, dim) output keeps "
    "types plain; sums accumulate in DECIMAL after a fixed 6-dp round so "
    "the mean is bit-identical across engines and merge orders. Scale: "
    "posexplode map-side, one (label, dim)-keyed shuffle with partial "
    "aggregation; output |labels|x|dim| rows, broadcastable downstream.",
)
def embedding_centroid_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.pipeline.similarity import label_centroids

    return label_centroids(table(spark, sf_dir, "embeddings")).orderBy("label", "dim")


# Shared with the streaming twin (stream_wordcount_zipf) — one definition.
ZIPF_ORACLE = """
SELECT token, CAST(COUNT(*) AS BIGINT) AS freq,
       CAST(row_number() OVER (ORDER BY COUNT(*) DESC, token ASC) AS BIGINT) AS zipf_rank
FROM (SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents)
WHERE token <> ''
GROUP BY token
ORDER BY freq DESC, token ASC
LIMIT 50
"""


@register(
    "text_zipf_rank_report",
    oracle=ZIPF_ORACLE,
    tags=("pipeline", "text"),
    doc="Corpus-level term-frequency head (pipeline.text.zipf_topk): the 50 "
    "most frequent tokens with frequency and 1-based Zipf rank — the "
    "vocabulary audit run before tokenizer training. Scale: the canonical "
    "distributed word count (explode map-side, one token-keyed shuffle with "
    "map-side partial counts), then orderBy+limit planning as "
    "TakeOrderedAndProject so the full vocabulary is never globally sorted; "
    "the rank window runs over the 50-row head only. Lexicographic "
    "tiebreak for cross-engine determinism.",
)
def text_zipf_rank_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.pipeline.text import zipf_topk

    return zipf_topk(table(spark, sf_dir, "documents"), "text", 50).withColumnRenamed(
        "rank", "zipf_rank"
    )


# Shared with the streaming twin (stream_source_mix) — one definition.
SOURCE_MIX_ORACLE = """
WITH s AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
         CAST(SUM(n_chars) AS BIGINT) AS total_chars,
         CAST(SUM(len(string_split(lower(text), ' '))) AS BIGINT) AS total_tokens
  FROM documents GROUP BY source)
SELECT source, n_docs, n_langs, total_chars, total_tokens,
       round(CAST(total_chars AS DOUBLE) / n_docs, 6) AS avg_chars,
       round(CAST(n_docs AS DOUBLE) / SUM(n_docs) OVER (), 6) AS doc_share
FROM s
ORDER BY source
"""


@register(
    "dataset_source_mix_report",
    oracle=SOURCE_MIX_ORACLE,
    tags=("pipeline", "sampling"),
    doc="Per-source corpus accounting (pipeline.sampling.source_mix_report) "
    "— the mix report read before setting sampling weights: doc/char/token "
    "volumes, language spread, share of corpus. Scale: one source-keyed "
    "hash aggregate with map-side partials (token counts computed map-side, "
    "text never shuffles); the corpus total is a one-row aggregate "
    "broadcast back — no global window over data-sized input.",
)
def dataset_source_mix_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.pipeline.sampling import source_mix_report

    return source_mix_report(table(spark, sf_dir, "documents")).orderBy("source")


@register(
    "embedding_nearest_centroid",
    oracle="""
WITH ex AS (SELECT label, unnest(embedding) AS v, generate_subscripts(embedding, 1) AS ord
            FROM embeddings),
cent AS (SELECT label, ord,
                round(CAST(SUM(CAST(round(CAST(v AS DOUBLE), 6) AS DECIMAL(18,6))) AS DOUBLE)
                      / COUNT(*), 6) AS c
         FROM ex GROUP BY label, ord),
cl AS (SELECT label AS pred_label, list(c ORDER BY ord) AS cv FROM cent GROUP BY label),
e AS (SELECT vec_id, label AS true_label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings)
SELECT e.vec_id, e.true_label, cl.pred_label,
       round(list_cosine_similarity(e.v, cl.cv), 6) AS cosine,
       cl.pred_label = e.true_label AS correct
FROM e CROSS JOIN cl
QUALIFY row_number() OVER (PARTITION BY e.vec_id
                           ORDER BY round(list_cosine_similarity(e.v, cl.cv), 6) DESC,
                                    cl.pred_label) = 1
ORDER BY e.vec_id
""",
    tags=("pipeline", "similarity"),
    doc="Nearest-centroid classification (pipeline.similarity."
    "nearest_centroid_classify) — the scoring pass after "
    "embedding_centroid_by_label in a FineWeb-edu-style filter: label "
    "centroids fold into ONE broadcast row of (label, centroid, norm) "
    "structs and the argmax is a row-local array fold over it — no window, "
    "no Exchange on the corpus side (plan-pinned). 6-dp rounding + label "
    "tiebreak make the argmax engine-identical. Output doubles as the "
    "confusion report (true vs predicted label per vector).",
)
def embedding_nearest_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.pipeline.similarity import nearest_centroid_classify

    return nearest_centroid_classify(table(spark, sf_dir, "embeddings")).orderBy("vec_id")


@register(
    "embedding_cluster_cohesion",
    oracle="""
WITH ex AS (SELECT label, unnest(embedding) AS v, generate_subscripts(embedding, 1) AS ord
            FROM embeddings),
cent AS (SELECT label, ord,
                round(CAST(SUM(CAST(round(CAST(v AS DOUBLE), 6) AS DECIMAL(18,6))) AS DOUBLE)
                      / COUNT(*), 6) AS c
         FROM ex GROUP BY label, ord),
cl AS (SELECT label, list(c ORDER BY ord) AS cv FROM cent GROUP BY label),
e AS (SELECT label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
s AS (SELECT e.label, round(list_cosine_similarity(e.v, cl.cv), 6) AS cos
      FROM e JOIN cl USING (label))
SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vectors,
       round(CAST(SUM(CAST(cos AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS mean_cosine,
       min(cos) AS min_cosine,
       max(cos) AS max_cosine
FROM s GROUP BY label ORDER BY label
""",
    tags=("pipeline", "similarity"),
    doc="Per-label cluster cohesion report (pipeline.similarity."
    "cluster_cohesion) — the quality gate after a clustering/labeling pass "
    "and before SemDeDup-style within-cluster dedup: mean/min/max member "
    "cosine to the label centroid. Scale: centroids are |labels|x|dim| and "
    "BROADCAST; the corpus joins on label map-side and the final per-label "
    "aggregate has map-side partials — the corpus never shuffles on data "
    "size. 6-dp rounding + DECIMAL mean accumulation keep every statistic "
    "order-independent across engines.",
)
def embedding_cluster_cohesion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.pipeline.similarity import cluster_cohesion

    return cluster_cohesion(table(spark, sf_dir, "embeddings")).orderBy("label")


@register(
    "text_vocab_growth",
    oracle="""
WITH tok AS (SELECT source, unnest(string_split(lower(text), ' ')) AS token FROM documents),
tc AS (SELECT source, token, COUNT(*) AS cnt
       FROM tok WHERE token <> '' GROUP BY source, token)
SELECT source,
       CAST(SUM(cnt) AS BIGINT) AS total_tokens,
       CAST(COUNT(*) AS BIGINT) AS distinct_tokens,
       CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax_tokens,
       round(CAST(COUNT(*) AS DOUBLE) / SUM(cnt), 6) AS type_token_ratio
FROM tc GROUP BY source ORDER BY source
""",
    tags=("pipeline", "text", "bench"),
    doc="Per-source vocabulary growth report (pipeline.text.vocab_growth) — "
    "the Heaps'-law audit before tokenizer training: token volume, distinct "
    "vocabulary, hapax-legomenon count, type/token ratio. Scale: the "
    "distributed word count (explode map-side, one (source, token)-keyed "
    "shuffle with partial counts) followed by a |sources|-row rollup; "
    "distinct/hapax counts are plain aggregates of the count table, so no "
    "count-distinct state and the raw text never shuffles.",
)
def text_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.pipeline.text import vocab_growth

    return vocab_growth(table(spark, sf_dir, "documents")).orderBy("source")


@register(
    "embedding_centroid_separation",
    oracle="""
WITH ex AS (SELECT label, unnest(embedding) AS v, generate_subscripts(embedding, 1) AS ord
            FROM embeddings),
cent AS (SELECT label, ord,
                round(CAST(SUM(CAST(round(CAST(v AS DOUBLE), 6) AS DECIMAL(18,6))) AS DOUBLE)
                      / COUNT(*), 6) AS c
         FROM ex GROUP BY label, ord),
cl AS (SELECT label, list(c ORDER BY ord) AS cv FROM cent GROUP BY label)
SELECT a.label AS label_a, b.label AS label_b,
       round(list_cosine_similarity(a.cv, b.cv), 6) AS cosine
FROM cl a JOIN cl b ON a.label < b.label
ORDER BY label_a, label_b
""",
    tags=("pipeline", "similarity"),
    doc="Pairwise label-centroid cosine report (pipeline.similarity."
    "centroid_separation) — the separation half of the cluster-quality "
    "audit (cluster_cohesion is the cohesion half): near-parallel centroids "
    "flag labels a downstream classifier will confuse. Scale: the corpus is "
    "scanned once by the centroid aggregate; the triangular self-join and "
    "cosines run over |labels| rows only.",
)
def embedding_centroid_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.pipeline.similarity import centroid_separation

    return centroid_separation(table(spark, sf_dir, "embeddings")).orderBy(
        "label_a", "label_b"
    )


@register(
    "dataset_epoch_repeat",
    oracle="""
WITH v AS (SELECT source, CAST(SUM(n_chars) AS BIGINT) AS vol FROM documents GROUP BY source),
m AS (SELECT MAX(vol) AS mx FROM v),
t AS (SELECT source, least(CAST(mx AS DOUBLE) / vol, CAST(3.0 AS DOUBLE)) AS epochs
      FROM v CROSS JOIN m),
p AS (SELECT d.doc_id, d.source,
             CAST(floor(t.epochs) AS INTEGER) AS base,
             t.epochs - floor(t.epochs) AS frac,
             substr(md5('13|' || CAST(d.doc_id AS VARCHAR)), 1, 8) AS h8
      FROM documents d JOIN t USING (source)),
r AS (SELECT doc_id, source,
             CAST(base + CASE WHEN h8 < lpad(lower(hex(CAST(floor(frac * 4294967296.0) AS BIGINT))), 8, '0')
                              THEN 1 ELSE 0 END AS INTEGER) AS repeat_count
      FROM p)
SELECT doc_id, source, repeat_count,
       CAST(unnest(generate_series(0, repeat_count - 1)) AS INTEGER) AS epoch_idx
FROM r
ORDER BY doc_id, epoch_idx
""",
    tags=("pipeline", "sampling"),
    doc="Deterministic fractional-epoch upsampling (pipeline.sampling."
    "epoch_repeat) — the repeat-count mechanic of a pretraining data mix: "
    "each source targets min(max_volume/volume, 3) epochs; documents get "
    "floor(epochs) guaranteed repeats plus one fractional repeat decided by "
    "a fixed-width hex threshold on the salted id hash, so expected volume "
    "hits the target exactly and every repeat count is a pure function of "
    "(seed, id, group volumes). Output is the epoch-expanded (doc, "
    "epoch_idx) layout a pack-writer consumes. Scale: one |sources|-row "
    "volume agg broadcast back, stateless per-row derivation, explode fans "
    "at most 3x — no wide shuffle, no RNG state.",
)
def dataset_epoch_repeat(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.pipeline.sampling import epoch_repeat

    return epoch_repeat(table(spark, sf_dir, "documents")).orderBy("doc_id", "epoch_idx")


@register(
    "dedup_rate_by_source",
    oracle="""
WITH h AS (SELECT source, doc_id, md5(text) AS hh FROM documents),
c AS (SELECT hh, COUNT(*) AS cnt, MIN(doc_id) AS keeper FROM h GROUP BY hh)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_in_dup_clusters,
       CAST(SUM(CASE WHEN cnt > 1 AND doc_id <> keeper THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dropped_by_dedup,
       round(CAST(SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6)
           AS dup_rate
FROM h JOIN c USING (hh)
GROUP BY source ORDER BY source
""",
    tags=("pipeline", "dedup"),
    doc="Per-source exact-duplicate audit (pipeline.dedup.dup_rate_report) — "
    "the before/after accounting a dedup run reports: members of corpus-wide "
    "md5 duplicate clusters, how many a min-id keep-one dedup would drop, "
    "and the dup rate. Scale: one hash-keyed count aggregate with map-side "
    "partials (text never shuffles — only its 128-bit hash), a hash join "
    "back, then a |sources|-row rollup; survivor election is min-id, "
    "rerun-stable.",
)
def dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.pipeline.dedup import dup_rate_report

    return dup_rate_report(table(spark, sf_dir, "documents")).orderBy("source")


@register(
    "dataset_weighted_sample",
    oracle="""
WITH p AS (
  SELECT doc_id, source, n_chars,
         round(ln((('0x' || substr(md5('17|' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT + 1)
                  / 4294967296.0) / n_chars, 9) AS es_key
  FROM documents WHERE n_chars > 0
)
SELECT doc_id, source, n_chars, es_key
FROM p ORDER BY es_key DESC, doc_id LIMIT 100
""",
    tags=("pipeline", "sampling"),
    doc="Deterministic weighted sampling without replacement "
    "(pipeline.sampling.weighted_sample) — Efraimidis-Vassilopoulos A-ES: "
    "rank by the monotone key ln(u)/w with u hash-derived per id, take the "
    "top k; longer documents are proportionally likelier, the selection is "
    "a pure function of (seed, id, weight), and the 9-dp key rounding + id "
    "tiebreak make the cut engine-exact (the unigram_logppl libm "
    "precedent). Scale: map-side keys, one TakeOrderedAndProject — "
    "per-partition heads and a single k-row merge, no full sort, no RNG "
    "state.",
)
def dataset_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.pipeline.sampling import weighted_sample

    return (
        weighted_sample(table(spark, sf_dir, "documents"))
        .select("doc_id", "source", "n_chars", "es_key")
        .orderBy(F.desc("es_key"), "doc_id")
    )


# ---------------------------------------------------------------------------
# round 9 additions: incremental admission, LSH calibration, CCNet buckets,
# source diversity
# ---------------------------------------------------------------------------

INC_SPLIT_HEX = "c"  # md5('inc|'||id) first hex digit < 'c' => corpus (12/16 = 75%)


def _incremental_oracle() -> str:
    """Incremental-admission oracle: the corpus/batch split is a pure hash of
    the id (leakage-safe, stable under re-runs), the banding machinery is the
    SAME md5-minhash math as every other dedup oracle, and the combined
    bucket stats (size, corpus membership, min batch id) drive the admission
    rule — i-prefixed CTE names so it composes if ever embedded."""
    nh, k, rows = MH_NUM_HASHES, MH_SHINGLE_K, MH_BAND_ROWS
    bands = nh // rows
    hcols = ", ".join(
        f"MIN(substr(md5('{s // 4}|' || sh), {1 + (s % 4) * 8}, 8)) AS h{s}"
        for s in range(nh)
    )
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, is_corpus, {b} AS band, md5({key}) AS bk FROM isigs".format(
            b=b, key=" || '|' || ".join(f"h{b * rows + j}" for j in range(rows))
        )
        for b in range(bands)
    )
    return f"""
WITH isplit AS (
  SELECT doc_id, text,
         substr(md5('inc|' || CAST(doc_id AS VARCHAR)), 1, 1) < '{INC_SPLIT_HEX}' AS is_corpus
  FROM documents
),
itoks AS (SELECT doc_id, is_corpus, string_split(lower(text), ' ') AS w FROM isplit),
ishingles AS (
  SELECT DISTINCT doc_id, is_corpus,
         unnest(list_transform(generate_series(0, len(w)-{k}),
                               g -> array_to_string(w[g+1:g+{k}], ' '))) AS sh
  FROM itoks WHERE len(w) >= {k}
),
isigs AS (SELECT doc_id, is_corpus, {hcols} FROM ishingles GROUP BY doc_id, is_corpus),
ibands AS ({band_selects}),
istats AS (SELECT band, bk, COUNT(*) AS sz,
                  SUM(CASE WHEN is_corpus THEN 1 ELSE 0 END) AS n_corp,
                  MIN(CASE WHEN NOT is_corpus THEN doc_id END) AS keep_bid
           FROM ibands GROUP BY band, bk),
bdup AS (SELECT b.doc_id,
                COUNT(CASE WHEN s.n_corp > 0 THEN 1 END) AS n_corpus_dup,
                COUNT(CASE WHEN s.keep_bid < b.doc_id THEN 1 END) AS n_batch_dup
         FROM ibands b JOIN istats s USING (band, bk)
         WHERE NOT b.is_corpus AND s.sz <= {MH_MAX_BUCKET}
         GROUP BY b.doc_id)
SELECT d.doc_id,
       CAST(COALESCE(c.n_corpus_dup, 0) AS BIGINT) AS n_corpus_dup_buckets,
       CAST(COALESCE(c.n_batch_dup, 0) AS BIGINT) AS n_batch_dup_buckets,
       COALESCE(c.n_corpus_dup, 0) + COALESCE(c.n_batch_dup, 0) = 0 AS admitted
FROM (SELECT doc_id FROM isplit WHERE NOT is_corpus) d
LEFT JOIN bdup c USING (doc_id)
ORDER BY d.doc_id
"""


# ONE constant shared by the batch incremental-admission operator
# (dedup_incremental_admit) and its streaming twin (stream_incremental_admit,
# queries/streamingq.py) — the NEARDEDUP_KEEPFIRST_ORACLE pattern, so
# operator and twin can never drift.
INCREMENTAL_ADMIT_ORACLE = _incremental_oracle()


@register(
    "dedup_incremental_admit",
    oracle=INCREMENTAL_ADMIT_ORACLE,
    tags=("pipeline", "dedup", "bench"),
    doc="Incremental near-dedup ADMISSION (pipeline/dedup.py "
    "neardedup_incremental) — the continuous-curation production shape: an "
    "incoming batch (25% hash split of the corpus, standing in for a new "
    "crawl) is deduplicated against the existing corpus snapshot (the other "
    "75%) AND against itself, without re-deduplicating the corpus. A batch "
    "doc is admitted iff every capped band bucket it occupies holds no "
    "corpus member and has it as the MIN batch id (order-free keep-first; "
    "reference analog StreamExecDeduplicate keep-first with the corpus "
    "bucket table as its keyed state). The corpus side is ONE (band, bk) "
    "aggregate production would maintain incrementally; the batch side "
    "re-bands only new data; the stats join broadcasts a small daily batch "
    "so the 100-TB corpus state never shuffles. No pair generation, no "
    "self-join.",
)
def dedup_incremental_admit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.pipeline.dedup import neardedup_incremental

    docs = table(spark, sf_dir, "documents")
    is_corpus = (
        F.substring(
            F.md5(F.concat(F.lit("inc|"), F.col("doc_id").cast("string"))), 1, 1
        )
        < INC_SPLIT_HEX
    )
    return neardedup_incremental(
        docs.filter(is_corpus),
        docs.filter(~is_corpus),
        "doc_id",
        "text",
        MH_NUM_HASHES,
        MH_SHINGLE_K,
        MH_BAND_ROWS,
        MH_MAX_BUCKET,
    ).orderBy("doc_id")


def _calibration_oracle() -> str:
    k = MH_SHINGLE_K
    return f"""
WITH mh AS (SELECT * FROM ({_minhash_oracle(ordered=False)})),
ctoks AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
cshing AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(0, len(w)-{k}),
                               g -> array_to_string(w[g+1:g+{k}], ' '))) AS sh
  FROM ctoks WHERE len(w) >= {k}
),
csz AS (SELECT doc_id, COUNT(*) AS n FROM cshing GROUP BY doc_id),
cint AS (SELECT m.id_a, m.id_b, COUNT(*) AS i
         FROM mh m
         JOIN cshing a ON a.doc_id = m.id_a
         JOIN cshing b ON b.doc_id = m.id_b AND b.sh = a.sh
         GROUP BY m.id_a, m.id_b),
j AS (SELECT m.id_a, m.id_b, m.est_jaccard,
             round(CAST(COALESCE(i.i, 0) AS DOUBLE)
                   / (sa.n + sb.n - COALESCE(i.i, 0)), 6) AS true_jaccard
      FROM mh m
      LEFT JOIN cint i ON i.id_a = m.id_a AND i.id_b = m.id_b
      JOIN csz sa ON sa.doc_id = m.id_a
      JOIN csz sb ON sb.doc_id = m.id_b)
SELECT id_a, id_b, est_jaccard, true_jaccard,
       round(abs(est_jaccard - true_jaccard), 6) AS abs_err
FROM j ORDER BY id_a, id_b
"""


@register(
    "dedup_minhash_calibration",
    oracle=_calibration_oracle(),
    tags=("pipeline", "dedup"),
    doc="MinHash calibration audit (pipeline/dedup.py "
    "minhash_calibration_report) — estimated vs TRUE Jaccard for every LSH "
    "candidate pair, the tuning report production dedup publishes when "
    "choosing the band layout: est = agreeing signature components / "
    f"{MH_NUM_HASHES}, true = |A∩B|/|A∪B| over distinct {MH_SHINGLE_K}-gram "
    "sets, abs_err their gap. The exact-Jaccard join runs ONLY over the "
    "LSH-bounded candidates (the standard LSH-then-verify topology with the "
    "verify stage emitted as an audit) — the second join key includes the "
    "shingle itself so the fan-out stays pair-local; never all pairs.",
)
def dedup_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.pipeline.dedup import minhash_calibration_report

    docs = table(spark, sf_dir, "documents")
    return minhash_calibration_report(
        docs, "doc_id", "text", MH_NUM_HASHES, MH_SHINGLE_K, MH_BAND_ROWS, MH_MAX_BUCKET
    ).orderBy("id_a", "id_b")


CCNET_BUCKETS = 3


@register(
    "pipeline_ccnet_buckets",
    oracle=f"""
WITH ltoks AS (
  SELECT doc_id, lang, unnest(string_split(lower(text), ' ')) AS term FROM documents
),
lt AS (SELECT doc_id, lang, term FROM ltoks WHERE term <> ''),
lvocab AS (SELECT lang, term, COUNT(*) AS c FROM lt GROUP BY lang, term),
ltot AS (SELECT lang, SUM(c) AS n FROM lvocab GROUP BY lang),
lscored AS (
  SELECT lt.doc_id, lt.lang,
         CAST(round(-ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)), 9)
              AS DECIMAL(28,9)) AS nll
  FROM lt JOIN lvocab USING (lang, term) JOIN ltot USING (lang)
),
lppl AS (
  SELECT doc_id, lang, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(SUM(nll) AS DOUBLE) / COUNT(*) AS avg_nll
  FROM lscored GROUP BY doc_id, lang
)
SELECT doc_id, lang, n_tokens, avg_nll,
       CASE NTILE({CCNET_BUCKETS}) OVER (PARTITION BY lang ORDER BY avg_nll, doc_id)
            WHEN 1 THEN 'head' WHEN {CCNET_BUCKETS} THEN 'tail'
            ELSE 'middle' END AS ppl_bucket
FROM lppl ORDER BY doc_id
""",
    tags=("pipeline", "text", "sampling"),
    doc="CCNet head/middle/tail perplexity bucketing (pipeline/text.py "
    "ccnet_ppl_buckets; Wenzek et al. 2020): each document scored against "
    "its OWN language's unigram LM (the per-lang KenLM stand-in, "
    "unigram_logprob_grouped), then each language ranking cut into "
    f"{CCNET_BUCKETS} equal ntiles — head ships for pretraining, tail is "
    "discarded. 9-dp-rounded −ln(p) terms with DECIMAL accumulation "
    "(partitioning-invariant), ties by id; the ntile window sorts only the "
    "doc-level relation per language partition, never token-level data.",
)
def pipeline_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.pipeline.text import ccnet_ppl_buckets

    return ccnet_ppl_buckets(
        table(spark, sf_dir, "documents"), "doc_id", "text", "lang", CCNET_BUCKETS
    ).orderBy("doc_id")


# ONE constant shared by the batch audit (text_source_diversity) and its
# streaming twin (stream_source_diversity, queries/streamingq.py) — same
# pattern as SOURCE_MIX/PACK_EFFICIENCY_ORACLE, so operator and twin can
# never drift.
SOURCE_DIVERSITY_ORACLE = """
WITH sc AS (SELECT lang, source, COUNT(*) AS c FROM documents GROUP BY lang, source),
terms AS (
  SELECT lang,
         CAST(c AS DOUBLE) / CAST(SUM(c) OVER (PARTITION BY lang) AS DOUBLE) AS p,
         CAST(round(-(CAST(c AS DOUBLE) / CAST(SUM(c) OVER (PARTITION BY lang) AS DOUBLE))
                    * log2(CAST(c AS DOUBLE) / CAST(SUM(c) OVER (PARTITION BY lang) AS DOUBLE)), 9)
              AS DECIMAL(28,9)) AS th
  FROM sc
)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_sources,
       CAST(SUM(th) AS DOUBLE) AS entropy_bits,
       round(pow(2.0, CAST(SUM(th) AS DOUBLE)), 6) AS effective_sources,
       round(MAX(p), 6) AS top_share
FROM terms GROUP BY lang ORDER BY lang
"""


@register(
    "text_source_diversity",
    oracle=SOURCE_DIVERSITY_ORACLE,
    tags=("pipeline", "text", "sampling"),
    doc="Per-language source-diversity audit (pipeline/sampling.py "
    "source_diversity) — the data-mixing health metric next to the raw "
    "shares of source_mix_report: Shannon entropy in bits of the doc-count "
    "distribution over sources, effective source count 2^H (the corpus-card "
    "headline), and the top single-source share (concentration red flag). "
    "9-dp-rounded −p·log2(p) terms, DECIMAL accumulation; one (lang, "
    "source) count aggregate then a lang rollup of the sources-sized "
    "relation — nothing downstream scales with the corpus.",
)
def text_source_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.pipeline.sampling import source_diversity

    return source_diversity(
        table(spark, sf_dir, "documents"), "lang", "source"
    ).orderBy("lang")


KM_K, KM_ITERS = 4, 2


def _kmeans_cte_body() -> str:
    """Unrolled-Lloyd CTE chain (e, t, c0, a{i}/m{i}/c{i} per round): each
    round is the embedding_kmeans_assign oracle's QUALIFY-top-1 assignment
    followed by the label_centroids oracle's 6-dp DECIMAL mean recipe — the
    two already-green kernels composed ``KM_ITERS`` times. Shared by the
    training oracle (reads m{KM_ITERS}) and the IVF recall oracle (reads
    the final centroid vectors c{KM_ITERS})."""
    assign = """
a{i} AS (SELECT e.vec_id, c.cid
       FROM e CROSS JOIN c{p} c
       QUALIFY row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY round(list_cosine_similarity(e.v, c.cv), 6) DESC, c.cid) = 1),
m{i} AS (SELECT a{i}.cid, t.ord - 1 AS pos,
              round(CAST(SUM(CAST(round(t.x, 6) AS DECIMAL(18,6))) AS DOUBLE)
                    / COUNT(*), 6) AS m,
              COUNT(*) AS n
       FROM a{i} JOIN t USING (vec_id)
       GROUP BY a{i}.cid, pos),
c{i} AS (SELECT cid, list(m ORDER BY pos) AS cv FROM m{i} GROUP BY cid)"""
    rounds = ",".join(assign.format(i=i + 1, p=i) for i in range(KM_ITERS))
    return f"""e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
t AS (SELECT vec_id, unnest(v) AS x, generate_subscripts(v, 1) AS ord FROM e),
c0 AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id >= 0 AND vec_id < {KM_K}),{rounds}"""


def _kmeans_fit_oracle() -> str:
    return f"""
WITH {_kmeans_cte_body()}
SELECT CAST(cid AS BIGINT) AS cluster, CAST(pos AS INTEGER) AS dim,
       m AS centroid, CAST(n AS BIGINT) AS n_vectors
FROM m{KM_ITERS} ORDER BY cluster, dim
"""


@register(
    "embedding_kmeans_fit",
    oracle=_kmeans_fit_oracle(),
    tags=("pipeline", "similarity", "clustering", "bench"),
    doc=f"Engine-exact Lloyd's k-means TRAINING (pipeline/similarity.py "
    f"kmeans_fit_exact): {KM_ITERS} assign/recompute rounds over k={KM_K} "
    "fixed seeds (lowest-id vectors) unrolled into ONE lazy plan — the "
    "iterative-ML-training class oracle-checked end-to-end, composing the "
    "two already-green kernels (embedding_kmeans_assign's rounded-cosine "
    "argmax; embedding_centroid_by_label's 6-dp DECIMAL mean). Per round "
    "the centroids collapse to one broadcast row and assignment is a "
    "row-local argmax fold (nearest_centroid_classify shape — no "
    "per-vector window Exchange, the corpus never shuffles on data size); "
    "means are one (cluster, dim)-keyed aggregate. Final centroids "
    "long-form (cluster, dim, centroid, n_vectors), types plain.",
)
def embedding_kmeans_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.pipeline.similarity import kmeans_fit_exact

    return kmeans_fit_exact(
        table(spark, sf_dir, "embeddings"), "vec_id", "embedding", KM_K, KM_ITERS
    ).orderBy("cluster", "dim")


PCA_DIM, PCA_ITERS = 64, 8


def _pca_power_oracle() -> str:
    # nano-unit integer rounding everywhere (see pca_power_exact's numerics
    # note): term = CAST(round(x * 1e9, 0) AS BIGINT), exact integer sums,
    # /1e9 at use sites — a bare round(x, 9) on a double is not
    # engine-stable
    nano = "CAST(round(({x}) * 1000000000, 0) AS BIGINT)"
    rnd = f"""
pw{{i}} AS (SELECT g.i,
                CAST(SUM({nano.format(x='g.g * v.v')}) AS DOUBLE) / 1000000000.0 AS w
          FROM pg g JOIN pv{{p}} v ON g.j = v.i GROUP BY g.i),
pn{{i}} AS (SELECT sqrt(CAST(SUM({nano.format(x='w * w')}) AS DOUBLE) / 1000000000.0) AS nrm
          FROM pw{{i}}),
pv{{i}} AS (SELECT i, {nano.format(x='w / nrm')} / 1000000000.0 AS v
          FROM pw{{i}} CROSS JOIN pn{{i}})"""
    rounds = ",".join(rnd.format(i=i + 1, p=i) for i in range(PCA_ITERS))
    v0 = round(1.0 / PCA_DIM**0.5, 9)
    return f"""
WITH pt AS (SELECT vec_id, unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS x,
                   generate_subscripts(embedding, 1) AS ord
            FROM embeddings),
pg AS (SELECT CAST(a.ord - 1 AS INTEGER) AS i, CAST(b.ord - 1 AS INTEGER) AS j,
              CAST(SUM({nano.format(x='a.x * b.x')}) AS DOUBLE) / 1000000000.0 AS g
       FROM pt a JOIN pt b USING (vec_id) GROUP BY 1, 2),
pv0 AS (SELECT CAST(unnest(generate_series(0, {PCA_DIM - 1})) AS INTEGER) AS i, {v0} AS v),{rounds}
SELECT CAST(w.i AS BIGINT) AS pos,
       {nano.format(x='w.w / n.nrm')} / 1000000000.0 AS loading,
       CAST(round(n.nrm * 1000000, 0) AS BIGINT) / 1000000.0 AS eigval
FROM pw{PCA_ITERS} w CROSS JOIN pn{PCA_ITERS} n ORDER BY pos
"""


@register(
    "embedding_pca_power",
    oracle=_pca_power_oracle(),
    tags=("pipeline", "similarity", "clustering"),
    doc=f"Engine-exact POWER ITERATION toward the top principal direction "
    f"(pipeline/similarity.py pca_power_exact): {PCA_ITERS} Gram "
    "matrix-vector rounds from the uniform unit seed, declared into ONE "
    "lazy plan — the fourth member of the iterative-training class "
    "(Lloyd, logistic GD, BPE merges), and the whitening/denoising "
    "primitive SemDeDup-style embedding pipelines run before clustering. "
    "Convergence is spectrum-dependent ((λ2/λ1)^t); extra rounds cost one "
    "dim²-relation stage each, never a corpus re-scan. "
    f"The only corpus-scale operation is the {PCA_DIM}x{PCA_DIM} Gram "
    "aggregate — outer-product cells derive ROW-LOCALLY (no self-join of "
    "the exploded relation) and partial-aggregate map-side, so the "
    "shuffle carries at most dim² rows per partition; every iteration "
    "then runs over the dim²-row Gram with one broadcast vector row. "
    "Rounded-then-DECIMAL Gram/matvec/norm accumulation plus "
    "correctly-rounded IEEE sqrt/divide make loadings and the Rayleigh "
    "eigenvalue bit-identical across engines and partitionings. Output "
    "(pos, loading, eigval).",
)
def embedding_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.pipeline.similarity import pca_power_exact

    return pca_power_exact(
        table(spark, sf_dir, "embeddings"), "vec_id", "embedding", PCA_DIM, PCA_ITERS
    ).orderBy("pos")


FUNNEL_STAGES = (
    "ingest",
    "lang_bench_gate",
    "quality_ge_05",
    "exact_dedup",
    "decontaminated",
)


def _curation_funnel_oracle() -> str:
    stage_case = "CASE g.s " + " ".join(
        f"WHEN {i} THEN '{n}'" for i, n in enumerate(FUNNEL_STAGES)
    ) + " END"
    return f"""
WITH q AS (
  SELECT doc_id, lang, text,
         len(string_split(text, ' ')) AS nt,
         (doc_id % 41 <> 0 AND lang IS NOT DISTINCT FROM 'en') AS s1,
         round(least(len(string_split(lower(text), ' ')) / 50.0, 1.0) * 0.4
               + (1 - least(round(len(regexp_extract_all(text, '[^a-zA-Z0-9 \\t\\n]'))
                                  / length(text), 6) * 5, 1.0)) * 0.3
               + least(round(len(list_intersect(string_split(lower(text), ' '), {_EN!r}))
                             / len(string_split(lower(text), ' ')), 6) * 10, 1.0) * 0.3,
               6) AS quality
  FROM documents
),
q2 AS (
  SELECT *, (s1 AND quality >= 0.5) AS s2,
         MIN(CASE WHEN s1 AND quality >= 0.5 THEN doc_id END)
             OVER (PARTITION BY md5(lower(regexp_replace(text, '\\s+', ' ', 'g')))) AS canon
  FROM q
),
toks AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
grams AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(0, len(w)-3),
                               g -> array_to_string(w[g+1:g+3], ' '))) AS sh
  FROM toks WHERE len(w) >= 3
),
bench AS (SELECT DISTINCT sh FROM grams WHERE doc_id % 41 = 0),
hits AS (SELECT DISTINCT g.doc_id FROM grams g JOIN bench b ON g.sh = b.sh),
staged AS (
  SELECT q2.doc_id, q2.nt,
         COALESCE(CAST(q2.s1 AS INT), 0) + COALESCE(CAST(q2.s2 AS INT), 0)
         + COALESCE(CAST(q2.s2 AND q2.doc_id = q2.canon AS INT), 0)
         + COALESCE(CAST(q2.s2 AND q2.doc_id = q2.canon AND h.doc_id IS NULL AS INT), 0)
           AS stage
  FROM q2 LEFT JOIN hits h USING (doc_id)
),
reach AS (
  SELECT g.s AS stage_idx,
         CAST(COUNT(d.doc_id) AS BIGINT) AS n_docs,
         CAST(COALESCE(SUM(d.nt), 0) AS BIGINT) AS n_tokens
  FROM generate_series(0, {len(FUNNEL_STAGES) - 1}) AS g(s)
  LEFT JOIN staged d ON d.stage >= g.s
  GROUP BY g.s
)
SELECT CAST(g.s AS INT) AS stage_idx, {stage_case} AS stage,
       r.n_docs, r.n_tokens,
       CASE WHEN g.s = 0 THEN 1.0
            ELSE round(CAST(r.n_docs AS DOUBLE)
                       / NULLIF(CAST(lag(r.n_docs) OVER (ORDER BY g.s) AS DOUBLE), 0.0), 6)
       END AS kept_frac,
       round(CAST(r.n_docs AS DOUBLE)
             / NULLIF(CAST(first_value(r.n_docs) OVER (ORDER BY g.s) AS DOUBLE), 0.0),
             6) AS cum_frac
FROM generate_series(0, {len(FUNNEL_STAGES) - 1}) AS g(s)
JOIN reach r ON r.stage_idx = g.s
ORDER BY stage_idx
"""


@register(
    "pipeline_curation_funnel",
    oracle=_curation_funnel_oracle(),
    tags=("pipeline", "text", "dedup", "composed"),
    doc="Curation-funnel audit — the per-stage retention 'data card' every "
    "production cleaning run publishes, over the SAME stages as "
    "pipeline_clean_corpus (ingest → lang+benchmark gate → quality ≥ 0.5 → "
    "exact-dedup survivor → decontaminated): docs, tokens, per-stage kept "
    "fraction, cumulative fraction. Computed in ONE corpus pass: each doc "
    "is tagged with its deepest surviving stage (the two cheap gates are "
    "row expressions; the dedup survivor is a min-over-content-hash window "
    "conditioned on the quality cohort; decontamination is the broadcast "
    "benchmark-gram semi join), then a 5-row stage spine rolls reach "
    "counts up with a tiny window — no per-stage corpus re-scan, nothing "
    "after the per-doc tag scales with the corpus.",
)
def pipeline_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from flink_1_12_0_src_spark.pipeline.text import exploded_shingles, quality_score, shingles

    docs = table(spark, sf_dir, "documents")
    scored = quality_score(docs, "doc_id", "text", keep=["text", "lang"])
    # null-safe lang test + coalesced stage terms below: a NULL lang (or a
    # NULL quality on pathological input) must land in stage 0, not drop the
    # doc from the funnel's own ingest row
    s1 = (F.col("doc_id") % 41 != 0) & F.col("lang").eqNullSafe("en")
    s2 = s1 & (F.col("quality") >= 0.5)
    h = F.md5(F.lower(F.regexp_replace(F.col("text"), r"\s+", " ")))
    canon = F.min(F.when(s2, F.col("doc_id"))).over(W.partitionBy(h))
    q2 = scored.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).alias("nt"),
        s1.alias("s1"),
        s2.alias("s2"),
        (s2 & (F.col("doc_id") == canon)).alias("s3"),
    )
    bench_grams = (
        exploded_shingles(docs.filter(F.col("doc_id") % 41 == 0), "text", 3)
        .distinct()
    )
    hits = (
        docs.select("doc_id", F.explode(F.array_distinct(shingles("text", 3))).alias("sh"))
        .join(F.broadcast(bench_grams), "sh", "left_semi")
        .select("doc_id")
        .distinct()
    )
    staged = (
        q2.join(hits.withColumn("_hit", F.lit(True)), "doc_id", "left")
        .select(
            "nt",
            (
                F.coalesce(F.col("s1").cast("int"), F.lit(0))
                + F.coalesce(F.col("s2").cast("int"), F.lit(0))
                + F.coalesce(F.col("s3").cast("int"), F.lit(0))
                + F.coalesce(
                    (F.col("s3") & F.col("_hit").isNull()).cast("int"), F.lit(0)
                )
            ).alias("stage"),
        )
    )
    # roll the corpus up to <= n_stages rows FIRST, so the inequality spine
    # join is a 5x5 nested loop over aggregates, never a corpus fan-out
    per_stage = staged.groupBy("stage").agg(
        F.count(F.lit(1)).alias("_n"), F.sum("nt").alias("_t")
    )
    n_stages = len(FUNNEL_STAGES)
    spine = spark.range(n_stages).select(F.col("id").cast("int").alias("stage_idx"))
    reach = (
        spine.join(per_stage, per_stage["stage"] >= spine["stage_idx"], "left")
        .groupBy("stage_idx")
        .agg(
            F.coalesce(F.sum("_n"), F.lit(0)).cast("bigint").alias("n_docs"),
            F.coalesce(F.sum("_t"), F.lit(0)).cast("bigint").alias("n_tokens"),
        )
    )
    w = W.orderBy("stage_idx")
    stage_name = F.element_at(
        F.array(*[F.lit(s) for s in FUNNEL_STAGES]), F.col("stage_idx") + 1
    )
    nd = F.col("n_docs").cast("double")
    return reach.select(
        "stage_idx",
        stage_name.alias("stage"),
        "n_docs",
        "n_tokens",
        F.when(F.col("stage_idx") == 0, F.lit(1.0))
        .otherwise(F.round(nd / F.nullif(F.lag(nd).over(w), F.lit(0.0)), 6))
        .alias("kept_frac"),
        F.round(nd / F.nullif(F.first(nd).over(w), F.lit(0.0)), 6).alias("cum_frac"),
    ).orderBy("stage_idx")


@register(
    "text_bigram_logppl",
    oracle="""
WITH btoks AS (
  SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS w
  FROM documents
),
bg AS (
  SELECT doc_id, w[g+1] AS w1, w[g+2] AS w2
  FROM (SELECT doc_id, w, unnest(generate_series(0, len(w)-2)) AS g
        FROM btoks WHERE len(w) >= 2)
),
cbg AS (SELECT w1, w2, COUNT(*) AS cb FROM bg GROUP BY w1, w2),
uni AS (SELECT term, COUNT(*) AS cu
        FROM (SELECT unnest(w) AS term FROM btoks) GROUP BY term),
v AS (SELECT CAST(COUNT(*) AS DOUBLE) AS vs FROM uni),
scored AS (
  SELECT bg.doc_id,
         CAST(round(-ln((cb + 1.0) / (cu + (SELECT vs FROM v))), 9)
              AS DECIMAL(28,9)) AS nll
  FROM bg JOIN cbg USING (w1, w2) JOIN uni ON uni.term = bg.w1
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(SUM(nll) AS DOUBLE) / COUNT(*) AS avg_nll
FROM scored GROUP BY doc_id ORDER BY doc_id
""",
    tags=("pipeline", "text"),
    doc="Bigram-LM perplexity proxy (pipeline/text.py bigram_logprob) — one "
    "step closer to CCNet's KenLM filter than text_unigram_logppl: per-doc "
    "average −ln p under the corpus's own add-1-smoothed bigram LM, "
    "p(w2|w1) = (c(w1,w2)+1)/(c(w1)+V). Bigrams derive ROW-LOCALLY from "
    "the token array (no positional self-join); one (w1,w2) count "
    "aggregate + one unigram aggregate, scoring by plain equi joins, "
    "vocabulary size a one-row broadcast; 9-dp DECIMAL-accumulated terms.",
)
def text_bigram_logppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.pipeline.text import bigram_logprob

    return bigram_logprob(table(spark, sf_dir, "documents"), "doc_id", "text").orderBy(
        "doc_id"
    )


BPE_TOP_K = 50


@register(
    "text_bpe_pair_stats",
    oracle=f"""
WITH ptoks AS (
  SELECT unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS t
  FROM documents
),
pairs AS (
  SELECT substr(t, g, 2) AS pair
  FROM (SELECT t, unnest(generate_series(1, length(t) - 1)) AS g
        FROM ptoks WHERE length(t) >= 2)
),
counts AS (SELECT pair, CAST(COUNT(*) AS BIGINT) AS freq FROM pairs GROUP BY pair)
SELECT pair, freq,
       CAST(row_number() OVER (ORDER BY freq DESC, pair ASC) AS BIGINT) AS rank
FROM counts ORDER BY freq DESC, pair ASC LIMIT {BPE_TOP_K}
""",
    tags=("pipeline", "text"),
    doc="BPE tokenizer-training step 1 (pipeline/text.py bpe_pair_counts; "
    "Sennrich et al. 2016): global frequencies of adjacent character pairs "
    f"within words, top {BPE_TOP_K} with lexicographic tiebreak — the "
    "statistic the first merge rule is chosen from, at corpus scale. Pairs "
    "derive row-locally (2-char substrings), ONE pair-keyed count "
    "aggregate, orderBy+limit plans as TakeOrderedAndProject so the pair "
    "vocabulary is never globally sorted; the rank window covers only the "
    "k-row head.",
)
def text_bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.pipeline.text import bpe_pair_counts

    return bpe_pair_counts(table(spark, sf_dir, "documents"), "text", BPE_TOP_K)


SH_BANDS, SH_MAX_HAMMING = 4, 3


def _simhash_hamming_oracle() -> str:
    """Manku-style banded Hamming pairs over the SAME md5-bit-vote simhash
    math as _simhash_oracle (s-prefixed CTE names)."""
    digit = (
        lambda p: f"(position(substr(md5(tok), {p + 1}, 1) IN '0123456789abcdef') - 1)"
    )
    votes = ", ".join(
        f"SUM(2 * (CAST(floor({digit(s // 4)} / {2 ** (s % 4)}) AS INTEGER) % 2) - 1) AS v{s}"
        for s in range(64)
    )
    bits = " || ".join(f"(CASE WHEN v{s} >= 0 THEN '1' ELSE '0' END)" for s in range(64))
    width = 64 // SH_BANDS
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS b, substr(simhash, {b * width + 1}, {width}) AS bk FROM ssig"
        for b in range(SH_BANDS)
    )
    return f"""
WITH stoks AS (
  SELECT DISTINCT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents
),
svotes AS (SELECT doc_id, {votes} FROM stoks GROUP BY doc_id),
ssig AS (SELECT doc_id, {bits} AS simhash FROM svotes),
sbands AS ({band_selects}),
skept AS (SELECT b, bk FROM sbands GROUP BY b, bk HAVING COUNT(*) <= {MH_MAX_BUCKET}),
sk AS (SELECT sbands.* FROM sbands JOIN skept USING (b, bk)),
scand AS (SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
          FROM sk a JOIN sk b2 ON a.b = b2.b AND a.bk = b2.bk
                                AND a.doc_id < b2.doc_id)
SELECT id_a, id_b, hamming FROM (
  SELECT c.id_a, c.id_b,
         CAST(list_sum(list_transform(generate_series(1, 64),
              i -> CASE WHEN substr(sa.simhash, i, 1) <> substr(sb.simhash, i, 1)
                        THEN 1 ELSE 0 END)) AS BIGINT) AS hamming
  FROM scand c
  JOIN ssig sa ON sa.doc_id = c.id_a
  JOIN ssig sb ON sb.doc_id = c.id_b)
WHERE hamming <= {SH_MAX_HAMMING}
ORDER BY id_a, id_b
"""


@register(
    "dedup_simhash_hamming",
    oracle=_simhash_hamming_oracle(),
    tags=("pipeline", "dedup"),
    doc="SimHash near-dup pairs via band-bucketed Hamming search "
    "(pipeline/dedup.py simhash_hamming_pairs) — the Google web-crawl dedup "
    f"recipe, Manku et al. WWW 2007: the 64-bit simhash splits into "
    f"{SH_BANDS} bands; by pigeonhole every pair within Hamming distance "
    f"{SH_MAX_HAMMING} shares a band EXACTLY, so the banded bucket "
    "self-join (same hot-bucket cap as the MinHash path) finds all such "
    "pairs without any all-pairs scan, and the true Hamming distance "
    "verifies candidates as a row-local zip_with fold over the two "
    "bitstrings. Output (id_a, id_b, hamming).",
)
def dedup_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.pipeline.dedup import simhash_hamming_pairs

    return simhash_hamming_pairs(
        table(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        SH_BANDS,
        SH_MAX_HAMMING,
        MH_MAX_BUCKET,
    ).orderBy("id_a", "id_b")


def _family_agreement_oracle() -> str:
    """Nests the four pair-family oracles verbatim (one definition each),
    tags each family with a bit, folds every flagged pair to a 4-bit
    membership mask, and reads the six pairwise overlaps off the <= 15-row
    mask histogram."""
    return f"""
WITH fmh AS (SELECT id_a, id_b, 1 AS bit FROM ({_minhash_oracle(ordered=False)})),
fsh AS (SELECT id_a, id_b, 2 AS bit FROM ({_simhash_hamming_oracle()})),
fnj AS (SELECT id_a, id_b, 4 AS bit FROM ({_ngram_jaccard_oracle()})),
fco AS (SELECT id_a, id_b, 8 AS bit FROM ({_ngram_containment_oracle()})),
fams AS (SELECT * FROM fmh UNION ALL SELECT * FROM fsh
         UNION ALL SELECT * FROM fnj UNION ALL SELECT * FROM fco),
masks AS (SELECT id_a, id_b, CAST(SUM(DISTINCT bit) AS INTEGER) AS mask
          FROM fams GROUP BY 1, 2),
mcnt AS (SELECT mask, CAST(COUNT(*) AS BIGINT) AS c FROM masks GROUP BY mask),
spine(fam_a, fam_b, bit_a, bit_b) AS (
  VALUES ('containment', 'minhash', 8, 1),
         ('containment', 'ngram', 8, 4),
         ('containment', 'simhash', 8, 2),
         ('minhash', 'ngram', 1, 4),
         ('minhash', 'simhash', 1, 2),
         ('simhash', 'ngram', 2, 4)),
rep AS (
  SELECT s.fam_a, s.fam_b,
         CAST(COALESCE(SUM(CASE WHEN (m.mask & s.bit_a) > 0 THEN m.c END), 0) AS BIGINT) AS n_a,
         CAST(COALESCE(SUM(CASE WHEN (m.mask & s.bit_b) > 0 THEN m.c END), 0) AS BIGINT) AS n_b,
         CAST(COALESCE(SUM(CASE WHEN (m.mask & s.bit_a) > 0
                                 AND (m.mask & s.bit_b) > 0 THEN m.c END), 0) AS BIGINT) AS n_both
  FROM spine s CROSS JOIN mcnt m GROUP BY 1, 2)
SELECT fam_a, fam_b, n_a, n_b, n_both,
       round(n_both / CAST(NULLIF(n_a + n_b - n_both, 0) AS DOUBLE), 6) AS pair_jaccard
FROM rep ORDER BY fam_a, fam_b
"""


@register(
    "dedup_family_agreement",
    oracle=_family_agreement_oracle(),
    tags=("pipeline", "dedup", "composed"),
    doc="Cross-FAMILY agreement audit over the four near-dup pair "
    "detectors — the measurement a curation team runs before picking "
    "which detector to deploy (and the known results it should reproduce: "
    "MinHash and exact n-gram Jaccard approximate the same set statistic, "
    "so they overlap heavily; SimHash's Hamming ball is a different "
    "geometry and flags a partly disjoint set; containment flags the "
    "asymmetric quoted-superset class the symmetric detectors miss): for "
    "each of the six family pairs, the flagged-pair set sizes, their "
    "intersection, and the Jaccard of the SETS OF PAIRS. Each family runs "
    "its production banded/capped pipeline (pipeline/dedup.py "
    "minhash_lsh_pairs / simhash_hamming_pairs / ngram_jaccard_pairs / "
    "ngram_containment_pairs — never all-pairs); membership folds to one "
    "4-bit mask per flagged pair (one pair-keyed aggregate over the "
    "already-sparse union), and the 6-row report reads off the <= 15-row "
    "mask histogram — integer-exact until the final divide. The oracle "
    "nests the four family oracles verbatim, so the audit can never "
    "drift from the detectors it audits.",
)
def dedup_family_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    return family_agreement_report(spark, table(spark, sf_dir, "documents"))


def family_agreement_report(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """dedup_family_agreement's full topology over an explicit docs
    relation — shared with the golden plan provider (tests/plan_fp.py)."""
    from flink_1_12_0_src_spark.pipeline.dedup import (
        _containment_inter,
        simhash_hamming_pairs,
    )

    mh = minhash_lsh_pairs(
        docs, "doc_id", "text", MH_NUM_HASHES, MH_SHINGLE_K, MH_BAND_ROWS,
        MH_MAX_BUCKET,
    ).select("id_a", "id_b", F.lit(1).alias("bit"))
    sh = simhash_hamming_pairs(
        docs, "doc_id", "text", SH_BANDS, SH_MAX_HAMMING, MH_MAX_BUCKET,
    ).select("id_a", "id_b", F.lit(2).alias("bit"))
    # The ngram-Jaccard and containment detectors share their entire
    # corpus-scale front — the same distinct (id, blk, sh) gram space, df
    # cap, sizes, and block-bounded intersect self-join — and differ only
    # in the membership predicate over the resulting (id_a, id_b, i, na,
    # nb) rows (ngram_jaccard_pairs / ngram_containment_pairs both sit on
    # _containment_inter's relation). Build that relation ONCE and read
    # both bits off it with the detectors' exact predicates: the flagged
    # sets are identical to running the two standalone detectors (the
    # nested oracles pin this), minus one full gram-join execution.
    # pair-count-sized relation, two consumers below
    pair_stats = barrier(
        _containment_inter(docs, "doc_id", "text", "lang", NJ_SHINGLE_K, NJ_MAX_DF)
    )
    nj_keep = (
        F.col("i") / (F.col("na") + F.col("nb") - F.col("i")) > NJ_THRESHOLD
    )
    co_keep = (F.lit(CONTAIN_DEN) * F.col("i") >= F.lit(CONTAIN_NUM) * F.col("na")) | (
        F.lit(CONTAIN_DEN) * F.col("i") >= F.lit(CONTAIN_NUM) * F.col("nb")
    )
    nj = pair_stats.filter(nj_keep).select("id_a", "id_b", F.lit(4).alias("bit"))
    co = pair_stats.filter(co_keep).select("id_a", "id_b", F.lit(8).alias("bit"))
    masks = (
        mh.unionByName(sh)
        .unionByName(nj)
        .unionByName(co)
        .groupBy("id_a", "id_b")
        .agg(F.sum_distinct("bit").cast("int").alias("mask"))
    )
    mcnt = masks.groupBy("mask").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    spine = spark.createDataFrame(
        [
            ("containment", "minhash", 8, 1),
            ("containment", "ngram", 8, 4),
            ("containment", "simhash", 8, 2),
            ("minhash", "ngram", 1, 4),
            ("minhash", "simhash", 1, 2),
            ("simhash", "ngram", 2, 4),
        ],
        "fam_a string, fam_b string, bit_a int, bit_b int",
    )
    in_a = F.col("mask").bitwiseAND(F.col("bit_a")) > 0
    in_b = F.col("mask").bitwiseAND(F.col("bit_b")) > 0
    rep = (
        spine.crossJoin(F.broadcast(mcnt))
        .groupBy("fam_a", "fam_b")
        .agg(
            F.coalesce(F.sum(F.when(in_a, F.col("c"))), F.lit(0))
            .cast("bigint")
            .alias("n_a"),
            F.coalesce(F.sum(F.when(in_b, F.col("c"))), F.lit(0))
            .cast("bigint")
            .alias("n_b"),
            F.coalesce(F.sum(F.when(in_a & in_b, F.col("c"))), F.lit(0))
            .cast("bigint")
            .alias("n_both"),
        )
    )
    return rep.select(
        "fam_a",
        "fam_b",
        "n_a",
        "n_b",
        "n_both",
        F.round(
            F.col("n_both")
            / F.nullif(F.col("n_a") + F.col("n_b") - F.col("n_both"), F.lit(0)).cast(
                "double"
            ),
            6,
        ).alias("pair_jaccard"),
    ).orderBy("fam_a", "fam_b")


@register(
    "dataset_pack_boundary_audit",
    oracle=f"""
WITH packed AS (
  SELECT doc_id, lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         CAST(floor((SUM(len(string_split(text, ' '))) OVER w
                     - len(string_split(text, ' '))) / {PACK_BUDGET}) AS BIGINT) AS pack_id
  FROM documents
  WINDOW w AS (PARTITION BY lang ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT pack_id) AS BIGINT) AS n_packs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       round(CAST(COUNT(*) AS DOUBLE) / COUNT(DISTINCT pack_id), 6) AS avg_docs_per_pack,
       round(CAST(COUNT(*) - COUNT(DISTINCT pack_id) AS DOUBLE)
             / SUM(n_tokens) * 1000, 6) AS boundaries_per_1k_tokens
FROM packed GROUP BY lang ORDER BY lang
""",
    tags=("pipeline", "sampling"),
    doc="Cross-document pack-boundary audit (pipeline/sampling.py "
    "pack_boundary_audit) — the packing-quality metric next to the "
    "fill-fraction audit: every extra document in a pack adds one "
    "cross-document boundary an attention window can straddle; reports "
    "per-stream docs, packs, tokens, mean docs per pack, boundaries per "
    "1k tokens. Reuses pack_sequences' single window cumsum plus ONE "
    "stream-keyed aggregate over dense per-stream pack ids.",
)
def dataset_pack_boundary_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.pipeline.sampling import pack_boundary_audit

    docs = table(spark, sf_dir, "documents")
    return pack_boundary_audit(
        docs, "doc_id", "lang", F.size(F.split(F.col("text"), " ")), PACK_BUDGET
    ).orderBy("lang")


@register(
    "pipeline_filter_agreement",
    oracle=f"""
WITH fq AS (
  SELECT doc_id, lang,
         round(least(len(string_split(lower(text), ' ')) / 50.0, 1.0) * 0.4
               + (1 - least(round(len(regexp_extract_all(text, '[^a-zA-Z0-9 \\t\\n]'))
                                  / length(text), 6) * 5, 1.0)) * 0.3
               + least(round(len(list_intersect(string_split(lower(text), ' '), {_EN!r}))
                             / len(string_split(lower(text), ' ')), 6) * 10, 1.0) * 0.3,
               6) AS quality
  FROM documents
),
ftoks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents
),
ft AS (SELECT doc_id, term FROM ftoks WHERE term <> ''),
fvocab AS (SELECT term, COUNT(*) AS c FROM ft GROUP BY term),
ftotal AS (SELECT COUNT(*) AS n FROM ft),
fscored AS (
  SELECT ft.doc_id,
         CAST(round(-ln(CAST(c AS DOUBLE) / (SELECT CAST(n AS DOUBLE) FROM ftotal)), 9)
              AS DECIMAL(28,9)) AS nll
  FROM ft JOIN fvocab USING (term)
),
fppl AS (SELECT doc_id, CAST(SUM(nll) AS DOUBLE) / COUNT(*) AS avg_nll
         FROM fscored GROUP BY doc_id),
fr AS (
  SELECT fq.lang,
         row_number() OVER (PARTITION BY fq.lang ORDER BY fq.quality DESC, fq.doc_id) AS rq,
         row_number() OVER (PARTITION BY fq.lang ORDER BY p.avg_nll ASC, fq.doc_id) AS rp
  FROM fq JOIN fppl p USING (doc_id)
)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       round(1 - 6.0 * CAST(SUM((rq - rp) * (rq - rp)) AS DOUBLE)
             / NULLIF(CAST(COUNT(*) AS DOUBLE)
                      * (CAST(COUNT(*) AS DOUBLE) * COUNT(*) - 1), 0.0), 6) AS spearman
FROM fr GROUP BY lang ORDER BY lang
""",
    tags=("pipeline", "text", "composed"),
    doc="Filter-agreement audit — the check a curation team runs before "
    "choosing between filters: per-language Spearman rank correlation "
    "between the heuristic quality score (text_quality_score) and the "
    "unigram-LM perplexity score (text_unigram_logppl; low perplexity "
    "ranks as high quality). Ranks are row_number with the id tiebreak "
    "(deterministic first-rank ties, not average ranks), so Σd² is exact "
    "integer arithmetic and the only float op is the final 1 − 6Σd²/"
    "n(n²−1) divide — engine-exact by construction. Shape: the two "
    "doc-level score relations join on id, two lang-partitioned windows "
    "over the doc-level relation, one langs-sized aggregate.",
)
def pipeline_filter_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from flink_1_12_0_src_spark.pipeline.text import quality_score, unigram_logprob

    docs = table(spark, sf_dir, "documents")
    q = quality_score(docs, "doc_id", "text", keep=["lang"]).select(
        "doc_id", "lang", "quality"
    )
    ppl = unigram_logprob(docs, "doc_id", "text").select("doc_id", "avg_nll")
    j = q.join(ppl, "doc_id")
    rq = F.row_number().over(
        W.partitionBy("lang").orderBy(F.desc("quality"), F.asc("doc_id"))
    )
    rp = F.row_number().over(
        W.partitionBy("lang").orderBy(F.asc("avg_nll"), F.asc("doc_id"))
    )
    r = j.select("lang", rq.alias("rq"), rp.alias("rp"))
    d2 = (F.col("rq") - F.col("rp")) * (F.col("rq") - F.col("rp"))
    n = F.count(F.lit(1))
    nd = n.cast("double")
    return (
        r.groupBy("lang")
        .agg(
            n.cast("bigint").alias("n_docs"),
            F.round(
                1
                - 6.0
                * F.sum(d2).cast("double")
                / F.nullif(nd * (nd * n - 1), F.lit(0.0)),
                6,
            ).alias("spearman"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# round 10: quality-classifier training / BPE merge loop / URL dedup /
# ANN recall rows
# ---------------------------------------------------------------------------
QF_NB, QF_ROUNDS, QF_LR = 32, 4, 5.0
# Teacher-label threshold: quality >= 0.75 splits this corpus ~60/40, so the
# trained filter has a real decision boundary to learn (at the clean-corpus
# gate of 0.5 the corpus is ~94% positive and always-yes is near-optimal).
QF_LABEL_THR = 0.75

_QF_QUALITY = f"""round(least(len(string_split(lower(text), ' ')) / 50.0, 1.0) * 0.4
               + (1 - least(round(len(regexp_extract_all(text, '[^a-zA-Z0-9 \\t\\n]'))
                                  / length(text), 6) * 5, 1.0)) * 0.3
               + least(round(len(list_intersect(string_split(lower(text), ' '), {_EN!r}))
                             / len(string_split(lower(text), ' ')), 6) * 10, 1.0) * 0.3,
               6)"""


def _quality_fit_cte_body() -> str:
    """Unrolled logistic-GD CTE chain (qftok/qfnt/qfq/qfd/qffx/qfw{i}):
    round i joins the sparse feature table with the previous weight vector
    (z = DECIMAL sum of rounded w·x terms — zero-feature terms contribute
    exactly 0, so sparse ≡ the Spark side's dense fold), sigmoids per doc,
    and re-aggregates the bucket-keyed gradient. Shared by the training
    oracle (reads qfw{QF_ROUNDS}) and the serving/eval oracle (scores with
    those weights)."""
    nb, lr, thr = QF_NB, QF_LR, QF_LABEL_THR
    rnd = """
qfz{i} AS (SELECT f.doc_id,
               CAST(SUM(CAST(round(w.w * f.x, 9) AS DECIMAL(28,9))) AS DOUBLE) AS z
        FROM qffx f JOIN qfw{p} w USING (b) GROUP BY f.doc_id),
qfp{i} AS (SELECT d.doc_id, d.y, round(1.0 / (1.0 + exp(-z.z)), 9) AS p
        FROM qfd d JOIN qfz{i} z USING (doc_id)),
qfg{i} AS (SELECT f.b, SUM(CAST(round((p.p - p.y) * f.x, 9) AS DECIMAL(28,9))) AS g
        FROM qffx f JOIN qfp{i} p USING (doc_id) GROUP BY f.b),
qfw{i} AS (SELECT w.b,
                round(w.w - {lr} * (CAST(COALESCE(g.g, 0) AS DOUBLE) / n.n), 6) AS w
         FROM qfw{p} w LEFT JOIN qfg{i} g USING (b) CROSS JOIN qfn n)"""
    rounds = ",".join(rnd.format(i=i + 1, p=i, lr=lr) for i in range(QF_ROUNDS))
    return f"""qftok AS (
  SELECT doc_id, t
  FROM (SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS t
        FROM documents)
  WHERE t <> ''
),
qfnt AS (SELECT doc_id, COUNT(*) AS n FROM qftok GROUP BY doc_id),
qfq AS (SELECT doc_id, {_QF_QUALITY} AS quality FROM documents),
qfd AS (SELECT n.doc_id, CAST(q.quality >= {thr} AS INT) AS y
        FROM qfnt n JOIN qfq q USING (doc_id)),
qffx AS (
  SELECT t.doc_id, ('0x' || substr(md5(t.t), 1, 8))::BIGINT % {nb} AS b,
         round(COUNT(*) / ANY_VALUE(n.n), 6) AS x
  FROM qftok t JOIN qfnt n USING (doc_id)
  GROUP BY t.doc_id, b
  UNION ALL SELECT doc_id, {nb}, round(least(n / 50.0, 1.0), 6) FROM qfnt
  UNION ALL SELECT doc_id, {nb} + 1, 1.0 FROM qfnt
),
qfw0 AS (SELECT unnest(generate_series(0, {nb} + 1)) AS b, 0.0 AS w),
qfn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM qfd),{rounds}"""


def _quality_fit_oracle() -> str:
    return f"""
WITH {_quality_fit_cte_body()}
SELECT CAST(b AS BIGINT) AS bucket, w AS weight
FROM qfw{QF_ROUNDS} ORDER BY bucket
"""


@register(
    "pipeline_quality_fit",
    oracle=_quality_fit_oracle(),
    tags=("pipeline", "text", "classifier", "bench"),
    doc=f"Distributed quality-classifier TRAINING (pipeline/classifier.py "
    f"logreg_fit_exact) — the FineWeb-edu/fastText-style filter model: a "
    f"linear classifier over {QF_NB} hashed-unigram TF buckets + a "
    "saturating length feature + bias is "
    "trained by full-batch logistic GD to reproduce the heuristic quality "
    f"teacher label (quality ≥ {QF_LABEL_THR} — a ~60/40 class split, so "
    f"there is a real boundary to learn), {QF_ROUNDS} rounds "
    "unrolled into ONE lazy plan exactly as embedding_kmeans_fit unrolls "
    "Lloyd: per round the model collapses to one broadcast weight row, "
    "w·x is a row-local DECIMAL fold (the corpus never shuffles on data "
    "size), and the gradient is a single bucket-keyed aggregate emitting "
    f"{QF_NB + 2} rows. Rounded-then-DECIMAL accumulation at every "
    "aggregation boundary makes the final weight table bit-identical "
    "across engines and partitionings. No collect between rounds.",
)
def pipeline_quality_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.pipeline.classifier import logreg_fit_exact
    from flink_1_12_0_src_spark.pipeline.text import quality_score

    docs = table(spark, sf_dir, "documents")
    labeled = quality_score(docs, "doc_id", "text", keep=["text"]).select(
        "doc_id", "text", (F.col("quality") >= QF_LABEL_THR).alias("label")
    )
    return logreg_fit_exact(
        labeled, "label", "doc_id", "text", QF_NB, QF_ROUNDS, QF_LR
    ).orderBy("bucket")


BPE_ROUNDS = 3


def _bpe_cte_body() -> str:
    """Unrolled BPE merge-round CTE chain (bptok/bpv0, then bpp{i}/bpt{i}/
    bpv{i} per round): the merge re-tokenize is the SAME greedy
    left-to-right fold as the Spark side (DuckDB list_reduce over a
    chr(31)-delimited string accumulator — whole-symbol ends_with match,
    freshly merged symbols never re-merge in the same pass). Shared by the
    fit oracle (reads the bpt{i} winners) and the encode oracle (reads the
    final symbol table bpv{BPE_ROUNDS})."""
    rnd = """
bpp{i} AS (SELECT split_part(pr, chr(31), 1) AS a, split_part(pr, chr(31), 2) AS b,
                SUM(cnt) AS freq
         FROM (SELECT cnt,
                      unnest(list_transform(generate_series(1, len(s)-1),
                                            j -> s[j] || chr(31) || s[j+1])) AS pr
               FROM bpv{p} WHERE len(s) >= 2)
         GROUP BY 1, 2),
bpt{i} AS (SELECT a, b, freq FROM bpp{i} ORDER BY freq DESC, a, b LIMIT 1),
bpv{i} AS (SELECT v.word, v.cnt,
                list_filter(string_split(
                  list_reduce(list_prepend('', v.s),
                    (acc, x) -> CASE WHEN x = t.b AND ends_with(acc, chr(31) || t.a)
                                     THEN substr(acc, 1, length(acc) - length(t.a) - 1)
                                          || chr(31) || t.a || t.b
                                     ELSE acc || chr(31) || x END),
                  chr(31)), y -> y <> '') AS s
         FROM bpv{p} v LEFT JOIN bpt{i} t ON true)"""
    rounds = ",".join(rnd.format(i=i, p=i - 1) for i in range(1, BPE_ROUNDS + 1))
    return f"""bptok AS (
  SELECT t AS word
  FROM (SELECT unnest(string_split_regex(lower(text), '\\s+')) AS t FROM documents)
  WHERE t <> '' AND NOT contains(t, chr(31))
),
bpv0 AS (SELECT word, COUNT(*) AS cnt,
                list_transform(generate_series(1, length(word)), i -> substr(word, i, 1)) AS s
         FROM bptok GROUP BY word),{rounds}"""


def _bpe_fit_oracle() -> str:
    unions = " UNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS round, a AS sym_a, b AS sym_b, "
        f"a || b AS merged, CAST(freq AS BIGINT) AS freq FROM bpt{i}"
        for i in range(1, BPE_ROUNDS + 1)
    )
    return f"""
WITH {_bpe_cte_body()}
SELECT * FROM ({unions}) ORDER BY round
"""


@register(
    "text_bpe_fit",
    oracle=_bpe_fit_oracle(),
    tags=("pipeline", "text", "tokenizer"),
    doc=f"BPE tokenizer TRAINING — the merge LOOP (pipeline/text.py "
    f"bpe_fit; Sennrich et al. 2016): {BPE_ROUNDS} merge rounds unrolled, "
    "each counting adjacent symbol pairs weighted by word frequency, "
    "picking the deterministic top pair, and re-tokenizing every word "
    "ROW-LOCALLY with a greedy delimited-string fold (no positional "
    "self-join). text_bpe_pair_stats is step 1 of this loop. The only "
    "corpus-scale operation is the initial word count; every round runs "
    "over the vocabulary-sized word-frequency relation — one pair-keyed "
    "aggregate, one TakeOrderedAndProject(1) head, one 1-row broadcast "
    "into the re-tokenize projection. Output is the merge table a "
    "tokenizer ships: (round, sym_a, sym_b, merged, freq).",
)
def text_bpe_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.pipeline.text import bpe_fit

    return bpe_fit(table(spark, sf_dir, "documents"), "text", BPE_ROUNDS).orderBy(
        "round"
    )


# --- URL-granularity dedup (RefinedWeb stage 0) ----------------------------
# The documents table has no URL column, so the queries SYNTHESIZE a
# deterministic messy crawl URL per doc from (doc_id, source): the page
# identity is (source, doc_id % URL_PAGES, http|https), and md5-nibble-driven
# cosmetic variants (scheme/host case, explicit default port, trailing slash,
# query-param order, fragment) are exactly what url_normalize must erase.
# Same expression in both engines — the OPERATOR under test is the
# normalizer + keep-first report in pipeline/dedup.py.
URL_PAGES = 17


def _synth_url_col() -> F.Column:
    h = F.md5(F.concat(F.lit("url|"), F.col("doc_id").cast("string")))

    def n(i: int):
        return F.conv(F.substring(h, i, 1), 16, 10).cast("int")

    pg = F.col("doc_id") % URL_PAGES
    pgs = pg.cast("string")
    sb = F.when(pg % 3 == 0, F.lit("https")).otherwise(F.lit("http"))
    hostbase = F.concat(F.col("source"), F.lit(".example.com"))
    return F.concat(
        F.when(n(1) % 2 == 0, sb).otherwise(F.upper(sb)),
        F.lit("://"),
        F.when(n(2) % 2 == 0, hostbase).otherwise(F.upper(hostbase)),
        F.when(
            n(3) % 3 == 0,
            F.when(sb == "https", F.lit(":443")).otherwise(F.lit(":80")),
        ).otherwise(F.lit("")),
        F.lit("/docs/page-"),
        pgs,
        F.when(n(4) % 2 == 0, F.lit("/")).otherwise(F.lit("")),
        F.lit("?"),
        F.when(n(5) % 2 == 0, F.concat(F.lit("id="), pgs, F.lit("&v=2"))).otherwise(
            F.concat(F.lit("v=2&id="), pgs)
        ),
        F.when(n(6) % 2 == 0, F.concat(F.lit("#s"), n(6).cast("string"))).otherwise(
            F.lit("")
        ),
    )


def _synth_url_sql() -> str:
    """The SQL twin of :func:`_synth_url_col` — a CTE `uu(doc_id, url)`."""

    def n(i: int) -> str:
        return f"(('0x' || substr(h, {i}, 1))::BIGINT)"

    url = f"""(CASE WHEN {n(1)} % 2 = 0 THEN sb ELSE upper(sb) END)
      || '://'
      || (CASE WHEN {n(2)} % 2 = 0 THEN hb ELSE upper(hb) END)
      || (CASE WHEN {n(3)} % 3 = 0
               THEN (CASE WHEN sb = 'https' THEN ':443' ELSE ':80' END)
               ELSE '' END)
      || '/docs/page-' || CAST(pg AS VARCHAR)
      || (CASE WHEN {n(4)} % 2 = 0 THEN '/' ELSE '' END)
      || '?'
      || (CASE WHEN {n(5)} % 2 = 0 THEN 'id=' || CAST(pg AS VARCHAR) || '&v=2'
               ELSE 'v=2&id=' || CAST(pg AS VARCHAR) END)
      || (CASE WHEN {n(6)} % 2 = 0 THEN '#s' || CAST({n(6)} AS VARCHAR)
               ELSE '' END)"""
    return f"""uu0 AS (
  SELECT doc_id,
         md5('url|' || CAST(doc_id AS VARCHAR)) AS h,
         doc_id % {URL_PAGES} AS pg,
         CASE WHEN doc_id % {URL_PAGES} % 3 = 0 THEN 'https' ELSE 'http' END AS sb,
         source || '.example.com' AS hb
  FROM documents
),
uu AS (SELECT doc_id, {url} AS url FROM uu0)"""


# Normalization in the oracle: regex extraction equivalent to Spark's
# parse_url over well-formed http(s) URLs (no userinfo) — the language the
# synthesizer emits.
_URL_NORM_SQL = """parsed AS (
  SELECT doc_id, url,
         lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS proto,
         lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS auth,
         regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS pth,
         regexp_extract(url, '\\?([^#]*)', 1) AS q
  FROM uu
),
normed AS (
  SELECT doc_id, url,
         regexp_replace(auth, ':[0-9]+$', '') AS host,
         proto || '://'
         || (CASE WHEN proto = 'http' THEN regexp_replace(auth, ':80$', '')
                  WHEN proto = 'https' THEN regexp_replace(auth, ':443$', '')
                  ELSE auth END)
         || (CASE WHEN regexp_replace(pth, '/+$', '') = '' THEN '/'
                  ELSE regexp_replace(pth, '/+$', '') END)
         || (CASE WHEN q = '' THEN ''
                  ELSE '?' || array_to_string(list_sort(string_split(q, '&')), '&') END)
           AS norm_url
  FROM parsed
)"""


# ONE constant shared by the batch URL-dedup report (dedup_url_normalize)
# and its streaming twin (stream_url_admit, queries/streamingq.py) — the
# NEARDEDUP_KEEPFIRST_ORACLE pattern, so operator and twin can never drift.
URL_DEDUP_ORACLE = f"""
WITH {_synth_url_sql()},
{_URL_NORM_SQL},
pu AS (SELECT host, norm_url, MIN(doc_id) AS keep_id, COUNT(*) AS n_docs,
              COUNT(DISTINCT url) AS n_raw
       FROM normed GROUP BY 1, 2)
SELECT host,
       CAST(SUM(n_docs) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_canonical_urls,
       CAST(SUM(n_docs) - COUNT(*) AS BIGINT) AS n_dup_docs,
       round((SUM(n_docs) - COUNT(*)) / SUM(n_docs), 6) AS dup_rate,
       CAST(SUM(keep_id) AS BIGINT) AS sum_kept_ids,
       CAST(MAX(n_raw) AS BIGINT) AS max_raw_forms
FROM pu GROUP BY host ORDER BY host
"""


@register(
    "dedup_url_normalize",
    oracle=URL_DEDUP_ORACLE,
    tags=("pipeline", "dedup"),
    doc="URL-granularity dedup (pipeline/dedup.py url_normalize + "
    "url_dedup_report) — RefinedWeb's stage 0, run BEFORE any content "
    "dedup: canonicalize each crawl URL (lowercase scheme/authority, strip "
    "default port, fragment, trailing slashes, sort query params — pure "
    "parse_url built-ins, a row-local projection inside the scan), keep "
    "the MIN doc id per canonical URL, and report per-host dup rates plus "
    "the keeper-id checksum. ONE normalized-url-keyed aggregate and a "
    "hosts-sized rollup — the cheapest dedup stage there is, which is why "
    "production runs it first. URLs are synthesized deterministically from "
    "(doc_id, source) with md5-nibble cosmetic variants (case, :80/:443, "
    "trailing slash, param order, fragment) — exactly what normalization "
    "must erase; the same expression feeds both engines.",
)
def dedup_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.pipeline.dedup import url_dedup_report

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", _synth_url_col().alias("url")
    )
    return url_dedup_report(docs, "doc_id", "url").orderBy("host")


def _refinedweb_url_oracle() -> str:
    return (
        f"\nWITH {_synth_url_sql()},\n{_URL_NORM_SQL},\n"
        "ukept AS (SELECT d.doc_id, d.text FROM documents d\n"
        "          JOIN (SELECT MIN(doc_id) AS doc_id FROM normed GROUP BY norm_url) k\n"
        "          USING (doc_id)),\n"
        + _keepfirst_cte_body(src="ukept")
        + ",\n"
        "admitted AS (SELECT d.doc_id, d.text FROM ukept d\n"
        "             LEFT JOIN ddupc c USING (doc_id)\n"
        "             WHERE COALESCE(c.n_dup_buckets, 0) = 0),"
        + _paragraph_bands_cte(src="admitted", lead="")
        + _rewrite_tail(where=f"WHERE COALESCE(r.n_kept, 0) >= {RW_MIN_KEPT}")
    )


@register(
    "pipeline_refinedweb_url",
    oracle=_refinedweb_url_oracle(),
    tags=("pipeline", "dedup", "composed"),
    doc="THREE-level RefinedWeb curation variant — pipeline_refinedweb_corpus "
    "with the true stage 0 in front: (0) URL-granularity keep-first over "
    "canonicalized crawl URLs (pipeline/dedup.py url_keep_first — the "
    "cheapest stage, run first so content hashing never touches recrawls), "
    "(1) doc-level keep-first near-dedup admission, (2) paragraph-survivor "
    "rewrite, (3) minimum-content floor. The oracle composes the SAME "
    "shared CTE constants as the flagship (_keepfirst_cte_body over the "
    "URL-kept set + _paragraph_bands_cte + _rewrite_tail) plus the "
    "synthesized-URL/normalizer pair of dedup_url_normalize — no "
    "building-block drift possible. Scale: one normalized-url window, two "
    "linear banded passes, one doc-keyed semi join; each stage strictly "
    "shrinks the relation the next stage scans.",
)
def pipeline_refinedweb_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _refinedweb_fin(table(spark, sf_dir, "documents")).orderBy("doc_id")


def _refinedweb_fin(docs: DataFrame) -> DataFrame:
    """ONE definition of the RefinedWeb curation chain (URL keep-first ->
    doc-level near-dedup admission -> paragraph-survivor rewrite ->
    content floor) — shared by the url variant, the pretrain-corpus
    capstone, and the substring capstone, so the composed queries can
    never desynchronize from the flagship's stage parameters. Returns the
    cleaned relation with every rewrite column (callers project)."""
    from flink_1_12_0_src_spark.pipeline.dedup import (
        neardedup_keep_first,
        paragraph_dedup_rewrite,
        url_keep_first,
    )

    ukept = url_keep_first(
        docs.select("doc_id", "text", _synth_url_col().alias("url")), "doc_id", "url"
    ).select("doc_id", "text")
    adm = neardedup_keep_first(
        ukept, "doc_id", "text", MH_NUM_HASHES, MH_SHINGLE_K, MH_BAND_ROWS, MH_MAX_BUCKET
    )
    # same scoped stage barrier as pipeline_refinedweb_corpus: the rewrite
    # references its input three times
    survivors = ukept.join(
        adm.filter(F.col("admitted")).select("doc_id"), "doc_id", "left_semi"
    )
    with cached(survivors):
        cleaned = paragraph_dedup_rewrite(
            survivors,
            "doc_id",
            "text",
            block=PARA_BLOCK,
            num_hashes=MH_NUM_HASHES,
            shingle_k=MH_SHINGLE_K,
            band_rows=MH_BAND_ROWS,
            max_bucket=MH_MAX_BUCKET,
        )
    return cleaned.filter(F.col("n_kept") >= RW_MIN_KEPT)


# --- ANN top-k and recall driver rows ---------------------------------------
# Each ANN method (sign-LSH, IVF, PQ) registers two driver rows: its top-k
# neighbor list (knn_*_topk) and its recall@k against the exact brute-force
# top-k, one row per query vector (knn_*_recall). Both rows run the same
# search function, and both oracles read the same `approx` CTE chain, which
# reimplements the (deterministic, md5-seeded or lowest-id-seeded) search in
# SQL with every comparison on rounded / DECIMAL-accumulated values so the
# two engines rank identically.
IVFX_NPROBE = 2
PQX_M, PQX_KSUB, PQX_ITERS, PQX_SHORTLIST = 8, 8, 1, 64
EMB_DIM = 64


def _recall_vs_brute(brute: DataFrame, approx: DataFrame) -> DataFrame:
    """(query_id, recall): |approx ∩ brute| / ANN_K per query — brute always
    has exactly ANN_K rows per query, so grouping it keeps 0-hit queries."""
    return (
        brute.select("query_id", "neighbor_id")
        .join(
            approx.select("query_id", "neighbor_id").withColumn("_h", F.lit(1)),
            ["query_id", "neighbor_id"],
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.round(F.sum(F.coalesce("_h", F.lit(0))) / F.lit(float(ANN_K)), 6).alias(
                "recall"
            )
        )
    )


def _ann_topk(spark: SparkSession, sf_dir: str, search) -> DataFrame:
    """knn_*_topk rows: ``search(corpus, queries)`` for the ANN_QUERY_MAX
    query vectors, sorted by query, cosine DESC, neighbor."""
    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < ANN_QUERY_MAX)
    return search(emb, q).orderBy("query_id", F.desc("cosine"), "neighbor_id")


def _ann_recall(spark: SparkSession, sf_dir: str, search) -> DataFrame:
    """knn_*_recall rows: recall@ANN_K of the same search against
    :func:`cosine_topk`."""
    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < ANN_QUERY_MAX)
    brute = cosine_topk(emb, q, "vec_id", "embedding", ANN_K)
    return _recall_vs_brute(brute, search(emb, q)).orderBy("query_id")


_EQ_CTES = f"""e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
q AS (SELECT * FROM e WHERE vec_id < {ANN_QUERY_MAX})"""

_BRUTE_CTE = f"""brute AS (
  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id
  FROM q JOIN e ON e.vec_id <> q.vec_id
  QUALIFY row_number() OVER (PARTITION BY q.vec_id
            ORDER BY round(list_cosine_similarity(q.v, e.v), 6) DESC, e.vec_id) <= {ANN_K})"""

_RECALL_TAIL = f"""SELECT b.query_id,
       round(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) / {ANN_K}.0, 6) AS recall
FROM brute b LEFT JOIN approx a USING (query_id, neighbor_id)
GROUP BY b.query_id ORDER BY b.query_id"""


def _topk_oracle(approx_ctes: str) -> str:
    """knn_*_topk oracle: the method's `approx` (query_id, neighbor_id) rows
    with their rounded cosine, read from the e / q CTEs ``approx_ctes``
    defines."""
    return f"""
WITH {approx_ctes}
SELECT a.query_id, a.neighbor_id, round(list_cosine_similarity(qq.v, ne.v), 6) AS cosine
FROM approx a JOIN e ne ON ne.vec_id = a.neighbor_id
              JOIN q qq ON qq.vec_id = a.query_id
ORDER BY query_id, cosine DESC, neighbor_id
"""


def _recall_oracle(approx_ctes: str) -> str:
    """knn_*_recall oracle: `approx` against the brute-force top-k."""
    return f"""
WITH {approx_ctes},
{_BRUTE_CTE}
{_RECALL_TAIL}
"""


def _lsh_approx_ctes() -> str:
    return f"""{_EQ_CTES},
pl AS (SELECT p, d,
              (('0x' || substr(md5('7|' || CAST(p AS VARCHAR) || '|' || CAST(d AS VARCHAR)), 1, 8))::BIGINT
               / 2147483648.0 - 1.0) AS c
       FROM (SELECT unnest(generate_series(0, 23)) AS p),
            (SELECT unnest(generate_series(0, {EMB_DIM - 1})) AS d)),
ex AS (SELECT vec_id, d, v[d + 1] AS x
       FROM e, (SELECT unnest(generate_series(0, {EMB_DIM - 1})) AS d)),
dots AS (SELECT ex.vec_id, pl.p, SUM(ex.x * pl.c) AS s
         FROM ex JOIN pl USING (d) GROUP BY 1, 2),
codes AS (SELECT vec_id, CAST(p // 3 AS VARCHAR) || ':' ||
                 string_agg(CASE WHEN s >= 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS code
          FROM dots GROUP BY vec_id, p // 3),
cc AS (SELECT * FROM codes
       WHERE code NOT IN (SELECT code FROM codes GROUP BY code HAVING COUNT(*) > 1024)),
cand AS (SELECT DISTINCT qc.vec_id AS query_id, cc.vec_id AS neighbor_id
         FROM cc JOIN (SELECT * FROM codes WHERE vec_id < {ANN_QUERY_MAX}) qc USING (code)
         WHERE cc.vec_id <> qc.vec_id),
approx AS (SELECT c.query_id, c.neighbor_id
           FROM cand c JOIN e ne ON ne.vec_id = c.neighbor_id
                       JOIN q qq ON qq.vec_id = c.query_id
           QUALIFY row_number() OVER (PARTITION BY c.query_id
                     ORDER BY round(list_cosine_similarity(qq.v, ne.v), 6) DESC, c.neighbor_id) <= {ANN_K})"""


def _lsh_search(emb: DataFrame, q: DataFrame) -> DataFrame:
    from flink_1_12_0_src_spark.pipeline.similarity import lsh_topk

    return lsh_topk(emb, q, "vec_id", "embedding", dim=EMB_DIM, k=ANN_K)


@register(
    "knn_lsh_topk",
    oracle=_topk_oracle(_lsh_approx_ctes()),
    tags=("pipeline", "similarity"),
    doc="Random-hyperplane (sign) LSH approximate top-k — the hash-bucket ANN "
    "alternative to IVF (Charikar 2002): 24 md5-derived hyperplanes in 8 "
    "bands of 3 sign bits, candidates from the band-code equi-join with the "
    "minhash-style hot-bucket cap, exact-cosine re-rank. The oracle is "
    "knn_lsh_recall's approx CTE chain plus the rounded cosine.",
)
def knn_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ann_topk(spark, sf_dir, _lsh_search)


@register(
    "knn_lsh_recall",
    oracle=_recall_oracle(_lsh_approx_ctes()),
    tags=("pipeline", "similarity"),
    doc="Recall@5 of knn_lsh_topk against the exact brute-force top-5: per "
    "query vector, |approx ∩ exact| / 5. The oracle re-derives the SAME "
    "md5-seeded hyperplanes "
    "(pipeline/similarity.py lsh_hyperplanes), sign band codes, hot-bucket "
    "cap and rounded-cosine re-rank in SQL. Sign bits compare a raw float "
    "dot against 0 in both engines — summation-order divergence flips a "
    "sign only within ~1e-15 of zero, vanishing for random 64-dim data.",
)
def knn_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ann_recall(spark, sf_dir, _lsh_search)


def _ivf_approx_ctes() -> str:
    return f"""{_kmeans_cte_body()},
q AS (SELECT * FROM e WHERE vec_id < {ANN_QUERY_MAX}),
lists AS (SELECT e.vec_id AS neighbor_id, e.v AS nv, c.cid AS cluster
          FROM e CROSS JOIN c{KM_ITERS} c
          QUALIFY row_number() OVER (PARTITION BY e.vec_id
                    ORDER BY round(list_cosine_similarity(e.v, c.cv), 6) DESC, c.cid) = 1),
probes AS (SELECT q.vec_id AS query_id, q.v AS qv, c.cid AS cluster
           FROM q CROSS JOIN c{KM_ITERS} c
           QUALIFY row_number() OVER (PARTITION BY q.vec_id
                     ORDER BY round(list_cosine_similarity(q.v, c.cv), 6) DESC, c.cid) <= {IVFX_NPROBE}),
approx AS (SELECT p.query_id, l.neighbor_id
           FROM probes p JOIN lists l USING (cluster)
           WHERE l.neighbor_id <> p.query_id
           QUALIFY row_number() OVER (PARTITION BY p.query_id
                     ORDER BY round(list_cosine_similarity(p.qv, l.nv), 6) DESC, l.neighbor_id) <= {ANN_K})"""


def _ivf_search(emb: DataFrame, q: DataFrame) -> DataFrame:
    from flink_1_12_0_src_spark.pipeline.similarity import (
        ivf_topk_exact,
        kmeans_fit_exact,
    )

    cents = kmeans_fit_exact(emb, "vec_id", "embedding", KM_K, KM_ITERS)
    return ivf_topk_exact(emb, q, cents, "vec_id", "embedding", ANN_K, IVFX_NPROBE)


@register(
    "knn_ivf_topk",
    oracle=_topk_oracle(_ivf_approx_ctes()),
    tags=("pipeline", "similarity"),
    doc=f"IVF approximate top-{ANN_K}: centroids from embedding_kmeans_fit "
    f"(k={KM_K}, {KM_ITERS} exact Lloyd rounds), corpus assigned by "
    f"rounded-cosine argmax fold, nprobe={IVFX_NPROBE} probing, "
    "rounded-cosine re-rank (pipeline/similarity.py kmeans_fit_exact / "
    "ivf_topk_exact). The oracle is knn_ivf_recall's approx CTE chain plus "
    "the rounded cosine.",
)
def knn_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ann_topk(spark, sf_dir, _ivf_search)


@register(
    "knn_ivf_recall",
    oracle=_recall_oracle(_ivf_approx_ctes()),
    tags=("pipeline", "similarity", "clustering"),
    doc=f"Recall@5 of an ENGINE-EXACT IVF search against brute force — the "
    "recall companion of knn_ivf_topk: centroids from "
    f"embedding_kmeans_fit (k={KM_K}, {KM_ITERS} exact Lloyd rounds), "
    f"corpus assigned by rounded-cosine argmax fold, nprobe={IVFX_NPROBE} "
    "probing, rounded-cosine re-rank (pipeline/similarity.py "
    "ivf_topk_exact). The oracle composes the SAME unrolled-kmeans CTE "
    "body as the training oracle plus QUALIFY windows for "
    "assign/probe/re-rank. Scale: centroids collapse to one broadcast row, "
    "assignment and probing are row-local folds — the corpus never "
    "shuffles on data size; candidates come from the probed-list equi "
    "join only.",
)
def knn_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ann_recall(spark, sf_dir, _ivf_search)


def _pq_approx_ctes() -> str:
    sd = EMB_DIM // PQX_M

    def d2(a: str, b: str) -> str:
        return (
            f"CAST(list_aggregate(list_transform(generate_series(1, {sd}), "
            f"i -> CAST(round(({a}[i] - {b}[i]) * ({a}[i] - {b}[i]), 9) AS DECIMAL(28,9))), "
            f"'sum') AS DOUBLE)"
        )

    return f"""{_EQ_CTES},
ss AS (SELECT vec_id, sub, v[sub * {sd} + 1 : sub * {sd} + {sd}] AS sv
       FROM e, (SELECT unnest(generate_series(0, {PQX_M - 1})) AS sub)),
cb0 AS (SELECT sub, CAST(vec_id AS INT) AS code, sv AS cv
        FROM ss WHERE vec_id >= 0 AND vec_id < {PQX_KSUB}),
pa1 AS (SELECT s.vec_id, s.sub, s.sv, c.code
        FROM ss s JOIN cb0 c USING (sub)
        QUALIFY row_number() OVER (PARTITION BY s.vec_id, s.sub
                  ORDER BY {d2('s.sv', 'c.cv')} ASC, c.code) = 1),
pm1 AS (SELECT sub, code, pos,
               round(CAST(SUM(CAST(round(x, 6) AS DECIMAL(18,6))) AS DOUBLE)
                     / COUNT(*), 6) AS mm
        FROM (SELECT sub, code, unnest(sv) AS x, generate_subscripts(sv, 1) AS pos
              FROM pa1)
        GROUP BY sub, code, pos),
cb1 AS (SELECT sub, code, list(mm ORDER BY pos) AS cv FROM pm1 GROUP BY sub, code),
enc AS (SELECT s.vec_id AS neighbor_id, s.sub, c.code
        FROM ss s JOIN cb1 c USING (sub)
        QUALIFY row_number() OVER (PARTITION BY s.vec_id, s.sub
                  ORDER BY {d2('s.sv', 'c.cv')} ASC, c.code) = 1),
lut AS (SELECT s.vec_id AS query_id, s.sub, c.code, round({d2('s.sv', 'c.cv')}, 6) AS lu
        FROM (SELECT * FROM ss WHERE vec_id < {ANN_QUERY_MAX}) s JOIN cb1 c USING (sub)),
ap0 AS (SELECT l.query_id, en.neighbor_id,
               CAST(SUM(CAST(l.lu AS DECIMAL(18,6))) AS DOUBLE) AS ad
        FROM enc en JOIN lut l ON l.sub = en.sub AND l.code = en.code
        WHERE en.neighbor_id <> l.query_id
        GROUP BY 1, 2),
short AS (SELECT query_id, neighbor_id FROM ap0
          QUALIFY row_number() OVER (PARTITION BY query_id
                    ORDER BY ad ASC, neighbor_id) <= {PQX_SHORTLIST}),
approx AS (SELECT s.query_id, s.neighbor_id
           FROM short s JOIN e ne ON ne.vec_id = s.neighbor_id
                        JOIN q qq ON qq.vec_id = s.query_id
           QUALIFY row_number() OVER (PARTITION BY s.query_id
                     ORDER BY round(list_cosine_similarity(qq.v, ne.v), 6) DESC, s.neighbor_id) <= {ANN_K})"""


def _pq_search(emb: DataFrame, q: DataFrame) -> DataFrame:
    from flink_1_12_0_src_spark.pipeline.similarity import pq_fit_exact, pq_topk_exact

    books = pq_fit_exact(emb, "vec_id", "embedding", EMB_DIM, PQX_M, PQX_KSUB, PQX_ITERS)
    return pq_topk_exact(
        emb, q, books, "vec_id", "embedding", EMB_DIM, PQX_M, ANN_K, PQX_SHORTLIST
    )


@register(
    "knn_pq_topk",
    oracle=_topk_oracle(_pq_approx_ctes()),
    tags=("pipeline", "similarity"),
    doc=f"Product-quantization ADC top-{ANN_K} (Jégou et al. 2011; pipeline/"
    "similarity.py pq_fit_exact / pq_topk_exact): "
    f"{PQX_M} subspaces × {PQX_KSUB} codes trained with the kmeans_fit_exact "
    "recipe, corpus encoded map-side to one-byte codes (the 100 TB ANN "
    "memory story: m bytes/vector instead of 4·dim), per-query LUTs "
    f"broadcast, approximate distance = DECIMAL LUT sum, {PQX_SHORTLIST}-"
    "candidate shortlist, exact cosine re-rank. The oracle is "
    "knn_pq_recall's approx CTE chain plus the rounded cosine.",
)
def knn_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ann_topk(spark, sf_dir, _pq_search)


@register(
    "knn_pq_recall",
    oracle=_recall_oracle(_pq_approx_ctes()),
    tags=("pipeline", "similarity"),
    doc=f"Recall@5 of an ENGINE-EXACT PQ ADC search against brute force — "
    "the recall companion of knn_pq_topk: codebooks trained "
    f"DISTRIBUTED with the kmeans_fit_exact recipe ({PQX_M} subspaces × "
    f"{PQX_KSUB} codes, {PQX_ITERS} Lloyd round, rounded-DECIMAL squared-L2 "
    "argmin), corpus encoded map-side, broadcast per-query LUTs, "
    f"DECIMAL-summed approximate distances, deterministic {PQX_SHORTLIST}-"
    "candidate shortlist, rounded-cosine re-rank (pipeline/similarity.py "
    "pq_fit_exact / pq_topk_exact). The oracle unrolls the identical "
    "training round and ADC pipeline in SQL. Scale: per round the codebook "
    f"collapses to {PQX_M} broadcast rows; assignment/encoding are "
    "row-local folds; the ADC join fans each corpus code row into |Q| LUT "
    "hits — the documented PQ scan shape (m bytes per vector).",
)
def knn_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ann_recall(spark, sf_dir, _pq_search)


# ONE constant shared by the batch filter eval (pipeline_quality_eval) and
# its streaming twin (stream_quality_filter, queries/streamingq.py).
QUALITY_EVAL_ORACLE = f"""
WITH {{body}},
qfsc AS (SELECT f.doc_id,
                CAST(SUM(CAST(round(w.w * f.x, 9) AS DECIMAL(28,9))) AS DOUBLE) AS z
         FROM qffx f JOIN qfw{QF_ROUNDS} w USING (b) GROUP BY 1),
qfpred AS (SELECT d.doc_id, d.y = 1 AS label,
                  round(1.0 / (1.0 + exp(-s.z)), 9) >= 0.5 AS pred
           FROM qfd d JOIN qfsc s USING (doc_id)),
cm AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
              CAST(SUM(CASE WHEN pred AND label THEN 1 ELSE 0 END) AS BIGINT) AS tp,
              CAST(SUM(CASE WHEN pred AND NOT label THEN 1 ELSE 0 END) AS BIGINT) AS fp,
              CAST(SUM(CASE WHEN NOT pred AND label THEN 1 ELSE 0 END) AS BIGINT) AS fn,
              CAST(SUM(CASE WHEN NOT pred AND NOT label THEN 1 ELSE 0 END) AS BIGINT) AS tn
       FROM qfpred)
SELECT n_docs, tp, fp, fn, tn,
       round((tp + tn) / CAST(n_docs AS DOUBLE), 6) AS accuracy,
       round(tp / CAST(NULLIF(tp + fp, 0) AS DOUBLE), 6) AS precision_,
       round(tp / CAST(NULLIF(tp + fn, 0) AS DOUBLE), 6) AS recall_
FROM cm
""".replace("{body}", "%s") % _quality_fit_cte_body()


def confusion_from_cells(cells: DataFrame) -> DataFrame:
    """The quality filter's confusion report from its (predicted, label, c)
    count cells: one row of n_docs, tp, fp, fn, tn, accuracy, precision_,
    recall_. Shared by the batch eval and its streaming twin, whose cells
    are a streaming aggregate's final snapshot."""
    def cell(predicted, label):
        return F.sum(F.when(predicted & label, F.col("c")).otherwise(0))

    pred, lab = F.col("predicted"), F.col("label")
    tp, fp = cell(pred, lab), cell(pred, ~lab)
    fn, tn = cell(~pred, lab), cell(~pred, ~lab)
    n = F.sum("c")
    return cells.groupBy().agg(
        n.cast("bigint").alias("n_docs"),
        tp.cast("bigint").alias("tp"),
        fp.cast("bigint").alias("fp"),
        fn.cast("bigint").alias("fn"),
        tn.cast("bigint").alias("tn"),
        F.round((tp + tn) / n.cast("double"), 6).alias("accuracy"),
        F.round(tp / F.nullif(tp + fp, F.lit(0)).cast("double"), 6).alias("precision_"),
        F.round(tp / F.nullif(tp + fn, F.lit(0)).cast("double"), 6).alias("recall_"),
    )


@register(
    "pipeline_quality_eval",
    oracle=QUALITY_EVAL_ORACLE,
    tags=("pipeline", "text", "classifier"),
    doc="SERVE + EVALUATE the trained quality filter (pipeline/classifier.py "
    "logreg_score) — the other half of pipeline_quality_fit's "
    "train-the-filter story: the learned weight table scores the corpus "
    "(one broadcast weight row, row-local features and w·x fold — "
    "classification inside the scan, no corpus shuffle) and the confusion "
    "report vs the heuristic teacher label is the filter's launch review: "
    "(n_docs, tp, fp, fn, tn, accuracy, precision_, recall_). The oracle "
    "composes the SAME unrolled-GD CTE body as the training oracle plus "
    "the scoring tail, so fit and eval can never drift.",
)
def pipeline_quality_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.pipeline.classifier import (
        logreg_fit_exact,
        logreg_score,
    )
    from flink_1_12_0_src_spark.pipeline.text import quality_score

    docs = table(spark, sf_dir, "documents")
    labeled = quality_score(docs, "doc_id", "text", keep=["text"]).select(
        "doc_id", "text", (F.col("quality") >= QF_LABEL_THR).alias("label")
    )
    w = logreg_fit_exact(labeled, "label", "doc_id", "text", QF_NB, QF_ROUNDS, QF_LR)
    scored = logreg_score(labeled, w, "doc_id", "text", QF_NB).join(
        labeled.select("doc_id", "label"), "doc_id"
    )
    cells = scored.groupBy("predicted", "label").agg(F.count(F.lit(1)).alias("c"))
    return confusion_from_cells(cells)


def _bpe_encode_oracle() -> str:
    return f"""
WITH {_bpe_cte_body()},
bpdw AS (
  SELECT doc_id, t
  FROM (SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS t
        FROM documents)
  WHERE t <> '' AND NOT contains(t, chr(31))
)
SELECT d.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(length(d.t)) AS BIGINT) AS n_chars,
       CAST(SUM(len(v.s)) AS BIGINT) AS n_bpe_tokens,
       round(SUM(length(d.t)) / CAST(SUM(len(v.s)) AS DOUBLE), 6) AS chars_per_token
FROM bpdw d JOIN bpv{BPE_ROUNDS} v ON v.word = d.t
GROUP BY d.doc_id ORDER BY d.doc_id
"""


@register(
    "text_bpe_encode",
    oracle=_bpe_encode_oracle(),
    tags=("pipeline", "text", "tokenizer"),
    doc=f"APPLY the trained BPE tokenizer (pipeline/text.py "
    f"bpe_encode_report) — the serving half of text_bpe_fit: every document "
    f"tokenized with the {BPE_ROUNDS}-merge vocabulary and reported as "
    "(n_words, n_chars, n_bpe_tokens, chars_per_token) — the compression "
    "audit tokenizers are compared by. Tokenization is WORD-level: the "
    "corpus side is one explode + one equi join against the "
    "vocabulary-sized symbol table + one doc-keyed aggregate; the oracle "
    "composes the SAME unrolled merge-round CTE body as the fit oracle, so "
    "trainer and encoder can never drift.",
)
def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.pipeline.text import bpe_encode_report

    return bpe_encode_report(
        table(spark, sf_dir, "documents"), "doc_id", "text", BPE_ROUNDS
    ).orderBy("doc_id")


def _quality_roc_oracle() -> str:
    return f"""
WITH {_quality_fit_cte_body()},
rsc AS (SELECT f.doc_id,
               CAST(SUM(CAST(round(w.w * f.x, 9) AS DECIMAL(28,9))) AS DOUBLE) AS z
        FROM qffx f JOIN qfw{QF_ROUNDS} w USING (b) GROUP BY 1),
rp AS (SELECT d.doc_id, d.y = 1 AS label,
              CAST(round(round(1.0 / (1.0 + exp(-s.z)), 9) * 1000000000, 0) AS BIGINT)
                // 100000000 AS bk
       FROM qfd d JOIN rsc s USING (doc_id)),
rbins AS (SELECT label, bk, COUNT(*) AS c FROM rp GROUP BY 1, 2),
rtot AS (SELECT CAST(SUM(CASE WHEN label THEN c ELSE 0 END) AS BIGINT) AS pos,
                CAST(SUM(CASE WHEN NOT label THEN c ELSE 0 END) AS BIGINT) AS neg
         FROM rbins),
rk AS (SELECT g.k,
              CAST(COALESCE(SUM(CASE WHEN b.label THEN b.c END), 0) AS BIGINT) AS tp,
              CAST(COALESCE(SUM(CASE WHEN NOT b.label THEN b.c END), 0) AS BIGINT) AS fp
       FROM generate_series(1, 9) g(k)
       LEFT JOIN rbins b ON b.bk >= g.k
       GROUP BY g.k)
SELECT round(rk.k / 10.0, 1) AS thr, rk.tp, rk.fp,
       CAST(rtot.pos - rk.tp AS BIGINT) AS fn,
       CAST(rtot.neg - rk.fp AS BIGINT) AS tn,
       round(rk.tp / CAST(NULLIF(rk.tp + rk.fp, 0) AS DOUBLE), 6) AS precision_,
       round(rk.tp / CAST(NULLIF(rtot.pos, 0) AS DOUBLE), 6) AS recall_
FROM rk CROSS JOIN rtot ORDER BY thr
"""


@register(
    "pipeline_quality_roc",
    oracle=_quality_roc_oracle(),
    tags=("pipeline", "text", "classifier"),
    doc="Threshold-sweep TUNING audit for the trained quality filter — the "
    "precision/recall operating-curve table a team reads before choosing "
    "the deployment threshold: per threshold 0.1 … 0.9, the confusion "
    "counts and precision/recall of `predicted = p ≥ thr` against the "
    "teacher label. The corpus is scored ONCE and collapsed to a ≤ 22-row "
    "(label, decile-bucket) histogram — bucketing on integer nano-units of "
    "the round-9 probability, so the ≥-threshold comparison is exact "
    "integer arithmetic in both engines — and the 9-row threshold spine "
    "inequality-joins THAT aggregate, never the corpus (the "
    "pipeline_curation_funnel spine pattern). Completes the classifier "
    "family: fit → serve → eval → tune.",
)
def pipeline_quality_roc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.pipeline.classifier import (
        logreg_fit_exact,
        logreg_score,
    )
    from flink_1_12_0_src_spark.pipeline.text import quality_score

    docs = table(spark, sf_dir, "documents")
    labeled = quality_score(docs, "doc_id", "text", keep=["text"]).select(
        "doc_id", "text", (F.col("quality") >= QF_LABEL_THR).alias("label")
    )
    w = logreg_fit_exact(labeled, "label", "doc_id", "text", QF_NB, QF_ROUNDS, QF_LR)
    scored = logreg_score(labeled, w, "doc_id", "text", QF_NB).join(
        labeled.select("doc_id", "label"), "doc_id"
    )
    return roc_from_scored(spark, scored)


def roc_from_scored(spark: SparkSession, scored: DataFrame) -> DataFrame:
    """The threshold-sweep tail of pipeline_quality_roc over an
    already-scored (label, p) relation — shared with the lazy golden
    provider (tests/plan_fp.py), which feeds it a stand-in weight scoring
    so the golden pins the real interior plan instead of checkpoint
    stubs."""
    bk = (
        F.round(F.col("p") * F.lit(1000000000.0), 0).cast("bigint")
        / F.lit(100000000)
    ).cast("bigint")
    bins = (
        scored.select("label", bk.alias("bk"))
        .groupBy("label", "bk")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = bins.groupBy().agg(
        F.sum(F.when(F.col("label"), F.col("c")).otherwise(0)).alias("pos"),
        F.sum(F.when(~F.col("label"), F.col("c")).otherwise(0)).alias("neg"),
    )
    spine = spark.range(1, 10).select(F.col("id").alias("k"))
    rk = (
        spine.join(F.broadcast(bins), F.col("bk") >= F.col("k"), "left")
        .groupBy("k")
        .agg(
            F.coalesce(F.sum(F.when(F.col("label"), F.col("c"))), F.lit(0))
            .cast("bigint")
            .alias("tp"),
            F.coalesce(F.sum(F.when(~F.col("label"), F.col("c"))), F.lit(0))
            .cast("bigint")
            .alias("fp"),
        )
    )
    return (
        rk.crossJoin(F.broadcast(tot))
        .select(
            F.round(F.col("k") / 10.0, 1).alias("thr"),
            "tp",
            "fp",
            (F.col("pos") - F.col("tp")).cast("bigint").alias("fn"),
            (F.col("neg") - F.col("fp")).cast("bigint").alias("tn"),
            F.round(
                F.col("tp") / F.nullif(F.col("tp") + F.col("fp"), F.lit(0)).cast("double"),
                6,
            ).alias("precision_"),
            F.round(F.col("tp") / F.nullif(F.col("pos"), F.lit(0)).cast("double"), 6).alias(
                "recall_"
            ),
        )
        .orderBy("thr")
    )


def _quality_calibration_oracle() -> str:
    return f"""
WITH {_quality_fit_cte_body()},
csc AS (SELECT f.doc_id,
               CAST(SUM(CAST(round(w.w * f.x, 9) AS DECIMAL(28,9))) AS DOUBLE) AS z
        FROM qffx f JOIN qfw{QF_ROUNDS} w USING (b) GROUP BY 1),
cp AS (SELECT d.doc_id, d.y, round(1.0 / (1.0 + exp(-s.z)), 9) AS p
       FROM qfd d JOIN csc s USING (doc_id)),
cbins AS (SELECT least(CAST(round(p * 1000000000, 0) AS BIGINT) // 100000000, 9) AS bin,
                 CAST(COUNT(*) AS BIGINT) AS n_docs,
                 SUM(CAST(round(p, 9) AS DECIMAL(28,9))) AS sum_p,
                 CAST(SUM(y) AS BIGINT) AS n_pos
          FROM cp GROUP BY 1),
cgap AS (SELECT bin, n_docs,
                round(CAST(sum_p AS DOUBLE) / n_docs, 6) AS mean_p,
                round(n_pos / CAST(n_docs AS DOUBLE), 6) AS frac_pos,
                round(abs(round(CAST(sum_p AS DOUBLE) / n_docs, 6)
                          - round(n_pos / CAST(n_docs AS DOUBLE), 6)), 6) AS abs_gap
         FROM cbins),
ctot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS total,
                SUM(CAST(round(n_docs * abs_gap, 6) AS DECIMAL(28,6))) AS werr
         FROM cgap)
SELECT g.bin, g.n_docs, g.mean_p, g.frac_pos, g.abs_gap,
       round(CAST(t.werr AS DOUBLE) / t.total, 6) AS ece
FROM cgap g CROSS JOIN ctot t ORDER BY g.bin
"""


@register(
    "pipeline_quality_calibration",
    oracle=_quality_calibration_oracle(),
    tags=("pipeline", "text", "classifier"),
    doc="CALIBRATION audit for the trained quality filter — the reliability "
    "diagram (Guo et al. 2017's ECE recipe) a team reads before trusting "
    "the filter's probabilities as sampling weights rather than as a hard "
    "threshold: the corpus is scored ONCE (same broadcast-weights "
    "logreg_score as pipeline_quality_eval), each document lands in one of "
    "10 probability deciles (integer nano-unit bucketing, p = 1.0 clamped "
    "into the top bin), and per occupied bin the report shows (n_docs, "
    "mean predicted p, empirical positive fraction, |gap|) plus the "
    "n-weighted expected calibration error repeated on every row. "
    "Mean-p accumulates rounded-then-DECIMAL, so the report is "
    "bit-identical across engines and partitionings. Completes the "
    "classifier lifecycle: fit -> serve -> eval -> tune -> calibrate. "
    "Scale: one corpus-scoring pass collapses to a <= 10-row histogram; "
    "the ECE join is a broadcast of one total row.",
)
def pipeline_quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.pipeline.classifier import (
        logreg_fit_exact,
        logreg_score,
    )
    from flink_1_12_0_src_spark.pipeline.text import quality_score

    docs = table(spark, sf_dir, "documents")
    labeled = quality_score(docs, "doc_id", "text", keep=["text"]).select(
        "doc_id", "text", (F.col("quality") >= QF_LABEL_THR).alias("label")
    )
    w = logreg_fit_exact(labeled, "label", "doc_id", "text", QF_NB, QF_ROUNDS, QF_LR)
    scored = logreg_score(labeled, w, "doc_id", "text", QF_NB).join(
        labeled.select("doc_id", "label"), "doc_id"
    )
    return calibration_from_scored(scored)


def calibration_from_scored(scored: DataFrame) -> DataFrame:
    """The reliability-bin/ECE tail of pipeline_quality_calibration over an
    already-scored (label, p) relation — shared with the lazy golden
    provider (tests/plan_fp.py), same split as roc_from_scored."""
    bin_col = F.least(
        (
            F.round(F.col("p") * F.lit(1000000000.0), 0).cast("bigint")
            / F.lit(100000000)
        ).cast("bigint"),
        F.lit(9),
    )
    bins = (
        scored.select(bin_col.alias("bin"), "p", "label")
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.round(F.col("p"), 9).cast("decimal(28,9)")).alias("sum_p"),
            F.sum(F.col("label").cast("int")).cast("bigint").alias("n_pos"),
        )
    )
    gap = bins.select(
        "bin",
        "n_docs",
        F.round(F.col("sum_p").cast("double") / F.col("n_docs"), 6).alias("mean_p"),
        F.round(F.col("n_pos") / F.col("n_docs").cast("double"), 6).alias("frac_pos"),
    ).withColumn(
        "abs_gap", F.round(F.abs(F.col("mean_p") - F.col("frac_pos")), 6)
    )
    tot = gap.groupBy().agg(
        F.sum("n_docs").cast("bigint").alias("total"),
        F.sum(
            F.round(F.col("n_docs") * F.col("abs_gap"), 6).cast("decimal(28,6)")
        ).alias("werr"),
    )
    return (
        gap.crossJoin(F.broadcast(tot))
        .select(
            "bin",
            "n_docs",
            "mean_p",
            "frac_pos",
            "abs_gap",
            F.round(F.col("werr").cast("double") / F.col("total"), 6).alias("ece"),
        )
        .orderBy("bin")
    )


def _refinedweb_substr_oracle() -> str:
    return f"""
WITH fin AS (SELECT doc_id, clean_text FROM ({_refinedweb_url_oracle()})),
{_substring_cte_body(src="fin", text="clean_text")},
sdoc AS (SELECT b.doc_id, b.n_tokens,
                CAST(b.n_tokens - COALESCE(a.n_kept, 0) AS BIGINT) AS n_removed
         FROM base b LEFT JOIN agg a USING (doc_id)),
xsrc AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs_in FROM documents GROUP BY source),
xout AS (SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs_out,
                CAST(SUM(s.n_tokens) AS BIGINT) AS clean_tokens,
                CAST(SUM(s.n_removed) AS BIGINT) AS substr_removed,
                CAST(SUM(s.n_tokens - s.n_removed) AS BIGINT) AS final_tokens
         FROM sdoc s JOIN documents d USING (doc_id) GROUP BY d.source)
SELECT xsrc.source, xsrc.n_docs_in,
       CAST(COALESCE(xout.n_docs_out, 0) AS BIGINT) AS n_docs_out,
       CAST(COALESCE(xout.clean_tokens, 0) AS BIGINT) AS clean_tokens,
       CAST(COALESCE(xout.substr_removed, 0) AS BIGINT) AS substr_removed,
       CAST(COALESCE(xout.final_tokens, 0) AS BIGINT) AS final_tokens,
       round(COALESCE(xout.substr_removed, 0)
             / CAST(NULLIF(xout.clean_tokens, 0) AS DOUBLE), 6) AS removed_frac
FROM xsrc LEFT JOIN xout USING (source) ORDER BY xsrc.source
"""


@register(
    "pipeline_refinedweb_substr",
    oracle=_refinedweb_substr_oracle(),
    tags=("pipeline", "dedup", "composed"),
    doc="FOUR-level curation capstone — the pipeline_refinedweb_url chain "
    "(URL keep-first -> doc-level near-dedup admission -> paragraph-"
    "survivor rewrite -> content floor) with the ExactSubstr SURVIVOR "
    "REWRITE as the final polish pass over the CLEANED text (Lee et al. "
    "2022 run ExactSubstr alongside NearDup precisely because banded "
    "near-dedup misses short verbatim spans inside otherwise-distinct "
    "documents): per source, docs in/out, clean-stage tokens, tokens the "
    "substring stage removed, final tokens, and the removed fraction — "
    "the marginal-value report of adding ExactSubstr to an "
    "already-deduplicated corpus. The oracle nests the flagship-variant "
    "oracle verbatim and the shared substring CTE body "
    "(_substring_cte_body over fin/clean_text), so no stage can drift "
    "from its standalone operator. Scale: each stage strictly shrinks "
    "what the next scans; the substring pass is linear (no self-join).",
)
def pipeline_refinedweb_substr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.pipeline.dedup import exact_substring_rewrite

    docs = table(spark, sf_dir, "documents")
    fin = _refinedweb_fin(docs).select("doc_id", "clean_text")
    sdoc = exact_substring_rewrite(
        fin, "doc_id", "clean_text", window=SPAN_WINDOW
    ).select("doc_id", "n_tokens", "n_removed")
    xout = (
        sdoc.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs_out"),
            F.sum("n_tokens").cast("bigint").alias("clean_tokens"),
            F.sum("n_removed").cast("bigint").alias("substr_removed"),
            F.sum(F.col("n_tokens") - F.col("n_removed"))
            .cast("bigint")
            .alias("final_tokens"),
        )
    )
    xsrc = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs_in")
    )
    return (
        xsrc.join(xout, "source", "left")
        .select(
            "source",
            "n_docs_in",
            F.coalesce("n_docs_out", F.lit(0)).cast("bigint").alias("n_docs_out"),
            F.coalesce("clean_tokens", F.lit(0)).cast("bigint").alias("clean_tokens"),
            F.coalesce("substr_removed", F.lit(0))
            .cast("bigint")
            .alias("substr_removed"),
            F.coalesce("final_tokens", F.lit(0)).cast("bigint").alias("final_tokens"),
            F.round(
                F.coalesce("substr_removed", F.lit(0))
                / F.nullif(F.col("clean_tokens"), F.lit(0)).cast("double"),
                6,
            ).alias("removed_frac"),
        )
        .orderBy("source")
    )


def _pretrain_corpus_oracle() -> str:
    return f"""
WITH fin AS (SELECT doc_id, clean_text FROM ({_refinedweb_url_oracle()})),
psrc AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs_in FROM documents GROUP BY source),
pout AS (SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs_out,
                CAST(SUM(len(string_split(f.clean_text, ' '))) AS BIGINT) AS n_tokens_out
         FROM fin f JOIN documents d USING (doc_id) GROUP BY d.source)
SELECT psrc.source, psrc.n_docs_in,
       CAST(COALESCE(pout.n_docs_out, 0) AS BIGINT) AS n_docs_out,
       CAST(COALESCE(pout.n_tokens_out, 0) AS BIGINT) AS n_tokens_out,
       CAST(ceil(COALESCE(pout.n_tokens_out, 0) / {PACK_BUDGET}.0) AS BIGINT) AS n_packs,
       round(CAST(COALESCE(pout.n_tokens_out, 0) AS DOUBLE)
             / NULLIF(CAST(ceil(COALESCE(pout.n_tokens_out, 0) / {PACK_BUDGET}.0)
                           * {PACK_BUDGET} AS DOUBLE), 0.0), 6) AS fill_frac,
       round(COALESCE(pout.n_docs_out, 0) / CAST(psrc.n_docs_in AS DOUBLE), 6) AS kept_frac
FROM psrc LEFT JOIN pout USING (source) ORDER BY psrc.source
"""


@register(
    "pipeline_pretrain_corpus",
    oracle=_pretrain_corpus_oracle(),
    tags=("pipeline", "dedup", "sampling", "composed", "bench"),
    doc="End-to-end PRETRAIN-CORPUS assembly capstone — crawl to packed "
    "training tokens in ONE oracle-checked plan: (0) URL keep-first over "
    "canonicalized crawl URLs, (1) doc-level keep-first near-dedup "
    "admission, (2) paragraph-survivor rewrite, (3) minimum-content floor "
    "(the pipeline_refinedweb_url chain), then (4) the per-source packing "
    f"ledger over the CLEANED text: docs in/out, surviving tokens, "
    f"{PACK_BUDGET}-token pack count, fill fraction and kept fraction — "
    "the final per-source data card a pretraining run ships with. The "
    "oracle nests the flagship-variant oracle verbatim (one shared "
    "definition) and adds only the ledger rollup. Scale: everything after "
    "the rewrite is one doc-keyed join to recover the source + one "
    "sources-sized aggregate; each curation stage strictly shrinks what "
    "the next scans.",
)
def pipeline_pretrain_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    fin = _refinedweb_fin(docs).select(
        "doc_id", F.size(F.split("clean_text", " ")).alias("nt")
    )
    out = (
        fin.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs_out"),
            F.sum("nt").cast("bigint").alias("n_tokens_out"),
        )
    )
    src = docs.groupBy("source").agg(F.count(F.lit(1)).cast("bigint").alias("n_docs_in"))
    toks = F.coalesce("n_tokens_out", F.lit(0))
    packs = F.ceil(toks / F.lit(float(PACK_BUDGET))).cast("bigint")
    return (
        src.join(out, "source", "left")
        .select(
            "source",
            "n_docs_in",
            F.coalesce("n_docs_out", F.lit(0)).cast("bigint").alias("n_docs_out"),
            toks.cast("bigint").alias("n_tokens_out"),
            packs.alias("n_packs"),
            F.round(
                toks.cast("double")
                / F.nullif((packs * PACK_BUDGET).cast("double"), F.lit(0.0)),
                6,
            ).alias("fill_frac"),
            F.round(
                F.coalesce("n_docs_out", F.lit(0)) / F.col("n_docs_in").cast("double"), 6
            ).alias("kept_frac"),
        )
        .orderBy("source")
    )


@register(
    "dataset_pack_bpe",
    oracle=f"""
WITH {{body}},
bpdw AS (
  SELECT doc_id, t
  FROM (SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS t
        FROM documents)
  WHERE t <> '' AND NOT contains(t, chr(31))
),
bpdoc AS (SELECT d.doc_id, COUNT(*) AS nw, SUM(len(v.s)) AS nb
          FROM bpdw d JOIN bpv{BPE_ROUNDS} v ON v.word = d.t
          GROUP BY d.doc_id)
SELECT s.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(b.nw) AS BIGINT) AS ws_tokens,
       CAST(SUM(b.nb) AS BIGINT) AS bpe_tokens,
       CAST(ceil(SUM(b.nw) / {PACK_BUDGET}.0) AS BIGINT) AS ws_packs,
       CAST(ceil(SUM(b.nb) / {PACK_BUDGET}.0) AS BIGINT) AS bpe_packs,
       round(CAST(SUM(b.nb) AS DOUBLE) / SUM(b.nw), 6) AS bpe_per_ws
FROM bpdoc b JOIN documents s USING (doc_id)
GROUP BY s.source ORDER BY s.source
""".replace("{body}", "%s") % _bpe_cte_body(),
    tags=("pipeline", "sampling", "tokenizer"),
    doc=f"Tokenizer-aware packing ledger — the audit a team runs after "
    "switching tokenizers, because pack counts and token budgets are "
    "TOKENIZER-dependent: per source, doc count, whitespace-token vs "
    f"trained-BPE-token volumes (text_bpe_fit's {BPE_ROUNDS}-merge vocab "
    f"via the shared unrolled CTE body), {PACK_BUDGET}-token pack counts "
    "under each, and the BPE-per-whitespace expansion ratio (> 1: the "
    "early-merge vocabulary still splits most words into several symbols, "
    "so a whitespace-budgeted packing plan under-provisions). Word-level "
    "tokenization join + one doc-keyed aggregate + one sources-sized "
    "rollup.",
)
def dataset_pack_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.pipeline.text import bpe_encode_report

    docs = table(spark, sf_dir, "documents")
    per_doc = bpe_encode_report(docs, "doc_id", "text", BPE_ROUNDS).select(
        "doc_id", "n_words", "n_bpe_tokens"
    )
    nw, nb = F.sum("n_words"), F.sum("n_bpe_tokens")
    return (
        per_doc.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            nw.cast("bigint").alias("ws_tokens"),
            nb.cast("bigint").alias("bpe_tokens"),
            F.ceil(nw / F.lit(float(PACK_BUDGET))).cast("bigint").alias("ws_packs"),
            F.ceil(nb / F.lit(float(PACK_BUDGET))).cast("bigint").alias("bpe_packs"),
            F.round(nb.cast("double") / nw, 6).alias("bpe_per_ws"),
        )
        .orderBy("source")
    )


@register(
    "dataset_curriculum_pack",
    oracle=f"""
WITH tq AS (SELECT doc_id, n_words, quality FROM ({{body}})),
cd AS (SELECT d.lang, t.n_words, t.quality,
              SUM(t.n_words) OVER (PARTITION BY d.lang
                                   ORDER BY t.quality, t.doc_id
                                   ROWS UNBOUNDED PRECEDING) AS cum
       FROM tq t JOIN documents d USING (doc_id)),
pk AS (SELECT lang, quality, n_words,
              CAST(round(quality * 1000000, 0) AS BIGINT) AS q_e6,
              CAST((cum - n_words) // {PACK_BUDGET} AS BIGINT) AS pack_id
       FROM cd)
SELECT lang, pack_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_words) AS BIGINT) AS n_tokens,
       CAST(SUM(q_e6) // COUNT(*) AS BIGINT) / 1000000.0 AS mean_quality,
       MIN(quality) AS min_quality,
       MAX(quality) AS max_quality
FROM pk GROUP BY 1, 2 ORDER BY lang, pack_id
""".replace("{body}", "%s") % TEXT_QUALITY_ORACLE,
    tags=("pipeline", "sampling", "composed"),
    doc=f"CURRICULUM-ordered sequence packing ledger (Bengio et al. 2009 "
    "curricula applied to pretraining data order): within each language "
    "stream, documents are packed in ascending heuristic-quality order "
    "(quality, doc_id — a deterministic total order), so early packs hold "
    "the noisiest documents and the run finishes on the cleanest — the "
    f"quality-annealed loader layout. Output is the per-({PACK_BUDGET}"
    "-token) pack ledger (n_docs, n_tokens, mean/min/max quality) whose "
    "monotone quality gradient across pack_id IS the curriculum audit. "
    "Reuses pack_sequences' concat-then-chunk cumsum (pipeline/sampling.py) "
    "with the quality sort key replacing the id order; the oracle nests "
    "the shared TEXT_QUALITY_ORACLE constant, so scorer and curriculum can "
    "never drift. Scale: the per-stream window sort is the inherent cost "
    "of a curriculum (a global order is the SPEC); shard within a stream "
    "via shuffle_shard for per-file parallelism as pack_sequences "
    "documents. Mean-quality is computed in exact integer micro-units "
    "(floor division), so the ledger is bit-identical across engines.",
)
def dataset_curriculum_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = table(spark, sf_dir, "documents")
    q = quality_score(docs, "doc_id", "text", keep=["lang"]).select(
        "doc_id", "lang", "n_words", "quality"
    )
    w = (
        W.partitionBy("lang")
        .orderBy("quality", "doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = F.sum("n_words").over(w)
    packed = q.select(
        "lang",
        "quality",
        "n_words",
        F.round(F.col("quality") * 1000000, 0).cast("bigint").alias("q_e6"),
        F.floor((cum - F.col("n_words")) / PACK_BUDGET).cast("bigint").alias("pack_id"),
    )
    # mean in exact integer micro-units with floor division — a DOUBLE mean
    # can land exactly on a .5 rounding tie (it did at sf0.01), which the
    # two engines break differently
    return (
        packed.groupBy("lang", "pack_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_words").cast("bigint").alias("n_tokens"),
            (
                F.expr("CAST(sum(q_e6) DIV count(1) AS BIGINT)") / F.lit(1000000.0)
            ).alias("mean_quality"),
            F.min("quality").alias("min_quality"),
            F.max("quality").alias("max_quality"),
        )
        .orderBy("lang", "pack_id")
    )


# ---------------------------------------------------------------------------
# Corpus data card — the release-time multi-section report


# (section, registered query, row-key column, value columns). The value
# columns are pinned here on purpose: each family's schema is already pinned
# by its own oracle, and the card must fail loudly (hash mismatch) if one
# drifts rather than silently re-deriving.
_CARD_SPECS: tuple[tuple[str, str, str, tuple[str, ...]], ...] = (
    ("calibration", "pipeline_quality_calibration", "bin",
     ("n_docs", "mean_p", "frac_pos", "abs_gap", "ece")),
    ("clusters", "dedup_cluster_size_histogram", "cluster_size",
     ("n_clusters", "n_docs")),
    ("contamination", "text_contamination_matrix", "benchmark",
     ("n_bench_docs", "n_contaminated", "contamination_rate")),
    ("diversity", "text_source_diversity", "lang",
     ("n_sources", "entropy_bits", "effective_sources", "top_share")),
    ("funnel", "pipeline_curation_funnel", "stage",
     ("n_docs", "n_tokens", "kept_frac", "cum_frac")),
    ("packing", "dataset_pack_boundary_audit", "lang",
     ("n_docs", "n_packs", "total_tokens", "avg_docs_per_pack",
      "boundaries_per_1k_tokens")),
)


def _card_oracle() -> str:
    """UNION of every family's own registered oracle, unpivoted to the
    card's (section, metric, value) long form — each section nests the
    shared oracle VERBATIM (one definition per family repo-wide), so no
    section can drift from its standalone audit."""
    from flink_1_12_0_src_spark.queries import REGISTRY

    parts = []
    for section, qname, key, vals in _CARD_SPECS:
        nested = REGISTRY[qname].oracle
        casts = ", ".join(
            f"COALESCE(CAST({c} AS DOUBLE), 0.0) AS {c}" for c in vals
        )
        cols = ", ".join(vals)
        parts.append(
            f"SELECT '{section}' AS section, k || ':' || m AS metric, value\n"
            f"FROM (SELECT CAST({key} AS VARCHAR) AS k, {casts}\n"
            f"      FROM ({nested})) UNPIVOT (value FOR m IN ({cols}))"
        )
    return "\nUNION ALL\n".join(parts) + "\nORDER BY section, metric"


def _card_section(
    df: DataFrame, section: str, key: str, vals: tuple[str, ...]
) -> DataFrame:
    rows = df.select(
        F.col(key).cast("string").alias("k"),
        *[F.coalesce(F.col(c).cast("double"), F.lit(0.0)).alias(c) for c in vals],
    )
    # coalesce BEFORE the unpivot on both sides: Spark's unpivot keeps NULL
    # values, DuckDB's UNPIVOT drops them — with no NULLs the semantics agree
    return rows.unpivot(["k"], list(vals), "m", "value").select(
        F.lit(section).alias("section"),
        F.concat_ws(":", "k", "m").alias("metric"),
        F.col("value"),
    )


@register(
    "pipeline_corpus_card",
    oracle=_card_oracle(),
    tags=("pipeline", "composed", "report"),
    doc="CORPUS DATA CARD capstone — the single multi-section report a data "
    "team publishes with a corpus release, composing six shipped audit "
    "families into one (section, metric, value) long-form table: curation "
    "funnel (per-stage retention), source diversity (entropy / effective "
    "sources per language), benchmark contamination matrix, near-dup "
    "cluster-size histogram, classifier calibration (per-decile gap + "
    "ECE), and pack/boundary stats. Pure composition: each section IS the "
    "registered audit query (REGISTRY lookup on the Spark side, the same "
    "oracle nested VERBATIM on the DuckDB side), unpivoted to the long "
    "form — no section can drift from its standalone operator. Scale: one "
    "pass per family (each already collapses the corpus to a report-sized "
    "relation before any join); the unpivot and union are report-sized.",
)
def pipeline_corpus_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.queries import REGISTRY

    out = None
    for section, qname, key, vals in _CARD_SPECS:
        part = _card_section(REGISTRY[qname].spark(spark, sf_dir), section, key, vals)
        out = part if out is None else out.unionByName(part)
    return out.orderBy("section", "metric")

"""LLM-training-data operator catalog (SURVEY.md §2.10 / north star):
text analysis, dedup (exact → MinHash LSH), similarity search,
multimodal plumbing — over the ``documents`` and ``embeddings``
fixture tables.

Oracle strategy: the scoring constants (stopword profiles, shingle
width, thresholds) live in the operator modules; this file *generates*
the DuckDB SQL from the same constants, so both engines execute the
same arithmetic.  Probabilistic operators (LSH variants) get oracles
that replicate their hashing, banding and verification in SQL, and are
recall-tested against the exact baselines in ``tests/test_llm_ops.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from end_end_data_pipeline__spark.operators import dedup, multimodal, similarity, text
from end_end_data_pipeline__spark.plans.catalog import register
from end_end_data_pipeline__spark.plans.sqlgen import davg
from end_end_data_pipeline__spark.session import session_parallelism
from end_end_data_pipeline__spark.sources import lake

# ---------------------------------------------------------------------------
# shared SQL fragments generated from the operator constants
# ---------------------------------------------------------------------------

_TOKS = "string_split_regex(trim(text), '\\s+')"


def _md5_u32(col):
    """First 32 bits of md5(col-as-string) as a LONG in [0, 2³²) — the
    engine-stable uniform every hash-derived decision (train/val
    split, priority sampling) keys off.  ONE definition so the family
    can never desynchronize; DuckDB replica:
    ``('0x' || substr(md5(CAST(x AS VARCHAR)), 1, 8))::BIGINT``."""
    return F.conv(
        F.substring(F.md5(col.cast("string")), 1, 8), 16, 10
    ).cast("long")


def _sql_stop_hits(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in text.LANG_STOPWORDS[lang])
    return (
        f"len(list_filter({_TOKS}, t -> list_contains([{words}], lower(t))))"
    )


def _sql_lang_pred() -> str:
    langs = sorted(text.LANG_STOPWORDS)
    scores = {l: f"(CAST({_sql_stop_hits(l)} AS DOUBLE) / len({_TOKS}))" for l in langs}
    best = "greatest(" + ", ".join(scores.values()) + ")"
    case = " ".join(f"WHEN {scores[l]} = best THEN '{l}'" for l in langs)
    return f"CASE WHEN best > 0 THEN (CASE {case} END) ELSE 'en' END", best


# ---------------------------------------------------------------------------
# Text analysis (UD5)
# ---------------------------------------------------------------------------


@register(
    "text_token_stats",
    oracle=f"""
        SELECT doc_id,
               len({_TOKS}) AS n_tokens,
               len(regexp_extract_all(text,
                   '[a-zA-Z0-9'']+|[^a-zA-Z0-9\\s]')) AS n_wordish_tokens,
               length(text) AS n_chars_measured,
               CAST(list_sum(list_transform({_TOKS}, t -> length(t))) AS DOUBLE)
                 / len({_TOKS}) AS mean_token_len,
               length(regexp_replace(text, '[^.!?,;:]', '', 'g')) / length(text)
                 AS punct_ratio,
               len(list_distinct({_TOKS})) AS n_unique_tokens
        FROM documents
    """,
    survey_ids=("UD5", "F3"),
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + surface statistics per document — the cheap
    first pass of any corpus pipeline.  All JVM-side split/array ops.
    Two token counts: whitespace runs (``n_tokens``) and the BPE-ish
    regex (``n_wordish_tokens`` — word runs plus punctuation split
    off, the better proxy for subword-tokenizer budget)."""
    docs = lake.load_table(spark, "documents", sf_dir)
    t = text.tokens("text")
    return docs.select(
        "doc_id",
        F.size(t).alias("n_tokens"),
        F.size(text.wordish_tokens("text")).alias("n_wordish_tokens"),
        F.length("text").alias("n_chars_measured"),
        text.mean_token_len("text").alias("mean_token_len"),
        text.punct_ratio("text").alias("punct_ratio"),
        F.size(F.array_distinct(t)).alias("n_unique_tokens"),
    )


_LANG_CASE, _LANG_BEST = _sql_lang_pred()


@register(
    "text_quality_language",
    oracle=f"""
        WITH scored AS (
            SELECT doc_id, lang,
                   len({_TOKS}) AS n_tokens,
                   ({" + ".join(_sql_stop_hits(l) for l in sorted(text.LANG_STOPWORDS))})
                     AS stop_hits,
                   length(regexp_replace(text, '[^.!?,;:]', '', 'g')) / length(text)
                     AS punct,
                   {_LANG_BEST} AS best,
                   {_LANG_CASE} AS lang_pred
            FROM documents
        )
        SELECT doc_id, lang, n_tokens, stop_hits, lang_pred,
               0.4 * (CASE WHEN n_tokens BETWEEN 10 AND 100000 THEN 1.0 ELSE 0.0 END)
             + 0.4 * least((CAST(stop_hits AS DOUBLE) / n_tokens) * 5, 1.0)
             + 0.2 * (1 - least(punct * 10, 1.0)) AS quality_score
        FROM scored
    """,
    survey_ids=("UD5",),
)
def text_quality_language(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring (length/stopword/punctuation bands) + n-gram
    stopword language-ID with deterministic tie-breaking.  The corpus
    is synthetic word-soup, so the *mechanism* is what the oracle
    checks, not real-language accuracy."""
    docs = lake.load_table(spark, "documents", sf_dir)
    stop_total = None
    for lang in sorted(text.LANG_STOPWORDS):
        h = text.stopword_hits("text", lang)
        stop_total = h if stop_total is None else stop_total + h
    return docs.select(
        "doc_id",
        "lang",
        text.token_count("text").alias("n_tokens"),
        stop_total.alias("stop_hits"),
        text.predicted_language("text").alias("lang_pred"),
        text.quality_score("text").alias("quality_score"),
    )


# PII salt appended to every 10th document so redaction counts are
# non-trivial; the oracle SQL is generated from the SAME
# text.PII_PATTERNS tuple the operator applies, in the same order —
# pattern identity is by construction, not by transcription.
_PII_SALT = (
    " Contact john.doe99@example.com or 192.168.1.77,"
    " call +1 (415) 555-0133, card 4111111111111111."
)


def _pii_oracle() -> str:
    sql = f"""
        WITH s0 AS (
            SELECT doc_id,
                   text || CASE WHEN doc_id % 10 = 0
                                THEN '{_PII_SALT}' ELSE '' END AS t
            FROM documents
        )"""
    prev = "s0"
    for i, (name, pat, rep) in enumerate(text.PII_PATTERNS, 1):
        carried = ", ".join(
            f"n_{n}" for n, _, _ in text.PII_PATTERNS[: i - 1]
        )
        carried = (carried + ", ") if carried else ""
        sql += f""",
        s{i} AS (
            SELECT doc_id, {carried}
                   len(regexp_extract_all(t, '{pat}')) AS n_{name},
                   regexp_replace(t, '{pat}', '{rep.replace("'", "''")}', 'g') AS t
            FROM {prev}
        )"""
        prev = f"s{i}"
    cols = ", ".join(f"n_{n}" for n, _, _ in text.PII_PATTERNS)
    sql += f"""
        SELECT doc_id, {cols}, md5(t) AS redacted_md5 FROM {prev}
    """
    return sql


@register(
    "text_pii_redaction",
    oracle=_pii_oracle(),
    survey_ids=("UD5", "F3"),
    bench=True,
)
def text_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub for training corpora: emails, IPv4s, card-like digit
    runs, and phone numbers replaced by typed placeholders, with
    per-class occurrence counts — a pure ``regexp_replace``/
    ``regexp_extract_all`` chain (JVM-side, codegen'd, linear scan).
    The md5 of every redacted document hash-checks the exact scrub
    against the DuckDB replica built from the same pattern table."""
    docs = lake.load_table(spark, "documents", sf_dir)
    salted = docs.withColumn(
        "t",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 10 == 0, F.lit(_PII_SALT)).otherwise(
                F.lit("")
            ),
        ),
    )
    counts = text.pii_counts("t")
    return salted.select(
        "doc_id",
        *[counts[name].alias(f"n_{name}") for name, _, _ in text.PII_PATTERNS],
        F.md5(text.redact_pii("t").cast("binary")).alias("redacted_md5"),
    )


@register(
    "text_repetition_stats",
    oracle="""
        WITH toks AS (
            SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
            FROM documents
        ),
        grams AS (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(t)),
                                         i -> t[i] || ' ' || t[i + 1])) AS g
            FROM toks WHERE len(t) >= 2
        ),
        counts AS (
            SELECT doc_id, g, COUNT(*) AS c FROM grams GROUP BY 1, 2
        ),
        per_doc AS (
            SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
                   CAST(MAX(c) AS BIGINT) AS top_count
            FROM counts GROUP BY 1
        )
        SELECT t.doc_id,
               CAST(len(t.t) AS BIGINT) AS n_tokens,
               CAST(len(list_distinct(t.t)) AS DOUBLE) / len(t.t)
                 AS distinct_ratio,
               COALESCE(p.n_bigrams, 0) AS n_bigrams,
               CASE WHEN COALESCE(p.n_bigrams, 0) = 0 THEN 0.0
                    ELSE CAST(p.top_count AS DOUBLE) / p.n_bigrams
               END AS top_bigram_share
        FROM toks t LEFT JOIN per_doc p ON t.doc_id = p.doc_id
    """,
    survey_ids=("UD5", "A1"),
)
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition quality signal (Gopher-style): per-document distinct
    token ratio and the share of the most frequent word bigram — high
    top-bigram share flags boilerplate/template spam for corpus
    filtering.  One explode + one two-level hash agg; linear in corpus
    size, partial-agg combinable (the hot key is (doc, gram), which is
    unique-ish — no skew)."""
    from end_end_data_pipeline__spark.functions.arrays import explode_safe

    docs = lake.load_table(spark, "documents", sf_dir)
    toks = docs.select(
        "doc_id",
        text.tokens("text").alias("t"),
    )
    base = toks.select(
        "doc_id",
        F.size("t").alias("n_tokens"),
        (F.size(F.array_distinct("t")).cast("double") / F.size("t")).alias(
            "distinct_ratio"
        ),
    )
    grams = explode_safe(
        docs.select("doc_id", text.word_bigrams("text").alias("g")),
        ["doc_id"],
        F.col("g"),
        "gram",
    )
    per_doc = (
        grams.groupBy("doc_id", "gram")
        .count()
        .groupBy("doc_id")
        .agg(
            F.sum("count").alias("n_bigrams"),
            F.max("count").alias("top_count"),
        )
    )
    return (
        base.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            "distinct_ratio",
            F.coalesce(F.col("n_bigrams"), F.lit(0)).alias("n_bigrams"),
            F.when(
                F.coalesce(F.col("n_bigrams"), F.lit(0)) == 0, F.lit(0.0)
            )
            .otherwise(
                F.col("top_count").cast("double") / F.col("n_bigrams")
            )
            .alias("top_bigram_share"),
        )
    )


@register(
    "text_exact_dedup",
    oracle="""
        SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
                 AS fingerprint,
               MIN(doc_id) AS doc_id,
               COUNT(*) AS n_copies
        FROM documents GROUP BY 1
    """,
    survey_ids=("UD6", "U4", "F4", "A4"),
)
def text_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group by normalization fingerprint (lower +
    whitespace-collapse + md5), keep the lowest doc_id — one hash-agg,
    the 100 TB-safe baseline every near-dup pass runs after."""
    docs = lake.load_table(spark, "documents", sf_dir)
    return dedup.exact_dedup(docs, "text", "doc_id")


@register(
    "curation_pipeline_end_to_end",
    oracle=f"""
        WITH scored AS (
            SELECT doc_id, lang,
                   len({_TOKS}) AS n_tokens,
                   ({" + ".join(_sql_stop_hits(l) for l in sorted(text.LANG_STOPWORDS))})
                     AS stop_hits,
                   length(regexp_replace(text, '[^.!?,;:]', '', 'g')) / length(text)
                     AS punct,
                   {_LANG_BEST} AS best,
                   {_LANG_CASE} AS lang_pred,
                   md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
            FROM documents
        ),
        quality AS (
            SELECT *,
                   0.4 * (CASE WHEN n_tokens BETWEEN 10 AND 100000
                               THEN 1.0 ELSE 0.0 END)
                 + 0.4 * least((CAST(stop_hits AS DOUBLE) / n_tokens) * 5, 1.0)
                 + 0.2 * (1 - least(punct * 10, 1.0)) AS quality_score
            FROM scored
        ),
        kept AS (
            SELECT * FROM quality WHERE quality_score >= 0.5
            QUALIFY row_number() OVER (PARTITION BY fp ORDER BY doc_id) = 1
        )
        SELECT lang, lang_pred,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
               CAST(SUM(CASE WHEN quality_score >= 0.75 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_high_quality,
               {davg("quality_score", "mean_quality")}
        FROM kept GROUP BY lang, lang_pred ORDER BY lang, lang_pred
    """,
    survey_ids=("UD5", "UD6", "P5", "A2", "W2"),
)
def curation_pipeline_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data curation path as ONE checked
    artifact: quality-score filter (≥ 0.5) → exact dedup (lowest
    doc_id per normalization fingerprint survives) → per-predicted-
    language corpus stats.  Each stage reuses the same operator
    expressions the standalone text/dedup queries check
    (``operators/text.py``), so the chain stays entirely JVM-side —
    one scan, one window, one agg; no UDFs, no second pass over the
    corpus.  The oracle replays the identical chain in DuckDB
    (WHERE → QUALIFY → GROUP BY) and must hash-match."""
    from pyspark.sql import Window

    from end_end_data_pipeline__spark.functions.scalar import dec_avg

    docs = lake.load_table(spark, "documents", sf_dir)
    scored = docs.select(
        "doc_id",
        "lang",
        text.token_count("text").alias("n_tokens"),
        text.predicted_language("text").alias("lang_pred"),
        text.quality_score("text").alias("quality_score"),
        text.fingerprint("text").alias("fp"),
    )
    kept = (
        scored.filter(F.col("quality_score") >= 0.5)
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("fp").orderBy("doc_id")
            ),
        )
        .filter(F.col("rn") == 1)
    )
    return (
        kept.groupBy("lang", "lang_pred")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum(
                F.when(F.col("quality_score") >= 0.75, 1).otherwise(0)
            ).alias("n_high_quality"),
            dec_avg("quality_score", "mean_quality"),
        )
        .orderBy("lang", "lang_pred")
    )


@register(
    "corpus_chunk_documents",
    oracle="""
        WITH d AS (
            SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
            FROM documents
            WHERE len(string_split_regex(trim(text), '\\s+')) > 0
        ),
        c AS (
            SELECT doc_id, toks,
                   unnest(range(0,
                       greatest(CAST(ceil((len(toks) - 32) / 24.0) AS INT), 0)
                       + 1)) AS chunk_idx
            FROM d
        )
        SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
               len(list_slice(toks, chunk_idx*24 + 1, chunk_idx*24 + 32))
                 AS n_tokens_in_chunk,
               md5(array_to_string(
                   list_slice(toks, chunk_idx*24 + 1, chunk_idx*24 + 32), ' '))
                 AS chunk_md5
        FROM c ORDER BY doc_id, chunk_idx
    """,
    survey_ids=("UD5", "F3", "F12"),
)
def corpus_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking — the prep step between curation and
    training/RAG ingestion: each document becomes overlapping
    32-token windows with stride 24 (8-token overlap), entirely
    JVM-side (sequence → explode → slice; no UDF, no second scan).
    Chunk content is identified by md5 over the space-joined window so
    the oracle can hash-verify every chunk boundary without shipping
    chunk text.  At scale this is one Generate per document — output
    rows ≈ tokens/stride, linear in corpus size."""
    width, stride = 32, 24
    docs = lake.load_table(spark, "documents", sf_dir)
    toks = text.tokens("text")
    d = docs.select("doc_id", toks.alias("toks")).filter(F.size("toks") > 0)
    n_chunks = (
        F.greatest(
            F.ceil((F.size("toks") - F.lit(width)) / F.lit(stride)).cast("int"),
            F.lit(0),
        )
        + 1
    )
    c = d.select(
        "doc_id",
        "toks",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
    )
    window = F.slice(
        F.col("toks"), F.col("chunk_idx") * stride + 1, width
    )
    return c.select(
        "doc_id",
        "chunk_idx",
        F.size(window).alias("n_tokens_in_chunk"),
        F.md5(F.concat_ws(" ", window).cast("binary")).alias("chunk_md5"),
    ).orderBy("doc_id", "chunk_idx")


# ---------------------------------------------------------------------------
# Near-dedup (UD6)
# ---------------------------------------------------------------------------


@register(
    "dedup_ngram_jaccard_pairs",
    oracle="""
        WITH ds AS (
            SELECT doc_id,
                   list_distinct(list_transform(
                       range(1, greatest(len(toks) - 2, 0) + 1),
                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                   )) AS sh
            FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
                  FROM documents)
            WHERE len(toks) >= 3
        )
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                 / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
                 AS jaccard
        FROM ds a JOIN ds b ON a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                 / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5
    """,
    survey_ids=("UD6", "J8"),
    bench=True,
)
def dedup_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard pairs ≥ 0.5 via inverted-index
    self-join (only documents sharing a shingle are paired — never a
    cross join; the oracle brute-forces the same arithmetic)."""
    docs = lake.load_table(spark, "documents", sf_dir)
    return dedup.ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.5)


_SHINGLE_CTE = """
        ds AS (
            SELECT doc_id,
                   list_distinct(list_transform(
                       range(1, greatest(len(toks) - 2, 0) + 1),
                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                   )) AS sh
            FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
                  FROM documents)
            WHERE len(toks) >= 3
        )"""


def _minhash_mins_sql(num_hashes: int) -> str:
    """The md5-family min-signature expressions, shared by both minhash
    oracles: the SAME per-i XOR scrambles
    ``((ha XOR P_i) << 31) + ((hb XOR Q_i) >> 1)`` the Spark side
    evaluates, with the masks imported from
    :func:`operators.dedup.minhash_md5_constants` so the two plans can
    never drift (r07 — replaces the Kirsch–Mitzenmacher ``h1 + i·h2``
    family whose hull-correlated argmins caused a 61× candidate
    excess; see the operator docstring for the geometry)."""
    from end_end_data_pipeline__spark.operators.dedup import (
        minhash_md5_constants,
    )

    return ",\n                   ".join(
        f"min((xor(ha, {p}) << 31) + (xor(hb, {q}) >> 1)) AS h{i}"
        for i, (p, q) in enumerate(minhash_md5_constants(num_hashes))
    )



def _minhash_oracle(num_hashes: int = 32, bands: int = 8, thr: float = 0.5) -> str:
    """DuckDB replica of ``dedup.minhash_lsh_pairs(hash_family='md5')``:
    identical seeded-md5 min-signatures, identical '|'-joined band
    keys, identical exact-Jaccard verification — so even the
    probabilistic candidate set is deterministic and hash-checkable."""
    r = num_hashes // bands
    mins = _minhash_mins_sql(num_hashes)
    band_rows = "\n            UNION ALL ".join(
        "SELECT doc_id, {b} AS band, {key} AS bh FROM sig".format(
            b=b,
            key=" || '|' || ".join(
                f"CAST(h{b * r + i} AS VARCHAR)" for i in range(r)
            ),
        )
        for b in range(bands)
    )
    return f"""
        WITH {_SHINGLE_CTE},
        inv AS (SELECT doc_id, unnest(sh) AS s FROM ds),
        hh AS (
            SELECT doc_id,
                   ('0x' || substr(md5(s), 1, 8))::BIGINT AS ha,
                   ('0x' || substr(md5(s), 9, 8))::BIGINT AS hb
            FROM inv
        ),
        sig AS (
            SELECT doc_id,
                   {mins}
            FROM hh GROUP BY doc_id
        ),
        bands AS (
            {band_rows}
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
        )
        SELECT c.doc_a, c.doc_b,
               CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
                 / (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh)))
                 AS jaccard
        FROM cand c
        JOIN ds x ON x.doc_id = c.doc_a
        JOIN ds y ON y.doc_id = c.doc_b
        WHERE CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
                 / (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))) >= {thr}
    """


def _simhash_oracle(max_hamming: int = 3, n_bits: int = 60) -> str:
    """DuckDB replica of ``dedup.simhash_neardup_pairs(hash_family=
    'md5')``: 60-bit token hash = first 15 hex digits of md5, per-bit
    ±1 votes, sign recombination, 4×15-bit pigeonhole chunk join,
    exact hamming verify."""
    k = max_hamming + 1
    w = n_bits // k
    mask = (1 << w) - 1
    votes = ",\n                   ".join(
        f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(n_bits)
    )
    sig_terms = "\n                 + ".join(
        f"(CASE WHEN b{i} > 0 THEN (1::BIGINT << {i}) ELSE 0::BIGINT END)"
        for i in range(n_bits)
    )
    chunk_rows = "\n            UNION ALL ".join(
        f"SELECT doc_id, simhash, {c} AS chunk, (simhash >> {c * w}) & {mask} AS cv FROM sig"
        for c in range(k)
    )
    return f"""
        WITH toks AS (
            SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS t
            FROM documents
        ),
        th AS (
            SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS h FROM toks
        ),
        votes AS (
            SELECT doc_id,
                   {votes}
            FROM th GROUP BY doc_id
        ),
        sig AS (
            SELECT doc_id,
                 {sig_terms} AS simhash
            FROM votes
        ),
        chunks AS (
            {chunk_rows}
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   a.simhash AS sig_a, b.simhash AS sig_b
            FROM chunks a JOIN chunks b
              ON a.chunk = b.chunk AND a.cv = b.cv AND a.doc_id < b.doc_id
        )
        SELECT doc_a, doc_b,
               CAST(bit_count(xor(sig_a, sig_b)) AS INTEGER) AS hamming
        FROM cand
        WHERE bit_count(xor(sig_a, sig_b)) <= {max_hamming}
    """


@register(
    "dedup_minhash_lsh_pairs",
    oracle=_minhash_oracle(),
    survey_ids=("UD6", "J8", "J9"),
    bench=True,
)
def dedup_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash (32 perms) banded-LSH (8×4) candidates, exact-verified at
    jaccard ≥ 0.5 — the 100 TB near-dedup path: cost scales with
    colliding pairs, not n².  Runs the md5 hash family so the full
    pipeline (signatures → band keys → candidates → verify) is
    bit-replicated by the DuckDB oracle; the xxhash64 family is the
    faster in-engine default."""
    docs = lake.load_table(spark, "documents", sf_dir)
    return dedup.minhash_lsh_pairs(
        docs, "text", "doc_id", n=3, num_hashes=32, bands=8,
        verify_threshold=0.5, hash_family="md5",
    )


@register(
    "dedup_canonical_corpus",
    oracle=f"""
        WITH RECURSIVE pairs AS ({_minhash_oracle()}),
        sym AS (
            SELECT doc_a AS a, doc_b AS b FROM pairs
            UNION SELECT doc_b, doc_a FROM pairs
        ),
        reach(node, lbl) AS (
            SELECT a, a FROM sym
            UNION
            SELECT s.a, r.lbl FROM sym s JOIN reach r ON s.b = r.node
        ),
        comp AS (
            SELECT node, MIN(lbl) AS component FROM reach GROUP BY node
        )
        SELECT node AS doc_id, component AS canonical_doc_id
        FROM comp WHERE node <> component ORDER BY doc_id
    """,
    survey_ids=("UD6", "J3", "J8"),
)
def dedup_canonical_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy dedup end-to-end — the composition an LLM data pipeline
    actually runs: MinHash-LSH near-dup pairs (md5 family, exact-
    verified at jaccard ≥ 0.5) → connected components over the pair
    graph (``operators/graph.py`` min-label propagation) → canonical
    representative per cluster (= min doc_id, which IS the component
    label).  Returns the removal list: (doc_id, canonical_doc_id) for
    every non-canonical cluster member; the surviving corpus is
    ``documents`` anti-joined on this list.

    Every stage is deterministic, so the DuckDB oracle replays the
    whole chain — signatures, band join, verify, then a WITH RECURSIVE
    transitive closure in place of the iterative fixpoint — and must
    hash-match.  At scale the pair graph is tiny relative to the
    corpus (only near-dup members appear), so the iterative CC loop
    runs on a small edge list no matter how large the input."""
    from end_end_data_pipeline__spark.operators.graph import connected_components

    docs = lake.load_table(spark, "documents", sf_dir)
    pairs = dedup.minhash_lsh_pairs(
        docs, "text", "doc_id", n=3, num_hashes=32, bands=8,
        verify_threshold=0.5, hash_family="md5",
    )
    comp = connected_components(
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    )
    return (
        comp.filter(F.col("node") != F.col("component"))
        .select(
            F.col("node").alias("doc_id"),
            F.col("component").alias("canonical_doc_id"),
        )
        .orderBy("doc_id")
    )


@register(
    "dedup_simhash_neardup",
    oracle=_simhash_oracle(),
    survey_ids=("UD6",),
)
def dedup_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (hamming ≤ 3) via pigeonhole chunk join —
    md5 hash family (60-bit signatures, 4×15-bit chunks), making the
    signature arithmetic and the candidate join DuckDB-replicable."""
    docs = lake.load_table(spark, "documents", sf_dir)
    return dedup.simhash_neardup_pairs(
        docs, "text", "doc_id", max_hamming=3, hash_family="md5"
    )


# ---------------------------------------------------------------------------
# Similarity search (J9/UD7/UD8)
# ---------------------------------------------------------------------------

_COS_SQL = """
    WITH v AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings
    ),
    scored AS (
        SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
               list_sum(list_transform(range(1, len(p.e) + 1), i -> p.e[i] * c.e[i]))
                 / (sqrt(list_sum(list_transform(p.e, x -> x * x)))
                    * sqrt(list_sum(list_transform(c.e, x -> x * x)))) AS cos
        FROM v p, v c
        WHERE p.vec_id < 5 AND c.vec_id <> p.vec_id
    ),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY probe_id
                                     ORDER BY cos DESC, neighbor_id) AS rn
        FROM scored
    )
    SELECT probe_id, neighbor_id, cos FROM ranked WHERE rn <= 10
"""


@register(
    "embedding_cosine_topk",
    oracle=_COS_SQL,
    survey_ids=("J9", "UD7", "UD8"),
    bench=True,
)
def embedding_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 for 5 probe vectors: broadcast probes, one
    corpus scan, per-probe top-k.  Vector math is higher-order
    ``zip_with``/``aggregate`` — bit-identical to the oracle's
    sequential fold, no UDF."""
    emb = lake.load_table(spark, "embeddings", sf_dir)
    probes = emb.filter(F.col("vec_id") < 5)
    return similarity.brute_force_topk(emb, probes, k=10)


# DuckDB replica of similarity.lsh_topk's full pipeline: identical
# md5-seeded hyperplanes (16^12 = 2^48, so the /2^48*2−1 scaling is
# exact in float64 on both engines), identical sign-bit bucket packing,
# identical hamming-1 multi-probe expansion, identical exact-cosine
# rank — so even the LSH candidate set is deterministic and
# hash-checkable, as done for the MinHash band keys.
_ANN_LSH_SQL = """
    WITH base AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings
    ),
    planes AS (
        SELECT t, p,
               list(('0x' || substr(md5('table' || t || ':' || p || ':' || d),
                                    1, 12))::BIGINT
                    / 281474976710656.0 * 2.0 - 1.0 ORDER BY d) AS pv
        FROM range(8) ts(t), range(4) ps(p), range(64) ds(d)
        GROUP BY t, p
    ),
    cbuck AS (
        SELECT b.vec_id, pl.t,
               SUM(CASE WHEN list_sum(list_transform(
                              range(1, 65), i -> b.e[i] * pl.pv[i])) >= 0
                        THEN (1::BIGINT << pl.p) ELSE 0 END) AS bucket
        FROM base b CROSS JOIN planes pl
        GROUP BY b.vec_id, pl.t
    ),
    pbuck AS (SELECT * FROM cbuck WHERE vec_id < 5),
    pent AS (
        SELECT vec_id, t, bucket FROM pbuck
        UNION
        SELECT vec_id, t, xor(bucket, (1::BIGINT << i)) AS bucket
        FROM pbuck, range(0, 4) r(i)
    ),
    cand AS (
        SELECT DISTINCT p.vec_id AS probe_id, c.vec_id AS neighbor_id
        FROM pent p JOIN cbuck c ON p.t = c.t AND p.bucket = c.bucket
        WHERE c.vec_id <> p.vec_id
    ),
    scored AS (
        SELECT cand.probe_id, cand.neighbor_id,
               list_sum(list_transform(range(1, 65), i -> pb.e[i] * cb.e[i]))
                 / (sqrt(list_sum(list_transform(pb.e, x -> x * x)))
                    * sqrt(list_sum(list_transform(cb.e, x -> x * x)))) AS cos
        FROM cand
        JOIN base pb ON pb.vec_id = cand.probe_id
        JOIN base cb ON cb.vec_id = cand.neighbor_id
    ),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY probe_id
                                     ORDER BY cos DESC, neighbor_id) AS rn
        FROM scored
    )
    SELECT probe_id, neighbor_id, cos FROM ranked WHERE rn <= 10
"""


@register(
    "embedding_ann_lsh_topk",
    oracle=_ANN_LSH_SQL,
    survey_ids=("J9", "UD7"),
)
def embedding_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-10 via multi-table sign-LSH (8 tables × 4 planes,
    hamming-1 multi-probe) — the scale path: bucket equi-joins instead
    of a full scan, recall 1.0 on the fixture (tests assert ≥ 0.8).
    The hyperplanes are md5-seeded, so the oracle replays the exact
    candidate generation, not just a recall floor."""
    emb = lake.load_table(spark, "embeddings", sf_dir)
    probes = emb.filter(F.col("vec_id") < 5)
    return similarity.lsh_topk(emb, probes, k=10)


@register(
    "embedding_neardup_pairs",
    oracle="""
        WITH base AS (
            SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
            FROM embeddings
        ),
        corpus AS (
            SELECT vec_id, e FROM base
            UNION ALL
            SELECT vec_id + 100000,
                   list_transform(range(1, len(e) + 1),
                                  i -> CASE WHEN i = 1 THEN e[i] + 0.05 ELSE e[i] END)
            FROM base WHERE vec_id % 50 = 0
        )
        SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
               list_sum(list_transform(range(1, len(a.e) + 1), i -> a.e[i] * b.e[i]))
                 / (sqrt(list_sum(list_transform(a.e, x -> x * x)))
                    * sqrt(list_sum(list_transform(b.e, x -> x * x)))) AS cos
        FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
        WHERE list_sum(list_transform(range(1, len(a.e) + 1), i -> a.e[i] * b.e[i]))
                 / (sqrt(list_sum(list_transform(a.e, x -> x * x)))
                    * sqrt(list_sum(list_transform(b.e, x -> x * x)))) >= 0.99
    """,
    survey_ids=("J9", "UD6", "UD8"),
)
def embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup detection: the corpus is salted with perturbed
    copies (vec_id+100000, first component +0.05) and the operator must
    recover exactly those pairs at cos ≥ 0.99 via LSH-bucketed
    candidate generation + exact verification.  The oracle brute-forces
    the same corpus."""
    emb = lake.load_table(spark, "embeddings", sf_dir)
    base = emb.select("vec_id", similarity.as_double("embedding").alias("e"))
    perturbed = base.filter(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            F.col("e"),
            lambda x, i: F.when(i == 0, x + 0.05).otherwise(x),
        ).alias("e"),
    )
    corpus = base.unionByName(perturbed)
    return similarity.cosine_neardup_pairs(
        corpus, vec_col="e", id_col="vec_id", threshold=0.99
    )


# DuckDB replica of similarity.semantic_dedup on the salted corpus:
# identical md5-ordered centroid pick, identical nearest-centroid
# assignment (sim DESC, cid ASC ties), identical within-cluster
# keep-lowest-id drop rule at cos >= 0.99.
_SEMANTIC_DEDUP_SQL = """
    WITH src AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings
    ),
    base AS (
        SELECT vec_id, e FROM src
        UNION ALL
        SELECT vec_id + 100000,
               list_transform(range(1, len(e) + 1),
                              i -> CASE WHEN i = 1 THEN e[i] + 0.05 ELSE e[i] END)
        FROM src WHERE vec_id % 50 = 0
    ),
    cents AS (
        SELECT vec_id AS cid, e AS cvec FROM base
        ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT 16
    ),
    sims AS (
        SELECT b.vec_id, c.cid,
               list_sum(list_transform(range(1, 65), i -> b.e[i] * c.cvec[i]))
                 / (sqrt(list_sum(list_transform(b.e, x -> x * x)))
                    * sqrt(list_sum(list_transform(c.cvec, x -> x * x)))) AS sim
        FROM base b CROSS JOIN cents c
    ),
    assigned AS (
        SELECT vec_id, cid FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id
                                         ORDER BY sim DESC, cid) AS rn
            FROM sims
        ) WHERE rn = 1
    ),
    dropped AS (
        SELECT DISTINCT b.vec_id
        FROM assigned a
        JOIN assigned b USING (cid)
        JOIN base ab ON ab.vec_id = a.vec_id
        JOIN base bb ON bb.vec_id = b.vec_id
        WHERE a.vec_id < b.vec_id
          AND list_sum(list_transform(range(1, 65), i -> ab.e[i] * bb.e[i]))
                / (sqrt(list_sum(list_transform(ab.e, x -> x * x)))
                   * sqrt(list_sum(list_transform(bb.e, x -> x * x)))) >= 0.99
    )
    SELECT s.vec_id, s.cid FROM assigned s
    WHERE s.vec_id NOT IN (SELECT vec_id FROM dropped)
"""


@register(
    "corpus_semantic_dedup",
    oracle=_SEMANTIC_DEDUP_SQL,
    survey_ids=("UD6", "J9", "UD7"),
)
def corpus_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the salted embedding corpus (perturbed copies at
    vec_id+100000, first component +0.05 — near-dups at cos >= 0.99):
    nearest-of-16-centroids clustering, then within-cluster
    keep-lowest-id pruning drops the planted copies that landed in
    their original's cluster.  Kept (vec_id, cid) rows hash-check
    against the oracle's replay of the same deterministic pipeline."""
    emb = lake.load_table(spark, "embeddings", sf_dir)
    base = emb.select("vec_id", similarity.as_double("embedding").alias("e"))
    perturbed = base.filter(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            F.col("e"),
            lambda x, i: F.when(i == 0, x + 0.05).otherwise(x),
        ).alias("e"),
    )
    corpus = base.unionByName(perturbed)
    return similarity.semantic_dedup(
        corpus, vec_col="e", id_col="vec_id", n_centroids=16, tau=0.99
    )


@register(
    "corpus_train_val_split",
    oracle="""
        SELECT doc_id,
               CASE WHEN b < 95 THEN 'train'
                    WHEN b < 99 THEN 'val'
                    ELSE 'test' END AS split
        FROM (
            SELECT doc_id,
                   ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                     % 100 AS b
            FROM documents
        )
    """,
    survey_ids=("F9", "F4"),
)
def corpus_train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based train/val/test assignment (95/4/1) —
    the reproducible corpus-splitting primitive every training pipeline
    needs: membership is a pure function of the document id (md5
    bucket), so it is stable across runs, engines, cluster layouts,
    and incremental corpus growth (new docs never reshuffle old
    assignments).  No shuffle at all — a scan-level projection."""
    docs = lake.load_table(spark, "documents", sf_dir)
    bucket = _md5_u32(F.col("doc_id")) % 100
    return docs.select(
        "doc_id",
        F.when(bucket < 95, "train")
        .when(bucket < 99, "val")
        .otherwise("test")
        .alias("split"),
    )


# DuckDB replica of similarity.quantize_int8: identical per-vector
# 127/max|x| scaling and the engine-neutral floor(v+0.5) rounding, so
# every quantized component and the reconstruction-error bound
# hash-verify.  Exploded to scalar rows for the driver's canonicalizer.
_QUANT_SQL = """
    WITH base AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings
    ),
    scaled AS (
        SELECT vec_id, e,
               CASE WHEN list_max(list_transform(e, x -> abs(x))) > 0
                    THEN 127.0 / list_max(list_transform(e, x -> abs(x)))
                    ELSE 1.0 END AS scale
        FROM base
    ),
    px AS (
        SELECT vec_id, scale, unnest(range(1, len(e) + 1)) AS dim, e
        FROM scaled
    )
    SELECT vec_id, CAST(dim - 1 AS INT) AS dim, scale,
           CAST(greatest(-127, least(127,
                CAST(floor(e[dim] * scale + 0.5) AS BIGINT))) AS INT) AS q
    FROM px
"""


@register(
    "embedding_quantize_int8",
    oracle=_QUANT_SQL,
    survey_ids=("UD7", "F13"),
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization of the embedding corpus —
    the ANN storage/bandwidth reduction step (4× vs float32).  Pure
    higher-order Catalyst expressions with engine-neutral floor(v+0.5)
    rounding; exploded to (vec_id, dim, scale, q) so the driver
    hash-verifies every quantized component against the DuckDB
    replica."""
    emb = lake.load_table(spark, "embeddings", sf_dir)
    qz = similarity.quantize_int8(emb)
    # posexplode_outer + notNull filter: plain posexplode makes
    # InferFiltersFromGenerate push `size(q) > 0` — i.e. the whole
    # transform/aggregate chain — into the SCAN filter, evaluating the
    # quantization twice per row (the explode_safe rule,
    # functions/arrays.py)
    return (
        qz.select(
            F.col("id").alias("vec_id"), "scale",
            F.posexplode_outer("q").alias("dim", "q"),
        )
        .filter(F.col("q").isNotNull())
        .select("vec_id", F.col("dim").cast("int").alias("dim"), "scale", "q")
    )


# ---------------------------------------------------------------------------
# Multimodal plumbing (UD8)
# ---------------------------------------------------------------------------


# DuckDB replica of the deterministic fake decoder in
# multimodal.extract_features: byte histogram acc[(byte+i) % 8] +=
# byte over the UTF-8 payload, L1-normalized.  Byte extraction slices
# to_hex(blob) two hex digits at a time; the double division is exact
# on both engines (all sums < 2^53), and the REAL→DOUBLE round-trip
# reproduces the operator's float32 output width bit-for-bit.
_FEATURE_SQL = """
    WITH b AS (SELECT doc_id, encode(text) AS p FROM documents),
    idx AS (
        SELECT doc_id, p, unnest(range(0, octet_length(p))) AS i FROM b
    ),
    bytes AS (
        SELECT doc_id, i,
               ('0x' || substr(to_hex(p), 2 * i + 1, 2))::BIGINT AS byte
        FROM idx
    ),
    acc AS (
        SELECT doc_id, (byte + i) % 8 AS dim, SUM(byte)::BIGINT AS v
        FROM bytes GROUP BY 1, 2
    ),
    tot AS (SELECT doc_id, SUM(v)::BIGINT AS total FROM acc GROUP BY 1),
    grid AS (
        SELECT b.doc_id, d.dim, octet_length(b.p)::BIGINT AS n_bytes
        FROM b, range(0, 8) d(dim)
    )
    SELECT g.doc_id, CAST(g.dim AS INT) AS dim,
           CAST(CAST(CAST(COALESCE(a.v, 0) AS DOUBLE)
                     / CAST(CASE WHEN COALESCE(t.total, 0) = 0
                                 THEN 1 ELSE t.total END AS DOUBLE)
                AS REAL) AS DOUBLE) AS val,
           g.n_bytes
    FROM grid g
    LEFT JOIN acc a ON a.doc_id = g.doc_id AND a.dim = g.dim
    LEFT JOIN tot t ON t.doc_id = g.doc_id
"""


@register(
    "multimodal_feature_extract",
    oracle=_FEATURE_SQL,
    survey_ids=("UD8", "UD1"),
)
def multimodal_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload feature extraction: document text re-encoded as an
    opaque binary 'media' payload with typed metadata, pushed through
    the Arrow-batched ``mapInPandas`` decode/feature pipeline
    (deterministic fake decoder — real codecs are stubbed, the Spark
    plumbing is real).  The feature array is exploded to scalar
    (doc_id, dim, val) rows so the driver can sort and hash-verify
    every component against the DuckDB byte-histogram replica."""
    docs = lake.load_table(spark, "documents", sf_dir)
    media = multimodal.attach_media(
        docs, F.encode(F.col("text"), "utf-8"), "image", "raw"
    )
    feats = multimodal.extract_features(media, "media", "doc_id", dims=8)
    return feats.select(
        "doc_id", F.posexplode("feature").alias("dim", "val"), "n_bytes"
    ).select(
        "doc_id",
        F.col("dim").cast("int").alias("dim"),
        F.col("val").cast("double").alias("val"),
        "n_bytes",
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprints (UD5/UD6/F4) + IVF ANN (J9/UD7) + multimodal fan-out
# ---------------------------------------------------------------------------


@register(
    "text_winnow_fingerprints",
    oracle="""
        WITH grams AS (
            SELECT doc_id,
                   list_transform(
                       range(1, greatest(length(text) - 7, 0) + 1),
                       i -> md5(substr(text, i, 8))) AS g
            FROM documents
        )
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                   range(1, greatest(len(g) - 3, 0) + 1),
                   j -> list_min(list_slice(g, j, j + 3))))) AS fp
        FROM grams
    """,
    survey_ids=("UD5", "UD6", "F4"),
)
def text_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) rolling-hash fingerprints, k=8 / w=4: any shared
    substring of length >= 11 chars between two documents is guaranteed
    to surface as a shared fingerprint — the plagiarism/near-dup
    selection scheme, ~1/w the density of full k-gram hashing.  Emitted
    as exploded (doc_id, fp) rows so the hash-parity compare is
    order-insensitive."""
    from end_end_data_pipeline__spark.functions.arrays import explode_safe

    docs = lake.load_table(spark, "documents", sf_dir)
    fps = text.winnow_fingerprints(docs, "text", "doc_id", k=8, w=4)
    return explode_safe(fps, ["doc"], F.col("fp"), "fp").select(
        F.col("doc").alias("doc_id"), "fp"
    )


# DuckDB replica of similarity.ivf_topk: identical md5-ordered centroid
# pick, identical nearest-centroid assignment (sim DESC, cid ASC ties),
# identical n_probe list expansion and exact-cosine rank.
_ANN_IVF_SQL = """
    WITH base AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings
    ),
    cents AS (
        SELECT vec_id AS cid, e AS cvec FROM base
        ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT 16
    ),
    sims AS (
        SELECT b.vec_id, c.cid,
               list_sum(list_transform(range(1, 65), i -> b.e[i] * c.cvec[i]))
                 / (sqrt(list_sum(list_transform(b.e, x -> x * x)))
                    * sqrt(list_sum(list_transform(c.cvec, x -> x * x)))) AS sim
        FROM base b CROSS JOIN cents c
    ),
    c_assign AS (
        SELECT vec_id AS neighbor_id, cid FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id
                                         ORDER BY sim DESC, cid) AS rn
            FROM sims
        ) WHERE rn = 1
    ),
    p_assign AS (
        SELECT vec_id AS probe_id, cid FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id
                                         ORDER BY sim DESC, cid) AS rn
            FROM sims WHERE vec_id < 5
        ) WHERE rn <= 8
    ),
    cand AS (
        SELECT probe_id, neighbor_id
        FROM p_assign JOIN c_assign USING (cid)
        WHERE probe_id <> neighbor_id
    ),
    scored AS (
        SELECT cand.probe_id, cand.neighbor_id,
               list_sum(list_transform(range(1, 65), i -> pb.e[i] * cb.e[i]))
                 / (sqrt(list_sum(list_transform(pb.e, x -> x * x)))
                    * sqrt(list_sum(list_transform(cb.e, x -> x * x)))) AS cos
        FROM cand
        JOIN base pb ON pb.vec_id = cand.probe_id
        JOIN base cb ON cb.vec_id = cand.neighbor_id
    ),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY probe_id
                                     ORDER BY cos DESC, neighbor_id) AS rn
        FROM scored
    )
    SELECT probe_id, neighbor_id, cos FROM ranked WHERE rn <= 10
"""


@register(
    "embedding_ann_ivf_topk",
    oracle=_ANN_IVF_SQL,
    survey_ids=("J9", "UD7"),
)
def embedding_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) approximate top-10 for 5 probes: nearest-of-
    16-centroids inverted lists, 8 probed per query — the clustered-
    corpus ANN scale path (LSH's complement).  Deterministic md5-ordered
    centroid choice, so the oracle replays the exact inverted lists."""
    emb = lake.load_table(spark, "embeddings", sf_dir)
    probes = emb.filter(F.col("vec_id") < 5)
    return similarity.ivf_topk(emb, probes, k=10, n_centroids=16, n_probe=8)


# DuckDB replica of the fake stride-resize in multimodal.resize_images:
# >=1024-byte payloads are resampled to the 1024 bytes at indexes
# int(i * len/1024) (both engines truncate the same float64 product);
# smaller payloads zero-pad.  Payload content is checked as
# md5-of-uppercase-hex (DuckDB's md5 takes VARCHAR only; Spark hex and
# DuckDB to_hex agree on case).
_RESIZE_SQL = """
    WITH b AS (
        SELECT doc_id, to_hex(encode(text)) AS hx,
               octet_length(encode(text)) AS n
        FROM documents
    ),
    big_px AS (
        SELECT doc_id, unnest(range(0, 1024)) AS i, hx, n
        FROM b WHERE n >= 1024
    ),
    big_hex AS (
        SELECT doc_id,
               string_agg(
                   substr(hx, 2 * CAST(floor(i * (n / 1024.0)) AS BIGINT) + 1, 2),
                   '' ORDER BY i) AS rhx
        FROM big_px GROUP BY doc_id
    ),
    small_hex AS (
        SELECT doc_id, hx || repeat('00', 1024 - n) AS rhx
        FROM b WHERE n < 1024
    ),
    all_hex AS (SELECT * FROM big_hex UNION ALL SELECT * FROM small_hex)
    SELECT doc_id, 32 AS width, 32 AS height,
           1024::BIGINT AS n_bytes, md5(rhx) AS payload_md5
    FROM all_hex
"""


@register(
    "multimodal_resize_batch",
    oracle=_RESIZE_SQL,
    survey_ids=("UD8", "UD1"),
)
def multimodal_resize_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-resize plumbing: binary payloads stride-resampled to 32x32
    through Arrow batches, metadata struct updated with the target
    dimensions (real codec stubbed; deterministic fake).  Returns
    (doc_id, width, height, n_bytes, payload_md5) — the md5-of-hex of
    every resized payload hash-checks the exact resample arithmetic
    against the DuckDB replica."""
    docs = lake.load_table(spark, "documents", sf_dir)
    media = multimodal.attach_media(
        docs, F.encode(F.col("text"), "utf-8"), "image", "raw"
    )
    resized = multimodal.resize_images(media, "media", "doc_id", width=32, height=32)
    return resized.select(
        "doc_id",
        F.col("media_meta.width").alias("width"),
        F.col("media_meta.height").alias("height"),
        F.col("media_meta.n_bytes").alias("n_bytes"),
        F.md5(F.hex(F.col("media"))).alias("payload_md5"),
    )


# DuckDB replica of the fake frame sampler in multimodal.sample_frames:
# frame i = payload[i*chunk : (i+1)*chunk] with chunk = max(len//4, 1);
# both the slice clamping and the empty-tail frames reproduce via
# substr on the hex text.
_FRAMES_SQL = """
    WITH b AS (
        SELECT doc_id, to_hex(encode(text)) AS hx,
               octet_length(encode(text)) AS n
        FROM documents WHERE doc_id < 100
    ),
    f AS (
        SELECT doc_id, unnest(range(0, 4)) AS frame_idx, hx,
               greatest(n // 4, 1) AS chunk
        FROM b
    )
    SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
           CAST(length(substr(hx, 2 * (frame_idx * chunk) + 1, 2 * chunk)) // 2
                AS BIGINT) AS n_bytes,
           md5(substr(hx, 2 * (frame_idx * chunk) + 1, 2 * chunk)) AS frame_md5
    FROM f
"""


@register(
    "multimodal_frame_sample",
    oracle=_FRAMES_SQL,
    survey_ids=("UD8", "UD4"),
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plumbing: each payload fans out to 4 frame
    rows inside ``mapInPandas`` (UDTF shape, no shuffle) — returns
    per-frame byte accounting plus the md5-of-hex of every frame's
    bytes, hash-checked against the DuckDB slice replica."""
    docs = lake.load_table(spark, "documents", sf_dir).filter(
        F.col("doc_id") < 100
    )
    media = multimodal.attach_media(
        docs, F.encode(F.col("text"), "utf-8"), "video", "raw"
    )
    frames = multimodal.sample_frames(media, "media", "doc_id", n_frames=4)
    return frames.select(
        "doc_id", "frame_idx", "n_bytes",
        F.md5(F.hex(F.col("frame"))).alias("frame_md5"),
    )


# REAL video decode (round 5): every doc_id becomes a 6-frame 8x6
# YUV4MPEG2 C444 stream (deterministic per-plane closed forms), the
# real sample_frames path decodes it and emits 3 uniformly-spaced
# frames (source indices 0/2/4), reduced to exact per-plane sums the
# oracle recomputes generatively — any header/frame-walk/plane-order
# bug breaks the hash.
_VIDEO_SQL = """
    WITH px AS (
        SELECT doc_id, f.fi AS fi, x.x AS x, y.y AS y
        FROM (SELECT doc_id FROM documents) d,
             (SELECT unnest([0, 2, 4]) AS fi) f,
             (SELECT unnest(range(0, 8)) AS x) x,
             (SELECT unnest(range(0, 6)) AS y) y
    )
    SELECT doc_id, CAST(fi AS INT) AS frame_idx,
           CAST(SUM((doc_id * 7 + fi * 17 + x * 3 + y * 5) % 256) AS BIGINT)
               AS sum_y,
           CAST(SUM((doc_id * 11 + fi * 19 + x + 2 * y) % 256) AS BIGINT)
               AS sum_u,
           CAST(SUM((doc_id * 13 + fi * 23 + 2 * x + y) % 256) AS BIGINT)
               AS sum_v
    FROM px GROUP BY doc_id, fi
"""


@register(
    "multimodal_video_decode_stats",
    oracle=_VIDEO_SQL,
    survey_ids=("UD8", "UD4", "F13"),
)
def multimodal_video_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video decode end-to-end (UD8's last stubbed modality made
    real): render 6 deterministic C444 frames per doc, encode into a
    real YUV4MPEG2 container, then run the PRODUCTION
    ``sample_frames(decoder='video')`` operator — which parses the
    stream and emits 3 uniformly-spaced decoded frames — and reduce
    each sampled frame to exact per-plane pixel sums.  Compressed
    codecs (h264 etc.) stay honestly stubbed; Y4M is the
    uncompressed wire format ffmpeg itself pipes."""
    import pandas as pd

    docs = lake.load_table(spark, "documents", sf_dir).select("doc_id")

    def gen(it):
        for pdf in it:
            payloads = [
                multimodal.encode_y4m(
                    8, 6,
                    [multimodal.render_test_frame(int(doc), i) for i in range(6)],
                )
                for doc in pdf["doc_id"]
            ]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "media": payloads})

    media = docs.mapInPandas(gen, "doc_id long, media binary")
    frames = multimodal.sample_frames(
        media, "media", "doc_id", n_frames=3, decoder="video"
    )

    def stats(it):
        n = 8 * 6
        for pdf in it:
            rows = []
            for doc, fi, fr in zip(
                pdf["doc_id"], pdf["frame_idx"], pdf["frame"]
            ):
                b = bytes(fr)
                rows.append(
                    (doc, fi, sum(b[:n]), sum(b[n : 2 * n]), sum(b[2 * n :]))
                )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "frame_idx", "sum_y", "sum_u", "sum_v"],
            )

    return frames.mapInPandas(
        stats,
        "doc_id long, frame_idx int, sum_y long, sum_u long, sum_v long",
    )


# REAL image decode (round 5): every doc_id is rendered as a
# deterministic 16x12 RGB test pattern, encoded into a REAL container
# (PNG with all five scanline filters / BMP bottom-up BGR / PPM, by
# doc_id % 3), then decoded back by the pure-stdlib codecs and reduced
# to exact per-channel pixel sums.  The oracle recomputes the sums from
# the generative closed form — any encoder/decoder bug (filter math,
# row order, padding, channel order) breaks the hash.
_DECODE_SQL = """
    WITH px AS (
        SELECT doc_id, x.x AS x, y.y AS y
        FROM (SELECT doc_id FROM documents) d,
             (SELECT unnest(range(0, 16)) AS x) x,
             (SELECT unnest(range(0, 12)) AS y) y
    )
    SELECT doc_id,
           CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'bmp'
                ELSE 'ppm' END AS fmt,
           16 AS width, 12 AS height,
           CAST(SUM((doc_id * 7 + x * 3 + y * 5) % 256) AS BIGINT) AS sum_r,
           CAST(SUM((doc_id * 11 + x + 2 * y) % 256) AS BIGINT) AS sum_g,
           CAST(SUM((doc_id * 13 + 2 * x + y) % 256) AS BIGINT) AS sum_b
    FROM px GROUP BY doc_id
"""


@register(
    "multimodal_decode_image_stats",
    oracle=_DECODE_SQL,
    survey_ids=("UD8", "UD1", "F13"),
)
def multimodal_decode_image_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode end-to-end (UD8's decode path, no longer a
    stub): render → encode (PNG/BMP/PPM round-robin) → decode →
    channel stats, all inside Arrow-batched ``mapInPandas``.  The PNG
    leg inflates with stdlib ``zlib`` and reconstructs all five
    scanline filters; BMP flips bottom-up padded BGR rows; PPM parses
    the ASCII header."""
    import pandas as pd

    docs = lake.load_table(spark, "documents", sf_dir).select("doc_id")

    def gen(it):
        encoders = (
            multimodal.encode_png, multimodal.encode_bmp, multimodal.encode_ppm
        )
        for pdf in it:
            payloads = [
                encoders[int(d) % 3](
                    16, 12, multimodal.render_test_image(int(d), 16, 12)
                )
                for d in pdf["doc_id"]
            ]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "media": payloads})

    media = docs.mapInPandas(gen, "doc_id long, media binary")
    return multimodal.image_stats(media, "media", "doc_id")


# REAL audio decode (round 5): per doc_id a deterministic PCM16 signal
# is wrapped in a genuine RIFF/WAVE container, parsed back by the
# pure-stdlib chunk walker, and reduced to exact sample statistics the
# oracle recomputes from the closed form sample_i = ((doc_id*31 +
# i*7) % 65536) - 32768.
_AUDIO_SQL = """
    WITH s AS (
        SELECT doc_id, ((doc_id * 31 + i.i * 7) % 65536) - 32768 AS v
        FROM (SELECT doc_id FROM documents) d,
             (SELECT unnest(range(0, 480)) AS i) i
    )
    SELECT doc_id, 48000 AS sample_rate,
           CAST(COUNT(*) AS BIGINT) AS n_samples,
           CAST(SUM(v) AS BIGINT) AS sum_samples,
           CAST(MIN(v) AS INT) AS min_sample,
           CAST(MAX(v) AS INT) AS max_sample
    FROM s GROUP BY doc_id
"""


@register(
    "multimodal_audio_stats",
    oracle=_AUDIO_SQL,
    survey_ids=("UD8", "UD1"),
)
def multimodal_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode end-to-end (the WAV twin of
    ``multimodal_decode_image_stats``): render → RIFF/WAVE PCM16
    encode → chunk-walking decode → exact sample stats inside
    Arrow-batched ``mapInPandas``."""
    import pandas as pd

    docs = lake.load_table(spark, "documents", sf_dir).select("doc_id")

    def gen(it):
        for pdf in it:
            payloads = [
                multimodal.encode_wav(
                    48000, multimodal.render_test_audio(int(d), 480)
                )
                for d in pdf["doc_id"]
            ]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "media": payloads})

    media = docs.mapInPandas(gen, "doc_id long, media binary")
    return multimodal.audio_stats(media, "media", "doc_id")


# Benchmark decontamination (round 5): every 10th document plays the
# held-out benchmark; a corpus document is contaminated when it shares
# any 5-token word gram with any benchmark document.  The oracle
# rebuilds the same gram sets with DuckDB list ops.
_DECON_SQL = """
    WITH toks AS (
        SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
        FROM documents
    ),
    grams AS (
        SELECT doc_id,
               array_to_string(list_slice(toks, i + 1, i + 5), ' ') AS gram
        FROM (
            SELECT doc_id, toks,
                   unnest(range(0, greatest(len(toks) - 4, 0))) AS i
            FROM toks
        )
    ),
    cg AS (
        SELECT DISTINCT doc_id, gram FROM grams WHERE doc_id % 10 <> 0
    ),
    bg AS (
        SELECT DISTINCT gram FROM grams WHERE doc_id % 10 = 0
    ),
    hits AS (
        SELECT doc_id, COUNT(*) AS n FROM cg JOIN bg USING (gram)
        GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(h.n, 0) AS BIGINT) AS n_shared_grams,
           COALESCE(h.n, 0) >= 1 AS contaminated
    FROM (SELECT doc_id FROM documents WHERE doc_id % 10 <> 0) d
    LEFT JOIN hits h ON d.doc_id = h.doc_id
"""


@register(
    "corpus_decontaminate",
    oracle=_DECON_SQL,
    survey_ids=("UD5", "UD6", "J6", "F12"),
)
def corpus_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test-overlap gate (benchmark decontamination): flag every
    corpus document sharing a 5-token gram with the held-out slice.
    One tokenize + Generate per side, benchmark grams broadcast,
    per-doc count — no corpus-side shuffle beyond the agg
    (``operators.text.contamination_flags``)."""
    docs = lake.load_table(spark, "documents", sf_dir)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    benchmark = docs.filter(F.col("doc_id") % 10 == 0)
    return text.contamination_flags(corpus, benchmark, "text", "doc_id", k=5)


# ---------------------------------------------------------------------------
# Corpus curation: sampling, shard packing, vocabulary (UD5/UD6 adjuncts)
# ---------------------------------------------------------------------------


@register(
    "corpus_shard_packing",
    oracle="""
        WITH sized AS (
            SELECT doc_id, lang,
                   len(string_split_regex(trim(text), '\\s+')) AS n_tokens
            FROM documents
        ), packed AS (
            SELECT doc_id, lang, n_tokens,
                   CAST(floor((SUM(n_tokens) OVER (PARTITION BY lang
                                                   ORDER BY doc_id
                                                   ROWS UNBOUNDED PRECEDING)
                               - n_tokens) / 2000) AS BIGINT) AS shard_id
            FROM sized
        )
        SELECT lang, shard_id,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens
        FROM packed GROUP BY lang, shard_id
    """,
    survey_ids=("UD5", "W1", "A6"),
)
def corpus_shard_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard packing: documents are assigned to ~2000-token
    shards per language by running token cumsum (shard boundary =
    cumulative tokens before the doc ÷ budget) — the deterministic
    sequential-packing used to build training shards, as one window
    pass.  At scale the partition key is (lang) and the order key a
    stable doc id; no shuffle beyond the one hash on lang."""
    from pyspark.sql import Window

    docs = lake.load_table(spark, "documents", sf_dir)
    sized = docs.select(
        "doc_id", "lang", text.token_count("text").alias("n_tokens")
    )
    w = Window.partitionBy("lang").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    packed = sized.withColumn(
        "shard_id",
        F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / 2000).cast("long"),
    )
    return packed.groupBy("lang", "shard_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("shard_tokens"),
    )


@register(
    "corpus_sequence_packing",
    oracle="""
        WITH sized AS (
            SELECT doc_id, lang,
                   len(string_split_regex(trim(text), '\\s+')) AS n_tokens
            FROM documents
            WHERE len(string_split_regex(trim(text), '\\s+')) > 0
        ),
        spans AS (
            SELECT doc_id, lang, n_tokens,
                   SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                       ROWS UNBOUNDED PRECEDING) - n_tokens
                       AS tok_start
            FROM sized
        ),
        frags AS (
            SELECT lang, doc_id, tok_start, n_tokens,
                   unnest(range(CAST(floor(tok_start / 512) AS BIGINT),
                                CAST(floor((tok_start + n_tokens - 1) / 512)
                                     AS BIGINT) + 1)) AS seq_id
            FROM spans
        )
        SELECT lang, CAST(seq_id AS BIGINT) AS seq_id, doc_id,
               CAST(greatest(tok_start, seq_id * 512) - tok_start AS BIGINT)
                   AS frag_start,
               CAST(least(tok_start + n_tokens, (seq_id + 1) * 512)
                    - greatest(tok_start, seq_id * 512) AS BIGINT) AS frag_len
        FROM frags
    """,
    survey_ids=("UD5", "W1", "F12"),
)
def corpus_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-context SEQUENCE packing — the token-granular complement
    of shard packing: documents concatenate into one token stream per
    language and split across exact 512-token training sequences, each
    document exploding into per-sequence fragments with in-doc offsets
    (seq_id, frag_start, frag_len).  Every interior sequence holds
    exactly 512 tokens; a fragment row is what the loader needs to
    slice each doc's token array into its packed positions.  Scale:
    one running-sum window per stream key (lang here; shard id at
    production scale so streams stay bounded), one Generate for the
    spans — fan-out is ceil(doc/512) rows per doc, linear, no
    shuffle beyond the per-key hash."""
    from pyspark.sql import Window

    L = 512
    docs = lake.load_table(spark, "documents", sf_dir)
    sized = docs.select(
        "doc_id", "lang", text.token_count("text").alias("n_tokens")
    ).filter(F.col("n_tokens") > 0)
    w = Window.partitionBy("lang").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    spans = sized.withColumn(
        "tok_start", F.sum("n_tokens").over(w) - F.col("n_tokens")
    )
    frags = spans.withColumn(
        "seq_id",
        F.explode(
            F.sequence(
                F.floor(F.col("tok_start") / L),
                F.floor((F.col("tok_start") + F.col("n_tokens") - 1) / L),
            )
        ),
    )
    lo = F.greatest(F.col("tok_start"), F.col("seq_id") * L)
    hi = F.least(F.col("tok_start") + F.col("n_tokens"), (F.col("seq_id") + 1) * L)
    return frags.select(
        "lang",
        F.col("seq_id").cast("long").alias("seq_id"),
        "doc_id",
        (lo - F.col("tok_start")).cast("long").alias("frag_start"),
        (hi - lo).cast("long").alias("frag_len"),
    )


@register(
    "text_tfidf_top_terms",
    oracle="""
        WITH tok AS (
            SELECT doc_id,
                   lower(unnest(string_split_regex(trim(text), '\\s+'))) AS term
            FROM documents
        ),
        tf AS (
            SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
            FROM tok GROUP BY 1, 2
        ),
        dfreq AS (
            SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
        ),
        n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n FROM tf),
        scored AS (
            SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
                   CAST(tf.tf AS DOUBLE)
                   * ((SELECT n FROM n) - CAST(df AS DOUBLE)
                      + CAST(0.5 AS DOUBLE))
                   / (CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS score
            FROM tf JOIN dfreq USING (term)
        )
        SELECT doc_id, CAST(rank AS BIGINT) AS rank, term, tf, df
        FROM (
            SELECT *, row_number() OVER (PARTITION BY doc_id
                                         ORDER BY score DESC, term) AS rank
            FROM scored
        ) WHERE rank <= 3
    """,
    survey_ids=("UD5", "A3", "O3"),
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by tf-idf
    (``operators.text.tfidf_top_terms``; BM25 rational idf, log-free
    so the ranking is bit-deterministic cross-engine).  One Generate +
    two hash aggs + a vocab-sized join — the keyword-extraction
    primitive the replay oracle ranks identically."""
    docs = lake.load_table(spark, "documents", sf_dir)
    out = text.tfidf_top_terms(docs, "text", "doc_id", k=3)
    return out.select(
        "doc_id", F.col("rank").cast("long").alias("rank"), "term", "tf", "df"
    )


@register(
    "corpus_source_drift",
    oracle="""
        WITH tok AS (
            SELECT source AS grp,
                   lower(unnest(string_split_regex(trim(text), '\\s+'))) AS term
            FROM documents
        ),
        tg AS (
            SELECT grp, term, CAST(COUNT(*) AS BIGINT) AS c
            FROM tok GROUP BY 1, 2
        ),
        ta AS (SELECT term, CAST(SUM(c) AS BIGINT) AS ct FROM tg GROUP BY term),
        vocab AS (SELECT term, ct FROM ta ORDER BY ct DESC, term LIMIT 1000),
        tot AS (SELECT CAST(SUM(ct) AS DOUBLE) AS total FROM vocab),
        gt AS (
            SELECT grp, CAST(SUM(c) AS BIGINT) AS tg2
            FROM tg JOIN vocab USING (term) GROUP BY grp
        ),
        grid AS (
            SELECT g.grp, g.tg2, v.term, v.ct FROM gt g CROSS JOIN vocab v
        ),
        cells AS (
            SELECT grid.grp, grid.tg2, grid.ct, COALESCE(t.c, 0) AS c
            FROM grid LEFT JOIN tg t
              ON t.grp = grid.grp AND t.term = grid.term
        ),
        terms AS (
            SELECT grp, tg2,
                   CAST(floor(
                       (CAST(c AS DOUBLE) / CAST(tg2 AS DOUBLE)
                        - CAST(ct AS DOUBLE) / (SELECT total FROM tot))
                       * (CAST(c AS DOUBLE) / CAST(tg2 AS DOUBLE)
                          - CAST(ct AS DOUBLE) / (SELECT total FROM tot))
                       / (CAST(ct AS DOUBLE) / (SELECT total FROM tot))
                       * 1e12) AS BIGINT) AS qv
            FROM cells
        )
        SELECT grp AS source, MAX(tg2) AS n_tokens,
               CAST(SUM(qv) AS DOUBLE) / 1e12 AS chi2
        FROM terms GROUP BY grp
    """,
    survey_ids=("UD5", "A3", "F13"),
)
def corpus_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distribution drift over the corpus: chi-square
    divergence of each source's token distribution against the
    corpus-wide top-1000-vocab distribution
    (``operators.text.source_drift_chi2``) — the train-data drift
    monitor that flags a source whose content shifted.  Chi-square,
    not KL, so every step is rational IEEE arithmetic and the oracle
    replays it bit-for-bit (ln() final-ulp is engine-specific)."""
    docs = lake.load_table(spark, "documents", sf_dir)
    return text.source_drift_chi2(docs, "text", "source", vocab_k=1000)


@register(
    "corpus_vocabulary_topk",
    oracle="""
        WITH tok AS (
            SELECT lower(unnest(string_split_regex(trim(text), '\\s+'))) AS token
            FROM documents
        ), counted AS (
            SELECT token, COUNT(*) AS freq FROM tok GROUP BY token
        )
        SELECT token, freq,
               CAST(row_number() OVER (ORDER BY freq DESC, token) AS BIGINT) AS rank
        FROM counted
        ORDER BY freq DESC, token
        LIMIT 50
    """,
    survey_ids=("UD5", "A4", "O2"),
)
def corpus_vocabulary_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: global token frequencies, top-50 — the
    tokenizer-training precursor.  explode → hash-agg (map-side
    combinable) → TakeOrdered; at 100 TB the agg shuffles once on the
    token and the top-k never materializes the full vocabulary on one
    node."""
    from end_end_data_pipeline__spark.functions.arrays import explode_safe

    docs = lake.load_table(spark, "documents", sf_dir).select(
        "doc_id", text.tokens("text").alias("__toks")
    )
    tok = explode_safe(docs, [], F.col("__toks"), "t").select(
        F.lower(F.col("t")).alias("token")
    )
    counted = tok.groupBy("token").agg(F.count("*").alias("freq"))
    # top-k FIRST (TakeOrderedAndProject — per-partition heaps, never
    # the full vocabulary on one node), THEN rank the 50 survivors:
    # the rank over a k-row frame equals the global position because
    # (freq desc, token) is a total order.  Pre-r07 the row_number
    # window ranked the ENTIRE vocabulary in one task before the
    # limit — exactly the single-partition shape the docstring
    # claimed to avoid.
    top = counted.orderBy(F.col("freq").desc(), "token").limit(50)
    w = __import__("pyspark.sql.window", fromlist=["Window"]).Window.orderBy(
        F.col("freq").desc(), F.col("token")
    )
    return top.withColumn("rank", F.row_number().over(w).cast("long")).select(
        "token", "freq", "rank"
    )


@register(
    "corpus_stratified_sample",
    oracle="""
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM documents
        WHERE (lang = 'en' AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '80')
           OR (lang <> 'en' AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e7')
        GROUP BY lang
    """,
    survey_ids=("F9", "P5", "A1"),
)
def corpus_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified downsampling (rebalance an English-heavy corpus):
    keep ~50% of 'en' docs and ~90% of everything else.  The sampling
    predicate is a deterministic hash of the id — reproducible across
    engines and runs, trivially pushable, and exactly re-derivable for
    lineage (which rand()-based sampleBy is not).  The "hash" is an
    md5 hex prefix compared against a rate threshold (128/256 = 50%,
    231/256 ≈ 90%) because md5 is bit-identical in both engines,
    unlike xxhash64/hash."""
    docs = lake.load_table(spark, "documents", sf_dir)
    prefix = F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 2)
    keep = F.when(F.col("lang") == "en", prefix < "80").otherwise(prefix < "e7")
    return docs.filter(keep).groupBy("lang").agg(F.count("*").alias("n_docs"))


def _minhash_incr_oracle(num_hashes: int = 32, bands: int = 8, thr: float = 0.5) -> str:
    """DuckDB replica of ``dedup.minhash_lsh_pairs_incremental`` on the
    %5 corpus/batch split: signatures are per-document (identical
    whichever frame computes them), so the oracle builds one signature
    table and applies the batch/corpus constraint at the band join."""
    r = num_hashes // bands
    mins = _minhash_mins_sql(num_hashes)
    band_rows = "\n            UNION ALL ".join(
        "SELECT doc_id, {b} AS band, {key} AS bh FROM sig".format(
            b=b,
            key=" || '|' || ".join(
                f"CAST(h{b * r + i} AS VARCHAR)" for i in range(r)
            ),
        )
        for b in range(bands)
    )
    return f"""
        WITH {_SHINGLE_CTE},
        inv AS (SELECT doc_id, unnest(sh) AS s FROM ds),
        hh AS (
            SELECT doc_id,
                   ('0x' || substr(md5(s), 1, 8))::BIGINT AS ha,
                   ('0x' || substr(md5(s), 9, 8))::BIGINT AS hb
            FROM inv
        ),
        sig AS (
            SELECT doc_id,
                   {mins}
            FROM hh GROUP BY doc_id
        ),
        bands AS (
            {band_rows}
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_new, b.doc_id AS doc_old
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.bh = b.bh
             AND a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0
        )
        SELECT c.doc_new, c.doc_old,
               CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
                 / (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh)))
                 AS jaccard
        FROM cand c
        JOIN ds x ON x.doc_id = c.doc_new
        JOIN ds y ON y.doc_id = c.doc_old
        WHERE CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
                 / (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))) >= {thr}
    """


@register(
    "dedup_incremental_batch",
    oracle=_minhash_incr_oracle(),
    survey_ids=("UD6", "J9", "ST8"),
    bench=True,
)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL near-dedup — the shape a production ingest actually
    runs: today's batch (doc_id %5 == 0) is checked against the
    historical corpus (the rest) by an ASYMMETRIC banded-LSH join, so
    cost is O(batch × collisions), never corpus²; corpus signatures
    are computed once and reusable across batches
    (``dedup.minhash_lsh_pairs_incremental``).  md5 family → the full
    probabilistic pipeline is bit-replicated by the oracle.

    r13: corpus and batch are two filters of ONE table, so the shingle
    sets of the whole table are materialized once and the filtered
    halves passed in — one documents scan + tokenizer pass instead of
    two (guide §1.2 step 1; the r12 shape checkpointed each side
    separately, scanning the parquet text column twice)."""
    docs = lake.load_table(spark, "documents", sf_dir)
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    ds_all = dedup.doc_shingle_sets(docs, "text", "doc_id", n=3).localCheckpoint(
        eager=False
    )
    return dedup.minhash_lsh_pairs_incremental(
        corpus, batch, "text", "doc_id",
        n=3, num_hashes=32, bands=8,
        verify_threshold=0.5, hash_family="md5",
        corpus_shingles=ds_all.filter(F.col("doc") % 5 != 0),
        batch_shingles=ds_all.filter(F.col("doc") % 5 == 0),
    )


@register(
    "multimodal_augment_images",
    # augmented pixel (x,y) of the 8x6 center crop of the h-flipped
    # 16x12 source = source pixel (11-x, 3+y); the oracle restates the
    # channel sums in that closed form
    oracle="""
        WITH px AS (
            SELECT doc_id, x.x AS x, y.y AS y
            FROM (SELECT doc_id FROM documents) d,
                 (SELECT unnest(range(0, 8)) AS x) x,
                 (SELECT unnest(range(0, 6)) AS y) y
        )
        SELECT doc_id,
               CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'bmp'
                    ELSE 'ppm' END AS fmt,
               8 AS width, 6 AS height,
               CAST(SUM((doc_id * 7 + (11 - x) * 3 + (3 + y) * 5) % 256)
                    AS BIGINT) AS sum_r,
               CAST(SUM((doc_id * 11 + (11 - x) + 2 * (3 + y)) % 256)
                    AS BIGINT) AS sum_g,
               CAST(SUM((doc_id * 13 + 2 * (11 - x) + (3 + y)) % 256)
                    AS BIGINT) AS sum_b
        FROM px GROUP BY doc_id
    """,
    survey_ids=("UD8", "UD4", "F13"),
)
def multimodal_augment_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image AUGMENTATION on the real codec path: each fixture image
    (PNG/BMP/PPM round-robin) decodes, horizontally flips, center-crops
    to 8×6, re-encodes in its ORIGINAL container format, and the
    augmented payloads' channel stats hash-match the oracle's
    closed-form restatement of the moved pixels — proving the full
    decode→transform→encode→decode chain is pixel-exact.  Exact
    integer pixel moves only (no resampling), Arrow-batched
    ``mapInPandas`` end to end.  See
    :func:`operators.multimodal.augment_images`."""
    import pandas as pd

    docs = lake.load_table(spark, "documents", sf_dir).select("doc_id")

    def gen(it):
        encoders = (
            multimodal.encode_png, multimodal.encode_bmp, multimodal.encode_ppm
        )
        for pdf in it:
            payloads = [
                encoders[int(d) % 3](
                    16, 12, multimodal.render_test_image(int(d), 16, 12)
                )
                for d in pdf["doc_id"]
            ]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "media": payloads})

    # split by format BEFORE the mapInPandas barrier: a filter after
    # it cannot push through the Python node, so each branch would
    # re-render and re-encode the WHOLE corpus (3x the Python work)
    augmented = None
    for i, fmt in enumerate(("png", "bmp", "ppm")):
        part_docs = docs.filter(F.col("doc_id") % 3 == i)
        part_media = part_docs.mapInPandas(gen, "doc_id long, media binary")
        aug = multimodal.augment_images(
            part_media, "media", "doc_id", crop=(8, 6), flip=True,
            out_format=fmt,
        )
        augmented = aug if augmented is None else augmented.unionByName(aug)
    return multimodal.image_stats(augmented, "media", "doc_id")


@register(
    "corpus_weighted_sample_priority",
    oracle="""
        WITH pr AS (
            SELECT doc_id, CAST(n_chars AS BIGINT) AS weight,
                   CAST(n_chars AS DOUBLE) * 4294967296.0
                       / CAST((('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                                               1, 8))::BIGINT + 1) AS DOUBLE)
                       AS priority
            FROM documents
        ),
        ranked AS (
            SELECT doc_id, weight, priority,
                   row_number() OVER (ORDER BY priority DESC, doc_id)
                       AS sample_rank
            FROM pr
        )
        SELECT CAST(sample_rank AS INT) AS sample_rank, doc_id, weight,
               priority
        FROM ranked WHERE sample_rank <= 100
    """,
    survey_ids=("F9", "F4", "O2"),
)
def corpus_weighted_sample_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-proportional sample of 100 documents via PRIORITY
    sampling (Duffield-Lund-Thorup): each doc gets priority w/u with
    u a unit uniform DERIVED FROM ITS ID (md5 bucket, the same
    engine-stable recipe as ``corpus_train_val_split``), and the
    top-k priorities are the sample — the reproducible
    weight-by-length corpus subsampling step of a data-mixing
    pipeline.  Hash-derived (not rng-derived) randomness means the
    sample is a pure function of the ids: stable across runs,
    engines, and cluster layouts, and incremental corpus growth
    only ever displaces, never reshuffles.

    Plan: scan-level projection (md5 + one double division), then
    global top-k = TakeOrderedAndProject (per-partition k-heaps) —
    no sort, no shuffle beyond k rows per partition.
    """
    from pyspark.sql import Window

    docs = lake.load_table(spark, "documents", sf_dir)
    h = _md5_u32(F.col("doc_id"))
    priority = (
        F.col("n_chars").cast("double")
        * F.lit(4294967296.0)
        / (h + 1).cast("double")
    )
    pr = docs.select(
        "doc_id",
        F.col("n_chars").cast("bigint").alias("weight"),
        priority.alias("priority"),
    )
    w = Window.orderBy(F.col("priority").desc(), "doc_id")
    return (
        pr.withColumn("sample_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("sample_rank") <= 100)
        .select("sample_rank", "doc_id", "weight", "priority")
    )


@register(
    "text_bigram_lm_quality",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, {_TOKS} AS t FROM documents
            WHERE len({_TOKS}) >= 2
        ),
        pos AS (
            SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM toks
        ),
        bgs AS (
            SELECT doc_id, t[i] || ' ' || t[i + 1] AS bg FROM pos
        ),
        big AS (
            SELECT bg, CAST(COUNT(*) AS BIGINT) AS c_big FROM bgs GROUP BY bg
        ),
        hist AS (
            SELECT split_part(bg, ' ', 1) AS w1,
                   CAST(SUM(c_big) AS BIGINT) AS c_hist
            FROM big GROUP BY 1
        ),
        model AS (
            SELECT bg,
                   CAST((1000000 * c_big) // c_hist AS BIGINT) AS cond_scaled
            FROM big JOIN hist ON split_part(big.bg, ' ', 1) = hist.w1
        ),
        scored AS (
            SELECT doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_bigrams,
                   CAST(SUM(cond_scaled) AS BIGINT) AS lm_sum_scaled
            FROM bgs JOIN model USING (bg)
            GROUP BY doc_id
        )
        SELECT doc_id, n_bigrams, lm_sum_scaled,
               CAST(lm_sum_scaled // n_bigrams AS BIGINT)
                 AS avg_cond_prob_scaled
        FROM scored
        ORDER BY avg_cond_prob_scaled ASC, doc_id ASC
        LIMIT 25
    """,
    survey_ids=("UD5", "A2", "O2"),
    bench=True,
)
def text_bigram_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality filter: self-trained bigram LM over the
    corpus, each document scored by the fixed-point average conditional
    probability of its word transitions; returns the 25 LEAST
    predictable documents — the curation pipeline's "inspect or drop"
    list.  Log-free integer arithmetic end-to-end (see
    ``text.bigram_lm_scores``) so the DuckDB oracle replays the model
    bit-exactly; the final cut is a TakeOrderedAndProject, not a sort.
    """
    docs = lake.load_table(spark, "documents", sf_dir)
    scored = text.bigram_lm_scores(docs, "text", "doc_id")
    return (
        scored.orderBy(F.col("avg_cond_prob_scaled").asc(), F.col("doc_id").asc())
        .limit(25)
        .select("doc_id", "n_bigrams", "lm_sum_scaled", "avg_cond_prob_scaled")
    )


@register(
    "multimodal_phash_neardup",
    oracle="""
        WITH d AS (
            SELECT doc_id, doc_id // 3 AS grp, doc_id % 3 AS v FROM documents
        ),
        base AS (
            SELECT doc_id, v,
                   CASE WHEN v = 2 THEN grp + 1000003 ELSE grp END AS c
            FROM d
        ),
        px AS (
            SELECT doc_id, x.x AS x, y.y AS y,
              ((c*7 + c*x.x*19 + c*y.y*41
                + (c // 256)*x.x*13 + (c // 65536)*y.y*29
                + (c // 16777216)*x.x*y.y*31
                + x.x*x.x*37 + y.y*y.y*59
                + x.x*y.y*23) % 256
               + CASE WHEN v = 1 AND x.x = 4 AND y.y = 3
                      THEN 60 ELSE 0 END) % 256 AS g,
              ((c*7 + c*(x.x+1)*19 + c*y.y*41
                + (c // 256)*(x.x+1)*13 + (c // 65536)*y.y*29
                + (c // 16777216)*(x.x+1)*y.y*31
                + (x.x+1)*(x.x+1)*37
                + y.y*y.y*59 + (x.x+1)*y.y*23) % 256
               + CASE WHEN v = 1 AND x.x + 1 = 4 AND y.y = 3
                      THEN 60 ELSE 0 END) % 256 AS gn
            FROM base,
                 (SELECT unnest(range(0, 8)) AS x) x,
                 (SELECT unnest(range(0, 8)) AS y) y
        ),
        bits AS (
            SELECT doc_id, x, y, CASE WHEN gn > g THEN 1 ELSE 0 END AS bit
            FROM px
        ),
        bands AS (
            SELECT doc_id, y // 2 AS band,
                   CAST(SUM(bit << (x + 8 * (y % 2))) AS INTEGER) AS val
            FROM bits GROUP BY 1, 2
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.val = b.val AND a.doc_id < b.doc_id
        )
        SELECT c.doc_a, c.doc_b,
               CAST(SUM(bit_count(xor(x.val, y.val))) AS BIGINT) AS hamming
        FROM cand c
        JOIN bands x ON x.doc_id = c.doc_a
        JOIN bands y ON y.doc_id = c.doc_b AND y.band = x.band
        GROUP BY 1, 2 HAVING hamming <= 3
    """,
    survey_ids=("UD8", "UD6", "J9", "UD1"),
    bench=True,
)
def multimodal_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate IMAGE detection by perceptual hash — the
    multimodal twin of MinHash text dedup and a first-class LLM-data
    curation op: every doc renders a deterministic 9x8 test pattern
    (docs sharing ``doc_id DIV 3`` share content; variant 1 gets a
    one-pixel bump = planted near-dup; variant 2 a disjoint pattern),
    encodes through a REAL codec (PNG/BMP/PPM round-robin by variant),
    decodes back, and dHashes into four 16-bit bands.

    Scale shape: candidates come from the pigeonhole banding equi-join
    (Hamming <= 3 forces a shared band — recall 100% by construction,
    verified: all planted pairs surface), then exact Hamming via
    ``bit_count(xor)`` only on candidates.  Python touches only the
    codec+hash (Arrow-batched, ~300 B/image); banding, dedup, and
    verification are JVM joins.  The oracle replays pixels, hash, and
    bands in closed form, so any codec bug breaks the hash.

    Like the 256-bit twin (r09), the id scan is repartitioned to
    session parallelism before the codec stage: the documents fixture
    is one parquet split, so the Python pipeline otherwise runs
    single-threaded (and Catalyst reuses the post-shuffle exchange, so
    the codec work also runs ONCE instead of once per join side) —
    measured 2.2-3.0 s → 1.8-2.0 s at sf0.1 (the lighter 9x8 codec
    means the join/distinct dominates; the 256-bit twin gained 2.5x
    from the same change).

    verified-in-join (r08): each band row carries the FULL 64-bit
    hash, so the exact Hamming check runs INSIDE the band equi-join
    and false candidates die in the join filter.  The previous
    candidate-first shape (DISTINCT pairs, then TWO joins back to
    bands to sum per-band xors) materialized the candidate mass —
    harmless at 60k docs (~1 row per (band, val) bucket) but
    quadratic once the 2^16 band space saturates: at the 100x decade
    (6M docs, ~92 rows/bucket) it spilled ~N²/2^18 candidate pairs
    to disk until the box ran out.  A real pair collides on <= 4
    bands with the same hamming, so DISTINCT after the filter
    touches only true near-dups.  Fixture synthesis and the
    verified join are the SHARED definitions
    (:func:`operators.multimodal.phash_fixture_media` /
    :func:`operators.multimodal.banded_hamming_pairs`) — one source
    of truth for this query, its 256-bit twin, and the
    band-saturation study."""
    docs = (
        lake.load_table(spark, "documents", sf_dir)
        .select("doc_id")
        .repartition(session_parallelism(spark), "doc_id")
    )
    media = multimodal.phash_fixture_media(docs, "doc_id", 9, 8)
    bands = multimodal.dhash_bands(media, "media", "doc_id")
    return multimodal.banded_hamming_pairs(bands, "doc_id", ("h",))


@register(
    "multimodal_phash256_neardup",
    oracle="""
        WITH d AS (
            SELECT doc_id, doc_id // 3 AS grp, doc_id % 3 AS v FROM documents
        ),
        base AS (
            SELECT doc_id, v,
                   CASE WHEN v = 2 THEN grp + 1000003 ELSE grp END AS c
            FROM d
        ),
        px AS (
            SELECT doc_id, x.x AS x, y.y AS y,
              ((c*7 + c*x.x*19 + c*y.y*41
                + (c // 256)*x.x*13 + (c // 65536)*y.y*29
                + (c // 16777216)*x.x*y.y*31
                + x.x*x.x*37 + y.y*y.y*59
                + x.x*y.y*23) % 256
               + CASE WHEN v = 1 AND x.x = 4 AND y.y = 3
                      THEN 60 ELSE 0 END) % 256 AS g,
              ((c*7 + c*(x.x+1)*19 + c*y.y*41
                + (c // 256)*(x.x+1)*13 + (c // 65536)*y.y*29
                + (c // 16777216)*(x.x+1)*y.y*31
                + (x.x+1)*(x.x+1)*37
                + y.y*y.y*59 + (x.x+1)*y.y*23) % 256
               + CASE WHEN v = 1 AND x.x + 1 = 4 AND y.y = 3
                      THEN 60 ELSE 0 END) % 256 AS gn
            FROM base,
                 (SELECT unnest(range(0, 16)) AS x) x,
                 (SELECT unnest(range(0, 16)) AS y) y
        ),
        bits AS (
            SELECT doc_id, y // 4 AS band, x + 16 * (y % 4) AS pos,
                   CASE WHEN gn > g THEN 1 ELSE 0 END AS bit
            FROM px
        ),
        vals AS (
            -- 64-bit band word as a signed two's-complement BIGINT:
            -- positions 0..62 sum in range, position 63 contributes
            -- -2^63 (the arithmetic runs in HUGEINT, one final cast)
            SELECT doc_id, band,
                   CAST(SUM(CASE WHEN pos < 63
                                 THEN CAST(bit AS BIGINT) << pos
                                 ELSE 0 END)
                        - CAST(MAX(CASE WHEN pos = 63 THEN bit
                                        ELSE 0 END) AS HUGEINT)
                          * 9223372036854775808
                        AS BIGINT) AS val
            FROM bits GROUP BY 1, 2
        ),
        hv AS (
            SELECT doc_id,
                   MAX(CASE WHEN band = 0 THEN val END) AS h0,
                   MAX(CASE WHEN band = 1 THEN val END) AS h1,
                   MAX(CASE WHEN band = 2 THEN val END) AS h2,
                   MAX(CASE WHEN band = 3 THEN val END) AS h3
            FROM vals GROUP BY doc_id
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM vals a JOIN vals b
              ON a.band = b.band AND a.val = b.val AND a.doc_id < b.doc_id
        )
        SELECT doc_a, doc_b, hamming FROM (
            SELECT c.doc_a, c.doc_b,
                   CAST(bit_count(xor(x.h0, y.h0))
                        + bit_count(xor(x.h1, y.h1))
                        + bit_count(xor(x.h2, y.h2))
                        + bit_count(xor(x.h3, y.h3)) AS BIGINT) AS hamming
            FROM cand c
            JOIN hv x ON x.doc_id = c.doc_a
            JOIN hv y ON y.doc_id = c.doc_b
        ) WHERE hamming <= 3
    """,
    survey_ids=("UD8", "UD6", "J9", "UD1"),
    bench=True,
)
def multimodal_phash256_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """256-bit perceptual-hash near-dup — the 100 TB-scale band path
    that ``multimodal_phash_neardup``'s 64-bit dHash names as its
    successor (VERDICT r08 task 5): same render→real-codec
    encode→decode→hash→pigeonhole-band→verified-in-join pipeline, but
    at 17x16 geometry the hash is 256 bits in FOUR 64-bit bands, so
    the band-value space is 2^64 per band instead of 2^16 — the
    equi-join's collision mass stays ~linear in corpus size past the
    ~10^6-image cliff where the 64-bit plan's buckets saturate
    (measured side-by-side in BASELINE.md's "Round-9: 64-bit vs
    256-bit perceptual-hash band saturation" table).

    Identical contract otherwise: Hamming <= 3 across 256 bits forces
    >= 1 exact band match (recall 100% by construction); every band
    row carries all four hash words so exact Hamming
    (``Σ bit_count(xor)``) evaluates INSIDE the band equi-join and
    false candidates never materialize.  See
    :func:`operators.multimodal.dhash256_bands`.

    The id scan is repartitioned to the session's parallelism BEFORE
    the render/codec stage: the documents fixture is one parquet split,
    and without the (8-byte-rows, cheap) shuffle the whole Python codec
    pipeline runs single-threaded — measured 5.2 s → 2.0 s at sf0.1.
    The same holds on a real cluster whenever upstream produces fewer
    splits than cores; per-image CPU is the bottleneck, so CPU-count
    parallelism is the right width for this stage.

    Fixture synthesis and the verified join are the SHARED definitions
    (:func:`operators.multimodal.phash_fixture_media` /
    :func:`operators.multimodal.banded_hamming_pairs`) — one source of
    truth for this query, its 64-bit twin, and the band-saturation
    study."""
    docs = (
        lake.load_table(spark, "documents", sf_dir)
        .select("doc_id")
        .repartition(session_parallelism(spark), "doc_id")
    )
    media = multimodal.phash_fixture_media(docs, "doc_id", 17, 16)
    bands = multimodal.dhash256_bands(media, "media", "doc_id")
    return multimodal.banded_hamming_pairs(
        bands, "doc_id", ("h0", "h1", "h2", "h3")
    )


@register(
    "multimodal_audio_fingerprint_neardup",
    oracle="""
        WITH d AS (
            SELECT doc_id, doc_id // 3 AS grp, doc_id % 3 AS v FROM documents
        ),
        base AS (
            SELECT doc_id, v,
                   CASE WHEN v = 2 THEN grp + 1000003 ELSE grp END AS c
            FROM d
        ),
        s AS (
            SELECT doc_id, i.i // 32 AS f,
                   (c*37 + c*i.i*11 + (c // 32768)*i.i*17
                    + (c // 1048576)*i.i*i.i*19
                    + (c // 33554432)*i.i*23
                    + i.i*i.i*13) % 32768 AS abs_raw,
                   (c*13 + (c >> (3*((i.i//32) % 5)))*7
                    + (c >> (3*((i.i//32) // 5) + 15))*5
                    + (i.i//32)*(i.i//32)*3
                    + CASE WHEN v = 1 AND i.i//32 = 7 THEN 3 ELSE 0 END
                   ) % 8 AS amp
            FROM base, (SELECT unnest(range(0, 480)) AS i) i
        ),
        lv AS (
            SELECT doc_id, f AS pos,
                   CAST((SUM(abs((abs_raw * amp) // 8 - 16384)) // 32)
                        // 128 AS INT) AS level
            FROM s GROUP BY 1, 2
        ),
        bands AS (
            SELECT doc_id, pos // 3 AS band,
                   CAST(SUM(level << (8 * (pos % 3))) AS INT) AS val
            FROM lv GROUP BY 1, 2
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.val = b.val AND a.doc_id < b.doc_id
        )
        SELECT c.doc_a, c.doc_b,
               CAST(SUM(CASE WHEN x.level <> y.level THEN 1 ELSE 0 END)
                    AS BIGINT) AS hamming
        FROM cand c
        JOIN lv x ON x.doc_id = c.doc_a
        JOIN lv y ON y.doc_id = c.doc_b AND y.pos = x.pos
        GROUP BY 1, 2 HAVING hamming <= 4
    """,
    survey_ids=("UD8", "UD6", "J9", "UD1"),
)
def multimodal_audio_fingerprint_neardup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Near-duplicate AUDIO detection by quantized energy-envelope
    fingerprint — completing the cross-modality near-dup triad
    (text MinHash, image dHash, audio fingerprint): every doc renders
    a deterministic amplitude-modulated clip (docs sharing ``doc_id
    DIV 3`` share content; variant 1 bumps one envelope frame = the
    planted near-dup; variant 2 a disjoint clip), encodes through the
    REAL RIFF/WAVE codec, decodes back, and fingerprints as 15
    quantized frame-energy levels.

    Scale shape: candidates come from a pigeonhole banding equi-join
    over 5 bands of 3 levels (fingerprint Hamming ≤ 4 forces a shared
    untouched band — recall 100% by construction), then exact Hamming
    as a position equi-join counting differing levels — only on
    candidates, never all-pairs.  Python touches only codec +
    per-frame integer sums (Arrow-batched); banding, candidate dedup,
    and verification are JVM hash joins.  The oracle replays samples,
    levels, bands, and the verify join in closed form, so a codec bug
    anywhere breaks the hash.  Envelope fingerprints are coarse by
    design; entropy per band scales with the level alphabet, so
    ``quantum`` is the candidate-fan-out dial on low-dynamic-range
    corpora."""
    import pandas as pd

    docs = lake.load_table(spark, "documents", sf_dir).select("doc_id")

    def gen(it):
        for pdf in it:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                grp, v = d // 3, d % 3
                c = grp + 1000003 if v == 2 else grp
                payloads.append(
                    multimodal.encode_wav(
                        48000, multimodal.render_fingerprint_audio(c, v)
                    )
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "media": payloads})

    media = docs.mapInPandas(gen, "doc_id long, media binary")
    lv = multimodal.audio_energy_levels(media, "media", "doc_id", quantum=128)
    # verified-in-join (r08, same restructure as the image twin): the
    # full 15-level fingerprint rides each band row as an array, so
    # exact Hamming (count of differing levels) is a zip_with/aggregate
    # evaluated INSIDE the band equi-join — false candidates die in the
    # join filter instead of materializing through a DISTINCT plus two
    # verification joins back to the level table.
    fp = lv.groupBy("doc_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "level"))),
            lambda s: s["level"],
        ).alias("fp")
    )
    bands = fp.select(
        "doc_id",
        "fp",
        F.explode(F.sequence(F.lit(0), F.lit(4))).alias("band"),
    ).withColumn(
        "val",
        F.element_at("fp", F.col("band") * 3 + 1)
        + F.shiftleft(F.element_at("fp", F.col("band") * 3 + 2), 8)
        + F.shiftleft(F.element_at("fp", F.col("band") * 3 + 3), 16),
    )
    a, b = bands.alias("a"), bands.alias("b")
    hamming = F.aggregate(
        F.zip_with(
            F.col("a.fp"), F.col("b.fp"),
            lambda u, v: F.when(u == v, 0).otherwise(1),
        ),
        F.lit(0),
        lambda acc, d: acc + d,
    )
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (hamming <= 4),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.cast("long").alias("hamming"),
        )
        .distinct()
    )


@register(
    "corpus_per_source_sample",
    oracle="""
        WITH pr AS (
            SELECT doc_id, source, CAST(n_chars AS BIGINT) AS weight,
                   CAST(n_chars AS DOUBLE) * 4294967296.0
                       / CAST((('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                                               1, 8))::BIGINT + 1) AS DOUBLE)
                       AS priority
            FROM documents
        ),
        ranked AS (
            SELECT source, doc_id, weight, priority,
                   row_number() OVER (PARTITION BY source
                                      ORDER BY priority DESC, doc_id)
                       AS stratum_rank
            FROM pr
        )
        SELECT source, CAST(stratum_rank AS INT) AS stratum_rank, doc_id,
               weight, priority
        FROM ranked WHERE stratum_rank <= 5
    """,
    survey_ids=("F9", "F4", "O3", "A3"),
)
def corpus_per_source_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-STRATUM weighted sampling — the data-mixing primitive (N
    docs per source, weighted by length): the same hash-derived A-ES
    priority as the global ``corpus_weighted_sample_priority`` (pure
    function of doc_id — stable across runs, engines, and cluster
    layouts), but ranked WITHIN each source via a partitioned window,
    so every stratum keeps its own top-5.  Per-group top-k over a
    partitioned window shuffles once on the stratum key and heaps
    within partitions — no global sort; at 100 TB the stratum count,
    not the corpus size, bounds the result."""
    from pyspark.sql import Window

    docs = lake.load_table(spark, "documents", sf_dir)
    h = _md5_u32(F.col("doc_id"))
    pr = docs.select(
        "doc_id",
        "source",
        F.col("n_chars").cast("bigint").alias("weight"),
        (
            F.col("n_chars").cast("double")
            * F.lit(4294967296.0)
            / (h + 1).cast("double")
        ).alias("priority"),
    )
    w = Window.partitionBy("source").orderBy(F.col("priority").desc(), "doc_id")
    return (
        pr.withColumn("stratum_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("stratum_rank") <= 5)
        .select("source", "stratum_rank", "doc_id", "weight", "priority")
    )


# ---------------------------------------------------------------------------
# PMI collocations (log-free rational PMI ranking)
# ---------------------------------------------------------------------------

@register(
    "text_pmi_collocations",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, {_TOKS} AS t FROM documents
            WHERE len({_TOKS}) >= 2
        ),
        pos AS (
            SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM toks
        ),
        bgs AS (
            SELECT t[i] || ' ' || t[i + 1] AS bg FROM pos
        ),
        big AS (
            SELECT bg, CAST(COUNT(*) AS BIGINT) AS c_xy FROM bgs GROUP BY bg
        ),
        lm AS (
            SELECT split_part(bg, ' ', 1) AS w1,
                   CAST(SUM(c_xy) AS BIGINT) AS c_left
            FROM big GROUP BY 1
        ),
        rm AS (
            SELECT split_part(bg, ' ', 2) AS w2,
                   CAST(SUM(c_xy) AS BIGINT) AS c_right
            FROM big GROUP BY 1
        ),
        tot AS (SELECT CAST(SUM(c_xy) AS BIGINT) AS w FROM big)
        SELECT b.bg, b.c_xy, lm.c_left, rm.c_right,
               CAST(CAST(b.c_xy AS HUGEINT) * t.w * 1000000
                    // (CAST(lm.c_left AS HUGEINT) * rm.c_right)
                    AS BIGINT) AS pmi_scaled
        FROM big b
        JOIN lm ON split_part(b.bg, ' ', 1) = lm.w1
        JOIN rm ON split_part(b.bg, ' ', 2) = rm.w2
        CROSS JOIN tot t
        WHERE b.c_xy >= 5
        ORDER BY pmi_scaled DESC, b.bg ASC
        LIMIT 30
    """,
    survey_ids=("UD5", "A2", "O2"),
)
def text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-30 collocations (sticky word pairs) by pointwise mutual
    information over the corpus bigrams — the phrase-mining primitive
    behind tokenizer vocabulary curation and stop-phrase detection.

    Log-free determinism: PMI's log(P(xy)/(P(x)P(y))) is monotone in
    its rational argument, so the ranking key is the exact fixed-point
    lift ``floor(10⁶ · c_xy · W / (c_left · c_right))`` with the
    bigram total W and the directional margins (c_left = count of
    bigrams starting with w1, c_right = ending with w2) — pure 128-bit
    integer arithmetic on both engines, no transcendentals in any
    compared value.  Support floor c_xy ≥ 5 kills the PMI
    rare-pair pathology.

    Scale shape: explode to bigrams once; three map-side-combinable
    hash aggs (bigram counts, then the two margins DERIVED from the
    bigram table — never a second corpus pass); W is a 1-row broadcast;
    the final cut is a TakeOrderedAndProject.  The margin joins key on
    uniform-ish vocabulary strings, skew-bounded by the support floor."""
    docs = lake.load_table(spark, "documents", sf_dir)
    bg = docs.select(F.explode(text.word_bigrams("text")).alias("bg"))
    big = bg.groupBy("bg").agg(F.count(F.lit(1)).cast("long").alias("c_xy"))
    lm = big.groupBy(
        F.substring_index("bg", " ", 1).alias("w1")
    ).agg(F.sum("c_xy").cast("long").alias("c_left"))
    rm = big.groupBy(
        F.substring_index("bg", " ", -1).alias("w2")
    ).agg(F.sum("c_xy").cast("long").alias("c_right"))
    tot = big.agg(F.sum("c_xy").cast("long").alias("w")).withColumn(
        "k", F.lit(1)
    )
    return (
        big.filter(F.col("c_xy") >= 5)
        .join(lm, F.substring_index(F.col("bg"), " ", 1) == F.col("w1"))
        .join(rm, F.substring_index(F.col("bg"), " ", -1) == F.col("w2"))
        .withColumn("k", F.lit(1))
        .join(F.broadcast(tot), "k")
        .select(
            "bg",
            "c_xy",
            "c_left",
            "c_right",
            F.expr(
                "CAST(CAST(c_xy AS DECIMAL(38,0)) * w * 1000000"
                " DIV (CAST(c_left AS DECIMAL(38,0)) * c_right) AS BIGINT)"
            ).alias("pmi_scaled"),
        )
        .orderBy(F.col("pmi_scaled").desc(), F.col("bg").asc())
        .limit(30)
    )


# ---------------------------------------------------------------------------
# Reciprocal-rank fusion of two retrieval rankings
# ---------------------------------------------------------------------------

def _rrf_oracle(term_a: str, term_b: str, k: int = 60, top: int = 100) -> str:
    def ranked(term: str) -> str:
        return f"""
            SELECT doc_id,
                   row_number() OVER (
                       ORDER BY len(list_filter({_TOKS}, x -> x = '{term}'))
                                DESC, doc_id) AS rnk
            FROM documents
            WHERE len(list_filter({_TOKS}, x -> x = '{term}')) > 0
            QUALIFY rnk <= {top}
        """

    return f"""
        WITH ra AS ({ranked(term_a)}),
        rb AS ({ranked(term_b)})
        SELECT COALESCE(ra.doc_id, rb.doc_id) AS doc_id,
               ra.rnk AS rank_a, rb.rnk AS rank_b,
               COALESCE(1000000000 // ({k} + ra.rnk), 0)
                 + COALESCE(1000000000 // ({k} + rb.rnk), 0) AS rrf_score
        FROM ra FULL OUTER JOIN rb ON ra.doc_id = rb.doc_id
        ORDER BY rrf_score DESC, doc_id ASC
        LIMIT 20
    """


@register(
    "search_reciprocal_rank_fusion",
    oracle=_rrf_oracle("spark", "table"),
    survey_ids=("UD5", "W2", "J4", "O2"),
)
def search_reciprocal_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of two retrieval rankings (term-frequency
    rankers for 'spark' and 'table') — the standard zero-tuning hybrid-
    search combiner (BM25 ⊕ dense retrieval in production; two exact
    tf rankers here so the oracle replays bit-for-bit).  Each ranker
    contributes floor(10⁹ / (60 + rank)); documents missing from one
    list contribute 0 from it — the fusion is a FULL OUTER join of the
    two top-100 lists.

    Determinism: rankings order by (tf DESC, doc_id) — unique tie-
    break; RRF weights are integer floor divisions; the final cut
    orders by (score DESC, doc_id).  No floats anywhere.

    Scale shape: per ranker one scan + one top-k window (a global
    row_number over rows that match the term — at 100 TB make it a
    TakeOrderedAndProject by ranking only the tf-top candidates);
    the fusion join touches ≤ top-k rows per side."""
    from pyspark.sql import Window

    docs = lake.load_table(spark, "documents", sf_dir)

    def ranked(term: str, alias: str) -> DataFrame:
        tf = F.size(
            F.filter(text.tokens("text"), lambda x: x == F.lit(term))
        )
        w = Window.orderBy(F.col("tf").desc(), F.col("doc_id"))
        return (
            docs.select("doc_id", tf.alias("tf"))
            .filter(F.col("tf") > 0)
            .select("doc_id", F.row_number().over(w).alias(alias))
            .filter(F.col(alias) <= 100)
        )

    ra = ranked("spark", "rank_a")
    rb = ranked("table", "rank_b")
    fused = ra.join(rb, "doc_id", "full_outer").select(
        "doc_id",
        F.col("rank_a").cast("long").alias("rank_a"),
        F.col("rank_b").cast("long").alias("rank_b"),
        (
            F.coalesce(
                F.expr("1000000000 DIV (60 + rank_a)"), F.lit(0)
            )
            + F.coalesce(
                F.expr("1000000000 DIV (60 + rank_b)"), F.lit(0)
            )
        )
        .cast("long")
        .alias("rrf_score"),
    )
    return fused.orderBy(
        F.col("rrf_score").desc(), F.col("doc_id").asc()
    ).limit(20)


# ---------------------------------------------------------------------------
# KMV bottom-k sketch: pairwise source Jaccard + union-cardinality estimate
# ---------------------------------------------------------------------------

_KMV_K = 128


@register(
    "sketch_kmv_jaccard",
    oracle=f"""
        WITH toks AS (
            SELECT source, {_TOKS} AS t FROM documents
        ),
        sh AS (
            SELECT DISTINCT source,
                   unnest(list_distinct(list_transform(
                       range(1, greatest(len(t) - 2, 0) + 1),
                       i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                   ))) AS s
            FROM toks
        ),
        hashed AS (
            SELECT source, s,
                   ('0x' || substr(md5(s), 1, 8))::BIGINT AS h
            FROM sh
        ),
        kept AS (
            SELECT source, s, h
            FROM (
                SELECT source, s, h,
                       row_number() OVER (
                           PARTITION BY source ORDER BY h, s) AS rn
                FROM hashed
            ) WHERE rn <= {_KMV_K}
        ),
        srcs AS (SELECT DISTINCT source FROM documents),
        pairs AS (
            SELECT a.source AS src_a, b.source AS src_b
            FROM srcs a JOIN srcs b ON a.source < b.source
        ),
        u AS (
            SELECT p.src_a, p.src_b, k.s, k.h, 1 AS in_a, 0 AS in_b
            FROM pairs p JOIN kept k ON k.source = p.src_a
            UNION ALL
            SELECT p.src_a, p.src_b, k.s, k.h, 0 AS in_a, 1 AS in_b
            FROM pairs p JOIN kept k ON k.source = p.src_b
        ),
        g AS (
            SELECT src_a, src_b, s, h,
                   MAX(in_a) AS in_a, MAX(in_b) AS in_b
            FROM u GROUP BY src_a, src_b, s, h
        ),
        k2 AS (
            SELECT src_a, src_b, h, in_a, in_b
            FROM (
                SELECT *, row_number() OVER (
                           PARTITION BY src_a, src_b ORDER BY h, s) AS rn
                FROM g
            ) WHERE rn <= {_KMV_K}
        )
        SELECT src_a, src_b,
               CAST(COUNT(*) AS BIGINT) AS k_used,
               CAST(SUM(in_a * in_b) AS BIGINT) AS matches,
               CAST(SUM(in_a * in_b) * 1000000 // COUNT(*) AS BIGINT)
                 AS jaccard_ppm,
               CAST(CASE WHEN COUNT(*) = {_KMV_K}
                         THEN ({_KMV_K} - 1) * 4294967296 // MAX(h)
                         ELSE COUNT(*) END AS BIGINT) AS est_union_distinct
        FROM k2
        GROUP BY src_a, src_b
        ORDER BY src_a, src_b
    """,
    survey_ids=("A4", "J9", "UD6"),
)
def sketch_kmv_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-vs-source content overlap from KMV (k-minimum-
    values) bottom-k sketches over word 3-shingles — the mergeable
    sketch that answers "which ingest feeds duplicate each other" with
    one tiny signature per source instead of a full shingle join.
    For each source pair: merge the two bottom-128 sets, re-take the
    bottom 128 of the union, report the match fraction (the KMV
    Jaccard estimator) and the union-cardinality estimate
    (k−1)·2³²/h₍ₖ₎.

    Determinism: the sketch "random" order is the md5-u32 of the
    shingle (engine-stable, the repo-wide uniform), ties broken by the
    shingle string; the estimator is integer floor division — the
    whole result is hash-exact, because the approximation lives in the
    SKETCH definition, not in any engine-varying arithmetic.

    Scale shape: one scan → distinct (source, shingle) hash agg →
    per-source top-k window (map-side combinable min-heap shape; k
    rows per source survive).  Pair fan-out joins SKETCHES only
    (≤ k rows per source, 190 pairs here) — never raw shingles; at
    1000 sources that is still < 10⁵ sketch rows against
    ``pairs``, a broadcast."""
    from pyspark.sql import Window

    docs = lake.load_table(spark, "documents", sf_dir)
    toked = docs.select("source", text.tokens("text").alias("t"))
    sh = toked.select(
        "source", F.explode(dedup.shingles("t", 3)).alias("s")
    ).distinct()
    hashed = sh.select("source", "s", _md5_u32(F.col("s")).alias("h"))
    wk = Window.partitionBy("source").orderBy("h", "s")
    kept = (
        hashed.select("source", "s", "h", F.row_number().over(wk).alias("rn"))
        .filter(F.col("rn") <= _KMV_K)
        .drop("rn")
    )
    srcs = docs.select("source").distinct()
    a = srcs.select(F.col("source").alias("src_a"))
    b = srcs.select(F.col("source").alias("src_b"))
    pairs = a.join(b, F.col("src_a") < F.col("src_b"))
    u = (
        pairs.join(
            kept.select(
                F.col("source").alias("src_a"),
                "s",
                "h",
                F.lit(1).alias("in_a"),
                F.lit(0).alias("in_b"),
            ),
            "src_a",
        )
    ).unionByName(
        pairs.join(
            kept.select(
                F.col("source").alias("src_b"),
                "s",
                "h",
                F.lit(0).alias("in_a"),
                F.lit(1).alias("in_b"),
            ),
            "src_b",
        )
    )
    g = u.groupBy("src_a", "src_b", "s", "h").agg(
        F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b")
    )
    w2 = Window.partitionBy("src_a", "src_b").orderBy("h", "s")
    k2 = (
        g.select(
            "src_a",
            "src_b",
            "h",
            "in_a",
            "in_b",
            F.row_number().over(w2).alias("rn"),
        )
        .filter(F.col("rn") <= _KMV_K)
    )
    return (
        k2.groupBy("src_a", "src_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("k_used"),
            F.sum(F.col("in_a") * F.col("in_b")).cast("long").alias("matches"),
            F.expr(
                "CAST(SUM(in_a * in_b) * 1000000 DIV COUNT(*) AS BIGINT)"
            ).alias("jaccard_ppm"),
            F.expr(
                f"CAST(CASE WHEN COUNT(*) = {_KMV_K}"
                f" THEN ({_KMV_K} - 1) * 4294967296 DIV MAX(h)"
                f" ELSE COUNT(*) END AS BIGINT)"
            ).alias("est_union_distinct"),
        )
        .orderBy("src_a", "src_b")
    )


# ---------------------------------------------------------------------------
# Heaps-law vocabulary growth curve (how much new vocab more data buys)
# ---------------------------------------------------------------------------

@register(
    "corpus_vocab_growth_curve",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, {_TOKS} AS t FROM documents
        ),
        sh AS (
            SELECT doc_id,
                   unnest(list_distinct(list_transform(
                       range(1, greatest(len(t) - 2, 0) + 1),
                       i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                   ))) AS s
            FROM toks
        ),
        firsts AS (
            SELECT s, CAST(MIN(doc_id) AS BIGINT) AS first_doc FROM sh
            GROUP BY s
        ),
        n AS (SELECT CAST(MAX(doc_id) + 1 AS BIGINT) AS n_docs
              FROM documents),
        grid AS (SELECT unnest(range(1, 11)) AS decile)
        SELECT g.decile,
               CAST(g.decile * n.n_docs // 10 AS BIGINT) AS n_docs_prefix,
               CAST(SUM(CASE WHEN f.first_doc < g.decile * n.n_docs // 10
                             THEN 1 ELSE 0 END) AS BIGINT) AS vocab_size
        FROM firsts f CROSS JOIN grid g CROSS JOIN n
        GROUP BY g.decile, n.n_docs
        ORDER BY g.decile
    """,
    survey_ids=("UD5", "A4", "A6"),
)
def corpus_vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary growth curve over word 3-shingles: the
    distinct-vocabulary size of every 10%-of-corpus prefix (by
    doc_id) — the data-scaling diagnostic that answers "does more
    data still buy new content, or are we re-crawling the same
    text?"  A flattening curve is the saturation signal that gates
    further ingest spend.

    The trick that makes it ONE pass instead of ten: the prefix-p
    vocabulary is exactly the set of shingles whose FIRST occurrence
    (min doc_id) falls inside the prefix, so a single min-agg per
    shingle plus a 10-row threshold grid replaces ten distinct-counts
    over growing prefixes.

    Scale shape: explode-distinct per doc, one map-side-combinable
    min hash-agg to (shingle, first_doc) — the only corpus-sized
    state — then a broadcast 10-row grid join and a 10-group agg.
    The grid join is the bounded crossJoin degenerate case (10 ×
    vocab), same bound class as the drift grid."""
    docs = lake.load_table(spark, "documents", sf_dir)
    toked = docs.select("doc_id", text.tokens("text").alias("t"))
    sh = toked.select(
        "doc_id", F.explode(dedup.shingles("t", 3)).alias("s")
    )
    firsts = sh.groupBy("s").agg(
        F.min("doc_id").cast("long").alias("first_doc")
    )
    n_docs = docs.agg(
        (F.max("doc_id") + 1).cast("long").alias("n_docs")
    ).withColumn("k", F.lit(1))
    grid = (
        docs.sparkSession.range(1, 11)
        .select(F.col("id").cast("long").alias("decile"))
        .withColumn("k", F.lit(1))
    )
    thresholds = F.broadcast(
        grid.join(n_docs, "k").select(
            "decile",
            F.expr("CAST(decile * n_docs DIV 10 AS BIGINT)").alias(
                "n_docs_prefix"
            ),
        )
    ).withColumn("k", F.lit(1))
    return (
        firsts.withColumn("k", F.lit(1))
        .join(thresholds, "k")
        .groupBy("decile", "n_docs_prefix")
        .agg(
            F.sum(
                F.when(F.col("first_doc") < F.col("n_docs_prefix"), 1)
                .otherwise(0)
            )
            .cast("long")
            .alias("vocab_size")
        )
        .orderBy("decile")
    )


# ---------------------------------------------------------------------------
# k-anonymity audit (governance: quasi-identifier re-identification risk)
# ---------------------------------------------------------------------------

@register(
    "privacy_k_anonymity_audit",
    oracle="""
        WITH qi AS (
            SELECT c.c_custkey,
                   n.n_name AS nation,
                   c.c_mktsegment AS segment,
                   CAST(CAST(c.c_acctbal AS DECIMAL(13,2)) * 100 AS BIGINT)
                     // 100000 AS balance_band
            FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        ),
        cells AS (
            SELECT nation, segment, balance_band,
                   CAST(COUNT(*) AS BIGINT) AS cell_size
            FROM qi GROUP BY nation, segment, balance_band
        )
        SELECT nation, segment, balance_band, cell_size
        FROM cells
        WHERE cell_size < 5
        ORDER BY nation, segment, balance_band
    """,
    survey_ids=("P7", "A3", "F7"),
)
def privacy_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit of the customer table under the quasi-
    identifier (nation, segment, $1000 balance band): every
    equivalence cell smaller than k=5 is a re-identification risk —
    the rows a privacy-preserving release must suppress or
    generalize.  The governance complement to
    ``governance_masked_customers``: masking hides direct
    identifiers; THIS finds the indirect ones.

    Exact integers: the balance band is floor cents/100000 (exact
    DECIMAL→BIGINT, no float bucketing), so cell membership is
    bit-identical cross-engine.

    Scale shape: one equi-join + one map-side-combinable hash agg on
    the QI tuple, then a size filter — the audit costs one groupBy at
    any SF."""
    cust = lake.load_table(spark, "customer", sf_dir)
    nat = lake.load_table(spark, "nation", sf_dir)
    qi = cust.join(nat, cust["c_nationkey"] == nat["n_nationkey"]).select(
        F.col("n_name").alias("nation"),
        F.col("c_mktsegment").alias("segment"),
        F.expr(
            "CAST(CAST(CAST(c_acctbal AS DECIMAL(13,2)) * 100 AS BIGINT)"
            " DIV 100000 AS BIGINT)"
        ).alias("balance_band"),
    )
    return (
        qi.groupBy("nation", "segment", "balance_band")
        .agg(F.count(F.lit(1)).cast("long").alias("cell_size"))
        .filter(F.col("cell_size") < 5)
        .orderBy("nation", "segment", "balance_band")
    )


# ---------------------------------------------------------------------------
# RAKE keyphrase extraction (degree/frequency scores, stopword islands)
# ---------------------------------------------------------------------------

_RAKE_STOPS = "', '".join(w.lower() for w in text.LANG_STOPWORDS["en"])


@register(
    "text_rake_keyphrases",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, unnest(t) AS w,
                   unnest(range(1, len(t) + 1)) AS pos
            FROM (SELECT doc_id, {_TOKS} AS t FROM documents)
        ),
        nonstop AS (
            SELECT doc_id, w, pos,
                   pos - row_number() OVER (PARTITION BY doc_id
                                            ORDER BY pos) AS island
            FROM toks WHERE lower(w) NOT IN ('{_RAKE_STOPS}')
        ),
        phrases AS (
            SELECT doc_id, island,
                   list_aggregate(list(w ORDER BY pos), 'string_agg', ' ')
                     AS phrase,
                   CAST(COUNT(*) AS BIGINT) AS plen
            FROM nonstop GROUP BY doc_id, island
            HAVING COUNT(*) <= 3
        ),
        words AS (
            SELECT n.w, p.plen
            FROM nonstop n JOIN phrases p
              ON n.doc_id = p.doc_id AND n.island = p.island
        ),
        wstats AS (
            SELECT w,
                   CAST(COUNT(*) AS BIGINT) AS freq,
                   CAST(SUM(plen) AS BIGINT) AS degree
            FROM words GROUP BY w
        ),
        wscore AS (
            SELECT w, CAST(degree * 1000000 // freq AS BIGINT) AS score
            FROM wstats
        ),
        pscore AS (
            SELECT p.phrase,
                   CAST(SUM(s.score) AS BIGINT) AS phrase_score
            FROM phrases p
            JOIN nonstop n ON n.doc_id = p.doc_id AND n.island = p.island
            JOIN wscore s ON n.w = s.w
            GROUP BY p.doc_id, p.island, p.phrase
        )
        SELECT phrase,
               CAST(COUNT(*) AS BIGINT) AS n_occurrences,
               CAST(MAX(phrase_score) AS BIGINT) AS rake_score
        FROM pscore
        GROUP BY phrase
        ORDER BY rake_score DESC, phrase ASC
        LIMIT 25
    """,
    survey_ids=("UD5", "W2", "A3"),
)
def text_rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction: candidate phrases are the maximal
    stopword-free token runs (capped at 3 words), each word scored by
    degree/frequency over the candidate corpus, each phrase by the
    sum of its word scores — the classic unsupervised keyword miner,
    complementing tf-idf (which favors rare single terms) with
    multi-word phrases.  Top 25 phrases with occurrence counts.

    The phrase segmentation is the gaps-and-islands pattern applied
    to text: non-stopword positions minus their per-document rank is
    constant exactly within a run, so ONE window turns tokens into
    phrase ids — no regex surgery on reconstructed strings (which
    breaks on adjacent stopwords).  Scores are fixed-point floors
    (degree·10⁶/freq summed per phrase) — deterministic cross-engine;
    identical phrases always tie at the same score (word scores are
    corpus-global), so MAX per phrase text is exact, not a choice.

    Scale shape: posexplode → one per-doc window → three hash aggs
    (phrases, word stats, phrase scores) + a word-score join keyed on
    the bounded vocabulary.  The per-doc window partitions by doc —
    embarrassingly parallel."""
    from pyspark.sql import Window

    docs = lake.load_table(spark, "documents", sf_dir)
    sw = [w.lower() for w in text.LANG_STOPWORDS["en"]]
    toks = docs.select(
        "doc_id", F.posexplode(text.tokens("text")).alias("pos0", "w")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "w")
    wd = Window.partitionBy("doc_id").orderBy("pos")
    nonstop = toks.filter(~F.lower("w").isin(sw)).select(
        "doc_id",
        "w",
        "pos",
        (F.col("pos") - F.row_number().over(wd)).alias("island"),
    )
    phrases = (
        nonstop.groupBy("doc_id", "island")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "w"))
                    ),
                    lambda s: s["w"],
                ),
                " ",
            ).alias("phrase"),
            F.count(F.lit(1)).cast("long").alias("plen"),
        )
        .filter(F.col("plen") <= 3)
    )
    words = nonstop.join(phrases, ["doc_id", "island"]).select("w", "plen")
    wscore = (
        words.groupBy("w")
        .agg(
            F.count(F.lit(1)).cast("long").alias("freq"),
            F.sum("plen").cast("long").alias("degree"),
        )
        .select("w", F.expr("CAST(degree * 1000000 DIV freq AS BIGINT)").alias("score"))
    )
    pscore = (
        nonstop.join(phrases, ["doc_id", "island"])
        .join(wscore, "w")
        .groupBy("doc_id", "island", "phrase")
        .agg(F.sum("score").cast("long").alias("phrase_score"))
    )
    return (
        pscore.groupBy("phrase")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
            F.max("phrase_score").cast("long").alias("rake_score"),
        )
        .orderBy(F.col("rake_score").desc(), F.col("phrase").asc())
        .limit(25)
    )


# ---------------------------------------------------------------------------
# Video shot-boundary detection (real Y4M decode + frame differencing)
# ---------------------------------------------------------------------------

_SHOT_W, _SHOT_H, _SHOT_FRAMES = 8, 6, 8
_SHOT_THRESH_PER_PX = 16


@register(
    "multimodal_video_shot_boundaries",
    oracle=f"""
        WITH px AS (
            SELECT doc_id, f.fi AS fi, x.x AS x, y.y AS y,
                   doc_id % 5 + 2 AS cut
            FROM (SELECT doc_id FROM documents) d,
                 (SELECT unnest(range(0, {_SHOT_FRAMES - 1})) AS fi) f,
                 (SELECT unnest(range(0, {_SHOT_W})) AS x) x,
                 (SELECT unnest(range(0, {_SHOT_H})) AS y) y
        ),
        sad AS (
            SELECT doc_id, fi,
                   CAST(SUM(abs(
                       (doc_id * 7
                        + CASE WHEN fi + 1 >= cut THEN 97 ELSE 0 END
                        + x * 3 + y * 5 + fi + 1) % 256
                       - (doc_id * 7
                          + CASE WHEN fi >= cut THEN 97 ELSE 0 END
                          + x * 3 + y * 5 + fi) % 256
                   )) AS BIGINT) AS sad_y
            FROM px GROUP BY doc_id, fi
        )
        SELECT doc_id, CAST(fi + 1 AS INT) AS frame_idx, sad_y,
               sad_y > {_SHOT_THRESH_PER_PX * _SHOT_W * _SHOT_H}
                 AS is_boundary
        FROM sad
        ORDER BY doc_id, frame_idx
    """,
    survey_ids=("UD8", "UD1", "J3"),
)
def multimodal_video_shot_boundaries(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Shot-boundary detection on REAL decoded video: each doc renders
    an 8-frame C444 clip with a deterministic scene cut (luma jumps by
    a constant at frame ``doc_id % 5 + 2``, plus a 1-step per-frame
    drift so non-boundaries aren't trivially zero), encodes it into a
    real YUV4MPEG2 container, decodes it back with the PRODUCTION
    ``sample_frames(decoder='video')`` path, and computes the Y-plane
    sum-of-absolute-differences between consecutive decoded frames —
    flagging transitions whose SAD exceeds 16/pixel.  The
    scene-segmentation primitive of a video-training-data pipeline
    (sample one keyframe per shot, not per clip), exercising codec,
    frame pairing, and differencing end-to-end; the oracle recomputes
    every pixel of both frames from the generative closed form, so
    any decode/pairing bug breaks the hash.

    Scale shape: encode + decode + SAD all ride ``mapInPandas`` Arrow
    batches (no shuffle until the final pairing join on (doc,
    frame_idx) — a narrow key); per-batch memory is bounded by
    ``maxRecordsPerBatch × clip``.  Real codecs for compressed formats
    stay honestly stubbed (no ffmpeg in the container)."""
    import pandas as pd

    docs = lake.load_table(spark, "documents", sf_dir).select("doc_id")
    w, h, nf = _SHOT_W, _SHOT_H, _SHOT_FRAMES

    def render(doc: int, fi: int) -> bytes:
        cut = doc % 5 + 2
        s = 97 if fi >= cut else 0
        n = w * h
        buf = bytearray(n * 3)
        for y in range(h):
            for x in range(w):
                i = y * w + x
                buf[i] = (doc * 7 + s + x * 3 + y * 5 + fi) % 256
                buf[n + i] = (doc * 11 + s + x + 2 * y + fi) % 256
                buf[2 * n + i] = (doc * 13 + s + 2 * x + y + fi) % 256
        return bytes(buf)

    def gen(it):
        for pdf in it:
            payloads = [
                multimodal.encode_y4m(
                    w, h, [render(int(doc), i) for i in range(nf)]
                )
                for doc in pdf["doc_id"]
            ]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "media": payloads})

    media = docs.mapInPandas(gen, "doc_id long, media binary")
    frames = multimodal.sample_frames(
        media, "media", "doc_id", n_frames=nf, decoder="video"
    )
    a = frames.select(
        "doc_id",
        F.col("frame_idx").alias("fi"),
        F.col("frame").alias("frame_a"),
    )
    b = frames.select(
        "doc_id",
        (F.col("frame_idx") - 1).alias("fi"),
        F.col("frame").alias("frame_b"),
    )
    paired = a.join(b, ["doc_id", "fi"])

    def sad(it):
        n = w * h
        for pdf in it:
            rows = []
            for doc, fi, fa, fb in zip(
                pdf["doc_id"], pdf["fi"], pdf["frame_a"], pdf["frame_b"]
            ):
                ya, yb = bytes(fa)[:n], bytes(fb)[:n]
                rows.append(
                    (doc, fi + 1, sum(abs(p - q) for p, q in zip(yb, ya)))
                )
            yield pd.DataFrame(
                rows, columns=["doc_id", "frame_idx", "sad_y"]
            )

    out = paired.mapInPandas(sad, "doc_id long, frame_idx int, sad_y long")
    return out.select(
        "doc_id",
        "frame_idx",
        "sad_y",
        (F.col("sad_y") > _SHOT_THRESH_PER_PX * w * h).alias("is_boundary"),
    ).orderBy("doc_id", "frame_idx")

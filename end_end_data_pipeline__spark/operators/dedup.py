"""Deduplication operators (SURVEY.md UD6 / north star): exact,
n-gram Jaccard, MinHash+LSH, SimHash, embedding-cosine near-dup.

Scale design: every variant avoids the O(n²) cross join —

- exact: one hash-agg on the fingerprint;
- n-gram Jaccard: inverted-index self-join on shingles (pairs are
  generated only for documents sharing ≥1 shingle), then exact
  verification arithmetic;
- MinHash LSH: signatures via k independent hash mins (pure
  ``xxhash64`` aggregation — no UDF), banded so candidate pairs come
  from equi-joins on (band, band-hash); collisions verified exactly;
- SimHash: 64-bit signature from per-bit token votes, candidates from
  16-bit chunk equality (pigeonhole for hamming ≤ 3), verified by
  ``bit_count(xor)``;
- embedding near-dup: cosine threshold over LSH/bucketed candidates
  (see ``operators.similarity``).

Shuffle-key skew: MinHash band hashes and SimHash chunk values are
uniformly distributed by construction (hashes).  Raw shingles are NOT
(natural-language n-grams are Zipfian): the exact n-gram self-join
emits Σ df² rows over the index, which stays small while the max
shingle df does — at most 77 on every corpus this repo runs.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from end_end_data_pipeline__spark.functions.arrays import explode_safe
from end_end_data_pipeline__spark.operators.text import fingerprint, tokens

_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep the lowest-id representative per normalized-text fingerprint."""
    return (
        df.withColumn("__fp", fingerprint(text_col))
        .groupBy("__fp")
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("n_copies"))
        .withColumnRenamed("__fp", "fingerprint")
    )


def shingles(tokens_col: str, n: int = 3) -> Column:
    """Distinct word n-grams (space-joined) over a **materialized** token
    array column, named by ``tokens_col``; empty array for documents
    shorter than ``n`` tokens.

    The argument is a plain column name, not the ``tokens(...)``
    expression inline: the lambda indexes the array with ``element_at``
    at every position, and Catalyst re-evaluates an inlined split per
    reference (higher-order lambdas run interpreted, outside codegen's
    common-subexpression elimination) — measured 13× slower inlined.
    Anything but a plain identifier (a ``Column``, a dotted or
    backticked name) raises ``ValueError``.

    r13: the expression is ONE ``F.expr`` parse (the py4j Column build
    with its nested lambda cost ~0.2 s of driver wall per call)."""
    if not isinstance(tokens_col, str) or not _IDENT.fullmatch(tokens_col):
        raise ValueError(
            f"shingles needs a plain column name, got {tokens_col!r}"
        )
    c = f"`{tokens_col}`"
    parts = ", ".join(f"element_at({c}, CAST(i + {j} AS INT))" for j in range(n))
    return F.expr(
        f"array_distinct(transform(CASE WHEN size({c}) >= {n}"
        f" THEN sequence(1, size({c}) - {n - 1})"
        f" ELSE CAST(array() AS array<int>) END,"
        f" i -> concat_ws(' ', {parts})))"
    )


def _doc_shingles(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """(doc, sh) with sh the distinct shingle set — two chained selects,
    NO intervening filter: a filter here would be pushed through the
    token projection, letting CollapseProject re-inline the split into
    every ``element_at`` (the 13× cliff again).  Short docs carry an
    empty array and vanish at the explode."""
    return df.select(F.col(id_col).alias("doc"), tokens(text_col).alias("__toks")).select(
        "doc", shingles("__toks", n).alias("sh")
    )


def doc_shingle_sets(
    df: DataFrame, text_col: str, id_col: str, n: int = 3
) -> DataFrame:
    """Public (doc, sh) shingle-set frame — the sharable tokenize+
    shingle pass.  Callers that feed several dedup operators from one
    source table materialize THIS once (``localCheckpoint``) and pass
    slices of it via the operators' ``*_shingles`` parameters, so the
    source is scanned and tokenized a single time (guide §1.2 step 1)."""
    return _doc_shingles(df, text_col, id_col, n)


def _verify_exact_jaccard(
    candidates: DataFrame, doc_shingle_sets: DataFrame, threshold: float
) -> DataFrame:
    """Exact Jaccard over full shingle sets for candidate (doc_a, doc_b)
    pairs — the shared verification tail of the LSH paths.
    Joins key on doc ids (uniform), cost ∝ candidates, never n²."""
    ds = doc_shingle_sets
    return (
        candidates.join(
            ds.withColumnRenamed("doc", "doc_a").withColumnRenamed("sh", "sh_a"), "doc_a"
        )
        .join(ds.withColumnRenamed("doc", "doc_b").withColumnRenamed("sh", "sh_b"), "doc_b")
        .withColumn("common", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.col("common") / (F.size("sh_a") + F.size("sh_b") - F.col("common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact Jaccard similarity over word n-gram sets for every pair
    sharing ≥ 1 shingle (inverted-index join — never a cross join).

    Output: (doc_a, doc_b, jaccard) with doc_a < doc_b, jaccard ≥ threshold.
    """
    # the (doc, sh) ARRAYS are read twice (the exploded index and the
    # set sizes) — materialize them once so the tokenizer runs once, not
    # once per consumer (the dry plan scans the source 4× without it),
    # and set sizes come from ``size(sh)`` with no per-doc groupBy
    ds = _doc_shingles(df, text_col, id_col, n).localCheckpoint(eager=False)
    inv = explode_safe(ds, ["doc"], F.col("sh"), "shingle")
    a, b = inv.alias("a"), inv.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count("*").alias("common"))
    )
    sizes = ds.select("doc", F.size("sh").alias("n_sh"))
    jac = F.col("common") / (F.col("na") + F.col("nb") - F.col("common"))
    return (
        common.join(
            sizes.select(F.col("doc").alias("doc_a"), F.col("n_sh").alias("na")), "doc_a"
        )
        .join(
            sizes.select(F.col("doc").alias("doc_b"), F.col("n_sh").alias("nb")), "doc_b"
        )
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def minhash_md5_constants(num_hashes: int) -> list[tuple[int, int]]:
    """Per-function (P_i, Q_i) XOR masks for the md5 hash family —
    Python-md5-derived (stable across interpreter versions, unlike
    ``random``), shared VERBATIM by the Spark plan and the DuckDB
    oracle so both engines evaluate identical literals.

    Each is a 32-bit mask; hash_i(shingle) =
    ``((ha XOR P_i) << 31) + ((hb XOR Q_i) >> 1)`` over the two 32-bit
    digest slices — a per-i NONLINEAR scramble.  A linear family
    (Kirsch–Mitzenmacher ``h1 + i·h2``, or affine ``A·ha + C·hb + B``)
    is the wrong tool for minhash: the argmin of any linear functional
    over the doc's (ha, hb) point set lies on its lower convex hull,
    so a handful of hull shingles own every signature position and
    documents sharing one collide on whole bands (measured 61×/30×
    candidate excess for the two linear families).  XOR translation
    re-ranks the point set per i with no geometric structure; measured
    candidates match the xxhash64 family exactly (256 for 249 true
    pairs at sf0.1 — BASELINE.md, r07 band-retune follow-up under
    "Headline set at derived sf1").

    Overflow: ``(2^32−1)·2^31 + (2^31−1) = 2^63 − 1`` — the maximum
    value EXACTLY fills signed 64-bit in both engines, never over.
    """
    import hashlib

    def _h(tag: str) -> int:
        return int(hashlib.md5(tag.encode()).hexdigest()[:8], 16)

    return [(_h(f"P{i}"), _h(f"Q{i}")) for i in range(num_hashes)]


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    num_hashes: int = 32,
    hash_family: str = "xxhash64",
    doc_shingles: DataFrame | None = None,
) -> DataFrame:
    """MinHash signature per document: sig[i] = min over shingles of
    hash_i(shingle).  One explode + one hash-agg with ``num_hashes``
    min() columns — map-side combinable, no UDF.

    ``hash_family``: 'xxhash64' (JVM-intrinsic longs — the scale
    default) or 'md5' (two 32-bit longs sliced from ONE md5 digest per
    shingle — hex digits 1-8 and 9-16 — expanded to ``num_hashes``
    functions by per-i XOR scrambles
    ``((ha XOR P_i) << 31) + ((hb XOR Q_i) >> 1)`` with md5-derived
    literal masks (:func:`minhash_md5_constants`) — exact integer
    arithmetic that is bit-identical in DuckDB, so the operator's
    output is oracle-checkable across engines at the cost of a single
    md5 call per shingle).

    r07 NOTE — why not Kirsch–Mitzenmacher: the original md5 family
    used K-M double hashing ``h1 + i·h2``, which is sound for Bloom
    filters but WRONG for minhash — min-wise use needs ~independent
    permutations, and under ANY linear family the argmin lives on the
    (ha, hb) lower convex hull, shared across i (for K-M, large i is
    always the min-``h2`` shingle); documents sharing one hull
    shingle agreed on whole bands.  Measured at sf0.1: 15,190 LSH
    candidates (K-M) / 7,890 (affine trial) for 249 true pairs vs 256
    with the XOR family — the candidate excess collapsed 61× → ~1×
    (BASELINE.md, r07 band-retune follow-up).

    ``doc_shingles`` (r12): pass a precomputed/materialized (doc, sh)
    frame to share the tokenize+shingle pass with another consumer
    (the LSH paths verify candidates against the same sets — without
    this the corpus is tokenized twice per query)."""
    ds = (
        doc_shingles
        if doc_shingles is not None
        else _doc_shingles(df, text_col, id_col, n)
    )
    inv = explode_safe(ds, ["doc"], F.col("sh"), "shingle")
    if hash_family == "md5":
        if num_hashes > 128:
            raise ValueError("md5 family caps num_hashes at 128")
        digest = F.md5(F.col("shingle").cast("binary"))
        h32 = lambda start: F.conv(  # noqa: E731
            F.substring(digest, start, 8), 16, 10
        ).cast("long")
        # Generate barrier: evaluate the md5 ONCE per index row —
        # inlined it would re-run inside all num_hashes min() exprs
        inv = explode_safe(
            inv,
            ["doc"],
            F.array(F.struct(h32(1).alias("ha"), h32(9).alias("hb"))),
            "hh",
        ).select("doc", F.col("hh.ha").alias("ha"), F.col("hh.hb").alias("hb"))
        # r13: each min built as ONE F.expr parse — the Column form cost
        # ~11 py4j round trips per hash function (~0.9 s of driver wall
        # for 32 of them, measured); the SQL lowers to the identical
        # shiftleft/xor/shiftright long arithmetic.
        mins = [
            F.expr(f"min(shiftleft(ha ^ {p}, 31) + shiftright(hb ^ {q}, 1))")
            .alias(f"h{i}")
            for i, (p, q) in enumerate(minhash_md5_constants(num_hashes))
        ]
    elif hash_family == "xxhash64":
        mins = [
            F.expr(f"min(xxhash64(shingle, {i}))").alias(f"h{i}")
            for i in range(num_hashes)
        ]
    else:
        raise ValueError(f"unknown hash_family {hash_family!r}")
    return inv.groupBy("doc").agg(*mins)


def _banded(sig: DataFrame, num_hashes: int, bands: int, hash_family: str) -> DataFrame:
    """(doc, band, bh) band-key rows from a signature frame — the LSH
    bucketing shared by the self-join and incremental paths.  md5
    family uses '|'-joined raw signature slices (DuckDB-replicable);
    xxhash64 compresses the slice to one long.

    ``bands`` must divide ``num_hashes`` with rows-per-band >= 1:
    ``bands > num_hashes`` would give every document an IDENTICAL
    empty band key (an all-pairs candidate join — the exact blow-up
    LSH exists to avoid), and a non-divisible ``bands`` would silently
    ignore the trailing hashes, changing the advertised S-curve."""
    r, rem = divmod(num_hashes, bands)
    if r < 1 or rem:
        raise ValueError(
            f"_banded: bands={bands} must divide num_hashes={num_hashes} "
            "with at least 1 row per band"
        )
    # r13: F.expr strings (one parse per column) instead of per-column
    # py4j Column trees — same concat_ws/xxhash64 band keys.
    if hash_family == "md5":
        band_cols = [
            F.expr(
                "concat_ws('|', "
                + ", ".join(f"h{b * r + i}" for i in range(r))
                + f") AS band{b}"
            )
            for b in range(bands)
        ]
    else:
        band_cols = [
            F.expr(
                "xxhash64("
                + ", ".join(f"h{b * r + i}" for i in range(r))
                + f") AS band{b}"
            )
            for b in range(bands)
        ]
    banded = sig.select("doc", *band_cols)
    structs = ", ".join(
        f"named_struct('band', {b}, 'bh', band{b})" for b in range(bands)
    )
    return banded.select(
        "doc", F.expr(f"explode(array({structs}))").alias("x")
    ).select("doc", "x.band", "x.bh")


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    verify_threshold: float = 0.5,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Banded-LSH candidate generation + exact Jaccard verification.

    ``bands`` bands of r = num_hashes/bands rows; documents agreeing on
    any full band collide.  P(collide) = 1 − (1 − j^r)^bands — with
    32/8 the S-curve crosses 50% near j ≈ 0.55.  Candidates are then
    verified with exact shingle Jaccard, so output precision is exact;
    only recall is probabilistic (LSH guarantee).

    ``hash_family='md5'`` keeps every hash DuckDB-replicable (see
    :func:`minhash_signatures`); the band key is then the
    ``'|'``-joined signature slice instead of an xxhash64 of it.

    Output: (doc_a, doc_b, jaccard ≥ verify_threshold).
    """
    # tokenize+shingle ONCE (r12, guide §1.2 step 1): the same (doc, sh)
    # sets feed both the signature explode and the exact-verify tail;
    # the lazy checkpoint materializes them at first use so the second
    # consumer reads rows instead of re-running the tokenizer over the
    # corpus.
    ds = _doc_shingles(df, text_col, id_col, n).localCheckpoint(eager=False)
    sig = minhash_signatures(
        df, text_col, id_col, n, num_hashes, hash_family, doc_shingles=ds
    )
    unpivot = _banded(sig, num_hashes, bands, hash_family)
    a, b_ = unpivot.alias("a"), unpivot.alias("b")
    candidates = (
        a.join(
            b_,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .distinct()
    )
    # exact verification of candidates only — against the SAME
    # materialized shingle sets the signatures were built from
    return _verify_exact_jaccard(candidates, ds, verify_threshold)


def simhash_bits(hash_family: str) -> int:
    """Signature width per hash family: 64 for xxhash64; 60 for md5
    (15 hex digits — keeps the value positive in SIGNED 64-bit longs
    so shifts and chunk masks behave identically in Spark and DuckDB)."""
    return {"xxhash64": 64, "md5": 60}[hash_family]


def simhash(
    df: DataFrame, text_col: str, id_col: str, hash_family: str = "xxhash64"
) -> DataFrame:
    """SimHash per document: each token votes ±1 on every bit of its
    hash; signature bit = sign of the vote sum.

    Pure columnar form: explode tokens → per-bit conditional-sum
    aggregates → recombine bits.  (doc, simhash long).

    ``hash_family='md5'`` derives a 60-bit token hash from the first 15
    hex digits of ``md5(token)`` — reproducible in DuckDB (the oracle
    path), vs. the JVM-intrinsic 64-bit xxhash64 scale default."""
    n_bits = simhash_bits(hash_family)
    tok = explode_safe(
        df.select(F.col(id_col).alias("doc"), tokens(text_col).alias("__toks")),
        ["doc"],
        F.col("__toks"),
        "t",
    )
    if hash_family == "md5":
        # Generate barrier: evaluate md5+conv ONCE per token — inlined,
        # CollapseProject would re-evaluate it inside all 60 vote exprs
        tok = explode_safe(
            tok,
            ["doc"],
            F.array(
                F.conv(
                    F.substring(F.md5(F.col("t").cast("binary")), 1, 15), 16, 10
                ).cast("long")
            ),
            "h",
        )
    else:
        tok = tok.withColumn("h", F.xxhash64("t"))
    # r13: F.expr strings — the Column form built ~n_bits × 12 py4j
    # calls per query (~1.5 s at 60 bits); identical vote / recombine
    # arithmetic.
    votes = [
        F.expr(
            f"sum(CASE WHEN (shiftright(h, {i}) & 1) = 1 THEN 1 ELSE -1 END)"
            f" AS b{i}"
        )
        for i in range(n_bits)
    ]
    agg = tok.groupBy("doc").agg(*votes)
    terms = " ^ ".join(
        f"shiftleft(CASE WHEN b{i} > 0 THEN 1L ELSE 0L END, {i})"
        for i in range(n_bits)
    )
    return agg.select("doc", F.expr(terms).alias("simhash"))


def simhash_chunk_candidates(
    sig: DataFrame, n_chunks: int, chunk_width: int, n_bits: int = 64
) -> DataFrame:
    """Candidate (doc_a, doc_b, sig_a, sig_b) pairs agreeing on ≥ 1 of
    ``n_chunks`` disjoint ``chunk_width``-bit chunks of the signature.

    ``n_bits`` is the actual signature width (``simhash_bits(family)``)
    — chunkings are validated against IT, not a hard-coded 64: under
    the 60-bit md5 family a 4×16 chunking would put 4 permanently-zero
    bits into the top chunk, silently halving that chunk's selectivity
    16× while looking valid.

    Bucket-size bound: with ~uniform signatures each (chunk, value)
    bucket holds ~n/2^chunk_width documents, so expected candidates are
    ~n² · n_chunks / 2^chunk_width — pick ``chunk_width`` ≥
    log2(n_docs) + slack to keep the join near-linear at corpus scale
    (w=16 is fine to ~10⁶ docs; beyond that widen the chunks, e.g.
    max_hamming=1 → 2×32-bit, or pre-shard the corpus)."""
    if not (1 <= chunk_width <= 63 and n_chunks >= 1):
        raise ValueError(f"bad chunking {n_chunks}x{chunk_width}")
    if n_chunks * chunk_width > n_bits:
        raise ValueError(
            f"{n_chunks}x{chunk_width}-bit chunks exceed the {n_bits}-bit "
            "signature: the overhanging bits are always zero, so their "
            "chunk would bucket on dead selectivity"
        )
    mask = (1 << chunk_width) - 1
    chunks = sig.select(
        "doc",
        "simhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(c).alias("chunk"),
                    F.shiftright(F.col("simhash"), c * chunk_width)
                    .bitwiseAND(F.lit(mask))
                    .alias("cv"),
                )
                for c in range(n_chunks)
            ])
        ).alias("x"),
    ).select("doc", "simhash", "x.chunk", "x.cv")
    a, b = chunks.alias("a"), chunks.alias("b")
    return (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.cv") == F.col("b.cv"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.col("a.simhash").alias("sig_a"),
            F.col("b.simhash").alias("sig_b"),
        )
        .distinct()
    )


def simhash_neardup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    n_chunks: int | None = None,
    chunk_width: int | None = None,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) ≤ max_hamming.

    Candidates via the pigeonhole principle: with ``n_chunks`` disjoint
    chunks and ≤ max_hamming differing bits, the differing bits can
    touch at most max_hamming chunks, so any qualifying pair agrees on
    ≥ 1 chunk whenever ``n_chunks ≥ max_hamming + 1`` — an equi-join
    per chunk finds all of them without a cross join, then exact
    ``bit_count(xor)`` verification filters false positives.

    Defaults: ``n_chunks = max_hamming + 1`` (the widest — and
    therefore lowest-collision — chunking that still guarantees
    recall) with ``chunk_width = 64 // n_chunks``; see
    :func:`simhash_chunk_candidates` for the n/2^width bucket bound."""
    k = n_chunks if n_chunks is not None else max_hamming + 1
    if k < max_hamming + 1:
        raise ValueError(
            f"n_chunks={k} cannot guarantee recall at max_hamming={max_hamming}"
            f" (needs ≥ {max_hamming + 1})"
        )
    n_bits = simhash_bits(hash_family)
    # k=1 (exact-dup mode) caps the chunk at 63 bits: Spark longs are
    # signed, so a full 64-bit mask is inexpressible — hamming-0 pairs
    # still agree on bits 0..62, and verification handles bit 63.
    w = chunk_width if chunk_width is not None else min(n_bits // k, 63)
    sig = simhash(df, text_col, id_col, hash_family)
    cand = simhash_chunk_candidates(sig, k, w, n_bits=n_bits)
    ham = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        cand.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def minhash_lsh_pairs_incremental(
    corpus: DataFrame,
    batch: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    verify_threshold: float = 0.5,
    hash_family: str = "xxhash64",
    corpus_sig: DataFrame | None = None,
    corpus_shingles: DataFrame | None = None,
    batch_shingles: DataFrame | None = None,
) -> DataFrame:
    """INCREMENTAL near-dedup: a new ingest batch checked against the
    historical corpus — the production shape (daily ingest vs index)
    where the corpus's signatures are computed ONCE and reused
    (pass ``corpus_sig``; the corpus is then only touched for the
    exact-verify of actual candidates).  Asymmetric band join: batch
    bands probe corpus bands, so cost is O(batch × collisions), never
    corpus².  Doc ids must be disjoint across the two frames.

    ``corpus_shingles`` / ``batch_shingles`` (r13): precomputed
    (doc, sh) set frames (:func:`doc_shingle_sets`).  When corpus and
    batch are two filters of ONE source table, materializing the
    shingle sets of the whole table once and passing the filtered
    halves here means the source is scanned/tokenized a single time
    instead of once per side (guide §1.2 step 1).

    Output: (doc_new, doc_old, jaccard ≥ verify_threshold) — every
    batch document with a near-duplicate already in the corpus.
    """
    # tokenize+shingle each side ONCE (r12): corpus sets feed the corpus
    # signatures (when not precomputed) AND the verify tail; batch sets
    # likewise — lazy checkpoints share the tokenizer pass.
    ds_c = (
        corpus_shingles
        if corpus_shingles is not None
        else _doc_shingles(corpus, text_col, id_col, n).localCheckpoint(eager=False)
    )
    ds_b = (
        batch_shingles
        if batch_shingles is not None
        else _doc_shingles(batch, text_col, id_col, n).localCheckpoint(eager=False)
    )
    sig_c = (
        corpus_sig
        if corpus_sig is not None
        else minhash_signatures(
            corpus, text_col, id_col, n, num_hashes, hash_family,
            doc_shingles=ds_c,
        )
    )
    sig_b = minhash_signatures(
        batch, text_col, id_col, n, num_hashes, hash_family, doc_shingles=ds_b
    )
    bands_c = _banded(sig_c, num_hashes, bands, hash_family)
    bands_b = _banded(sig_b, num_hashes, bands, hash_family)
    candidates = (
        bands_b.alias("a")
        .join(
            bands_c.alias("b"),
            (F.col("a.band") == F.col("b.band")) & (F.col("a.bh") == F.col("b.bh")),
        )
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .distinct()
    )
    shingles_both = ds_b.unionByName(ds_c)
    return _verify_exact_jaccard(
        candidates, shingles_both, verify_threshold
    ).select(
        F.col("doc_a").alias("doc_new"),
        F.col("doc_b").alias("doc_old"),
        "jaccard",
    )


def deletion_variants(text: Column, max_dist: int) -> Column:
    """Array of every string obtainable from ``text`` by deleting up to
    ``max_dist`` characters (the SymSpell / FastSS "deletion
    neighborhood"), including the string itself, de-duplicated.

    Built entirely from JVM array/string expressions — no UDF.  The
    neighborhood size is C(len,0)+C(len,1)[+C(len,2)] = O(len^max_dist),
    which is why :func:`deletion_neighborhood_pairs` is a SHORT-string
    operator (names, titles, URLs, SKUs) and enforces a length cap.
    Only ``max_dist`` in {1, 2} is supported — beyond 2 the
    neighborhood explodes cubically and MinHash is the right tool.
    """
    if max_dist not in (1, 2):
        raise ValueError("deletion_variants supports max_dist 1 or 2")
    n = F.length(text)
    idx = F.sequence(F.lit(1), n)  # empty array when the string is empty

    def _del1(i: Column) -> Column:
        return F.concat(text.substr(F.lit(1), i - F.lit(1)), text.substr(i + F.lit(1), n))

    out = F.concat(F.array(text), F.transform(idx, _del1))
    if max_dist == 2:
        # (i, j) with i < j, generated directly (no len² filter pass).
        ij = F.flatten(
            F.transform(
                idx,
                lambda i: F.transform(
                    F.sequence(i + F.lit(1), n),
                    lambda j: F.struct(i.alias("i"), j.alias("j")),
                ),
            )
        )

        def _del2(p: Column) -> Column:
            i, j = p["i"], p["j"]
            return F.concat(
                text.substr(F.lit(1), i - F.lit(1)),
                text.substr(i + F.lit(1), j - i - F.lit(1)),
                text.substr(j + F.lit(1), n),
            )

        # sequence(i+1, n) counts DOWN when i = n, so guard the empty tail.
        out = F.concat(out, F.transform(F.filter(ij, lambda p: p["i"] < p["j"]), _del2))
    return F.array_distinct(out)


def deletion_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_dist: int = 1,
    max_len: int = 64,
) -> DataFrame:
    """EXACT edit-distance similarity self-join: every pair of rows with
    ``levenshtein(a, b) <= max_dist``, found without an all-pairs cross
    join and without the recall loss of key blocking.

    Technique (SymSpell/FastSS): if ed(a, b) ≤ k then deleting at most
    k characters from each side yields a common string, so the deletion
    neighborhoods intersect.  Candidates therefore come from ONE
    equi-join on exploded deletion variants — a necessary condition —
    and are then verified with the built-in ``levenshtein`` (collisions
    can overestimate: "ab"/"ba" share variants at ed 2), so recall is
    total and precision exact.  Contrast with
    :func:`operators.relational.blocked_fuzzy_best_match`, whose
    blocking key trades recall for cost; here the cost is paid as the
    O(len^k) neighborhood instead, which a ``max_len`` guard keeps
    honest (``assert_true`` fails the job rather than silently
    truncating — long-document near-dup belongs to MinHash, not this).

    Scale shape: explode is map-side (rows × neighborhood); the only
    shuffle is the variant equi-join.  Variant keys are near-unique on
    real short-string corpora, so fan-out per key is the true
    near-dup-class size, not a blocking-bucket size squared; run
    :func:`exact_dedup` first so identical strings contribute one
    representative each.  Output: (a_id, b_id, dist) with a_id < b_id,
    each pair once.
    """
    guarded = F.when(
        F.length(F.col(text_col)) <= F.lit(max_len), F.col(text_col)
    ).otherwise(
        F.raise_error(
            F.lit(
                f"deletion_neighborhood_pairs: {text_col} longer than "
                f"{max_len} chars; pre-filter or use minhash_lsh_pairs"
            )
        ).cast("string")
    )
    # NULL text is dropped like every other text operator does — without
    # this filter the guard's NULL condition falls through to the
    # raise_error branch and kills the job with a misleading
    # "longer than max_len" message
    df = df.filter(F.col(text_col).isNotNull())
    va = df.select(
        F.col(id_col).alias("vid"),
        guarded.alias("vtext"),
    ).select(
        "vid",
        "vtext",
        F.explode(deletion_variants(F.col("vtext"), max_dist)).alias("variant"),
    )
    cand = (
        va.alias("a")
        .join(va.alias("b"), "variant")
        .filter(F.col("a.vid") < F.col("b.vid"))
        .select(
            F.col("a.vid").alias("a_id"),
            F.col("a.vtext").alias("a_text"),
            F.col("b.vid").alias("b_id"),
            F.col("b.vtext").alias("b_text"),
        )
    )
    # Dedup AFTER the verify filter: a candidate pair appears once per
    # shared variant (measured ~1.02× on the customer fixture), so
    # re-running the cheap levenshtein on the few duplicates is far
    # cheaper than shuffling the full candidate set through a
    # pre-verify distinct (the candidate:result ratio is ~20:1 there —
    # moving the distinct below the filter shrinks that shuffle by the
    # same factor).  (a_id, b_id) determines dist, so the result is
    # identical.
    return (
        cand.withColumn("dist", F.levenshtein("a_text", "b_text"))
        .filter(F.col("dist") <= F.lit(max_dist))
        .select("a_id", "b_id", "dist")
        .distinct()
    )

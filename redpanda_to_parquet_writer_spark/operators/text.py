"""Text-analysis operators for training-data pipelines.

Beyond the reference's surface (which has no text ops), these are the
standard large-corpus curation primitives: tokenization, quality/stopword
scoring, language-ID heuristics, n-gram shingling, MinHash-LSH and SimHash
near-dup detection, document fingerprinting.

Design rules:
  - Everything is built-in `pyspark.sql.functions` expressions — no
    Python UDFs anywhere in this module, so the whole pipeline stays in
    whole-stage codegen and scales linearly with executors.
  - Hashes use md5 hex strings (engine-portable, deterministic) where
    results must be reproducible outside Spark; xxhash64 where only
    within-job grouping is needed.
  - Shingling/minhash are per-row array ops (narrow, no shuffle); only
    the candidate-pair join shuffles, keyed on band buckets whose
    cardinality grows with the corpus — exactly what you want at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from redpanda_to_parquet_writer_spark.functions.ratio import exact_ratio

#: default English-ish stopword markers present in the synthetic corpus
STOPWORDS = ("the", "a")

#: language marker tokens for the n-gram/stopword language-ID heuristic
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and"),
    "de": ("der", "die", "und", "das"),
    "fr": ("le", "la", "et", "les"),
    "es": ("el", "la", "y", "los"),
    "zh": (),  # no-latin-marker fallback
}


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization -> array<string>."""
    col = F.col(text) if isinstance(text, str) else text
    return F.split(F.trim(col), r"\s+")


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


def with_ngrams(df: DataFrame, text_col: str, n: int, out: str = "ngrams") -> DataFrame:
    """Word n-gram shingles from whitespace tokens, space-joined.

    Pure array expression (transform over an index sequence) — no UDF,
    no explode until the caller wants one.
    """
    joined = ", ".join(f"__toks[i + {i}]" for i in range(n))
    # guard: sequence(0, negative) would DESCEND in Spark, so short docs
    # (< n tokens) must yield an empty shingle set explicitly
    gram_expr = F.expr(
        f"CASE WHEN size(__toks) >= {n} "
        f"THEN transform(sequence(0, size(__toks) - {n}), i -> concat_ws(' ', {joined})) "
        f"ELSE array() END"
    )
    return (
        df.withColumn("__toks", tokens(text_col))
        .withColumn(out, gram_expr)
        .drop("__toks")
    )


def exploded_ngrams(
    df: DataFrame, text_col: str, id_col: str, n: int, out: str = "__g"
) -> DataFrame:
    """(id, gram) rows — the exploded twin of `with_ngrams(...)` +
    `explode`, for consumers that want raw POSITIONS, not the per-doc
    array (r17, guide §1.2-2/§4.1: `transform(sequence(...), i -> ...)`
    is a higher-order function Spark never whole-stage-codegens — the
    per-position lambda evaluates interpreted. Exploding the position
    sequence through a codegen'd Generate and building each gram with a
    plain `concat_ws` measured 0.19s vs 0.42s for the HOF array build
    on the sf0.1 corpus). Same rows as the array path, pinned by
    test_cc_and_redaction.py::test_exploded_ngrams_matches_array_path:
    docs shorter than n tokens vanish (empty position sequence), gram
    text is the identical space-join. Consumers that need per-doc
    DISTINCT shingle sets (jaccard/containment/top_ngrams/decontaminate)
    should stay on `with_ngrams`: their in-task `array_distinct` before
    the explode shuffles strictly fewer rows than a post-explode
    distinct aggregate would."""
    return df.withColumn("__toks", tokens(text_col)).select(
        F.col(id_col),
        F.posexplode(
            F.expr(
                f"CASE WHEN size(__toks) >= {n} "
                f"THEN sequence(0, size(__toks) - {n}) ELSE array() END"
            )
        ).alias("__seq_i", "__p"),
        "__toks",
    ).select(
        F.col(id_col),
        F.concat_ws(
            " ", *[F.expr(f"__toks[__p + {i}]") for i in range(n)]
        ).alias(out),
    )


#: redaction patterns, written in the regex subset common to Java
#: (Spark) and RE2 (DuckDB/most scanners) so oracles reproduce exactly
REDACT_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
REDACT_NUMBER = r"[0-9]+"

#: metacharacters special in BOTH Java regex and RE2 — the escape set for
#: literal terms (escaping only the shared specials keeps the escaped
#: pattern valid in both engines)
_REGEX_SPECIALS = frozenset("\\.^$|?*+()[]{}")


def regex_escape_term(term: str) -> str:
    """Escape a literal blocklist term for the Java/RE2-shared regex
    subset, so terms like 'acme.corp' or 'c++' match literally instead of
    changing the alternation's semantics (or failing to compile)."""
    return "".join("\\" + ch if ch in _REGEX_SPECIALS else ch for ch in term)


def redact_text(
    df: DataFrame,
    text_col: str,
    id_col: str,
    blocklist_terms: tuple[str, ...] = (),
) -> DataFrame:
    """PII-style scrubbing: mask emails, digit runs, and blocklist terms.

    Standard pre-training curation step (strip emails/phones/IDs and
    organization-specific terms before the corpus ships). Pure
    `regexp_replace`/`regexp_extract_all` expressions — stays in
    whole-stage codegen, no UDF, scales linearly.

    Returns (id_col, redacted, n_emails, n_numbers, n_terms).
    """
    col = F.col(text_col)
    term_pattern = (
        r"\b(?:" + "|".join(regex_escape_term(t) for t in blocklist_terms) + r")\b"
        if blocklist_terms
        else None
    )
    redacted = F.regexp_replace(
        F.regexp_replace(col, REDACT_EMAIL, "<EMAIL>"), REDACT_NUMBER, "<NUM>"
    )
    n_terms = F.lit(0).cast("int")
    if term_pattern:
        redacted = F.regexp_replace(redacted, term_pattern, "<TERM>")
        # pattern as a Column literal, NOT interpolated into F.expr SQL —
        # SQL string literals would eat the backslashes in \b
        n_terms = F.regexp_count(col, F.lit(term_pattern)).cast("int")
    return df.select(
        F.col(id_col),
        redacted.alias("redacted"),
        F.regexp_count(col, F.lit(REDACT_EMAIL)).cast("int").alias("n_emails"),
        F.regexp_count(col, F.lit(REDACT_NUMBER)).cast("int").alias("n_numbers"),
        n_terms.alias("n_terms"),
    )


def exact_dedup_hash(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup: md5(text) groups, keep the smallest id (keep-first).

    groupBy formulation — map-side partial min collapses duplicates
    before the shuffle (cheaper than a window at scale).
    """
    return (
        df.select(F.md5(F.col(text_col)).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(F.min(id_col).alias(id_col))
    )


def _whitespace_token_cols(text_col: str) -> list[F.Column]:
    """The whitespace-tokenizer stat columns of `tokenizer_stats`:
    n_chars, n_tokens, avg token length."""
    t = F.col(text_col)
    n_tokens = token_count(text_col)
    # single-space corpus: chars-without-spaces / n_tokens == avg token len
    compact_len = F.length(F.regexp_replace(t, r"\s+", ""))
    return [
        F.length(t).alias("n_chars"),
        n_tokens.alias("n_tokens"),
        F.round(compact_len.cast("double") / n_tokens, 6).alias("avg_token_len"),
    ]


def stopword_stats(
    df: DataFrame, text_col: str, id_col: str, stopwords: tuple[str, ...] = STOPWORDS
) -> DataFrame:
    """Stopword count/ratio per doc — a core quality-scoring signal.

    Array expression (filter + size), no explode: stays narrow.
    """
    sw_array = F.array(*[F.lit(w) for w in stopwords])
    toks = tokens(text_col)
    n_stop = F.size(F.filter(toks, lambda x: F.array_contains(sw_array, x)))
    return df.select(
        F.col(id_col),
        F.size(toks).alias("n_tokens"),
        n_stop.alias("n_stopwords"),
        F.round(n_stop.cast("double") / F.size(toks), 6).alias("stopword_ratio"),
    )


#: BPE-ish pre-tokenizer pattern (GPT-2 style, simplified to the subset
#: shared by Java regex and RE2 so the DuckDB oracle matches): a token is
#: an optional leading space + letter run | digit run | punctuation run.
BPE_PATTERN = r" ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\s]+"


def _bpe_token_cols(text_col: str) -> list[F.Column]:
    """The BPE-pre-tokenizer stat columns of `tokenizer_stats`:
    letter/digit/punct runs count separately, the way a subword
    tokenizer's pre-tokenization does.

    The pattern is passed as a lit() column, NOT interpolated into
    F.expr — SQL string literals unescape backslashes, which silently
    turned \\s into s and made whitespace runs count as tokens."""
    toks = F.regexp_extract_all(F.col(text_col), F.lit(BPE_PATTERN), F.lit(0))
    return [
        F.size(toks).alias("n_bpe_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_bpe_tokens"),
        # try_divide: zero-token (empty) docs yield NULL instead of an
        # ANSI DIVIDE_BY_ZERO failure
        F.round(
            F.try_divide(
                F.aggregate(
                    toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(F.trim(t))
                ).cast("double"),
                F.size(toks),
            ),
            6,
        ).alias("avg_bpe_token_len"),
    ]


def tokenizer_stats(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """BOTH tokenizers' stats in ONE narrow scan — SURVEY's single
    'token counting (whitespace + a BPE-ish regex)' capability as one
    operator (r8 consolidation of the former separate registry rows).
    All six stat columns are per-row JVM expressions over the same text
    column: one scan, zero shuffles, no join between the tokenizers."""
    return df.select(
        F.col(id_col),
        *_whitespace_token_cols(text_col),
        *_bpe_token_cols(text_col),
    )


def quality_score(
    df: DataFrame,
    text_col: str,
    id_col: str,
    stopwords: tuple[str, ...] = STOPWORDS,
    keep_threshold: float = 0.5,
) -> DataFrame:
    """Composite 0-1 document quality score (training-data curation).

    Four interpretable signals, equally weighted:
      len_score   — saturating token count (>=64 tokens -> 1.0)
      stop_score  — saturating stopword ratio (natural prose has stopwords)
      alpha_ratio — alphabetic+space chars / chars (punct/noise penalty)
      uniq_ratio  — distinct tokens / tokens (boilerplate repetition penalty)

    Pure column arithmetic — narrow plan, no explode, no UDF; `keep` is
    the curation verdict at `keep_threshold`.
    """
    t = F.col(text_col)
    toks = tokens(text_col)
    n_tokens = F.size(toks)
    sw_array = F.array(*[F.lit(w) for w in stopwords])
    n_stop = F.size(F.filter(toks, lambda x: F.array_contains(sw_array, x)))
    # try_divide everywhere a count can be 0 (empty/degenerate docs):
    # the score comes out NULL -> keep is NULL, instead of an ANSI
    # DIVIDE_BY_ZERO job failure taking down the whole curation pass
    len_score = F.least(n_tokens.cast("double") / 64.0, F.lit(1.0))
    stop_score = F.least(
        F.try_divide(n_stop.cast("double"), n_tokens) / 0.04, F.lit(1.0)
    )
    # the + quantifier deletes RUNS instead of firing the matcher per
    # character — identical output string (deleting chars one-by-one ==
    # deleting their runs), ~19x less matcher work on non-alpha-heavy
    # text (measured on the normalization twin, SCALING.md r13)
    alpha_ratio = F.try_divide(
        F.length(F.regexp_replace(t, "[^a-zA-Z ]+", "")).cast("double"), F.length(t)
    )
    uniq_ratio = F.try_divide(F.size(F.array_distinct(toks)).cast("double"), n_tokens)
    score = F.round(
        0.25 * len_score + 0.25 * stop_score + 0.25 * alpha_ratio + 0.25 * uniq_ratio,
        6,
    )
    return df.select(
        F.col(id_col),
        score.alias("quality"),
        (score >= keep_threshold).alias("keep"),
    )


def language_id(
    df: DataFrame,
    text_col: str,
    id_col: str,
    markers: dict[str, tuple[str, ...]] | None = None,
) -> DataFrame:
    """Marker-token language-ID heuristic.

    Scores each language by its marker-token count in the document; the
    argmax (ties broken by language code order) is the prediction, with
    'und' (undetermined) when no marker hits. Deterministic, pure column
    expressions.
    """
    markers = markers or LANG_MARKERS
    toks = tokens(text_col)
    scored = df.select(F.col(id_col), toks.alias("__toks"))
    langs = sorted(lang for lang, words in markers.items() if words)
    def _in_markers(words):
        # single-arg lambda: a 2-arg signature would make Spark pass the
        # array index as the second argument
        return lambda x: F.array_contains(words, x)

    for lang in langs:
        words = F.array(*[F.lit(w) for w in markers[lang]])
        scored = scored.withColumn(
            f"__score_{lang}", F.size(F.filter(F.col("__toks"), _in_markers(words)))
        )
    best = F.greatest(*[F.col(f"__score_{lang}") for lang in langs])
    pred = F.lit("und")
    # reversed so the FIRST lang in sorted order wins ties
    for lang in reversed(langs):
        pred = F.when(
            (F.col(f"__score_{lang}") == best) & (best > 0), F.lit(lang)
        ).otherwise(pred)
    return scored.select(F.col(id_col), pred.alias("predicted_lang"))


def minhash_signature(
    df: DataFrame, id_col: str, ngram_col: str, num_hashes: int = 12
) -> DataFrame:
    """MinHash signature via double hashing: one md5 per shingle yields
    two 32-bit values (h1, h2); hash function i is h1 + i*h2
    (Kirsch-Mitzenmacher), so k functions cost ONE digest + k adds
    instead of k digests — ~10x less CPU on the corpus-size hot path.

    Engine-portable (md5 hex + integer arithmetic reproduce exactly in
    any SQL engine). Min over the shingle SET equals min over the
    multiset, so dedupe first.

    Plan shape (same lesson as simhash_fingerprint, A/B-measured ~20%
    faster than per-row higher-order-function mins): explode the
    distinct shingles and take the k mins as vectorized hash aggregates
    — partial aggregation collapses each doc's shingles to one
    k-counter row map-side, so the shuffle carries k longs per doc, and
    codegen'd min() beats interpreted array transforms. Docs with no
    shingles drop out of the signature frame (they can't pair anyway).
    """
    ex = df.select(
        F.col(id_col), F.explode(F.array_distinct(F.col(ngram_col))).alias("__g")
    )
    m = F.md5(F.col("__g"))
    hp = ex.select(
        id_col,
        F.conv(F.substring(m, 1, 8), 16, 10).cast("long").alias("__h1"),
        F.conv(F.substring(m, 9, 8), 16, 10).cast("long").alias("__h2"),
    )
    agg = hp.groupBy(id_col).agg(
        *[
            F.min(F.col("__h1") + i * F.col("__h2")).alias(f"__m{i}")
            for i in range(num_hashes)
        ]
    )
    sig = F.array(*[F.col(f"__m{i}") for i in range(num_hashes)])
    return agg.select(F.col(id_col), sig.alias("minhash"))


def lsh_candidate_pairs(
    sig_df: DataFrame,
    id_col: str,
    num_hashes: int = 12,
    band_size: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """LSH banding: docs sharing any band of the signature are candidates.

    Scale path for near-dup detection: the O(n^2) pair space collapses to
    a groupBy on (band_index, band_key) — a single shuffle keyed on
    content, then in-bucket pair enumeration. `max_bucket_size` drops
    degenerate hot buckets (e.g. the all-empty-doc signature) before
    enumeration — see `bucket_pair_candidates`.
    Returns distinct (id_a, id_b) with id_a < id_b.
    """
    n_bands = num_hashes // band_size
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    "|", *[F.col("minhash")[b * band_size + j] for j in range(band_size)]
                ).alias("key"),
            )
            for b in range(n_bands)
        ]
    )
    exploded = sig_df.select(F.col(id_col), F.explode(bands).alias("b")).select(
        id_col, F.col("b.band").alias("band"), F.col("b.key").alias("key")
    )
    # groupBy + in-bucket enumeration instead of a self-join: a self-join
    # would compute the whole scan->md5->minhash lineage twice (verified
    # via .explain). bucket_pair_candidates = one signature pass + one
    # shuffle on (band, key) + chained-explode (codegen'd) pair
    # expansion inside each (tiny) bucket, deduped across bands.
    from redpanda_to_parquet_writer_spark.operators.similarity import (
        bucket_pair_candidates,
    )

    return bucket_pair_candidates(
        exploded, ["band", "key"], id_col, [], max_bucket_size=max_bucket_size
    ).select("id_a", "id_b")


def _shingle_overlap(
    df: DataFrame, id_col: str, ngram_col: str, max_doc_freq: int | None
) -> DataFrame:
    """(id_a, id_b, na, nb, common) for every doc pair (id_a < id_b)
    sharing at least one distinct shingle: na/nb are the two shingle-set
    sizes and common the intersection size. The one posting-list counter
    behind `jaccard_pairs` and `containment_pairs`; `max_doc_freq` drops
    shingles found in more docs (see `jaccard_pairs`)."""
    # each doc's shingle-set size rides the exploded rows (computed
    # narrow, BEFORE the explode) so the posting-list pipeline is the
    # ONLY lineage — no second scan for sizes and no join-back (the
    # sizes-join formulation planned 3 scans of the corpus; this plans 1).
    shingles = df.select(
        F.col(id_col), F.array_distinct(F.col(ngram_col)).alias("__gs")
    ).select(
        F.col(id_col),
        F.size("__gs").alias("n"),
        F.explode("__gs").alias("g"),
    )
    if max_doc_freq is not None:
        # drop hot shingles before their posting list is collected, then
        # recompute set sizes over the SURVIVING shingles so
        # |A|+|B|-common stays a consistent union size. The DF guard is
        # an aggregate + join-back, NOT a window partitioned by the
        # shingle (r12): the guard exists precisely because a shingle
        # can be corpus-hot, and that shingle's window partition would
        # hold one row per containing doc in one unsplittable task —
        # the aggregate collapses it map-side (join-back skew story:
        # tests/test_aqe_skew_join.py). The size recompute window on
        # the doc id stays: one doc's shingles, doc-length-bounded.
        iw = Window.partitionBy(id_col)
        dfs = shingles.groupBy("g").agg(F.count(F.lit(1)).alias("__df"))
        shingles = (
            shingles.join(dfs, "g")
            .filter(F.col("__df") <= max_doc_freq)
            .withColumn("n", F.count(F.lit(1)).over(iw))
            .select(F.col(id_col), F.col("n"), F.col("g"))
        )
    # per-shingle posting lists instead of a shingle self-join (which
    # would run the explode lineage twice); hot shingles (huge posting
    # lists) are the skew hazard either way — production pipelines cap
    # document frequency before pairing.
    # NO array_sort on the posting list: the pair filter compares ids
    # directly (order-independent), and a sort expression here sits in
    # the post-aggregate Project where Spark re-evaluates it per
    # EXPLODED row downstream (interpreted HOF x sum(len) rows — this
    # exact shape measured 13s of a 16s query at sf0.1)
    postings = (
        shingles.groupBy("g")
        .agg(F.collect_list(F.struct(F.col(id_col).alias("id"), F.col("n"))).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    # in-bucket pairs via two chained explodes (codegen'd Generate), NOT
    # a flatten/transform pairs array: higher-order functions evaluate
    # interpreted per element, measured 15s vs <2s at sf0.1 for the same
    # enumeration. Every co-occurrence is KEPT (no pair dedup) — the
    # count per (id_a, id_b) IS the shingle intersection size.
    lhs = postings.select(F.explode("ids").alias("a"), "ids")
    pairs = lhs.select("a", F.explode("ids").alias("b")).filter(
        F.col("a.id") < F.col("b.id")
    )
    return pairs.groupBy(
        F.col("a.id").alias("id_a"),
        F.col("b.id").alias("id_b"),
        F.col("a.n").alias("na"),
        F.col("b.n").alias("nb"),
    ).agg(F.count("*").alias("common"))


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    ngram_col: str,
    threshold: float,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all doc pairs above threshold.

    Inverted index: explode distinct shingles into per-shingle posting
    lists, count pair co-occurrences, |A∪B| = |A| + |B| - |A∩B|. The
    posting-list formulation is the scalable one (no cross join); pair
    blowup is bounded by shingle-bucket sizes, and in production this
    runs AFTER LSH banding restricts the pair space.

    r18 priced-and-rejected (VERDICT r17 #6): hashing each shingle to
    64 bits AFTER the explode (codegen'd xxhash64 projection, so the
    posting exchange carries 8-byte longs instead of gram strings —
    guide §2.3 narrower types). Outputs identical at sf0.1 (anti-join
    0/0 both ways, 256 pairs) but interleaved fresh-process mins read a
    WASH here (old {1.95, 2.15, 2.13}s vs new {1.98, 1.92, 2.10}s) and
    only ~5-11% on containment — not enough to trade away the
    documented EXACT string-keyed semantics, which 64-bit collisions
    would silently bend at corpus scale (~10^11 distinct shingles ->
    ~3e5 expected colliding bucket merges). Harness:
    scripts/ab_hash_g_r18.py at rev f23f2ab.

    `max_doc_freq` caps posting-list length: shingles appearing in more
    docs are dropped BEFORE their posting list is collected, bounding
    the per-shingle pair blowup at cap^2/2. Document-frequency capping
    is the standard guard against boilerplate shingles; note it makes
    the similarity *approximate* (a capped shingle no longer counts
    toward intersections OR set sizes — sizes are recomputed from
    surviving shingles so |A∪B| stays consistent), i.e. Jaccard over the
    DF-filtered shingle space. The guard path costs two extra shuffles
    of the exploded shingle rows (the DF window partitions on the
    shingle, the size recompute on the doc id, then the posting groupBy
    re-partitions on the shingle) — pay it only on corpora where a hot
    shingle actually threatens the pair space.
    """
    inter = _shingle_overlap(df, id_col, ngram_col, max_doc_freq)
    jac = F.col("common").cast("double") / (F.col("na") + F.col("nb") - F.col("common"))
    return inter.select(
        "id_a", "id_b", F.round(jac, 6).alias("jaccard")
    ).filter(F.col("jaccard") >= threshold)


def simhash_fingerprint(
    df: DataFrame, text_col: str, id_col: str, bits: int = 48
) -> DataFrame:
    """`bits`-wide SimHash over whitespace tokens (bits % 4 == 0, <= 48
    so every value — including every 2^b term — stays a non-negative
    BIGINT in both Spark and DuckDB: no sign-bit, shift, or overflow
    divergence between engines).

    Token hash = first bits/4 hex chars of md5 (engine-portable); per
    bit, +1/-1 vote weighted by token multiplicity; simhash bit b set
    when the vote is positive. 48 bits is the BIGINT-safe analogue of
    the standard 64-bit fingerprint (Manku et al., WWW'07): at corpus
    scale the wider fingerprint is what keeps hamming<=3 meaningful and
    band buckets small — 32-bit simhash over same-language text packs
    thousands of docs into a few byte-band buckets (measured: 16x the
    candidate volume at sf0.1).

    Plan shape (measured at sf0.1 against two zero-shuffle array-
    expression variants, both slower — 0.9s/1.9s vs 0.62s): explode +
    groupBy LOOKS like it shuffles the token stream, but explode is
    narrow, so map-side partial aggregation collapses each doc's tokens
    to one bits-counter row BEFORE the exchange — the shuffle carries
    `bits` longs per doc, and the vectorized hash-agg beats per-row
    higher-order-function passes on CPU.
    """
    if bits % 4 or not 0 < bits <= 48:
        raise ValueError("bits must be a positive multiple of 4, at most 48")
    toks = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("tok"))
    h = F.conv(F.substring(F.md5(F.col("tok")), 1, bits // 4), 16, 10).cast("long")
    hashed = toks.select(F.col(id_col), h.alias("h"))
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"bit{b}")
        for b in range(bits)
    ]
    agg = hashed.groupBy(id_col).agg(*votes)
    simhash = None
    for b in range(bits):
        term = F.when(F.col(f"bit{b}") > 0, F.lit(2 ** b).cast("long")).otherwise(F.lit(0).cast("long"))
        simhash = term if simhash is None else simhash + term
    return agg.select(F.col(id_col), simhash.alias("simhash"))


def _check_simhash_banding(max_hamming: int, n_bands: int, bits: int) -> None:
    """Enforce the pigeonhole precondition the recall-1 guarantee rests
    on (ADVICE r4): with max_hamming >= n_bands every band can contain a
    differing bit, so a true near-dup pair may share NO band bucket —
    the result would be silently incomplete while the docstring promises
    exactness. Likewise bits must split evenly into bands or the top
    bits fall outside every band key."""
    if max_hamming >= n_bands:
        raise ValueError(
            f"max_hamming ({max_hamming}) must be < n_bands ({n_bands}) "
            "for the pigeonhole recall-1 guarantee"
        )
    if bits % n_bands != 0:
        raise ValueError(f"bits ({bits}) must divide evenly into n_bands ({n_bands})")


def simhash_neardup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    n_bands: int = 4,
    bits: int = 48,
) -> DataFrame:
    """SimHash near-duplicate pairs: band-bucket candidates, exact
    Hamming verify — returns (id_a, id_b, hamming) with
    hamming <= max_hamming.

    DETERMINISTIC recall 1 when max_hamming < n_bands (pigeonhole: at
    most max_hamming of the n_bands byte-bands can contain a differing
    bit, so at least one band matches exactly and the pair collides in
    that band's bucket) — unlike hyperplane LSH this is a guarantee, not
    a probability. Shuffle profile matches MinHash-LSH: explode to
    (band, key), ONE shuffle into bucket groups, in-bucket pair
    enumeration (`bucket_pair_candidates` — no self-join, so the
    token-explode simhash pass runs once), never the O(n^2) pair space.
    """
    from redpanda_to_parquet_writer_spark.operators.similarity import (
        bucket_pair_candidates,
    )

    _check_simhash_banding(max_hamming, n_bands, bits)
    sh = simhash_fingerprint(df, text_col, id_col, bits=bits)
    bands = _simhash_bands(sh, id_col, n_bands=n_bands, bits=bits)
    # NO max_bucket_size here, deliberately: the pigeonhole guarantees a
    # qualifying pair shares AT LEAST ONE band — possibly only one — so
    # dropping any bucket would silently break the recall-1 contract.
    # Hot-bucket capping belongs to the probabilistic-recall paths
    # (MinHash banding, hyperplane LSH), where a pair lost from one
    # bucket still collides in its other bands/tables.
    cand = bucket_pair_candidates(bands, ["band", "key"], id_col, ["simhash"])
    hamming = F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b"))).cast("bigint")
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def _simhash_bands(
    sh: DataFrame, id_col: str, n_bands: int, bits: int
) -> DataFrame:
    """Explode a simhash frame to (id, simhash, band, key) band rows."""
    bits_per_band = bits // n_bands
    mask = (1 << bits_per_band) - 1
    return sh.select(
        id_col,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("simhash"), b * bits_per_band)
                        .bitwiseAND(F.lit(mask))
                        .alias("key"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select(id_col, "simhash", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))


def simhash_incremental_anti(
    delta: DataFrame,
    corpus: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    n_bands: int = 4,
    bits: int = 48,
) -> DataFrame:
    """Incremental near-dup dedup: keep only `delta` docs that are NOT
    within `max_hamming` simhash bits of ANY `corpus` doc — the
    daily-ingest pattern at corpus scale, where the new batch is deduped
    AGAINST history without ever touching the history x history pair
    space.

    Band rows from both sides join on (band, key), so candidates are
    delta x corpus in-bucket collisions only; exact Hamming verify, then
    LEFT ANTI the delta against the matched ids. Recall 1 by the same
    pigeonhole as `simhash_neardup_pairs`, so the anti-filter is EXACT
    with respect to the Hamming threshold. In production the corpus side
    reads a precomputed signature table (signatures persist at ingest
    time); here it is derived inline from the corpus text.
    """
    _check_simhash_banding(max_hamming, n_bands, bits)
    dsh = simhash_fingerprint(delta, text_col, id_col, bits=bits)
    csh = simhash_fingerprint(corpus, text_col, id_col, bits=bits)
    dbands = _simhash_bands(dsh, id_col, n_bands=n_bands, bits=bits).select(
        F.col(id_col).alias("__did"), F.col("simhash").alias("__dsh"), "band", "key"
    )
    cbands = _simhash_bands(csh, id_col, n_bands=n_bands, bits=bits).select(
        F.col("simhash").alias("__csh"), "band", "key"
    )
    hamming = F.bit_count(F.col("__dsh").bitwiseXOR(F.col("__csh")))
    dropped = (
        dbands.join(cbands, on=["band", "key"])
        .filter(hamming <= max_hamming)
        .select(F.col("__did").alias(id_col))
        .distinct()
    )
    return dsh.join(dropped, on=id_col, how="left_anti")


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    ngram_col: str,
    min_overlap: int = 1,
) -> DataFrame:
    """Benchmark decontamination: flag corpus docs sharing n-gram shingles
    with a held-out benchmark/eval set — the standard guard against
    train/test contamination in pre-training pipelines.

    Scale shape: the benchmark side is small relative to the corpus
    (eval suites are thousands of docs vs billions), so its distinct
    shingle set is collected into a broadcast hash join — the 100 TB
    corpus streams map-side against it with NO shuffle of corpus data;
    the only exchange is the per-doc hit-count aggregation, which
    partial-aggregates to at most one row per contaminated doc.

    Returns every corpus row as (id_col, n_overlap, contaminated):
    n_overlap = number of DISTINCT shingles shared with any benchmark
    doc, contaminated = n_overlap >= min_overlap.
    """
    bench_shingles = benchmark.select(
        F.explode(F.array_distinct(F.col(ngram_col))).alias("__g")
    ).distinct()
    corpus_shingles = corpus.select(
        F.col(id_col), F.explode(F.array_distinct(F.col(ngram_col))).alias("__g")
    )
    hits = (
        corpus_shingles.join(F.broadcast(bench_shingles), "__g")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_overlap"))
    )
    return corpus.select(id_col).join(hits, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("n_overlap"), F.lit(0)).cast("long").alias("n_overlap"),
        (F.coalesce(F.col("n_overlap"), F.lit(0)) >= min_overlap).alias(
            "contaminated"
        ),
    )


def top_ngrams(df: DataFrame, ngram_col: str, k: int = 50) -> DataFrame:
    """Corpus-level top-k n-grams by document frequency (distinct docs
    containing the gram; one count per input row since shingles are
    per-row-distinct) — boilerplate/template detection for curation.

    explode-distinct is narrow; the groupBy partial-aggregates map-side
    so the shuffle carries one counter per (partition, gram); the final
    top-k plans as TakeOrderedAndProject (no global sort materialized).
    Ties at the k boundary break deterministically by gram text.
    """
    return (
        df.select(F.explode(F.array_distinct(F.col(ngram_col))).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count("*").alias("doc_freq"))
        .orderBy(F.desc("doc_freq"), F.asc("ngram"))
        .limit(k)
    )


def tfidf_top_terms(
    df: DataFrame, text_col: str, id_col: str, k: int = 3
) -> DataFrame:
    """Top-k terms per document by TF-IDF — keyword extraction for
    corpus indexing/topic tagging.

    One map-side-combined term-freq aggregation per (doc, term);
    document freq is a second AGGREGATE over those pairs, joined back
    on term (r12 — the old count window partitioned by term held one
    row per document containing a stopword in ONE unsplittable window
    task; the aggregate collapses hot terms map-side (join-back skew story:
    tests/test_aqe_skew_join.py), and because both branches consume the tf
    aggregate's full output the shared (doc, term) exchange is REUSED:
    still one corpus scan, plan-audited). The 1-row corpus count rides
    a broadcast cross join (no driver round-trip, stays one plan).
    idf = ln(n_docs / df). The rank window orders by the ROUNDED score
    (then term text) so last-ulp ln() differences between engines
    can't reorder mathematically-equal scores.
    """
    toks = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("term"))
    tf = toks.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    n_docs = df.select(F.count("*").alias("__n"))
    dfs = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = (
        tf.join(dfs, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf") * F.log(F.col("__n").cast("double") / F.col("df")), 6
            ),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "term", "tf", "tfidf", "rank")
    )


def chunk_documents(
    df: DataFrame,
    text_col: str,
    id_col: str,
    chunk_tokens: int = 32,
    overlap: int = 8,
) -> DataFrame:
    """Split documents into fixed-size token windows with overlap — the
    standard pre-training/RAG chunking op.

    Chunk i covers tokens [i*stride, i*stride + chunk_tokens) with
    stride = chunk_tokens - overlap; the last window may be short, and a
    doc shorter than one chunk yields a single chunk. Pure array
    expressions (slice + concat_ws over the token array) — one narrow
    pass, chunk count explodes rows by ~n_tokens/stride.
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("need 0 <= overlap < chunk_tokens")
    stride = chunk_tokens - overlap
    # null-text docs yield NO chunks (greatest(ceil(NULL),1) would
    # otherwise skip the NULL and emit a phantom empty chunk)
    df = df.filter(F.col(text_col).isNotNull())
    toks = tokens(text_col)
    n = F.size(toks)
    # number of windows: ceil(max(n - overlap, 1) / stride)
    n_chunks = F.greatest(
        F.ceil((n - F.lit(overlap)).cast("double") / stride).cast("int"), F.lit(1)
    )
    idx = F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id")
    base = df.select(F.col(id_col), toks.alias("__toks"), idx)
    start = F.col("chunk_id") * stride + 1  # slice() is 1-based
    chunk = F.slice(F.col("__toks"), start, chunk_tokens)
    return base.select(
        F.col(id_col),
        F.col("chunk_id"),
        F.concat_ws(" ", chunk).alias("chunk_text"),
        F.size(chunk).alias("chunk_tokens"),
    )


def line_dedup_stats(
    df: DataFrame,
    text_col: str,
    id_col: str,
    line_tokens: int = 10,
) -> DataFrame:
    """C4-style cross-corpus LINE deduplication stats: split every doc
    into fixed `line_tokens`-token lines; a line is KEPT only at its
    first corpus occurrence (lowest (doc_id, line_idx)), counted as a
    duplicate everywhere else. This is the classic "discard repeated
    lines across the whole corpus" pre-training cleanup (C4/Gopher),
    at sub-document granularity — exact dedup (D1/D2) and near-dup LSH
    work on whole docs; boilerplate repeats at line level.

    Plan shape (r12 skew hardening): narrow line synthesis (pure array
    expressions) -> posexplode -> NO window anywhere. The old shape was
    a row_number window partitioned by line CONTENT — a hot boilerplate
    line ("click here to subscribe") concentrates every corpus copy in
    ONE window task, the same 100-TB disqualifier class the r11 sweep
    removed from low-cardinality windows. Aggregates don't have that
    problem: partial (map-side) combine collapses hot keys before the
    shuffle. So:

      1. pre-collapse on (line, doc) — within-doc repeats of a hot
         line collapse map-side; the shuffled key carries the DOC id,
         so a cross-corpus hot line spreads over |docs-containing-it|
         reducers instead of one;
      2. global first occurrence per line: min (doc, min_line_idx, c)
         struct over the collapsed frame ((doc, mi) is unique per
         line, so appending __c never changes the lexicographic
         winner — it is there so BOTH consumers of the collapsed
         frame read the same columns and Catalyst/AQE plans the
         (line, doc) exchange ONCE: one scan, one tokenize,
         ReusedExchange — column pruning otherwise specializes the
         branches apart);
      3. join the firsts back on line and aggregate per doc. When the
         per-line frame is small it broadcasts (no probe shuffle at
         all); when the line domain is corpus-sized, AQE's skew join
         SPLITS a hot line's sort-merge partition — the property the
         old window shape could never have (a window partition is
         unsplittable).

    n_kept(doc) = rows whose (doc, mi) IS the global first for their
    content — the exact integer identity with the old per-row rn==1
    split; n_dupes = n_lines - n_kept.

    Returns (id_col, n_lines, n_kept, n_dupes).
    """
    # split() on any non-null string yields >= 1 element ("" -> [""]), so
    # n_lines >= 1 always — an empty doc contributes one "" line, which
    # dedups against other empty docs like any other content
    toks = tokens(text_col)
    n_lines = F.ceil(F.size(toks).cast("double") / line_tokens).cast("int")
    lines = F.transform(
        F.sequence(F.lit(0), n_lines - 1),
        lambda i: F.concat_ws(" ", F.slice(toks, i * line_tokens + 1, line_tokens)),
    )
    exploded = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col), F.posexplode(lines).alias("line_idx", "line")
    )
    per_line_doc = exploded.groupBy("line", id_col).agg(
        F.count("*").alias("__c"), F.min("line_idx").alias("__mi")
    )
    firsts = per_line_doc.groupBy("line").agg(
        F.min(F.struct(F.col(id_col), F.col("__mi"), F.col("__c"))).alias("__f")
    )
    # the redundant __f.__mi == __mi conjunct keeps __mi referenced on
    # the probe side (same column-pruning symmetry as __c in the
    # struct); it is implied by __f.<id> == <id> since (line, doc) is
    # unique in per_line_doc
    is_first = (F.col(f"__f.{id_col}") == F.col(id_col)) & (
        F.col("__f.__mi") == F.col("__mi")
    )
    return (
        per_line_doc.join(firsts, "line")
        .groupBy(id_col)
        .agg(
            F.sum("__c").cast("long").alias("n_lines"),
            F.sum(F.when(is_first, 1).otherwise(0)).cast("long").alias("n_kept"),
        )
        .withColumn("n_dupes", (F.col("n_lines") - F.col("n_kept")).cast("long"))
    )


def repetition_stats(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_distinct_frac: float = 0.5,
    max_top_token_frac: float = 0.12,
) -> DataFrame:
    """Gopher-style repetition quality signals per document: distinct-token
    ratio, most-frequent-token fraction, most-frequent-bigram fraction,
    and a keep/drop verdict — the standard repetition filters applied to
    pre-training corpora (high repeated-n-gram mass => boilerplate/spam).

    Pure per-row array expressions, ZERO shuffle — the whole filter is
    map-side and scales embarrassingly at corpus size. The max-frequency
    counts run as array_sort + ONE linear run-length pass (`aggregate`)
    that also yields n_distinct, O(n log n) per doc — the naive
    transform-over-distinct formulation is O(n_distinct * n_tokens) in
    INTERPRETED higher-order calls and A/B-measured ~2.3x slower at
    sf0.1 (1.74s vs 0.75s).

    Fractions follow the exact-ratio rule (`functions.ratio`) so any
    SQL oracle reproduces them bitwise; the keep verdict compares those
    bitwise-stable doubles against the thresholds.
    """
    # max multiplicity == longest equal-run in the sorted array, and
    # n_distinct == number of runs: ONE aggregate pass computes both,
    # with (prev, run, best, nd) state
    run_stats = (
        "aggregate(array_sort({arr}), "
        "named_struct('prev', CAST(NULL AS STRING), 'run', 0, 'best', 0, 'nd', 0), "
        "(acc, x) -> named_struct("
        "  'prev', x, "
        "  'run', IF(acc.prev IS NOT NULL AND x = acc.prev, acc.run + 1, 1), "
        "  'best', GREATEST(acc.best, "
        "          IF(acc.prev IS NOT NULL AND x = acc.prev, acc.run + 1, 1)), "
        "  'nd', acc.nd + IF(acc.prev IS NOT NULL AND x = acc.prev, 0, 1)), "
        "acc -> named_struct('best', acc.best, 'nd', acc.nd))"
    )
    base = (
        df.select(F.col(id_col), tokens(text_col).alias("__toks"))
        .withColumn("__n", F.size("__toks"))
        .withColumn("__rs", F.expr(run_stats.format(arr="__toks")))
        .withColumn("__nd", F.col("__rs.nd"))
        .withColumn("__top", F.col("__rs.best"))
        .withColumn(
            "__bg",
            # sequence(1, 0) DESCENDS in Spark — short docs need the guard
            F.expr(
                "CASE WHEN size(__toks) >= 2 "
                "THEN transform(sequence(1, size(__toks) - 1), "
                "     i -> concat(__toks[i-1], ' ', __toks[i])) "
                "ELSE array() END"
            ),
        )
        .withColumn(
            "__topbg",
            F.expr(
                "CASE WHEN size(__bg) > 0 THEN ("
                + run_stats.format(arr="__bg")
                + ").best END"
            ),
        )
    )

    distinct_frac = exact_ratio("__nd", "__n")
    top_token_frac = exact_ratio("__top", "__n")
    return base.select(
        F.col(id_col),
        F.col("__n").alias("n_tokens"),
        F.col("__nd").alias("n_distinct"),
        distinct_frac.alias("distinct_frac"),
        top_token_frac.alias("top_token_frac"),
        F.when(F.size("__bg") > 0, exact_ratio("__topbg", "size(__bg)")).alias(
            "top_bigram_frac"
        ),
        (
            (distinct_frac >= F.lit(min_distinct_frac))
            & (top_token_frac <= F.lit(max_top_token_frac))
        ).alias("keep"),
    )


def unigram_logprob(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Corpus-LM quality score: average unigram log-probability per
    document — the SQL-expressible analogue of the CCNet/Gopher LM
    perplexity filter (documents whose tokens are globally rare score
    low and get routed to review/drop).

    Scale shape: term freq per (doc, term) is one map-side-combined
    aggregate; the corpus count per term is a second AGGREGATE over
    those pairs, joined back on term (r12 — it used to be a sum window
    partitioned by term, but a stopword's partition holds one row per
    DOCUMENT containing it, an unsplittable |docs|-row window task at
    scale; the aggregate collapses hot terms map-side; join-back
    skew story: tests/test_aqe_skew_join.py). The 1-row grand total comes
    from a narrow token-count scan (sum of doc lengths == sum of all
    tf — no explode, no shuffle) that rides a broadcast cross join.
    Each distinct term's ln(count/total) rounds to 6 dp and the
    per-doc total accumulates tf x DECIMAL — exact and
    order-independent, so task interleaving cannot move a score.
    """
    toks = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("term"))
    tf = toks.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    # both branches consume tf's full (id, term, tf) output — grouping
    # keys are never pruned and the count expression feeds both — so
    # the shared (id, term) aggregate subtree canonicalizes identically
    # and AQE reuses its exchange (one corpus scan)
    cnts = tf.groupBy("term").agg(F.sum("tf").alias("cnt"))
    total = df.select(token_count(text_col).alias("__dl")).agg(
        F.sum("__dl").alias("__t")
    )
    scored = (
        tf.join(cnts, "term")
        .crossJoin(F.broadcast(total))
        .withColumn(
            "lp",
            F.expr(
                "CAST(round(ln(CAST(cnt AS DOUBLE) / CAST(__t AS DOUBLE)), 6)"
                " AS DECIMAL(18,6))"
            ),
        )
    )
    per_doc = scored.groupBy(id_col).agg(
        F.sum("tf").alias("n_tokens"),
        F.sum(F.col("tf") * F.col("lp")).alias("s"),
    )
    # the average rounds via exact integer half-away-from-zero on
    # micro-units, NEVER round() of a double ratio: engines disagree at
    # exact .5 boundaries (first hit at the sf1 fixture: doc with
    # s/n = -5.7056285 — Spark's double path gave ...28, DuckDB ...29).
    # s is DECIMAL(.,6) so s*1e6 is integral; the final /1e6 is an
    # exact-int-to-double division, correctly rounded identically
    # everywhere.
    return per_doc.select(
        id_col,
        "n_tokens",
        exact_ratio("s", "n_tokens").alias("avg_logprob"),
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    ngram_col: str,
    threshold: float,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Asymmetric set CONTAINMENT |A∩B| / min(|A|, |B|) over n-gram
    shingles — the subset-duplicate detector: a document fully quoted
    inside a 10x-longer one has Jaccard ~0.1 (diluted by the union) but
    containment 1.0. The standard companion to `jaccard_pairs` in
    news/web dedup, where wrapper pages embed whole articles.

    Shares `_shingle_overlap` with `jaccard_pairs` (set sizes ride the
    exploded rows, pair co-occurrence counts ARE the intersection sizes,
    `max_doc_freq` caps hot shingles); the threshold is applied by exact
    integer cross-multiplication and the emitted score follows the
    exact-ratio rule — no double ratio crosses an engine boundary.
    """
    inter = _shingle_overlap(df, id_col, ngram_col, max_doc_freq)
    thr_millionths = int(round(threshold * 1000000))
    return (
        inter.filter(
            F.expr(f"common * 1000000 >= {thr_millionths} * least(na, nb)")
        )
        .select(
            "id_a",
            "id_b",
            "common",
            exact_ratio("common", "least(na, nb)").alias("containment"),
        )
    )


def normalized_fingerprint(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Normalize-then-hash exact dedup (CCNet-style): lowercase, strip
    punctuation, squeeze whitespace, md5 the result — catching the
    case/punctuation variants raw exact-dedup misses while staying
    deterministic enough to be the FIRST pass before any fuzzy method.

    Character classes are spelled explicitly ([ \\t\\n\\r]) instead of
    \\s because Java regex (Spark) includes \\x0B in \\s and RE2
    (DuckDB) does not — the one place the engines' regex dialects
    diverge for this pipeline.

    Skew shape (r12, re-shaped r13 after the sf10 decade flagged the
    r12 form super-linear): the canonical-representative stats ride
    AGGREGATES, never a window partitioned by the fingerprint — a hot
    boilerplate document (the thing this dedup pass exists to catch)
    would put every copy in ONE unsplittable window task. The r13
    shape is the salted sub-collect `bucket_pair_candidates` already
    uses for LSH buckets: per-doc ids sub-collect per
    (fingerprint, salt-of-id) — a hot fingerprint fans over 64 salts,
    bounding any one collected array at n_copies/64 — the group stats
    aggregate over those sub-rows (map-side combined), join back
    AGGREGATE-sized (64 x n_fingerprints rows at most, no corpus-sized
    join side at all), and the per-doc rows come back via explode.

    Why not the r12 join-back of the per-doc frame: measured at the
    sf1->sf10 decade (SCALING_CURVE_r13.jsonl), the projection
    (normalize regex + md5 — embarrassingly parallel, ~linear by
    construction) is the entire intrinsic cost: 21.1s for the bare
    projection at sf10 on the measuring host. The r12 form cost 26.1s
    — its eqNullSafe join-back (a) broke exchange canonical-equality
    (the probe and stats branches got asymmetric inferred filters and
    pruning, planning the projection more than once), and (b) fell
    from broadcast to SortMergeJoin past sf1, re-shuffling and
    re-sorting the corpus-sized frame on the fingerprint — hot
    fingerprints re-concentrated into single join partitions, the
    skew the salt existed to prevent. This shape measures 20.7s at
    sf10 (the join machinery costs ~nothing over the bare projection)
    and both of `sub`'s consumers read its full (fp, salt, ids)
    output, so the one corpus exchange is REUSED at runtime. The join
    key is a NON-NULL sentinel (`coalesce(md5(norm), '')` — an empty
    string cannot collide with a 32-char md5 hex), so the join is a
    plain equi-join; null-text docs group together under the sentinel
    and `nullif` restores norm_fp = NULL on output — window-form
    semantics unchanged (differentially fuzzed in
    scripts/fuzz_r12_rewrites.py, bitwise-gated vs the oracle).

    Contract: `id_col` is a KEY — rows whose id is NULL are dropped
    (collect_list skips nulls), matching every other dedup operator's
    key contract; a null "canonical id" would be meaningless anyway.
    """
    # ONE run-consuming pass, not the two-pass punct->space then
    # squeeze-whitespace form: after lower(), both map every maximal
    # run of non-[a-z0-9] characters to a single space (pass 1 turns
    # punctuation into spaces, which pass 2's whitespace-squeeze then
    # merges with any adjacent whitespace — i.e. the composed effect IS
    # "non-alnum run -> one space"), so the output strings are
    # IDENTICAL. The difference is matcher work: a bare character
    # class fires per character and builds a same-length intermediate,
    # then re-scans it — measured 26.6s vs 1.39s (19x) for the one-pass
    # form over the 500k-doc decade fixture (SCALING.md r13), which
    # turned this from the corpus' most expensive projection into a
    # rounding error. The DuckDB oracle deliberately KEEPS the
    # two-pass spelling — the engines computing the same fingerprint
    # through different regex programs strengthens the differential
    # gate.
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9]+", " "))
    base = df.select(
        F.col(id_col), F.coalesce(F.md5(norm), F.lit("")).alias("__k")
    ).withColumn("__s", F.pmod(F.xxhash64(F.col(id_col)), F.lit(64)))
    # the salted sub-collect: one corpus exchange on (fp, salt); any
    # one array is bounded at n_copies(fp)/64
    sub = base.groupBy("__k", "__s").agg(F.collect_list(id_col).alias("__ids"))
    # group stats consume exactly (__k, __ids) — the same columns the
    # join probe reads, so the sub-aggregate's exchange canonicalizes
    # identically in both branches and plans ONCE (the line_dedup
    # column-symmetry discipline)
    stats = sub.groupBy("__k").agg(
        F.min(F.array_min("__ids")).alias("canonical_id"),
        F.sum(F.size("__ids")).cast("long").alias("n_variants"),
    )
    return (
        sub.join(stats, "__k")
        .select(
            F.explode("__ids").alias(id_col),
            F.nullif(F.col("__k"), F.lit("")).alias("norm_fp"),
            F.col("canonical_id"),
            F.col("n_variants"),
        )
    )


CM_DEPTH = 4
CM_WIDTH = 256


def _cm_bucket(term: Column | str, j: int, width: int) -> Column:
    """Deterministic md5-derived count-min bucket for hash row `j` —
    the engine-portable integer-hash idiom (docs_train_split)."""
    col = F.col(term) if isinstance(term, str) else term
    return F.pmod(
        F.conv(
            F.substring(F.md5(F.concat(F.lit(f"{j}:"), col)), 1, 8), 16, 10
        ).cast("long"),
        F.lit(width),
    )


def countmin_sketch(
    term_counts: DataFrame,
    term_col: str = "term",
    count_col: str = "cnt",
    depth: int = CM_DEPTH,
    width: int = CM_WIDTH,
) -> DataFrame:
    """Build a count-min sketch from exact per-term counts: `depth`
    hash rows x `width` buckets, each bucket the sum of counts of terms
    hashing into it. The sketch is depth*width rows REGARDLESS of
    vocabulary size — the fixed-memory summary that replaces an
    unbounded term dictionary at corpus scale (heavy-hitter monitoring,
    cross-day frequency joins).

    Unlike library sketches, the hashes are md5-derived and the sums
    exact integers, so the WHOLE structure is reproducible bit-for-bit
    by any engine — the DuckDB oracle replays the sketch itself.
    """
    rows = term_counts.select(
        F.col(count_col).alias("cnt"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        _cm_bucket(term_col, j, width).alias("bucket"),
                    )
                    for j in range(depth)
                ]
            )
        ).alias("h"),
    )
    return rows.groupBy(F.col("h.j").alias("j"), F.col("h.bucket").alias("bucket")).agg(
        F.sum("cnt").alias("bucket_count")
    )


def countmin_estimate(
    sketch: DataFrame,
    probes: DataFrame,
    term_col: str = "term",
    depth: int = CM_DEPTH,
    width: int = CM_WIDTH,
) -> DataFrame:
    """Point-estimate probe terms against a count-min sketch: the min
    over the `depth` bucket counters (the CM guarantee: estimate >=
    true count, with overshoot bounded by collisions). The sketch is
    tiny (depth*width rows) and broadcasts; probes never shuffle."""
    probe_rows = probes.select(
        F.col(term_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        _cm_bucket(term_col, j, width).alias("bucket"),
                    )
                    for j in range(depth)
                ]
            )
        ).alias("h"),
    ).select(term_col, F.col("h.j").alias("j"), F.col("h.bucket").alias("bucket"))
    return (
        probe_rows.join(F.broadcast(sketch), ["j", "bucket"])
        .groupBy(term_col)
        .agg(F.min("bucket_count").alias("cm_estimate"))
    )


def bm25_topk(
    df: DataFrame,
    text_col: str,
    id_col: str,
    query_terms: tuple[str, ...],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 (Okapi) top-k document retrieval for a bag-of-terms query —
    the ranking primitive behind retrieval-based decontamination and
    targeted data selection over a training corpus.

    idf(t)   = ln(1 + (N - df + 0.5) / (df + 0.5))   (Lucene form —
               never negative, so stop-ish terms only shrink, not flip)
    score(d) = sum_t idf(t) * tf * (k1+1) / (tf + k1*(1 - b + b*dl/avgdl))

    Scale shape (corpus = N docs, query = a handful of terms):
      - doc length rides ALONG the exploded matching tokens (constant
        per doc, recovered with first() in the same (doc, term)
        aggregate) — no postings<->lengths join, and the corpus scans
        exactly twice: once for the 1-row (N, avgdl) stats, once for
        the postings;
      - the term filter runs BEFORE the explode's consumers shuffle, so
        the exchange is O(matching postings), not O(corpus tokens);
      - df-per-term is a count window over the (already distinct
        (doc, term)) postings — NOT a separate aggregate branch, which
        would make Catalyst recompute the postings subtree and scan the
        corpus a third time;
      - the 1-row (N, avgdl) frame is broadcast;
      - the final top-k is orderBy+limit => TakeOrderedAndProject (heap
        per partition, no global sort).
    All scoring stays in whole-stage codegen; the rank window runs on
    the k-row limited frame only.
    """
    corpus = df.select(token_count(text_col).alias("dl")).agg(
        F.count("*").alias("__n"), F.avg("dl").alias("__avgdl")
    )
    term_set = F.array(*[F.lit(t) for t in query_terms])
    postings = (
        df.select(
            F.col(id_col),
            token_count(text_col).alias("dl"),
            F.explode(
                F.filter(tokens(text_col), lambda t: F.array_contains(term_set, t))
            ).alias("term"),
        )
        .groupBy(id_col, "term")
        .agg(F.count("*").alias("tf"), F.first("dl").alias("dl"))
    )
    # df per query term as an aggregate + join-back, not a window
    # partitioned by term (r12): a stopword query term's posting list
    # is one row per matching DOCUMENT — corpus-sized in one window
    # task; the aggregate collapses it map-side
    dfs = postings.groupBy("term").agg(F.count("*").alias("df"))
    scored = (
        postings.join(dfs, "term")
        .crossJoin(F.broadcast(corpus))
        .withColumn(
            "idf",
            F.log(
                F.lit(1.0)
                + (F.col("__n") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            ),
        )
        .withColumn(
            "term_score",
            F.col("idf")
            * F.col("tf")
            * (k1 + 1.0)
            / (
                F.col("tf")
                + k1 * (1.0 - b + b * F.col("dl") / F.col("__avgdl"))
            ),
        )
    )
    per_doc = scored.groupBy(id_col).agg(
        F.round(F.sum("term_score"), 6).alias("bm25"),
        F.count("*").alias("n_terms_matched"),
    )
    topk = per_doc.orderBy(F.desc("bm25"), F.asc(id_col)).limit(k)
    w = Window.orderBy(F.desc("bm25"), F.asc(id_col))
    return topk.withColumn("rank", F.row_number().over(w)).select(
        id_col, "bm25", "n_terms_matched", "rank"
    )


def dup_ngram_fraction(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 5,
    min_docs: int = 2,
) -> DataFrame:
    """Duplicated-n-gram fraction per document — the span-level
    duplication signal of Lee et al., "Deduplicating Training Data
    Makes Language Models Better" (ExactSubstr), at n-gram-start
    granularity: the fraction of a document's n-gram positions whose
    gram also occurs in >= `min_docs` documents corpus-wide. Documents
    shorter than n tokens carry no positions and are omitted.

    Scale shape: raw positions exist only inside ONE map-side-combined
    (doc, gram) -> tf aggregation — after that every frame is distinct
    (doc, gram) pairs. Document frequency is a second AGGREGATE over
    those pairs, joined back on the gram (r12 — the old count window
    partitioned by the gram held one row per document containing a hot
    boilerplate gram in ONE unsplittable window task; the aggregate
    collapses hot grams map-side (join-back skew story:
    tests/test_aqe_skew_join.py), and both branches consuming the tf
    aggregate's full output keeps the shared (doc, gram) exchange
    REUSED: still one corpus scan, plan-audited). Every exchange moves
    O(distinct grams), not O(corpus tokens). No driver state, nothing
    O(n^2). The fraction rounds via exact integer half-up millionths
    so the oracle hashes bitwise.
    """
    # r17: raw positions, not per-doc arrays — the exploded Generate
    # build replaces the interpreted HOF array build (see
    # exploded_ngrams; rows identical, 2.3x faster gram construction)
    tf = (
        exploded_ngrams(df, text_col, id_col, n)
        .groupBy(id_col, "__g")
        .agg(F.count("*").alias("__tf"))
    )
    dfs = tf.groupBy("__g").agg(F.count("*").alias("__df"))
    out = (
        tf.join(dfs, "__g")
        .groupBy(id_col)
        .agg(
            F.sum("__tf").alias("n_positions"),
            F.coalesce(
                F.sum(F.when(F.col("__df") >= min_docs, F.col("__tf"))),
                F.lit(0),
            )
            .cast("long")
            .alias("n_dup_positions"),
        )
    )
    return out.select(
        F.col(id_col),
        "n_positions",
        "n_dup_positions",
        exact_ratio("n_dup_positions", "n_positions").alias("dup_frac"),
    )

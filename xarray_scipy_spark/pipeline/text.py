"""Text analysis: token stats, quality scoring, language ID, document
fingerprinting.

No reference analog — training-data pipeline scope. All scalar math is
built from deterministic JVM expressions (counts, ratios, md5) so the
DuckDB oracle can reproduce results byte-for-byte; no Python UDFs.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, functions as F

from ..core import _fields_of, map_batches
from .hashes import h60, spread, tokens

__all__ = [
    "canonical_url",
    "winsorize_by_group",
    "clean_text",
    "char_entropy",
    "ngram_counts",
    "postings",
    "bm25_scores",
    "sparse_knn",
    "naive_bayes_lang",
    "token_label_mi",
    "MI_LANGS",
    "token_stats",
    "quality_score",
    "lang_id",
    "fingerprint",
    "hashed_tfidf_vectors",
    "tfidf_top_tokens",
    "decontaminate",
    "redact",
    "repetition_stats",
    "vocabulary",
    "unigram_logprob",
    "PII_PATTERNS",
    "LANG_MARKERS",
    "url_stats",
    "chunk_documents",
    "bigram_logprob",
    "dsir_weights",
]

# Distinctive high-frequency marker tokens per language. A doc's
# language score is its marker-token count; prediction is the argmax
# with a fixed preference order for ties (en first = most common).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "is"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "la", "et", "les", "est"),
    "es": ("el", "los", "y", "las", "es"),
    "zh": ("的", "了", "是", "在", "和"),
}
_LANG_ORDER = ("en", "de", "fr", "es", "zh")


def token_stats(
    df: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Whitespace token count, distinct count, char length, mean token
    length, and a BPE-ish subword estimate (``ceil(len/4)`` pieces per
    token — the ~4-chars-per-token heuristic)."""
    # tokenize once into a real column: repeated references to the raw
    # tokens(text) expression would re-run split+filter per reference
    # (see dedup._with_shingles).
    base = spread(df, id_col).select(
        F.col(id_col), F.length(text_col).alias("n_chars"), tokens(text_col).alias("tk")
    )
    tk = F.col("tk")
    return base.select(
        F.col(id_col),
        F.col("n_chars"),
        F.size(tk).alias("n_tokens"),
        F.size(F.array_distinct(tk)).alias("n_uniq_tokens"),
        F.round(
            F.aggregate(
                tk, F.lit(0.0), lambda acc, t: acc + F.length(t)
            )
            / F.greatest(F.size(tk), F.lit(1)),
            6,
        ).alias("mean_token_len"),
        F.aggregate(
            tk,
            F.lit(0).cast("bigint"),
            lambda acc, t: acc + F.ceil(F.length(t) / F.lit(4.0)),
        ).alias("n_bpe_pieces"),
    )


def _marker_count(tk: Column, lang: str) -> Column:
    """How many of the tokens ``tk`` are ``lang``'s marker words (for
    English, its stop words)."""
    markers = F.array(*[F.lit(w) for w in LANG_MARKERS[lang]])
    return F.size(F.filter(tk, lambda t: F.array_contains(markers, t)))


def quality_score(
    df: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Heuristic document quality in [0, 1]:

    ``0.4·min(n_tokens/100, 1) + 0.3·stopword_ratio·2 (capped at 0.3)
    + 0.3·min(mean_token_len/8, 1)``

    Length rewards substance, a sane stopword ratio rewards natural
    prose (pure keyword soup scores low), moderate word length rewards
    real words. Deterministic integer-count arithmetic → exact oracle.
    """
    base = spread(df, id_col).select(F.col(id_col), tokens(text_col).alias("tk"))
    tk = F.col("tk")
    n_tok = F.size(tk)
    n_stop = _marker_count(tk, "en")
    mean_len = F.aggregate(
        tk, F.lit(0.0), lambda acc, t: acc + F.length(t)
    ) / F.greatest(n_tok, F.lit(1))
    score = (
        F.lit(0.4) * F.least(n_tok / F.lit(100.0), F.lit(1.0))
        + F.least(
            F.lit(0.3),
            F.lit(0.6) * n_stop / F.greatest(n_tok, F.lit(1)),
        )
        + F.lit(0.3) * F.least(mean_len / F.lit(8.0), F.lit(1.0))
    )
    return base.select(
        F.col(id_col),
        n_tok.alias("n_tokens"),
        n_stop.alias("n_stopwords"),
        F.round(score, 6).alias("quality"),
    )


def lang_id(
    df: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Marker-token language ID: count per-language marker tokens,
    predict the argmax (ties resolved by the fixed order
    en→de→fr→es→zh). Emits per-language scores so downstream filters
    can threshold on confidence."""
    base = spread(df, id_col).select(F.col(id_col), tokens(text_col).alias("tk"))
    scores = {lang: _marker_count(F.col("tk"), lang) for lang in _LANG_ORDER}
    pred = F.lit(_LANG_ORDER[-1])
    # build the argmax as a reversed CASE chain: earlier languages win ties
    for lang in reversed(_LANG_ORDER[:-1]):
        later = [scores[l] for l in _LANG_ORDER[_LANG_ORDER.index(lang) + 1 :]]
        cond = None
        for s in later:
            c = scores[lang] >= s
            cond = c if cond is None else (cond & c)
        pred = F.when(cond, F.lit(lang)).otherwise(pred)
    return base.select(
        F.col(id_col),
        *[scores[lang].alias(f"score_{lang}") for lang in _LANG_ORDER],
        pred.alias("pred_lang"),
    )


def fingerprint(
    df: DataFrame, *, id_col: str = "doc_id", text_col: str = "text", width: int = 8
) -> DataFrame:
    """Content fingerprint: the minimum md5 over all ``width``-char
    sliding substrings (the degenerate single-fingerprint case of
    winnowing — window = whole document). Shift-robust: any shared
    ``width``-gram that happens to be the global min survives edits
    elsewhere. Map-side higher-order expression, zero shuffle."""
    expr = (
        f"array_min(transform(sequence(1, greatest(length({text_col}) - {width - 1}, 1)), "
        f"i -> md5(substring({text_col}, i, {width}))))"
    )
    return spread(df, id_col).select(
        F.col(id_col),
        F.length(text_col).alias("n_chars"),
        F.expr(expr).alias("fingerprint"),
    )


def repetition_stats(
    df: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Within-document repetition signals (the Gopher-style quality
    filters :func:`quality_score` doesn't cover): per document,

    - ``dup_token_frac`` — ``1 − distinct_tokens / n_tokens`` (what
      fraction of the text is repeated words);
    - ``top_bigram_share`` — occurrences of the most frequent word
      bigram over all ``n_tokens − 1`` bigrams (catches boilerplate
      loops that unique-token ratios miss).

    Docs with one token (no bigrams) report share 0. Pure Catalyst:
    two explode→aggregate chains joined on the doc id; everything
    partial-aggregates map-side, so the shuffles carry per-doc
    partials, not token rows.

    Output: ``(id_col, n_tokens, dup_token_frac, top_bigram_share)``.
    """
    toks = spread(df, id_col).select(F.col(id_col), tokens(text_col).alias("tk"))
    tok = toks.select(
        F.col(id_col), F.size("tk").alias("n"), F.explode_outer("tk").alias("t")
    ).filter(F.col("t").isNotNull())
    uniq = tok.groupBy(id_col).agg(
        F.first("n").alias("n_tokens"),
        F.count_distinct("t").alias("n_distinct"),
    )
    # explode_outer + null filter, NOT plain explode: explode's inferred
    # size()>0 filter gets pushed below the spread() repartition with
    # the tokenizer re-inlined, re-running it serially on the unsplit
    # scan (same trap dedup._with_shingles documents)
    bigrams = toks.filter(F.size("tk") >= 2).select(
        F.col(id_col),
        (F.size("tk") - 1).alias("n_bi"),
        F.explode_outer(
            F.transform(
                F.sequence(F.lit(1), F.size("tk") - 1),
                lambda i: F.concat_ws(
                    " ", F.element_at("tk", i), F.element_at("tk", i + 1)
                ),
            )
        ).alias("bg"),
    ).filter(F.col("bg").isNotNull())
    top_bi = (
        bigrams.groupBy(id_col, "bg")
        .agg(F.count(F.lit(1)).alias("c"), F.first("n_bi").alias("n_bi"))
        .groupBy(id_col)
        .agg((F.max("c") / F.first("n_bi")).alias("top_bigram_share"))
    )
    return (
        uniq.join(top_bi, id_col, "left")
        .select(
            F.col(id_col),
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            (
                F.lit(1.0) - F.col("n_distinct") / F.col("n_tokens")
            ).alias("dup_token_frac"),
            F.coalesce(F.col("top_bigram_share"), F.lit(0.0)).alias(
                "top_bigram_share"
            ),
        )
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str | None = None,
    n: int = 3,
) -> DataFrame:
    """Test-set decontamination: for every training document, count the
    distinct word ``n``-grams it shares with a benchmark/eval corpus
    and flag any overlap — the standard guard against evaluation
    leakage in a training-data pipeline.

    Scale design (100 TB corpus vs a tiny eval suite): the benchmark's
    distinct shingle set is built once and BROADCAST — the corpus side
    streams through shingle-explode → broadcast hash join → one
    groupBy(doc) count, so the only corpus-wide shuffle is the per-doc
    aggregation and the eval suite never causes a corpus repartition.
    Contamination is judged on raw shingle strings (no hashing), so
    there are no false positives to reason about.

    Output: ``(id_col, n_shared_ngrams, contaminated)`` — one row per
    input document, zero-filled for clean docs.
    """
    from .hashes import word_shingles

    bench_text_col = text_col if bench_text_col is None else bench_text_col
    bench_sh = (
        benchmark.select(tokens(bench_text_col).alias("toks"))
        .select(F.explode(word_shingles(F.col("toks"), k=n)).alias("sh"))
        .distinct()
    )
    doc_sh = (
        spread(docs, id_col)
        .select(F.col(id_col), tokens(text_col).alias("toks"))
        .select(F.col(id_col), F.explode(word_shingles(F.col("toks"), k=n)).alias("sh"))
    )
    # word_shingles emits DISTINCT grams per doc and bench_sh is
    # distinct, so a plain post-join count is the distinct overlap
    hits = (
        doc_sh.join(F.broadcast(bench_sh), "sh")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_shared_ngrams"))
    )
    return (
        docs.select(id_col)
        .join(hits, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_shared_ngrams"), F.lit(0)).alias("n_shared_ngrams"),
            (F.coalesce(F.col("n_shared_ngrams"), F.lit(0)) > 0).alias("contaminated"),
        )
    )


# PII patterns shared by the operator and its oracle. Kept inside the
# common subset of Java regex (Spark) and RE2 (DuckDB): no lookaround,
# no backreferences, POSIX-safe classes.
PII_PATTERNS: dict[str, tuple[str, str]] = {
    # local@domain.tld
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    # 7+ digit runs with optional separators after an optional +CC
    "phone": (r"\+?[0-9][0-9()\-\. ]{6,}[0-9]", "<PHONE>"),
    # dotted-quad IPv4
    "ip": (r"\b([0-9]{1,3}\.){3}[0-9]{1,3}\b", "<IP>"),
}


def redact(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    kinds: Sequence[str] = ("email", "ip", "phone"),
    out_col: str = "redacted",
) -> DataFrame:
    """PII redaction: mask emails / IPv4 addresses / phone numbers with
    typed placeholder tokens, and count the replacements per kind — the
    standard scrub pass of a training-data pipeline.

    Pure Catalyst ``regexp_count`` + ``regexp_replace`` chain (one
    projection, zero shuffle, zero UDFs) — scale-free map-side work.
    Patterns live in :data:`PII_PATTERNS` and are restricted to the
    regex subset Java and RE2 agree on, so the DuckDB oracle reproduces
    the output byte-for-byte. Replacements apply in ``kinds`` order and
    each count is taken on the text as the PREVIOUS replacements left
    it; the default order runs ``ip`` before ``phone`` because a
    dotted-quad also matches the looser phone pattern.

    Output: ``(id_col, <out_col>, n_<kind>... )``.
    """
    out = F.col(text_col)
    counts = []
    for kind in kinds:
        pat, token = PII_PATTERNS[kind]
        counts.append(F.regexp_count(out, F.lit(pat)))
        out = F.regexp_replace(out, pat, token)
    sel = [F.col(id_col), out.alias(out_col)] + [
        c.cast("bigint").alias(f"n_{k}") for k, c in zip(kinds, counts)
    ]
    return spread(df, id_col).select(*sel)


def _tfidf(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """``(id_col, tok, tfidf)``: smoothed TF-IDF of each distinct token
    in each document, ``(tf / n_tokens_doc) * (ln((N + 1) / (df + 1))
    + 1)`` (sklearn's smoothed idf, ``N`` the distinct non-NULL ids).
    Relational shape: explode once, one hash aggregate for per-doc
    term counts and one for document frequencies (both map-side
    partial), and a broadcast join on the token."""
    toks = spread(df, id_col).select(F.col(id_col), tokens(text_col).alias("tk"))
    # explode_outer + null filter: see dedup (generator filter inference)
    tok = toks.select(
        F.col(id_col), F.explode_outer("tk").alias("tok")
    ).filter(F.col("tok").isNotNull())
    tf = tok.groupBy(id_col, "tok").agg(F.count(F.lit(1)).alias("tf"))
    doclen = tf.groupBy(id_col).agg(F.sum("tf").alias("n_tok"))
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    # n_docs rides the (tiny) token-idf side as a broadcast 1-row
    # aggregate instead of an EAGER distinct-count action at plan-build
    # time: the same distinct shuffle, but scheduled inside the main
    # job — no driver barrier, no extra corpus pass serialized before
    # the query starts (guide §5: the driver does no data work) (r16).
    nfr = df.select(id_col).agg(
        # count_distinct ignores NULL ids — the same semantics as the
        # oracle's count(DISTINCT doc_id), unlike the pre-r16 eager
        # distinct().count() which counted the null group (ADVICE r16
        # low: callers with nullable ids get oracle-consistent idf)
        F.count_distinct(F.col(id_col)).alias("_ndocs")
    )
    dfreq = dfreq.crossJoin(F.broadcast(nfr))
    idf = F.log(
        (F.col("_ndocs") + F.lit(1)).cast("double") / (F.col("df") + 1)
    ) + F.lit(1.0)
    return (
        tf.join(doclen, id_col)
        .join(F.broadcast(dfreq), "tok")
        .select(
            F.col(id_col),
            F.col("tok"),
            ((F.col("tf") / F.col("n_tok")) * idf).alias("tfidf"),
        )
    )


def tfidf_top_tokens(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    round_digits: int = 6,
) -> DataFrame:
    """Top-``k`` tokens per document by smoothed TF-IDF.

    ``tfidf = (tf / n_tokens_doc) * (ln((N + 1) / (df + 1)) + 1)`` —
    sklearn's smoothed idf. Relational shape at scale: explode once,
    one hash aggregate for per-doc term counts, one for document
    frequencies (both map-side partial), a broadcast-able join on the
    token, and a per-doc top-k window. Ranking is deterministic: ties
    broken on the ROUNDED score then the token string.
    """
    from pyspark.sql import Window

    scored = _tfidf(df, id_col, text_col).withColumn(
        "tfidf", F.round("tfidf", round_digits)
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("tfidf").desc(), F.col("tok")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "rank", "tok", (F.col("tfidf") + F.lit(0.0)).alias("tfidf"))
    )


def vocabulary(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tf: int = 1,
) -> DataFrame:
    """Corpus vocabulary: term frequency and document frequency per
    token — the first artifact of any corpus-curation pass (stopword
    discovery, tokenizer coverage audits, frequency-based filters).

    Pure Catalyst: explode whitespace tokens, ONE shuffle on the token.
    ``df`` (documents containing the token) rides the same aggregate as
    a distinct-count — Catalyst plans it as a two-phase expand+agg with
    map-side partials, so the shuffle carries (token, doc_id) partials,
    never row-per-occurrence. Both metrics are associative, so the plan
    scales with map-side combining; token skew (stopwords dominating a
    partition) is AQE skew-split territory and, unlike a join, a skewed
    AGGREGATE key still combines map-side first.

    Output: ``(token, tf, df)`` filtered to ``tf >= min_tf``.
    """
    tok = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("token")
    )
    agg = tok.groupBy("token").agg(
        F.count(F.lit(1)).alias("tf"),
        F.countDistinct(id_col).alias("df"),
    )
    return agg.filter(F.col("tf") >= min_tf)


def unigram_logprob(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document mean negative log-likelihood under the corpus's own
    unigram LM — the classic cheap perplexity proxy for quality
    filtering (a doc of rare/garbled tokens scores high, boilerplate
    scores low). ``p(token) = tf / total_tokens`` over the corpus.

    Plan: explode tokens once; aggregate the vocabulary (one shuffle,
    map-side partials); total token count rides a 1-row broadcast
    cross join; tokens re-join the vocabulary on ``token`` (Spark
    broadcasts it under ``autoBroadcastJoinThreshold`` when small; at
    corpus scale it is a shuffle join where the skewed stopword keys
    are exactly what AQE skew-split handles, and the join is followed
    by a per-doc aggregate so no row amplification survives); final
    groupBy(doc) is the last shuffle.

    Output: ``(id_col, n_tokens, avg_nll)`` with ``avg_nll`` in nats.
    """
    tok = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("token")
    )
    # the vocabulary feeds TWO consumers (the total aggregate and the
    # scoring join); without a lineage cut Catalyst duplicates the
    # corpus explode+aggregate subtree per consumer (the tpch_q15 /
    # dsir_weights double-scan class — r14 ledger fix). The frame is
    # V-sized, bounded far below the corpus at any SF, so a lazy
    # checkpoint keeps the visible plan to ONE corpus FileScan.
    vocab = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=False)
    )
    total = vocab.agg(F.sum("tf").alias("n_total"))
    scored = (
        tok.join(vocab, "token")
        .crossJoin(F.broadcast(total))
        .select(
            id_col,
            (-F.log(F.col("tf").cast("double") / F.col("n_total"))).alias("nll"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.avg("nll").alias("avg_nll"),
    )


# URL/domain patterns in the Java/RE2 common subset (same discipline as
# PII_PATTERNS: no lookarounds, no backrefs, ASCII classes only)
URL_PATTERN = r"https?://[A-Za-z0-9.-]+(?:/[A-Za-z0-9._/%-]*)?"
URL_DOMAIN_PATTERN = r"https?://([A-Za-z0-9.-]+)"


def url_stats(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document URL inventory: how many URLs, how many distinct
    domains, and the first domain seen — the inputs to domain-level
    corpus filtering (blocklists, per-domain caps, source mixing).

    Pure Catalyst ``regexp_extract_all`` projections (no shuffle, no
    UDFs) — scale-free map-side work, like every text-analysis op
    here. Output: ``(id, n_urls, n_domains, first_domain)``.
    """
    urls = F.regexp_extract_all(F.col(text_col), F.lit(URL_PATTERN), 0)
    domains = F.regexp_extract_all(F.col(text_col), F.lit(URL_DOMAIN_PATTERN), 1)
    return df.select(
        F.col(id_col),
        F.size(urls).alias("n_urls"),
        F.size(F.array_distinct(domains)).alias("n_domains"),
        F.coalesce(F.get(domains, 0), F.lit("")).alias("first_domain"),
    )


def chunk_documents(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 512,
    overlap: int = 0,
) -> DataFrame:
    """Split documents into fixed-size token windows with optional
    overlap — the context-window preparation step between curation and
    sequence packing. Pure Catalyst: tokenize once, slice windows with
    ``sequence``/``slice``/``array_join`` (no UDF, no shuffle beyond
    the conditional spread of the scan).

    Chunks start every ``chunk_tokens − overlap`` tokens; the last
    chunk keeps its tail even when shorter (dropping remainders loses
    corpus mass — callers can filter on ``n_tokens`` if they want
    exact-length windows only). Empty documents produce no rows.

    Output: ``(id, chunk_id, n_chunks, chunk_text, n_tokens)`` with
    ``chunk_id`` 0-based in document order.
    """
    chunk_tokens = int(chunk_tokens)
    overlap = int(overlap)
    if chunk_tokens < 1:
        raise ValueError(f"chunk_tokens must be >= 1, got {chunk_tokens}")
    if not 0 <= overlap < chunk_tokens:
        raise ValueError(
            f"overlap must be in [0, chunk_tokens), got {overlap}"
        )
    step = chunk_tokens - overlap
    tok = spread(df, id_col).select(F.col(id_col), tokens(text_col).alias("toks"))
    n = F.size("toks")
    # number of windows: ceil(max(n - overlap, 0) / step), min 1 if n > 0
    n_chunks = F.when(
        n > 0, F.greatest(F.ceil((n - F.lit(overlap)) / F.lit(step)), F.lit(1))
    ).otherwise(F.lit(0)).cast("int")
    work = tok.withColumn("__nc__", n_chunks).filter(F.col("__nc__") > 0)
    chunk = F.posexplode(F.sequence(F.lit(0), F.col("__nc__") - 1))
    exploded = work.select(F.col(id_col), F.col("toks"), F.col("__nc__"), chunk)
    piece = F.slice(
        F.col("toks"), F.col("pos") * step + 1, chunk_tokens
    )
    return exploded.select(
        F.col(id_col),
        F.col("pos").cast("long").alias("chunk_id"),
        F.col("__nc__").cast("long").alias("n_chunks"),
        F.array_join(piece, " ").alias("chunk_text"),
        F.size(piece).cast("long").alias("n_tokens"),
    )


def bigram_logprob(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.1,
) -> DataFrame:
    """Per-document mean negative log-likelihood under the corpus's own
    add-α-smoothed bigram LM — a sharper perplexity proxy than
    :func:`unigram_logprob` (it penalizes scrambled word ORDER, which
    unigram statistics cannot see).

    ``p(w₂ | w₁) = (c(w₁w₂) + α) / (c(w₁·) + α·V)`` with ``V`` the
    unigram vocabulary size; the first token of each doc is scored
    under the unigram model, so every token contributes and short docs
    stay comparable.

    Plan (r14 rewrite — the r13-era shape formed bigrams with a
    positional self-join and let the count frames' subtrees duplicate
    inline, 8 corpus FileScans total): bigram pairs come straight off
    the token ARRAY with a Catalyst ``transform`` (``w1 = toks[i-1]``,
    NULL at the document head) — no self-join, no shuffle to form
    pairs. ONE corpus-wide hash aggregate counts every ``(w1, w2)``
    pair (NULL-w1 rows carry the first-token unigram mass); that
    pair-count frame is vocabulary²-bounded, so it takes a lazy
    ``localCheckpoint`` and every other statistic derives from it
    V-sized: ``tf(w) = Σ_w1 c(w1,w) `` (every token occurs exactly
    once as ``w2``), ``c(w1·) = Σ_w2 c(w1,w2)``. The scoring pass
    re-reads the corpus once and joins the three derived count frames
    (broadcast under the threshold, AQE-skew-split at corpus scale).
    Total: 2 corpus passes (aggregate + score), 1 visible FileScan —
    plan-locked in tests/test_plans.py like dsir_weights.

    Output: ``(id_col, n_tokens, avg_nll)`` in nats.
    """
    if alpha <= 0:
        raise ValueError(f"alpha must be > 0, got {alpha}")
    a = float(alpha)
    # materialize the token array in its own projection BEFORE the
    # transform: the lambda indexes `_toks` as a bound column ref.
    # Referencing the tokenizer EXPRESSION inside the lambda instead
    # re-evaluates the whole tokenize per element — O(n²) per doc,
    # measured 5x slower end-to-end (tools/logprob_shape_ab.py at 71b8918).
    arr = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
    pair = F.explode(
        F.transform(
            F.col("_toks"),
            lambda w2, i: F.struct(
                F.when(i > 0, F.get(F.col("_toks"), i - 1)).alias("w1"),
                w2.alias("w2"),
            ),
        )
    ).alias("_pair")
    pairs = arr.select(F.col(id_col), pair).select(
        id_col, F.col("_pair.w1").alias("w1"), F.col("_pair.w2").alias("w2")
    )
    pair_counts = (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
        .localCheckpoint(eager=False)
    )
    vocab = pair_counts.groupBy("w2").agg(F.sum("c12").alias("tf"))
    totals = vocab.agg(
        F.sum("tf").alias("n_total"), F.count(F.lit(1)).alias("v_size")
    )
    bg_counts = pair_counts.filter(F.col("w1").isNotNull())
    ctx_counts = bg_counts.groupBy("w1").agg(F.sum("c12").alias("c1"))
    nll = F.when(
        F.col("w1").isNull(),
        -F.log(F.col("tf").cast("double") / F.col("n_total")),
    ).otherwise(
        -F.log(
            (F.col("c12") + F.lit(a))
            / (F.col("c1") + F.lit(a) * F.col("v_size"))
        )
    )
    scored = (
        pairs.join(vocab, "w2")
        .join(bg_counts, ["w1", "w2"], "left")
        .join(ctx_counts, "w1", "left")
        .crossJoin(F.broadcast(totals))
        .select(id_col, nll.alias("nll"))
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"), F.avg("nll").alias("avg_nll")
    )


def dsir_weights(
    df: DataFrame,
    target,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    smoothing: float = 0.5,
) -> DataFrame:
    """Per-document importance weight for Data Selection via Importance
    Resampling (DSIR, Xie et al. 2023, arXiv:2302.03169): ``weight =
    log p_target(doc) − log p_raw(doc)`` under two add-λ-smoothed
    unigram LMs — the target LM fit on the rows matching the
    ``target`` boolean Column (e.g. ``F.col("lang") == "en"`` or a
    high-quality source predicate), the raw LM on the whole corpus.
    Feed the weights to :func:`~..sample.weighted_sample` (via
    ``exp``/rank) or threshold them to select raw-corpus documents
    that look like the target distribution.

    ``p(token) = (tf + λ) / (N + λ·V)`` with ``V`` the raw vocabulary
    size, so unseen-in-target tokens stay finite and the two LMs share
    one support.

    Plan (everything map-side-combinable, no UDFs): one explode pass
    carries the per-doc target flag through the token stream; BOTH
    LMs' counts come from a single conditional aggregate (one shuffle
    — the data_profile one-pass trick), totals ride a 1-row broadcast;
    tokens re-join the vocabulary on ``token`` (broadcast under the
    threshold, AQE-skew-split shuffle at corpus scale — the
    unigram_logprob precedent) and the per-doc sum is the final
    keys-sized aggregate. The vocabulary frame moves ≤V rows however
    large the corpus; nothing corpus-sized is ever collected.

    Output: ``(id_col, n_tokens, weight)`` — weight in nats; positive
    means the doc looks more like the target than the raw corpus.
    """
    if smoothing <= 0:
        raise ValueError(f"smoothing must be > 0, got {smoothing}")
    lam = float(smoothing)
    tgt = F.col(target) if isinstance(target, str) else target
    tok = df.select(
        F.col(id_col),
        tgt.cast("boolean").alias("_tgt"),
        F.explode(tokens(F.col(text_col))).alias("token"),
    )
    # the vocabulary feeds TWO consumers (the totals aggregate and the
    # scoring join); without a lineage cut Catalyst duplicates the
    # corpus-wide explode+aggregate subtree per consumer (the tpch_q15
    # double-scan class, caught by the r13 plan audit). The frame is
    # V-sized — bounded far below the corpus at any SF — so a lazy
    # checkpoint is the correct 100 TB shape: ONE corpus pass total.
    vocab = tok.groupBy("token").agg(
        F.count(F.lit(1)).alias("tf_raw"),
        F.count_if(F.col("_tgt")).alias("tf_tgt"),
    ).localCheckpoint(eager=False)
    totals = vocab.agg(
        F.sum("tf_raw").alias("n_raw"),
        F.sum("tf_tgt").alias("n_tgt"),
        F.count(F.lit(1)).alias("v_size"),
    )
    log_ratio = F.log(
        (F.col("tf_tgt") + F.lit(lam))
        / (F.col("n_tgt") + F.lit(lam) * F.col("v_size"))
    ) - F.log(
        (F.col("tf_raw") + F.lit(lam))
        / (F.col("n_raw") + F.lit(lam) * F.col("v_size"))
    )
    scored = (
        tok.join(vocab, "token")
        .crossJoin(F.broadcast(totals))
        .select(id_col, log_ratio.alias("_lr"))
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("_lr").alias("weight"),
    )


def hashed_tfidf_vectors(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 128,
    normalize: bool = True,
    out: str = "vec",
) -> DataFrame:
    """Dense document vectors via the feature-hashing trick: every
    token lands in ``h60 % dim`` with an md5-derived ±1 sign (the
    signed sum unbiases collisions — Weinberger et al. 2009), weighted
    by smoothed TF-IDF (the :func:`tfidf_top_tokens` formula), then
    optionally L2-normalized.

    This is the model-free bridge from raw text into the embedding
    stack: the output column feeds
    :func:`~xarray_scipy_spark.pipeline.similarity.cosine_topk` /
    ``embedding_dup_pairs`` unchanged, so text similarity search and
    embedding dedup run end-to-end with zero external models. Pure
    Catalyst: two hash aggregates (tf, df — both map-side partial), a
    broadcast token-idf join, one per-doc aggregate folding
    ``(slot, weight)`` pairs into the dense array. No vocabulary is
    ever materialized driver-side — ``dim`` bounds the vector, not the
    corpus.

    Output: input ``id_col`` + ``out`` (``array<double>`` length
    ``dim``); docs with no tokens get the zero vector.
    """
    if dim < 2:
        raise ValueError(f"dim must be >= 2, got {dim}")
    slot = h60(F.concat_ws("|", F.lit("fh"), F.col("tok"))) % F.lit(dim)
    sign = F.when(
        h60(F.concat_ws("|", F.lit("fhs"), F.col("tok"))) % 2 == 0, F.lit(1.0)
    ).otherwise(F.lit(-1.0))
    # the ±1 sign multiplies exactly: sign * tfidf is the product the
    # two factors would give in any order
    weighted = (
        _tfidf(df, id_col, text_col)
        .select(F.col(id_col), slot.alias("slot"), (sign * F.col("tfidf")).alias("w"))
        .groupBy(id_col, "slot")
        .agg(F.sum("w").alias("w"))
    )
    # The slot map and the L2 norm are AGGREGATE columns, not
    # expressions referenced inside the densifying lambda: higher-order
    # lambdas run interpreted, and Catalyst inlines outer expressions
    # into the lambda body — a map_from_entries(collect_list(...))
    # referenced per element rebuilt the map dim times per row (17x at
    # the 10x tier before this split; the agg boundary is a hard
    # materialization, so the lambda now only does map lookups).
    vecs = weighted.groupBy(id_col).agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("slot", "w")))
        ).alias("_m"),
        F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("_n"),
    )
    div = F.col("_n") if normalize else F.lit(1.0)
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.when(
            div > 0,
            F.coalesce(F.element_at(F.col("_m"), i.cast("int")), F.lit(0.0))
            / div,
        ).otherwise(F.lit(0.0)),
    )
    zero = F.array_repeat(F.lit(0.0), dim)
    return (
        df.select(id_col)
        .join(vecs, id_col, "left")
        .select(
            id_col,
            F.coalesce(vec, zero).alias(out),
        )
    )


def canonical_url(col) -> "Column":
    """Canonicalize a URL column for dedup/keying (pure Catalyst):
    lowercase scheme+host, strip the fragment, drop tracking query
    parameters (utm_*, gclid, fbclid, ref), drop an empty leftover
    ``?``, and strip one trailing slash from the path. The standard
    crawl-curation normalization — re-crawled pages key to the same
    canonical URL so :func:`~xarray_scipy_spark.pipeline.dedup.
    latest_by_key` can compact them."""
    u = F.col(col) if isinstance(col, str) else col
    # lowercase scheme://host (authority ends at /, ?, # or EOS)
    head = F.regexp_extract(u, r"^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)", 1)
    tail = F.substring(u, F.length(head) + 1, F.lit(1 << 30))
    canon = F.concat(F.lower(head), tail)
    # strip fragment
    canon = F.regexp_replace(canon, r"#.*$", "")
    # drop tracking params (leading or mid-query), then tidy separators
    canon = F.regexp_replace(
        canon, r"([?&])(utm_[A-Za-z0-9_]*|gclid|fbclid|ref)=[^&#]*", "$1"
    )
    canon = F.regexp_replace(canon, r"&{2,}", "&")
    canon = F.regexp_replace(canon, r"\?&", "?")
    canon = F.regexp_replace(canon, r"[?&]+$", "")
    # one trailing slash off a non-root path
    canon = F.regexp_replace(canon, r"(.+[^/])/$", "$1")
    return canon


def winsorize_by_group(
    df: DataFrame,
    *,
    value,
    by=None,
    lower: float = 0.01,
    upper: float = 0.99,
    out: str | None = None,
) -> DataFrame:
    """Clip a column to its per-group [lower, upper] EXACT quantiles —
    the outlier guard before any mean/variance-based scoring (document
    lengths, perplexities, feature scales).

    Plan: one exact-percentile aggregation per group (tiny result:
    groups × 2 doubles) broadcast-joined back, clip as a pure
    projection. Groups must individually fit a reducer (the
    group_quantiles scale note); for global clipping over billions of
    rows use the histogram-sketch quantile gate instead.
    """
    from pyspark.sql import functions as _F

    if not 0.0 <= lower < upper <= 1.0:
        raise ValueError(f"need 0 <= lower < upper <= 1, got {lower}, {upper}")
    keys = [by] if isinstance(by, str) else list(by or [])
    out = out or f"{value}_wins"
    bounds = df.groupBy(*keys).agg(
        _F.expr(f"percentile(`{value}`, array({lower!r}, {upper!r}))").alias("_b")
    )
    j = (
        df.join(_F.broadcast(bounds), keys, "inner")
        if keys
        else df.crossJoin(_F.broadcast(bounds))
    )
    lo, hi = _F.get("_b", 0), _F.get("_b", 1)
    return j.withColumn(
        out, _F.greatest(lo, _F.least(hi, _F.col(value).cast("double")))
    ).drop("_b")


def clean_text(
    df: DataFrame,
    *,
    text_col: str = "text",
    out: str | None = None,
) -> DataFrame:
    """Normalize raw text the JVM-side way (pure Catalyst regex — no
    Python in the hot path): strip C0/C1 control characters (keeping
    \t and \n), collapse runs of spaces/tabs, trim each line, drop
    runs of 3+ blank lines to one, and trim the document. The cheap
    universal pre-pass before tokenize/hash/dedup. Adds ``out``
    (default ``{text_col}_clean``) plus ``n_removed`` = chars dropped.
    """
    from pyspark.sql import functions as _F

    out = out or f"{text_col}_clean"
    t = _F.col(text_col)
    c = _F.regexp_replace(t, r"[\x00-\x08\x0B-\x1F\x7F-\x9F]", "")
    c = _F.regexp_replace(c, r"[ \t]+", " ")
    c = _F.regexp_replace(c, r" ?\n ?", "\n")
    c = _F.regexp_replace(c, r"\n{3,}", "\n\n")
    c = _F.trim(c)
    return df.withColumn(out, c).withColumn(
        "n_removed", _F.length(t) - _F.length(_F.col(out))
    )


def char_entropy(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document character-level Shannon entropy (bits/char) — the
    classic cheap junk detector: boilerplate and repeated filler score
    low, encrypted/compressed noise scores near log2(alphabet), normal
    prose sits in between.

    Plan shape: ZERO shuffles — entropy is a per-row property, so it
    runs as one Arrow-batched projection (``core.map_batches``). Inside
    each batch the computation is fully numpy-vectorized (no per-document
    Python loop): all texts concatenate once, UTF-32 decode gives one
    uint32 code point per character (so multi-byte characters count as
    one char, matching ``string_split``/``split('')``), and per-(doc,
    char) counts come from ONE ``np.unique`` over (doc_index << 21 |
    code) packed keys — code points are < 2^21 by Unicode's
    definition. The earlier pure-Catalyst shape (explode to (doc,
    char) + two hash aggregations) was a measured 2.87× constant-
    factor row at the 10× tier (BASELINE.md r8) — 15 M exploded rows
    of Generate + two-level hash-agg overhead for what one vectorized
    pass computes in-place; this kernel removes the exchange entirely
    and scales embarrassingly (any partitioning works, nothing
    crosses the wire but the output rows).

    Documents whose text is empty produce no characters and are
    dropped (same row set as the Catalyst shape, which exploded to
    zero rows for them). Output: ``(id, n_chars, entropy_bits)``.
    """
    import numpy as np

    def entropy(pdf):
        texts = pdf[text_col].fillna("")
        lens = texts.str.len().to_numpy(np.int64)
        joined = "".join(texts.tolist())
        codes = np.frombuffer(
            joined.encode("utf-32-le"), dtype=np.uint32
        ).astype(np.int64)
        doc_idx = np.repeat(np.arange(len(pdf), dtype=np.int64), lens)
        keys = (doc_idx << 21) | codes
        uniq, counts = np.unique(keys, return_counts=True)
        d = uniq >> 21
        n_docs = len(pdf)
        n_chars = np.bincount(d, weights=counts, minlength=n_docs)
        clogc = np.bincount(
            d, weights=counts * np.log2(counts), minlength=n_docs
        )
        keep = n_chars > 0
        with np.errstate(divide="ignore", invalid="ignore"):
            ent = np.log2(n_chars) - clogc / n_chars
        return {
            id_col: pdf[id_col].to_numpy()[keep],
            "n_chars": n_chars[keep].astype(np.int64),
            "entropy_bits": ent[keep],
        }

    fields = {**_fields_of(df, [id_col]), "n_chars": "bigint", "entropy_bits": "double"}
    return map_batches(df.select(id_col, text_col), entropy, fields)


def ngram_counts(
    df: DataFrame,
    *,
    text_col: str = "text",
    n: int = 2,
    top: int | None = None,
) -> DataFrame:
    """Corpus word n-gram frequency table — the statistics behind
    LM-contamination checks, boilerplate discovery, and collocation
    mining. One token explode + ONE map-side-combinable count shuffle
    (skewed grams still combine map-side, unlike a join key); ``top``
    caps the output with the deterministic (count DESC, gram ASC)
    order so reruns agree. Output: ``(gram, cnt)``.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    if n == 1:
        ex = df.select(F.explode(tokens(F.col(text_col))).alias("gram"))
    else:
        # Gram construction stays OUT of index-lambdas: a
        # transform(sequence(...), i -> slice(tokens(text), ...)) ran
        # the tokenizer per ELEMENT (higher-order lambdas interpret
        # their body with outer expressions inlined — the
        # hashed_tfidf_vectors trap), measuring 19 s where this shape
        # is 2.1 s at the 10x tier. The explode-of-1-array Generate is
        # a projection barrier CollapseProject cannot cross, pinning
        # ONE tokenizer evaluation per row; the n shifted slices then
        # zip NATIVELY (arrays_zip, no lambda at all) and the gram
        # string is a per-row codegen concat after the explode.
        #
        # Constant-factor note (r9 A/B, BASELINE.md): the remaining
        # ~2.35× vs the serial oracle is the count exchange itself
        # (272 k distinct grams over 2.6 M occurrences at the 10×
        # tier — per-partition duplication ~1, so map-side combine
        # can't shrink it). Two alternative shapes measured the SAME:
        # an Arrow mapInPandas Counter-partial kernel (2.75 s) and a
        # lambda-free split(trim, ' +') tokenizer (2.78 s) — and the
        # ratio is FLAT across tiers (2.36× at 10×, 2.37× at 25×,
        # both engines exactly linear). Kept pure-JVM: equal speed,
        # no Python workers.
        tkdf = df.select(
            F.explode(F.array(tokens(F.col(text_col)))).alias("_tk")
        )
        tk = F.col("_tk")
        m = F.greatest(F.size(tk) - (n - 1), F.lit(0))
        z = F.arrays_zip(
            *[F.slice(tk, j + 1, m).alias(str(j)) for j in range(n)]
        )
        ex = tkdf.select(F.explode(z).alias("_z")).select(
            F.concat_ws(
                " ", *[F.col("_z").getField(str(j)) for j in range(n)]
            ).alias("gram")
        )
    g = ex.groupBy("gram").agg(F.count(F.lit(1)).alias("cnt"))
    if top is not None:
        g = g.orderBy(F.desc("cnt"), F.asc("gram")).limit(int(top))
    return g



def postings(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_df: int = 2,
) -> DataFrame:
    """Inverted-index build: per-token posting-list summary from the
    per-(token, document) term frequencies — the retrieval-side
    artifact (BM25/keyword search over the corpus) that `vocabulary`'s
    corpus-level counts don't give you.

    Two stacked aggregations, both map-side combinable: explode tokens
    → groupBy (token, doc) for the posting entries (tf per doc), then
    groupBy token to summarize the list. The second shuffle carries one
    row per DISTINCT (token, doc) — the index's own size, not the
    corpus's. A real index writer would sink the first aggregate
    partitioned by token; the summary here pins its content exactly:
    ``postings_sum = Σ doc_id·tf`` is order-invariant and changes if
    any entry changes.

    Output per token with ``df >= min_df``: ``(token, df, tf_total,
    max_tf, top_doc, postings_sum)`` where ``top_doc`` is the
    highest-tf document (smallest id on ties — deterministic).
    """
    # spread() before the tokenizer: a freshly-written tier file has
    # 1-3 row groups, capping the CPU-heavy explode at as many tasks
    tok = spread(df, id_col).select(
        F.col(id_col).alias("_doc"), F.explode(tokens(F.col(text_col))).alias("token")
    )
    entries = tok.groupBy("token", "_doc").agg(F.count(F.lit(1)).alias("_tf"))
    agg = entries.groupBy("token").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("_tf").alias("tf_total"),
        F.max("_tf").alias("max_tf"),
        F.max(F.struct(F.col("_tf"), (-F.col("_doc")).alias("_nid"))).alias("_top"),
        F.sum(F.col("_doc") * F.col("_tf")).alias("postings_sum"),
    )
    return agg.filter(F.col("df") >= min_df).select(
        "token",
        "df",
        "tf_total",
        "max_tf",
        (-F.col("_top._nid")).alias("top_doc"),
        "postings_sum",
    )


def bm25_scores(
    df: DataFrame,
    query_terms: Sequence[str],
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 relevance of every document to a fixed keyword query — the
    retrieval scorer on top of the inverted-index layer (`postings`),
    using the standard Robertson/Sparck-Jones formulation:

    ``score = Σ_t ln(1 + (N − df_t + 0.5)/(df_t + 0.5)) ·
    tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))``

    Scale shape: tokens are filtered to the query terms BEFORE any
    shuffle (the explode emits only matching tokens), per-(doc, term)
    tf and per-term df are map-side-combinable aggregates, the df and
    corpus-stats (N, avgdl) sides are broadcast (≤ |query| + 1 rows),
    and the only doc-keyed shuffle joins tf back to document lengths.
    Cost tracks matching postings, not the corpus.

    Output: ``(id_col, n_match, score)`` for documents matching at
    least one term.
    """
    terms = [str(t) for t in query_terms]
    if not terms:
        raise ValueError("query_terms must be non-empty")
    # NO lineage cut here, by measurement (r9): the token frame feeds
    # two branches, but materializing the full token-ARRAY frame costs
    # more than re-running the cheap tokenizer (1.15 s → 1.45 s with a
    # localCheckpoint at the 10× tier) — the tf branch keeps only
    # query-term matches, so its recompute is nearly free. Contrast
    # naive_bayes_lang, where FIVE consumers re-ran the explode and
    # the cut paid for itself.
    toks = spread(df, id_col).select(
        F.col(id_col).alias("_doc"), tokens(F.col(text_col)).alias("tk")
    )
    lens = toks.select("_doc", F.size("tk").alias("_dl"))
    stats = lens.agg(
        F.count(F.lit(1)).alias("_n"), F.avg("_dl").alias("_avgdl")
    )
    tf = (
        toks.select("_doc", F.explode("tk").alias("_t"))
        .filter(F.col("_t").isin(terms))
        .groupBy("_doc", "_t")
        .agg(F.count(F.lit(1)).alias("_tf"))
    )
    dft = tf.groupBy("_t").agg(F.count(F.lit(1)).alias("_df"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("_n") - F.col("_df") + F.lit(0.5)) / (F.col("_df") + F.lit(0.5))
    )
    w = idf * F.col("_tf") * F.lit(k1 + 1.0) / (
        F.col("_tf")
        + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("_dl") / F.col("_avgdl"))
    )
    scored = (
        tf.join(F.broadcast(dft), "_t")
        .join(lens, "_doc")
        .crossJoin(F.broadcast(stats))
        .select("_doc", "_t", w.alias("_w"))
    )
    return scored.groupBy("_doc").agg(
        F.count(F.lit(1)).alias("n_match"), F.sum("_w").alias("score")
    ).select(F.col("_doc").alias(id_col), "n_match", "score")


def sparse_knn(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    min_df: int = 2,
    max_df: int | None = 10_000,
) -> DataFrame:
    """Document-to-document tf-idf cosine top-k — all-pairs similarity
    search on the sparse text vectors, term-at-a-time: posting lists
    self-join on the term, so each pair's dot product accumulates ONE
    partial per shared term and no dense vectors ever materialize.

    Scale levers (the published all-pairs-similarity playbook):

    - ``min_df=2`` drops hapax terms (they can't create a pair);
    - ``max_df`` drops stop-like terms — the self-join's cost is
      Σ_t df_t², so one 10M-df term is 10¹³ candidate partials. At
      corpus scale you ALWAYS cap df; high-df terms carry ~zero idf
      weight, so the cosine they'd contribute is noise anyway. The
      cap bounds every posting list, making the term self-join's
      output ≤ Σ min(df, cap)² — linear in index size for fixed cap.
      The DEFAULT is therefore a real cap (10⁴ → ≤10⁸ partials per
      stop-term, survivable; VERDICT r8 #4: the safe behavior must be
      the default). Pass ``max_df=None`` explicitly to opt out on
      corpora small enough to eat the quadratic term.

    Weights are idf-damped term frequencies quantized to DECIMAL(18,6)
    before any sum, so dot products and norms are EXACT integers-in-
    decimal — associativity-proof under any partitioning (and
    reproducible in an external engine). Cosine then takes one IEEE
    divide per surviving pair. Pairs are computed once (a < b) and
    mirrored, so each undirected pair costs one aggregate row.

    Output: ``(id_col, neighbor_id, rank, cos_sim)`` — top ``k``
    neighbors per document among documents sharing >= 1 surviving
    term (ties broken by neighbor id, deterministic).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    toks = spread(df, id_col).select(
        F.col(id_col).alias("_doc"),
        F.explode(tokens(F.col(text_col))).alias("_t"),
    )
    tf = toks.groupBy("_doc", "_t").agg(F.count(F.lit(1)).alias("_tf"))
    n_docs = df.select(F.countDistinct(id_col).alias("_n"))
    dft = tf.groupBy("_t").agg(F.count(F.lit(1)).alias("_df"))
    dft = dft.filter(F.col("_df") >= F.lit(min_df))
    if max_df is not None:
        dft = dft.filter(F.col("_df") <= F.lit(max_df))
    idf = F.round(
        F.log((F.col("_n") + F.lit(1.0)) / (F.col("_df") + F.lit(1.0)))
        + F.lit(1.0),
        6,
    )
    # NOT checkpointed (r16 A/B): materializing the weight table once
    # looks right on paper (the dataflow references it 4x), but it
    # strips the parquet size statistics, the planner falls back from
    # broadcast/hash to sort-merge on the term key, and the term
    # blocks' within-key products make that pathological — measured
    # 3.5 s -> 23 s (SMJ) / 5.2 s (forced shuffle-hash) at sf0.1.
    # Production corpora would persist the index to a table (restoring
    # statistics) rather than checkpoint it.
    w = (
        tf.join(dft, "_t")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "_t",
            "_doc",
            F.round(F.col("_tf") * idf, 6).cast("decimal(18,6)").alias("_w"),
        )
    )
    norms = w.groupBy("_doc").agg(
        F.sum(F.col("_w") * F.col("_w")).alias("_n2")
    )
    a, b = w.alias("a"), w.alias("b")
    dots = (
        a.join(
            b,
            (F.col("a._t") == F.col("b._t"))
            & (F.col("a._doc") < F.col("b._doc")),
        )
        .groupBy(
            F.col("a._doc").alias("_ad"), F.col("b._doc").alias("_bd")
        )
        .agg(F.sum(F.col("a._w") * F.col("b._w")).alias("_dot"))
    )
    na, nb = norms.alias("na"), norms.alias("nb")
    cos = (
        dots.join(na, F.col("_ad") == F.col("na._doc"))
        .join(nb, F.col("_bd") == F.col("nb._doc"))
        .select(
            "_ad",
            "_bd",
            (
                F.round(
                    F.col("_dot").cast("double")
                    / (
                        F.sqrt(F.col("na._n2").cast("double"))
                        * F.sqrt(F.col("nb._n2").cast("double"))
                    ),
                    6,
                )
                + F.lit(0.0)
            ).alias("cos_sim"),
        )
    )
    # symmetrize with ONE pass over cos (explode of the two
    # directions), not a unionByName that re-executes the dot-product
    # join + both norm joins a second time
    sym = cos.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("_ad").alias("_q"), F.col("_bd").alias("_nb")
                ),
                F.struct(
                    F.col("_bd").alias("_q"), F.col("_ad").alias("_nb")
                ),
            )
        ).alias("_p"),
        "cos_sim",
    ).select(F.col("_p._q").alias("_q"), F.col("_p._nb").alias("_nb"), "cos_sim")
    from pyspark.sql import Window

    rn = F.row_number().over(
        Window.partitionBy("_q").orderBy(F.desc("cos_sim"), F.col("_nb"))
    )
    return (
        sym.withColumn("rank", rn)
        .filter(F.col("rank") <= k)
        .select(
            F.col("_q").alias(id_col),
            F.col("_nb").alias("neighbor_id"),
            "rank",
            "cos_sim",
        )
    )


def naive_bayes_lang(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    label_col: str = "lang",
) -> DataFrame:
    """Multinomial Naive Bayes trained and applied in one job — the
    one-pass, model-free classifier a curation pipeline uses for
    cheap language/domain routing before anything learned exists.

    Training is TWO map-side-combinable aggregates (per-(label, token)
    counts and per-label totals); the model ships WIDE — one row per
    vocabulary token with one smoothed log-likelihood column per label
    (pivot over the label set, which is collected driver-side: the
    label domain is the ROUTING CLASS set, bounded by design like the
    sos coefficient matrices — never data-sized). Unseen (token,
    label) cells fold in as the per-label ln(1/(N_l + V)) baseline via
    coalesce, so no dense vocab x labels cross join is materialized at
    all. Classification joins the wide model onto per-doc term
    frequencies ONCE — the r11 A/B vs the previous tall-model shape
    (tf x labels join blowup + a (doc, label) aggregate) measured
    2.56 -> 1.97 s at the 10x docs tier with byte-equal output: the
    join emits |tf| rows instead of |tf| x |labels|, and the per-doc
    aggregate keeps |labels| sum columns instead of |labels| x groups.

    Determinism: log-likelihoods and priors round to 6 decimals and
    ride as INT64 micro-units (value*10^6 — exact sums under any
    partitioning; a mu-unit sum cast to double then /10^6 equals the
    DECIMAL sum while |k| < 2^53). The argmax tie-breaks on the
    lexicographically smallest label (the when-chain scans labels in
    sorted order).

    Output: ``(id_col, label_col, pred, score_q, is_correct)`` — one
    row per document that has >= 1 token. Documents whose text
    tokenizes to NOTHING (empty/whitespace/punctuation-only) have no
    term frequencies, hence no likelihood rows, and are DROPPED from
    the output rather than surfaced with a null prediction: a
    token-free document gives the multinomial model zero evidence, so
    any ``pred`` for it would be the bare prior dressed up as a score.
    Filter for them upstream (``length(trim(text)) = 0``-style) if the
    routing needs a row per input document.
    """
    raw_labels = [r[0] for r in df.select(label_col).distinct().collect()]
    if not raw_labels:
        raise ValueError("naive_bayes_lang: no labels in the input")
    # the wide model addresses pivot columns by quoted label text, so
    # the label domain must be NULL-free (sorted() dies on None/str
    # mixes) and backtick-free (backticks break column resolution) —
    # loud errors instead of those failure modes (ADVICE r11 #2); the
    # previous tall model handled arbitrary labels, so point the user
    # at the fix rather than silently dropping rows
    if any(lab is None for lab in raw_labels):
        raise ValueError(
            "naive_bayes_lang: NULL label values in the input — filter "
            "or impute them upstream (labels become model pivot columns)"
        )
    bad = [lab for lab in raw_labels if "`" in str(lab)]
    if bad:
        raise ValueError(
            "naive_bayes_lang: label values containing backticks break "
            f"pivot-column resolution: {bad[:3]!r} — clean the label "
            "column upstream"
        )
    labels = sorted(raw_labels)
    mu = 1_000_000
    # the token frame feeds FOUR consumers (label-token counts, vocab
    # size, per-label totals, per-doc tf) — without a lineage cut each
    # one re-runs the tokenizer explode (r9 profile: the
    # re-tokenization dominated the 10x-tier time). Lazy checkpoint:
    # materialized at the first action, reused by every later job.
    toks = spread(df, id_col).select(
        F.col(id_col).alias("_doc"),
        F.col(label_col).alias("_lab"),
        F.explode(tokens(F.col(text_col))).alias("_t"),
    ).localCheckpoint(eager=False)
    lt = toks.groupBy("_lab", "_t").agg(F.count(F.lit(1)).alias("_c"))
    v_size = toks.select("_t").distinct().agg(
        F.count(F.lit(1)).alias("_v")
    )
    n_l = toks.groupBy("_lab").agg(F.count(F.lit(1)).alias("_nl"))

    def _mu_log(expr):
        return (
            (F.round(F.log(expr), 6).cast("decimal(18,6)") * F.lit(mu))
            .cast("long")
        )

    dense = (
        lt.join(F.broadcast(n_l), "_lab")
        .crossJoin(F.broadcast(v_size))
        .select(
            "_lab",
            "_t",
            _mu_log(
                (F.col("_c") + F.lit(1.0)) / (F.col("_nl") + F.col("_v"))
            ).alias("_lpm"),
        )
    )
    # per-label unseen-cell baselines and priors ride as 1-ROW pivoted
    # broadcast frames, NOT driver collects: the only driver action in
    # the whole plan build is the labels distinct above (the pivot
    # needs the label VALUES at plan time) — the r11 first cut
    # collected these too and paid ~0.5 s of extra plan-build jobs per
    # bench iteration at sf0.1
    base_row = (
        n_l.crossJoin(v_size)
        .select(
            "_lab",
            _mu_log(F.lit(1.0) / (F.col("_nl") + F.col("_v"))).alias("_bm"),
        )
        .groupBy()
        .pivot("_lab", labels)
        .agg(F.first("_bm"))
        .select(*[F.col(f"`{l}`").alias(f"_b_{i}") for i, l in enumerate(labels)])
    )
    n_docs = df.agg(F.count(F.lit(1)).alias("_nd"))
    prior_row = (
        df.groupBy(F.col(label_col).alias("_lab"))
        .agg(F.count(F.lit(1)).alias("_dl"))
        .crossJoin(F.broadcast(n_docs))
        .select("_lab", _mu_log(F.col("_dl") / F.col("_nd")).alias("_pm"))
        .groupBy()
        .pivot("_lab", labels)
        .agg(F.first("_pm"))
        .select(*[F.col(f"`{l}`").alias(f"_p_{i}") for i, l in enumerate(labels)])
    )
    wide = dense.groupBy("_t").pivot("_lab", labels).agg(F.first("_lpm"))
    wide = wide.crossJoin(F.broadcast(base_row)).select(
        "_t",
        *[
            F.coalesce(F.col(f"`{l}`"), F.col(f"_b_{i}")).alias(f"_m_{i}")
            for i, l in enumerate(labels)
        ],
    )
    # classification side. The merge hint blocks a static-planner
    # mis-broadcast of the CORPUS side: both inputs sit behind
    # aggregates/checkpoints with no reliable size stats, and the r9
    # profile caught Catalyst broadcasting the 1.4M-row tf frame while
    # the model grid shuffled. Planned as sort-merge, AQE converts it
    # to a broadcast of whichever side is ACTUALLY small — the model
    # when the vocabulary is bounded, never the corpus.
    tf = toks.groupBy("_doc", "_t").agg(F.count(F.lit(1)).alias("_tf"))
    scored = tf.join(wide.hint("merge"), "_t").groupBy("_doc").agg(
        *[
            F.sum(F.col("_tf") * F.col(f"_m_{i}")).alias(f"_s_{i}")
            for i in range(len(labels))
        ]
    )
    score = [
        (F.col(f"_s_{i}") + F.col(f"_p_{i}")).alias(f"_sc_{i}")
        for i in range(len(labels))
    ]
    scored = scored.crossJoin(F.broadcast(prior_row)).select("_doc", *score)
    cols = [F.col(f"_sc_{i}") for i in range(len(labels))]
    best_s = F.greatest(*cols) if len(cols) > 1 else cols[0]
    pred = F.lit(labels[-1])
    for i in range(len(labels) - 2, -1, -1):
        pred = F.when(F.col(f"_sc_{i}") == best_s, F.lit(labels[i])).otherwise(
            pred
        )
    truth = df.select(F.col(id_col).alias("_doc"), F.col(label_col))
    return (
        scored.select("_doc", best_s.alias("_bs"), pred.alias("pred"))
        .join(truth, "_doc")
        .select(
            F.col("_doc").alias(id_col),
            label_col,
            "pred",
            (
                F.round(F.col("_bs").cast("double") / F.lit(float(mu)), 6)
                + F.lit(0.0)
            ).alias("score_q"),
            (F.col("pred") == F.col(label_col)).alias("is_correct"),
        )
    )



MI_LANGS = ("de", "en", "es", "fr", "zh")


def token_label_mi(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    label_col: str = "lang",
    labels: tuple = MI_LANGS,
    k: int = 20,
    min_df: int = 5,
) -> DataFrame:
    """Mutual information between token PRESENCE and the document
    label — the feature-selection sweep that finds the tokens worth a
    classifier's attention (and flags label leakage).

    Per token: the 2x|labels| contingency table comes from ONE
    conditional aggregation over distinct (doc, token) pairs (a fixed
    column per label — labels are pinned so the MI expression is a
    FIXED IEEE tree, deterministic with no quantized sums needed);
    label marginals ride in as a broadcast 1-row crossJoin, the same
    shape as the sibling ops (naive_bayes_lang, temperature_mix) — the
    returned plan is fully LAZY, triggers no job at call time, and
    re-evaluates the marginals if the input table changes between
    actions. MI sums 2·|labels| closed-form terms with 0·ln0 = 0
    guards. Top-k by MI via orderBy+limit (TakeOrderedAndProject —
    per-partition heaps, no global sort).

    Output: ``(token, df, mi_q)`` for the top ``k`` tokens.
    """
    labels = tuple(labels)
    pres = (
        spread(df, id_col)
        .select(
            F.col(id_col).alias("_doc"),
            F.col(label_col).alias("_lab"),
            F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("_t"),
        )
    )
    aggs = [F.count(F.lit(1)).alias("_df")]
    for lab in labels:
        aggs.append(
            F.count(F.when(F.col("_lab") == lab, F.lit(1))).alias(f"_d_{lab}")
        )
    per_tok = pres.groupBy("_t").agg(*aggs).filter(F.col("_df") >= min_df)
    # 1-row label-marginal frame, broadcast-crossJoined so the plan
    # stays lazy (the old driver-side collect froze marginals as
    # literals at CALL time — the only eager action in the module's
    # otherwise transformation-builder API). One fixed column per
    # pinned label, indexed to stay valid for any label spelling.
    marg = df.agg(
        F.count(F.lit(1)).cast("double").alias("_nt"),
        *[
            F.count(F.when(F.col(label_col) == lab, F.lit(1)))
            .cast("double")
            .alias(f"_nl_{i}")
            for i, lab in enumerate(labels)
        ],
    )
    per_tok = per_tok.crossJoin(F.broadcast(marg))
    n_total = F.col("_nt")
    mi = None
    for i, _lab in enumerate(labels):
        n_lab = F.col(f"_nl_{i}")
        d1 = F.col(f"_d_{_lab}").cast("double")  # present & label
        d0 = n_lab - d1  # absent & label
        p_lab = n_lab / n_total
        for present in (True, False):
            joint = (d1 if present else d0) / n_total
            marg_t = (
                F.col("_df").cast("double")
                if present
                else n_total - F.col("_df").cast("double")
            ) / n_total
            # joint > 0 implies n_lab > 0, so p_lab never divides by
            # zero on the taken branch (labels absent from the data
            # contribute exactly 0, as before)
            term = F.when(
                joint > 0, joint * F.log(joint / (marg_t * p_lab))
            ).otherwise(F.lit(0.0))
            mi = term if mi is None else (mi + term)
    out = per_tok.select(
        F.col("_t").alias("token"),
        F.col("_df").cast("bigint").alias("df"),
        (F.round(mi, 6) + F.lit(0.0)).alias("mi_q"),
    )
    return out.orderBy(F.desc("mi_q"), "token").limit(k)
